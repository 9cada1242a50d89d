"""Output checks against independent oracles, via order-free digests.

A digest of a row set is (row count, sum of a 64-bit hash of each row's
exact columns, sum of its float columns). The engine's output is
digested by Spark; the expected rows come from the repository's
oracles -- ``oracle.oracle_matches`` for the streaming workloads and
``queries.ORACLES`` run through DuckDB for the registry -- and are
digested by the same Spark expression. Expected digests are cached
under a content hash of the generator arguments, seed, rules and the
source of the generator, the oracles and this module, so any change to
those rebuilds them.
"""

from __future__ import annotations

import hashlib
import inspect
import json
from pathlib import Path

import pandas as pd
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from perfbench import inputs
from perfbench.env import WORK

STREAM_KEYS = (
    "conv_id", "turn_idx", "rule_id", "rule_idx", "step_idx", "extracted",
    "action_type", "rendered_value", "ts",
)
CONTEXT_KEYS = ("role", "tool")
REGISTRY_KEYS = {
    "ngram_jaccard_pairs": (("doc_a", "doc_b"), ("jaccard",)),
    "simhash_md5_pairs": (("doc_a", "doc_b", "hamming"), ()),
    "dedup_clusters": (("doc_id", "comp_id", "is_canonical"), ()),
}
FLOAT_TOL = 1e-6  # per row, on the float-column sums


def _canon(name: str) -> Column:
    c = F.col(name)
    return F.unix_micros(c).cast("string") if name == "ts" else c.cast("string")


def digest_columns(keys, floats) -> list[Column]:
    cols = [
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.xxhash64(*[_canon(k) for k in keys]).cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("h"),
    ]
    cols += [
        F.coalesce(F.sum(F.col(f).cast("double")), F.lit(0.0)).alias(f"f_{f}")
        for f in floats
    ]
    return cols


def _plain(values: dict) -> dict:
    """JSON-ready digest: the decimal hash sum as a string."""
    return {k: (str(v) if k == "h" else v) for k, v in values.items()}


def digest(df: DataFrame, keys, floats=()) -> dict:
    return _plain(df.agg(*digest_columns(keys, floats)).collect()[0].asDict())


def observed(df: DataFrame, name: str, keys, floats=()) -> tuple[DataFrame, Observation]:
    """``df`` with its digest collected as a side effect of any action."""
    obs = Observation(name)
    return df.observe(obs, *digest_columns(keys, floats)), obs


def from_observation(obs: Observation) -> dict:
    return _plain(obs.get)


def same(got: dict, exp: dict) -> bool:
    if got["n"] != exp["n"] or got["h"] != exp["h"]:
        return False
    for k, v in exp.items():
        if k.startswith("f_") and abs(got[k] - v) > FLOAT_TOL * max(1, exp["n"]):
            return False
    return True


def _source_hash() -> str:
    from logeventprocessor_spark import generator, oracle

    h = hashlib.sha256()
    for mod in (generator, oracle, inputs):
        h.update(Path(inspect.getsourcefile(mod)).read_bytes())
    h.update(Path(__file__).read_bytes())
    return h.hexdigest()


class ExpectedCache:
    """Expected digests on disk, keyed by a content hash of everything
    that determines them; a key mismatch rebuilds, never reuses."""

    def __init__(self):
        self.dir = WORK / "cache"
        self.dir.mkdir(parents=True, exist_ok=True)
        self.sources = _source_hash()

    def get(self, parts: dict, build) -> dict:
        blob = json.dumps({**parts, "sources": self.sources}, sort_keys=True)
        key = hashlib.sha256(blob.encode()).hexdigest()[:32]
        path = self.dir / f"{key}.json"
        if path.exists():
            return json.loads(path.read_text())
        value = build()
        tmp = path.with_suffix(".tmp")
        tmp.write_text(json.dumps(value))
        tmp.replace(path)
        return value


def oracle_actions(turns: pd.DataFrame, rules, with_context: bool) -> pd.DataFrame:
    """``oracle_matches`` over the turns. Only turns whose text fires some
    rule can produce rows or touch cooldown state, and the oracle itself
    decides which texts those are (once per distinct text), so the
    result is the oracle's over the whole corpus."""
    from logeventprocessor_spark.generator import BASE_TS
    from logeventprocessor_spark.oracle import oracle_matches

    texts = turns["text"].drop_duplicates().reset_index(drop=True)
    probe = pd.DataFrame(
        {"conv_id": "probe", "turn_idx": texts.index, "text": texts, "ts": BASE_TS}
    )
    fired = oracle_matches(probe, rules, with_cooldown=False)["turn_idx"].unique()
    exp = oracle_matches(turns[turns["text"].isin(texts[fired])], rules)
    if with_context:
        ctx = turns[["conv_id", "turn_idx", "role", "tool"]]
        exp = exp.merge(ctx, on=["conv_id", "turn_idx"], how="left")
    return exp


def stream_keys(with_context: bool) -> tuple[str, ...]:
    return STREAM_KEYS + (CONTEXT_KEYS if with_context else ())


def expected_stream(cache, spark, parts: dict, turns, rules, with_context) -> dict:
    keys = stream_keys(with_context)

    def build() -> dict:
        exp = oracle_actions(turns, rules, with_context)
        return digest(spark.createDataFrame(exp[list(keys)]), keys)

    return cache.get({**parts, "rules": repr(rules), "keys": keys}, build)


def sink_digest(spark, out_dir: str, with_context: bool) -> dict:
    """Digest of every row the sink wrote, across all batch directories
    (no read-side dedup, so a duplicated batch shows as a mismatch)."""
    return digest(
        spark.read.parquet(f"{out_dir}/batches"), stream_keys(with_context)
    )


def expected_registry(cache, spark, parts: dict, sf_dir: str, name: str) -> dict:
    from logeventprocessor_spark.queries import ORACLES

    keys, floats = REGISTRY_KEYS[name]

    def build() -> dict:
        import duckdb

        con = duckdb.connect()
        try:
            con.execute(
                "CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf_dir}/documents.parquet')"
            )
            exp = con.execute(ORACLES[name]).fetchdf()
        finally:
            con.close()
        return digest(spark.createDataFrame(exp[list(keys + floats)]), keys, floats)

    return cache.get({**parts, "query": name, "sql": ORACLES[name]}, build)
