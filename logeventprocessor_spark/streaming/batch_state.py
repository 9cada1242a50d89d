"""Cross-batch cooldown state as per-batch-id parquet snapshots,
managed inside ``foreachBatch`` -- the high-throughput backend of the
streaming cooldown operator (T1).

Why this exists (round-3 verdict task #4; historical local[32] numbers
from a since-deleted probe, see BENCH/BASELINE.md):
``applyInPandasWithState`` carried ~3-4 s of FIXED per-trigger cost at
32 shuffle partitions on that host -- a dedicated Python-worker fleet,
state-store load/commit and timer scans per partition -- even with ZERO
input rows, plus per-group dispatch on top. The same cooldown computed as a seeded batch ``mapInArrow``
(operators/cooldown.py) costs ~0.3 s. This module supplies the missing
cross-batch half: each micro-batch reads the last committed snapshot,
seeds the greedy scan, and writes a new snapshot keyed by batch id.

The pattern (stateful logic in ``foreachBatch`` + an idempotent keyed
store) is the standard Structured-Streaming recipe for state that
outgrows the built-in store; with Iceberg the snapshot write is a
``MERGE INTO`` (SURVEY.md 7.1) -- the parquet layout here is the same
sandbox stand-in the action sink uses.

Exactly-once / resumability contract:

* snapshot N is derived ONLY from (snapshot < N, input batch N), and
  batch N's reader ignores any snapshot >= N -- so a replayed batch
  (crash between output write and checkpoint commit) recomputes the
  identical gated rows and overwrites both directories idempotently;
* ``meta.json`` is written LAST via atomic rename -- a half-written
  snapshot is never trusted;
* the watermark is maintained in the snapshot meta
  (``max(prior_wm, max_event_ts - delay)``, Spark's own definition)
  and drives event-time eviction: a key is dropped once the watermark
  passes ``last_fire + cooldown + grace``, the exact timeout rule of
  the ``applyInPandasWithState`` backend -- state stays bounded by
  fire-rate x cooldown horizon, not stream length (the 10^12-turn
  requirement).

State-size note at cluster scale: the snapshot rewrite per batch is a
columnar write of the ACTIVE keys only (evicted keys never land), with
one shuffle when the batch has hot-rule rows and none without; the
seed join in ``apply_cooldown`` rides the cooldown's own repartition,
and Spark broadcasts the snapshot side while it is small.

Reference: the cooldown map lives in ActionManager
(/root/reference/LogEventProcessor/ActionManager.h:148-150,
ActionManager.cpp:96-110); retry-after-crash semantics
ActionSender.cpp:719-731.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from logeventprocessor_spark.operators.cooldown import apply_cooldown, hot_cooldowns
from logeventprocessor_spark.rules import Rule

# eviction grace matches stream_cooldown's timeout slack (+1 s)
GRACE_MS = 1000

# snapshot generations kept: a restart only ever replays the last
# uncommitted batch, so 2 would suffice
RETENTION = 4

# one snapshot row per live key. Written and read with this schema: a
# read without one starts a schema-inference job in every micro-batch
# that has a prior snapshot
SNAPSHOT_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("rule_id", T.StringType()),
    T.StructField("last_fire_ns", T.LongType()),
])

_UNITS_MS = {
    "millisecond": 1, "milliseconds": 1,
    "second": 1000, "seconds": 1000,
    "minute": 60_000, "minutes": 60_000,
    "hour": 3_600_000, "hours": 3_600_000,
    "day": 86_400_000, "days": 86_400_000,
}


def delay_to_ms(delay: str) -> int:
    """'10 minutes' -> 600000 (the CalendarInterval subset watermarks
    use)."""
    n, unit = delay.strip().split()
    return int(n) * _UNITS_MS[unit.lower()]


class CooldownSnapshotState:
    """Layout:  state_dir/batch_id=N/{data/*.parquet, meta.json}
    (meta.json last = completeness marker; snapshots pruned to
    ``RETENTION`` generations).

    The rule set is an argument of every ``gate``/``advance`` call, not
    state of this object: ``run_micro_batch`` resolves ONE rule set per
    micro-batch (a list, or a rules file re-read per batch) and hands
    the same list to match, gate, step rendering and advance. Eviction
    policy under a changing rule set: a snapshot key is evicted by the
    batch's CURRENT rule set -- its cooldown in that batch sets the
    ``last_fire + cooldown + grace`` horizon, and a rule that has no
    cooldown in a batch (removed, disabled or set to 0) drops its keys
    at that batch's ``advance``. A raised cooldown thus keeps history
    a shorter one would already have evicted."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        watermark_delay_ms: int,
    ):
        self.spark = spark
        self.dir = state_dir
        self.delay_ms = watermark_delay_ms
        # per-batch memo of (batch_id, prior_df, prior_wm_ns): gate()
        # and advance() both need the prior snapshot, and within one
        # batch they are guaranteed to resolve the same one -- reading
        # it twice (listdir + meta + parquet scan) per trigger was pure
        # per-batch latency
        self._memo: tuple | None = None
        os.makedirs(state_dir, exist_ok=True)

    # -- snapshot bookkeeping -----------------------------------------
    def _snap_dir(self, batch_id: int) -> str:
        return os.path.join(self.dir, f"batch_id={batch_id}")

    def _meta_path(self, batch_id: int) -> str:
        return os.path.join(self._snap_dir(batch_id), "meta.json")

    def _latest_before(self, batch_id: int) -> int | None:
        best = None
        for name in os.listdir(self.dir):
            if not name.startswith("batch_id="):
                continue
            n = int(name.split("=", 1)[1])
            # only COMMITTED snapshots strictly before this batch: a
            # leftover snapshot of a crashed attempt at N itself must
            # not feed N's replay
            if n < batch_id and os.path.exists(self._meta_path(n)):
                best = n if best is None or n > best else best
        return best

    def prior(self, batch_id: int) -> tuple[DataFrame | None, int]:
        """(last committed snapshot before batch_id, its watermark ns)."""
        b = self._latest_before(batch_id)
        if b is None:
            return None, 0
        with open(self._meta_path(b)) as f:
            wm_ns = int(json.load(f)["wm_ns"])
        data = os.path.join(self._snap_dir(b), "data")
        df = (
            self.spark.read.schema(SNAPSHOT_SCHEMA).parquet(data)
            if os.path.isdir(data)
            else None
        )
        return df, wm_ns

    def _prior_cached(self, batch_id: int) -> tuple[DataFrame | None, int]:
        if self._memo is not None and self._memo[0] == batch_id:
            return self._memo[1], self._memo[2]
        df, wm = self.prior(batch_id)
        self._memo = (batch_id, df, wm)
        return df, wm

    # -- the operator --------------------------------------------------
    def gate(
        self, matches: DataFrame, batch_id: int, rules: list[Rule]
    ) -> DataFrame:
        """Cooldown-suppress this batch's matches under this batch's
        ``rules``, seeded by the prior snapshot. Zero-cooldown rules
        never touch the scan (the same hot/cold Arrow split as the batch
        pipeline).

        Late-data contract (parity with the store backend, where Spark
        drops rows older than the watermark before the stateful op):
        HOT-rule matches with ts < the snapshot watermark are dropped
        here; cold-rule rows are never late-filtered in either backend
        (they bypass state entirely). The snapshot watermark can lag
        the store backend's by < cooldown (it derives from KEPT fires),
        which is conservative -- it only ever drops a subset.

        Arrival-order contract: each key's scan is seeded by its last
        kept fire from the earlier batches, so a fire event-time-earlier
        than it has a negative gap and is suppressed, though
        ``oracle.oracle_matches`` keeps it (``run_micro_batch``)."""
        hot_ids = list(hot_cooldowns(rules))
        if not hot_ids:
            return matches
        prior_df, wm_ns = self._prior_cached(batch_id)
        if wm_ns > 0:
            matches = matches.filter(
                (~F.col("rule_id").isin(hot_ids))
                | (F.unix_micros(F.col("ts")) * F.lit(1000).cast("long")
                   >= F.lit(int(wm_ns)))
            )
        pri = (
            prior_df.select(
                "conv_id", "rule_id",
                F.col("last_fire_ns").alias("prior_ns"),
            )
            if prior_df is not None
            else None
        )
        return apply_cooldown(matches, rules, prior=pri)

    def advance(
        self, gated: DataFrame, batch_id: int, rules: list[Rule], max_ts
    ) -> None:
        """Commit snapshot N = prior keys max-merged with this batch's
        kept fires, evicted at the advanced watermark under this batch's
        ``rules`` (class docstring). ``gated`` should be persisted by
        the caller (it also feeds the sink write).

        ``max_ts``: the max event time of ``gated``'s HOT-rule rows,
        observed by the sink-write job (``run_micro_batch``); None means
        there are none: the prior snapshot then passes the eviction
        filter alone, with no aggregate (one write job), and without a
        prior only ``meta.json`` is committed, with no Spark job. Cold
        rows never advance the watermark, as on the store backend,
        whose ``withWatermark`` sits on the hot match stream. Using
        gated (not raw) matches for the watermark is sound: a suppressed
        fire's later ts would only advance the watermark by < cooldown,
        and a SMALLER watermark is always conservative (delays eviction,
        never wrong results)."""
        import pandas as pd

        cooldowns = hot_cooldowns(rules)
        prior_df, prior_wm = self._prior_cached(batch_id)
        if not cooldowns and prior_df is None:
            return  # no keys to keep and none to evict
        wm_ns = prior_wm
        if max_ts is not None:
            wm_ns = max(
                prior_wm,
                int(pd.Timestamp(max_ts).value) - self.delay_ms * 1_000_000,
            )
        snap = self._snap_dir(batch_id)
        data = os.path.join(snap, "data")
        if cooldowns and (max_ts is not None or prior_df is not None):
            # greedy invariant: the last KEPT fire of a key IS its last
            # fire, so ONE max per key over the prior and this batch's
            # hot fires; without hot rows the prior is the merge
            merged = prior_df
            if max_ts is not None:
                fires = gated.filter(F.col("rule_id").isin(list(cooldowns)))
                fires = fires.select(
                    "conv_id", "rule_id",
                    (F.unix_micros("ts") * 1000).alias("last_fire_ns"),
                )
                if prior_df is not None:
                    fires = prior_df.unionByName(fires)
                merged = fires.groupBy("conv_id", "rule_id").agg(
                    F.max("last_fire_ns").alias("last_fire_ns")
                )
            # a key whose rule has no cooldown in this batch looks up
            # null and fails the filter: it is evicted here
            cd_ms = F.create_map(
                *[
                    x
                    for k, v in cooldowns.items()
                    for x in (F.lit(k), F.lit(int(v)))
                ]
            )[F.col("rule_id")]
            live = merged.filter(
                F.col("last_fire_ns")
                + (cd_ms.cast("long") + F.lit(GRACE_MS).cast("long"))
                * F.lit(1_000_000).cast("long")
                > F.lit(int(wm_ns))
            )
            live.select(
                *[F.col(f.name).cast(f.dataType) for f in SNAPSHOT_SCHEMA]
            ).write.mode("overwrite").parquet(data)
        else:
            # no key to keep (no rule has a cooldown in this batch, or
            # no hot fire and no prior): a data-less snapshot reads back
            # as "no prior"
            shutil.rmtree(data, ignore_errors=True)
        os.makedirs(snap, exist_ok=True)
        tmp = f"{self._meta_path(batch_id)}.tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump({"batch_id": batch_id, "wm_ns": int(wm_ns)}, f)
        os.replace(tmp, self._meta_path(batch_id))
        self._prune(batch_id)

    def _prune(self, batch_id: int) -> None:
        for name in os.listdir(self.dir):
            if name.startswith("batch_id="):
                n = int(name.split("=", 1)[1])
                if n <= batch_id - RETENTION:
                    shutil.rmtree(
                        os.path.join(self.dir, name), ignore_errors=True
                    )
