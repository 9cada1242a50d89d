"""Deterministic repo-local fixture parquet files shared by the Spark
queries and their DuckDB oracles.

These fixtures make otherwise un-oracle-able queries independently
checkable by the driver's DuckDB comparison:

* ``transcripts``   -- the engine's canonical transcript corpus
  (``generator.make_transcripts(n_convs=40, seed=42)``) written to
  parquet, so the flagship CEP pipeline (match + cooldown + steps)
  can be recomputed in pure SQL (``read_parquet`` + recursive CTE).
* ``embeddings_aug`` -- the driver's ``embeddings`` table augmented
  with SEEDED planted near-duplicates (vec' = vec + small gaussian
  noise, cos(vec, vec') >= ~0.98). The driver's raw embeddings are
  near-random (max pairwise cosine ~0.51), so no true near-dup
  exists to find; the planted pairs give the LSH/ANN operators a
  non-trivial, deterministic ground truth that brute-force SQL can
  verify.
* ``media``          -- the synthetic multimodal table (real BMP/WAV/
  RAWV payloads) as parquet, so DuckDB can oracle the SQL-expressible
  decode outputs (kind, octet_length(payload), header width/height vs
  stored meta).
* ``ivf_index_fixture`` / ``lsh_index_fixture`` -- PERSISTED ANN
  indexes over the augmented embeddings, built ONCE here (driver-side numpy: KMeans /
  hyperplane sign bits) so the registered probe queries are pure
  read-only scans (round-2 verdict: a query must not mutate
  .fixtures on first run). The Spark-side builders
  (``similarity.ivf_build`` / ``similarity.lsh_build``) are the
  100 TB-scale path and write the same layouts (centers.json +
  lists/_list=N/, meta.json + data.parquet), so one probe function
  per index family reads both; the fixture build only needs a few
  hundred vectors.

Files are content-versioned by name (bump ``_V`` when generation
logic changes; the near-dup pairs and SimHash signatures also carry
``GRAM_TAG``, and the pairs ``PAIR_RULE``) and
written at most once; everything derives from seed 42 plus the
driver's own parquet, so bytes are reproducible.
Writes are atomic and concurrency-safe: per-process tmp names
(pid suffix) + os.replace/os.rename, so a bench run and a pytest run
racing on first use cannot observe half-written files.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURES_ROOT = os.path.join(_REPO_ROOT, ".fixtures")

# v3: canonical rules gained the no-literal pin_code rule ([0-9]{6})
# and the corpus plants 6-digit access codes (round-5 verdict task #9)
# -- the flagship now exercises the RLIKE prefilter of a rule that has
# no literal.
# v2: transcript corpus gained interleaved rate-limit bursts (second
# concurrent cooldown chain per conversation, round-4 verdict task #5)
_V = "v3"
# The tokenizer the stored near-dup pairs and SimHash signatures were
# made with, part of those two fixtures' names only (a _V bump would
# rebuild every fixture). Change it whenever operators/text.py's
# ws_norm / gram_array or oracle.oracle_tokens changes how text becomes
# tokens or grams. "ws3": one whitespace rule (Java's \s incl. VT, edge
# runs trimmed) for the operators and oracle_tokens. "rx2": the tokens
# behind the size(toks) >= n filter are split from the same
# whitespace-normalised string as the grams. "rx1": one codegen'd
# regexp_extract_all over whitespace-normalised text, which replaced the
# interpreted transform chain whose pairs the untagged name still holds.
GRAM_TAG = "ws3"
# The keep rule of the stored near-dup pairs, part of their name only.
# "j1": the unrounded Jaccard ratio >= threshold, the DuckDB oracle's
# rule; names without it hold pairs kept by round(J, 6) >= threshold.
PAIR_RULE = "j1"
TRANSCRIPTS_N_CONVS = 40
MEDIA_N = 60
# sf dir the driver's oracle comparison runs at. The oracle SQL strings
# are STATIC, so the embedding/ANN oracles embed fixture paths for THIS
# sf -- the driver protocol compares at sf0.01; comparing at any other
# sf would mismatch by construction.
ORACLE_SF_DIR = "/root/testdata/sf0.01"


def _dir(*parts: str) -> str:
    d = os.path.join(FIXTURES_ROOT, *parts)
    os.makedirs(d, exist_ok=True)
    return d


def _atomic_write_table(table: pa.Table, path: str) -> None:
    """Write a parquet file atomically; safe under concurrent writers
    (per-pid tmp name, os.replace is atomic on POSIX)."""
    tmp = f"{path}.tmp.{os.getpid()}"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def _atomic_rename_dir(tmp_dir: str, path: str) -> None:
    """Promote a fully-built tmp directory to its final name; if a
    concurrent builder won the race, discard ours (contents are
    deterministic, so either copy is correct)."""
    try:
        os.rename(tmp_dir, path)
    except OSError:
        if os.path.isdir(path):
            shutil.rmtree(tmp_dir, ignore_errors=True)
        else:
            raise


def transcripts_fixture_path(ensure: bool = True) -> str:
    """The canonical transcript corpus as parquet (sf-independent).
    ``ensure=False`` returns the path without writing (used when
    building static oracle SQL strings at import time)."""
    path = os.path.join(_dir("common"), f"transcripts_seed42_{_V}.parquet")
    if ensure and not os.path.exists(path):
        from logeventprocessor_spark.generator import make_transcripts

        pdf = make_transcripts(n_convs=TRANSCRIPTS_N_CONVS, seed=42)
        tmp = f"{path}.tmp.{os.getpid()}"
        pdf.to_parquet(tmp, index=False)
        os.replace(tmp, path)
    return path


def _augment_embeddings(
    pdf: pd.DataFrame,
    seed: int = 42,
    dup_frac: float = 0.08,
    query_dups: int = 12,
    sigma_lo: float = 0.05,
    sigma_hi: float = 0.18,
) -> pd.DataFrame:
    """Append planted near-duplicates: ``query_dups`` copies of the
    vec_id=0 query vector (so exact ANN top-k is the planted set) plus
    one dup each for ``dup_frac`` of the other rows. Noise magnitude
    sigma*|v| gives cos(v, v') ~= 1/sqrt(1+sigma^2) in [0.984, 0.999].
    """
    rng = np.random.RandomState(seed)
    pdf = pdf.sort_values("vec_id").reset_index(drop=True)
    base = np.stack([np.asarray(v, dtype="float64") for v in pdf["embedding"]])
    ids = pdf["vec_id"].to_numpy()
    n, d = base.shape
    row0 = int(np.where(ids == 0)[0][0])
    n_dup = max(1, int(round(n * dup_frac)))
    others = [r for r in range(n) if r != row0]
    src_rows = [row0] * query_dups + list(
        rng.choice(others, size=min(n_dup, len(others)), replace=False)
    )
    next_id = int(ids.max()) + 1
    new_ids, new_vecs = [], []
    for s in src_rows:
        v = base[int(s)]
        sigma = sigma_lo + (sigma_hi - sigma_lo) * float(rng.rand())
        noise = rng.normal(0.0, 1.0, d)
        noise = noise / np.linalg.norm(noise) * sigma * np.linalg.norm(v)
        new_ids.append(next_id)
        new_vecs.append((v + noise).astype("float32"))
        next_id += 1
    out_ids = np.concatenate([ids, np.asarray(new_ids, dtype="int64")])
    out_vecs = [np.asarray(v, dtype="float32") for v in pdf["embedding"]] + new_vecs
    return pd.DataFrame({"vec_id": out_ids, "embedding": out_vecs})


def augmented_embeddings_path(sf_dir: str, ensure: bool = True) -> str:
    """Driver embeddings + planted near-dups for this sf, as parquet
    with the SAME arrow types as the driver table (int64, list<float>).
    """
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    path = os.path.join(_dir(tag), f"embeddings_aug_{_V}.parquet")
    if ensure and not os.path.exists(path):
        pdf = pd.read_parquet(os.path.join(sf_dir, "embeddings.parquet"))
        out = _augment_embeddings(pdf)
        table = pa.table(
            {
                "vec_id": pa.array(out["vec_id"].to_numpy(), type=pa.int64()),
                "embedding": pa.array(
                    [v.tolist() for v in out["embedding"]],
                    type=pa.list_(pa.float32()),
                ),
            }
        )
        _atomic_write_table(table, path)
    return path


def _read_aug(sf_dir: str) -> tuple[np.ndarray, np.ndarray]:
    t = pq.read_table(augmented_embeddings_path(sf_dir))
    ids = np.asarray(t.column("vec_id").to_pylist(), dtype="int64")
    vecs = np.stack(
        [np.asarray(v, dtype="float32") for v in t.column("embedding").to_pylist()]
    )
    return ids, vecs


def query_vector(sf_dir: str) -> list[float]:
    """The vec_id=0 query vector, read driver-side via pyarrow (no
    Spark job -- the fixture file is local and small)."""
    ids, vecs = _read_aug(sf_dir)
    return [float(x) for x in vecs[int(np.where(ids == 0)[0][0])]]


# --------------------- near-dup pair fixture ---------------------

def ngram_pairs_path(sf_dir: str, threshold: float = 0.6) -> str:
    key = os.path.basename(os.path.normpath(sf_dir))
    # threshold is part of the cache key: a caller passing a
    # non-default threshold must never silently receive pairs
    # materialized at another one (round-6 advice #2). The default
    # threshold adds no suffix.
    t = "" if threshold == 0.6 else f"_t{threshold}"
    return os.path.join(
        FIXTURES_ROOT, f"ngram_pairs_{_V}_{GRAM_TAG}_{PAIR_RULE}_{key}{t}"
    )


def ngram_pairs_fixture(spark, sf_dir: str, threshold: float = 0.6) -> str:
    """Materialized near-dup pair set over ``sf_dir``'s documents,
    built ONCE with the registered operator geometry
    (``dedup.ngram_jaccard_pairs``, the ngram_jaccard_pairs query) and
    reused by clustering consumers. This is the real-pipeline shape:
    pair generation is its own expensive stage whose output is stored;
    connected-components reads the stored pairs (round-5 verdict task
    #5 -- the clusters bench line should measure the CC loop, not
    re-measure pair generation already benched on its own line).
    Atomic like the other fixture builds: written to a pid-suffixed
    tmp dir, renamed into place."""
    path = ngram_pairs_path(sf_dir, threshold)
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    if os.path.isdir(path):  # half-built leftover from a crash
        if os.path.exists(os.path.join(path, "_SUCCESS")):
            return path
        shutil.rmtree(path, ignore_errors=True)
    from logeventprocessor_spark.operators.dedup import ngram_jaccard_pairs
    from logeventprocessor_spark.session import clear_parquet_memo

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    tmp = f"{path}.tmp.{os.getpid()}"
    ngram_jaccard_pairs(docs, threshold=threshold).write.mode(
        "overwrite"
    ).parquet(tmp)
    _atomic_rename_dir(tmp, path)
    # a reader memoized before the rebuild lists the old files
    clear_parquet_memo()
    return path


# ------------------------- media fixture -------------------------

def media_fixture_path(ensure: bool = True) -> str:
    """The synthetic multimodal table (real encoded payloads) as
    parquet, readable by BOTH Spark and DuckDB: (media_id, kind,
    payload binary, meta struct<width,height,duration_ms,codec>)."""
    path = os.path.join(_dir("common"), f"media_seed42_{_V}.parquet")
    if ensure and not os.path.exists(path):
        from logeventprocessor_spark.operators.multimodal import synth_media_rows

        rows = synth_media_rows(n=MEDIA_N, seed=42)
        meta_type = pa.struct(
            [
                ("width", pa.int32()),
                ("height", pa.int32()),
                ("duration_ms", pa.int32()),
                ("codec", pa.string()),
            ]
        )
        table = pa.table(
            {
                "media_id": pa.array([r[0] for r in rows], type=pa.int64()),
                "kind": pa.array([r[1] for r in rows], type=pa.string()),
                "payload": pa.array(
                    [bytes(r[2]) for r in rows], type=pa.binary()
                ),
                "meta": pa.array(
                    [
                        {
                            "width": r[3][0],
                            "height": r[3][1],
                            "duration_ms": r[3][2],
                            "codec": r[3][3],
                        }
                        for r in rows
                    ],
                    type=meta_type,
                ),
            }
        )
        _atomic_write_table(table, path)
    return path


# ------------------------- ANN index fixtures -------------------------

def _kmeans_numpy(
    vecs: np.ndarray, k: int, seed: int, n_iter: int = 25
) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic Lloyd's KMeans (kmeans++ init, fixed iterations)
    -- the driver-side stand-in for the Spark builder at fixture scale.
    Returns (centers (k,d), assignment (n,))."""
    rng = np.random.RandomState(seed)
    x = vecs.astype("float64")
    n = len(x)
    centers = [x[int(rng.randint(n))]]
    for _ in range(1, k):
        d2 = np.min(
            [((x - c) ** 2).sum(axis=1) for c in centers], axis=0
        )
        p = d2 / d2.sum() if d2.sum() > 0 else np.full(n, 1.0 / n)
        centers.append(x[int(rng.choice(n, p=p))])
    c = np.stack(centers)
    assign = np.zeros(n, dtype="int64")
    for _ in range(n_iter):
        d = ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for j in range(k):
            m = assign == j
            if m.any():
                c[j] = x[m].mean(axis=0)
    return c, assign


def ivf_index_path(sf_dir: str) -> str:
    """Directory for the persisted IVF index of this sf's augmented
    embeddings (centers.json + lists/ partitioned by _list)."""
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    return os.path.join(_dir(tag), f"ivf_index_{_V}")


def ivf_index_fixture(sf_dir: str, n_lists: int = 8, seed: int = 42) -> str:
    """Ensure the persisted IVF index exists (built driver-side, numpy
    KMeans); the layout matches ``similarity.ivf_build`` exactly
    (centers.json + lists/_list=N/*.parquet), so ``ivf_load_topk``
    probes it with genuine partition pruning. The build is atomic: the
    tree is assembled under a pid-suffixed tmp dir, centers.json LAST,
    then renamed into place -- a crash mid-build leaves no
    half-index that later runs would trust."""
    path = ivf_index_path(sf_dir)
    if os.path.exists(os.path.join(path, "centers.json")):
        return path
    if os.path.isdir(path):  # half-built leftover from a crash
        # re-check the completeness marker right before deleting: a
        # concurrent builder may have atomically renamed a finished
        # index into place between the first check and here, and
        # rmtree'ing it would crash a reader that already trusts it
        if os.path.exists(os.path.join(path, "centers.json")):
            return path
        shutil.rmtree(path, ignore_errors=True)
    ids, vecs = _read_aug(sf_dir)
    centers, assign = _kmeans_numpy(vecs, n_lists, seed)
    tmp = f"{path}.tmp.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    for j in range(n_lists):
        m = assign == j
        if not m.any():
            continue
        d = os.path.join(tmp, "lists", f"_list={j}")
        os.makedirs(d, exist_ok=True)
        table = pa.table(
            {
                "vec_id": pa.array(ids[m], type=pa.int64()),
                "embedding": pa.array(
                    [v.tolist() for v in vecs[m]], type=pa.list_(pa.float32())
                ),
            }
        )
        pq.write_table(table, os.path.join(d, "part-0.parquet"))
    with open(os.path.join(tmp, "centers.json"), "w") as f:
        json.dump(
            {
                "n_lists": n_lists,
                "seed": seed,
                "centers": [[float(x) for x in c] for c in centers],
            },
            f,
        )
    _atomic_rename_dir(tmp, path)
    return path


def lsh_index_path(sf_dir: str) -> str:
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    return os.path.join(_dir(tag), f"lsh_index_{_V}")


def lsh_index_fixture(
    sf_dir: str, bands: int = 12, rows_per_band: int = 8, seed: int = 42
) -> str:
    """Ensure the persisted banded-LSH index exists: the band-bucket
    array column is MATERIALIZED next to each vector (meta.json +
    data.parquet), so probes are plain columnar scans with
    ``arrays_overlap`` -- no UDF in the probe plan. Layout matches
    ``similarity.lsh_build``."""
    path = lsh_index_path(sf_dir)
    if os.path.exists(os.path.join(path, "meta.json")):
        return path
    if os.path.isdir(path):
        # same lost-race re-check as ivf_index_fixture: never delete a
        # directory that carries the completeness marker
        if os.path.exists(os.path.join(path, "meta.json")):
            return path
        shutil.rmtree(path, ignore_errors=True)
    from logeventprocessor_spark.operators.similarity import (
        _hyperplanes,
        band_bucket_strings,
    )

    ids, vecs = _read_aug(sf_dir)
    dim = vecs.shape[1]
    planes = _hyperplanes(dim, bands * rows_per_band, seed)
    buckets = band_bucket_strings(vecs.astype("float64"), planes, bands)
    tmp = f"{path}.tmp.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp, exist_ok=True)
    table = pa.table(
        {
            "vec_id": pa.array(ids, type=pa.int64()),
            "embedding": pa.array(
                [v.tolist() for v in vecs], type=pa.list_(pa.float32())
            ),
            "buckets": pa.array(buckets, type=pa.list_(pa.string())),
        }
    )
    pq.write_table(table, os.path.join(tmp, "data.parquet"))
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(
            {"bands": bands, "rows_per_band": rows_per_band, "seed": seed,
             "dim": dim},
            f,
        )
    _atomic_rename_dir(tmp, path)
    return path


def simhash_sig_path(sf_dir: str) -> str:
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    return os.path.join(_dir(tag), f"simhash_sigs_{_V}_{GRAM_TAG}.parquet")


def simhash_sig_fixture(sf_dir: str) -> str:
    """(doc_id, simhash) for every document at this sf, computed by the
    INDEPENDENT pure-Python XXH64+SimHash in ``oracle.py`` (not the
    Spark operator it oracles). DuckDB brute-scans these signatures --
    ``bit_count(xor(a, b)) <= d`` over all pairs -- giving the
    xxhash-SimHash near-dup operator a full value oracle even though
    DuckDB has no xxhash64. Parity of the two implementations is pinned
    token-by-token and signature-by-signature in tests/test_datapipe.py."""
    path = simhash_sig_path(sf_dir)
    if os.path.exists(path):
        return path
    from logeventprocessor_spark.oracle import oracle_simhash64

    pdf = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
    ).to_pandas()
    sigs = [oracle_simhash64(t) for t in pdf["text"]]
    table = pa.table(
        {
            "doc_id": pa.array(pdf["doc_id"], type=pa.int64()),
            "simhash": pa.array(sigs, type=pa.int64()),
        }
    )
    _atomic_write_table(table, path)
    return path


def ensure_oracle_fixtures() -> None:
    """Write every fixture the STATIC oracle SQL strings reference, so
    the driver can run the oracles regardless of call order. The
    embedding-derived fixtures need the driver's sf0.01 parquet; on a
    machine without it, skip them (their oracles could not run there
    anyway) instead of failing the mere enumeration of the dict."""
    transcripts_fixture_path()
    media_fixture_path()
    if os.path.isdir(ORACLE_SF_DIR):
        augmented_embeddings_path(ORACLE_SF_DIR)
        ivf_index_fixture(ORACLE_SF_DIR)
        lsh_index_fixture(ORACLE_SF_DIR)
        simhash_sig_fixture(ORACLE_SF_DIR)
