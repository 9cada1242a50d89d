"""Deterministic (hash-based) corpus sampling -- the training-mix
step of an LLM data pipeline: downsample over-represented strata
(language, domain, source) to target fractions.

Why not ``DataFrame.sample()``: Spark's sampler is seeded PER
PARTITION, so the kept set changes under repartitioning, task retry
re-planning, or AQE coalescing -- at 100 TB a re-run of a failed stage
would silently produce a DIFFERENT corpus. Membership here is a pure
function of the row key: keep iff

    bucket(key) = md5-derived uniform int in [0, 1e6)  <  frac * 1e6

which is (a) a codegen'd projection+filter with NO shuffle and NO RNG
state, (b) stable across retries/executors/cluster sizes, (c) exactly
reproducible by any other engine (DuckDB oracle recomputes the same
md5 arithmetic), and (d) consistent across tables: sampling two tables
by the same key keeps matching rows together (the join-preserving
property hash sampling is chosen for in production pipelines).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_BUCKETS = 1_000_000


def sample_bucket(key_col: Column, salt: str = "s42") -> Column:
    """Uniform int in [0, 1e6) derived from md5(salt || key) -- the
    first 60 md5 bits are uniform, and 2^60 is an exact multiple of
    neither 1e6 nor anything interesting, but the modulo bias at
    1e6/2^60 is ~1e-12: immaterial against any fraction anyone sets.
    md5 (not xxhash64) so the DuckDB oracle can recompute the bucket
    with the same CAST('0x'||substring(md5(..),1,15) AS BIGINT) trick
    -- dialect-identical by construction."""
    h = F.md5(F.concat(F.lit(salt), key_col.cast("string")))
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("long") % _BUCKETS


def stratified_sample(
    df: DataFrame,
    fractions: dict[str, float],
    strata_col: str,
    key_col: str,
    default_fraction: float = 1.0,
    salt: str = "s42",
) -> DataFrame:
    """Per-stratum deterministic sampling (training-mix control):
    ``fractions`` maps stratum value -> keep fraction; strata not
    listed keep ``default_fraction``. One codegen'd CASE + filter --
    no shuffle, no RNG state, retry-stable."""
    thr = F.lit(int(default_fraction * _BUCKETS))
    col = F.col(strata_col)
    for k, v in sorted(fractions.items()):
        thr = F.when(col == F.lit(k), F.lit(int(v * _BUCKETS))).otherwise(thr)
    return df.filter(sample_bucket(F.col(key_col), salt) < thr)
