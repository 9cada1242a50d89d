"""SparkSession factory with scale-appropriate defaults.

Local mode is a correctness proxy; every knob here is chosen to also be
the right default on a real multi-executor cluster at 100 TB:
AQE on (runtime re-plan, skew-join splitting, partition coalescing),
Arrow on (vectorized Python boundary), shuffle partitions sized to the
parallelism rather than the 200 default.

The driver JVM also gets a JIT profile (``DRIVER_JIT_PROFILE``): C2
compiles only truly hot methods, with one C1 and one C2 compiler
thread. The engine's driver work is short, repeated micro-batches and
query builds, so most of Spark's planning code stays lukewarm and C2
time spent on it never pays back. A cluster driver runs the same
planning code per micro-batch, so the profile holds there too.
Executors are left alone (``spark.executor.defaultJavaOptions`` is not
set): their task loops are the hot code C2 exists for, and they were
not measured; in ``local[N]`` the executor is the driver JVM.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# path -> (session, reader DataFrame). PLAN memoization only: the
# cached object is an unexecuted logical plan -- every action against
# it still scans the parquet files, so no result ever persists across
# runs. What it saves is the ~85-100 ms of footer/schema re-read that
# spark.read.parquet pays on EVERY call (measured warm, local[32]) --
# a uniform tax on every query build in a driver that constructs
# thousands of queries. Assumption, stated: the file set under a
# cached path is immutable for the life of the session (true for the
# driver tables and fixtures this package reads; a mutating caller
# should use spark.read.parquet directly, and a path regenerated in
# session calls clear_parquet_memo). Re-resolved when the session
# changes: a DataFrame from a stopped session is unusable, so a miss
# evicts every entry of another session rather than pin its plans.
_READER_MEMO: dict[str, tuple] = {}


def cached_parquet(spark: SparkSession, path: str):
    hit = _READER_MEMO.get(path)
    if hit is not None and hit[0] is spark:
        return hit[1]
    for p in [p for p, (s, _) in _READER_MEMO.items() if s is not spark]:
        del _READER_MEMO[p]
    df = spark.read.parquet(path)
    _READER_MEMO[path] = (spark, df)
    return df


def clear_parquet_memo() -> None:
    """Forget every memoized reader, so the next cached_parquet call
    lists its path afresh (call after rewriting a cached path)."""
    _READER_MEMO.clear()


# C2 (tier 4) thresholds at 10x the JDK 17 defaults of 5000/600/15000/
# 40000 (the compile threshold at 6.7x), and two compiler threads, one
# C1 and one C2 (the ergonomic count on a 4-core host is 3). Warm
# stream_join passes spent about half their CPU in the JIT compiler
# threads, C2 compiling Spark code that stays lukewarm. With this
# profile perfbench's cpu_s medians fell from 10.5 to 8.0 (stream_join)
# and from 19.1 to 15.7 (registry_dedup), 10 pairs at local[4]. Hot
# loops still reach C2: the last three of 10 warm stream_join passes
# cost 4.9 CPU-s against 6.0 without it, though registry_dedup's warm
# wall time is 11% higher. C1 only (-XX:TieredStopAtLevel=1) was
# rejected: it gives up peak code, and registry_dedup warm wall time
# rose from 5.5 to 7.8 s.
DRIVER_JIT_PROFILE = (
    "-XX:Tier4InvocationThreshold=50000 -XX:Tier4MinInvocationThreshold=6000 "
    "-XX:Tier4CompileThreshold=100000 -XX:Tier4BackEdgeThreshold=400000 "
    "-XX:CICompilerCount=2"
)


def get_spark(
    app_name: str = "logeventprocessor_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master.split("[")[-1].rstrip("]")
        shuffle_partitions = 32 if n in ("*", "") else max(int(n), 4)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # larger Arrow batches amortize per-batch IPC/setup overhead at
        # the Python boundary (A/B at local[32], 5M turns: 256k beats
        # 64k by ~10% with tighter spread); ~50 MB/batch/worker peak --
        # size executor memory accordingly on a cluster
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "262144")
        # 64-bit Arrow string offsets: one 256k-row batch of turn text
        # approaches the 2 GB int32-offset chunk limit, forcing chunk
        # splits at the boundary; large var types keep batches whole
        # (mirrored A/B at local[32], 5M turns: 3.18/3.15 s vs
        # 3.37/3.71 s medians on the batch CEP pipeline)
        .config("spark.sql.execution.arrow.useLargeVarTypes", "true")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        # launcher puts it before spark.driver.extraJavaOptions; an
        # extra_conf entry of the same key replaces it
        .config("spark.driver.defaultJavaOptions", DRIVER_JIT_PROFILE)
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
