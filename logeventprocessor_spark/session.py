"""SparkSession factory with scale-appropriate defaults.

Local mode is a correctness proxy; every knob here is chosen to also be
the right default on a real multi-executor cluster at 100 TB:
AQE on (runtime re-plan, skew-join splitting, partition coalescing),
Arrow on (vectorized Python boundary), shuffle partitions sized to the
parallelism rather than the 200 default.

Spark's generated-class cache holds ``CODEGEN_CACHE_ENTRIES`` (2000)
classes, not Spark's default of 100. One pass over the 62 registry
queries generates 592 distinct classes, so at 100 each class was
evicted before its next use and every warm pass compiled them again
(679 Janino compiles per pass, each followed by fresh JIT work). At
2000 a warm pass compiles none, and metaspace after three passes is
60 MB, not 70 MB, because no churned classes wait to be unloaded.

The driver JVM also gets a JIT profile (``DRIVER_JIT_PROFILE``): C2
compiles only truly hot methods, with one C1 and one C2 compiler
thread. The engine's driver work is short, repeated micro-batches and
query builds, so most of Spark's planning code stays lukewarm and C2
time spent on it never pays back. A cluster driver runs the same
planning code per micro-batch, so the profile holds there too.
Executors are left alone (``spark.executor.defaultJavaOptions`` is not
set): their task loops are the hot code C2 exists for, and they were
not measured; in ``local[N]`` the executor is the driver JVM.

The driver JVM maps a class-data archive (JDK 17 dynamic AppCDS): the
classes a driver loaded in an earlier run, already parsed and verified,
so a fresh JVM skips most of its class loading. The archive lives in
the per-user cache, ``$XDG_CACHE_HOME`` or ``~/.cache``, under
``logeventprocessor_spark/cds/``, because it depends on the JDK and the
Spark jars, not on the checkout. Its name is a key over the JDK (the
``java`` binary and ``lib/server/``) and the Spark jar set, each file's
path, size and mtime, so a changed JDK or jar selects a new archive and
the old one is deleted. Without an archive for the key, the launch
trains one: the JVM writes it to a temp name at exit, and an ``atexit``
hook renames it into place only after that JVM exited with status 0
and the file starts with the archive magic. No JVM is ever pointed at a
partial file: a truncated archive crashes the JVM at launch, and a
missing one makes it drop the JDK's base archive too. The JDK will not
archive classes while a non-empty directory is on the class path, and
Spark puts ``$SPARK_CONF_DIR`` there, so the launch sees an empty conf
directory from the cache; this happens only when the real one holds
nothing but ``*.template`` files, and otherwise the JVM starts without
an archive and one warning says why.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import itertools
import logging
import os
import re
import shutil
import subprocess
from pathlib import Path
from typing import NamedTuple

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

_log = logging.getLogger(__name__)


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


# Entries in Spark's generated-class cache (spark.sql.codegen.cache.
# maxEntries, static, default 100, LRU): 3.4x the 62-query registry's
# working set of 592 distinct classes. That is the Janino compile count
# (CodegenMetrics.METRIC_COMPILATION_TIME) of one cold pass over all 62
# queries at sf0.01, local[4], with each forced by a noop write; the
# next two passes compiled 6 and 0. At 100 each warm pass compiled 679
# classes, because every class was evicted before its next use.
# perfbench registry_dedup, 10 pairs at local[4]: 54 compiles per warm
# pass became 0, and the cpu_s median fell from 14.75 to 10.81.
CODEGEN_CACHE_ENTRIES = 2000


# The first bytes of a JDK 17 dynamic archive (0xf00baba8, little-endian).
_DYNAMIC_ARCHIVE_MAGIC = bytes.fromhex("a8ab0bf0")
# A training run's temp names: <key>.<pid of the Python process>.<n>.tmp
_TRAINING = itertools.count()


class _Cds(NamedTuple):
    flag: str  # the JVM options that map or train the archive
    conf_dir: str  # SPARK_CONF_DIR for the launch: empty, the same path every run
    train: Path | None  # the training JVM's temp file; None when mapping
    archive: Path


def _cds_blocker(spark_home: str) -> str | None:
    """Why the driver JVM cannot use an archive here, or None."""
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if os.path.isdir(conf):
        extra = sorted(n for n in os.listdir(conf) if not n.endswith(".template"))
        if extra:
            return (f"SPARK_CONF_DIR {conf} holds {extra[0]}, and the JDK archives "
                    "no classes while a non-empty directory is on the class path")
    for var in ("HADOOP_CONF_DIR", "YARN_CONF_DIR"):
        d = os.environ.get(var)
        if d and os.path.isdir(d) and os.listdir(d):
            return (f"{var} {d} is a non-empty directory on the class path, "
                    "and the JDK archives no classes then")
    if _java() is None:
        return "no java binary found"
    return None


def _java() -> Path | None:
    """The java binary Spark's launch script runs."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    return Path(java).resolve() if java and os.path.isfile(java) else None


def _cds_key(spark_home: str) -> str:
    java = _java()
    files = [java, *sorted((java.parent.parent / "lib" / "server").glob("*")),
             *sorted(Path(spark_home, "jars").glob("*"))]
    h = hashlib.sha256()
    for f in files:
        st = f.stat()
        h.update(f"{f}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass  # alive, owned by another user
    return True


def _prune(cache: Path, key: str) -> None:
    """Delete other keys' archives and the temp files of dead trainers."""
    for p in cache.iterdir():
        if p.suffix == ".jsa" and p.stem != key:
            p.unlink(missing_ok=True)
        elif p.suffix == ".tmp":
            pid = p.name.split(".")[1]
            if not (pid.isdigit() and _pid_alive(int(pid))):
                p.unlink(missing_ok=True)


def _cds_for_launch() -> _Cds | None:
    """Map the archive for this JDK and jar set, or train one; None (and
    one warning) where the JDK cannot archive the driver's classes."""
    spark_home = _find_spark_home()
    blocker = _cds_blocker(spark_home)
    if blocker:
        _log.warning("driver JVM starts without a class-data archive: %s", blocker)
        return None
    base = Path(os.environ.get("XDG_CACHE_HOME") or Path.home() / ".cache")
    cache = base / "logeventprocessor_spark" / "cds"
    conf = cache / "conf"
    conf.mkdir(parents=True, exist_ok=True)
    key = _cds_key(spark_home)
    _prune(cache, key)
    archive = cache / f"{key}.jsa"
    if archive.is_file():
        return _Cds(f"-XX:SharedArchiveFile={archive}", str(conf), None, archive)
    tmp = cache / f"{key}.{os.getpid()}.{next(_TRAINING)}.tmp"
    # at exit the JDK warns once per class it skips (pre-JDK 6 class
    # files, signed jars, Janino's generated classes): about 600 lines
    return _Cds(f"-XX:ArchiveClassesAtExit={tmp} -Xlog:cds=error",
                str(conf), tmp, archive)


@contextlib.contextmanager
def _spark_conf_dir(path: str):
    old = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = path
    try:
        yield
    finally:
        if old is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = old


def _publish_archive(proc: subprocess.Popen, tmp: Path, archive: Path, owner: int) -> None:
    """At interpreter exit: let the training JVM exit and write its
    archive, then rename it into place if the JVM exited cleanly."""
    if os.getpid() != owner:
        # a forked child cannot wait on its parent's JVM, and Popen
        # reads that as exit status 0: it would publish a partial file
        return
    if proc.poll() is None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=300)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    try:
        if proc.returncode == 0:
            with open(tmp, "rb") as f:
                complete = f.read(4) == _DYNAMIC_ARCHIVE_MAGIC
            if complete:
                os.replace(tmp, archive)
    except FileNotFoundError:
        pass  # the JVM wrote no archive
    finally:
        tmp.unlink(missing_ok=True)


def _shuffle_partitions(master: str) -> int | None:
    """Sized to a local master's parallelism; None for a cluster master,
    which keeps Spark's default and lets AQE coalesce."""
    m = re.fullmatch(r"local(?:\[(\d+|\*)(?:,\d+)?\])?", master)
    if m is None:
        return None
    n = m.group(1) or "1"
    return 32 if n == "*" else max(int(n), 4)


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
        shuffle_partitions = _shuffle_partitions(master)
    extra_conf = extra_conf or {}
    java_opts = "spark.driver.defaultJavaOptions"
    # a CDS flag only when this call starts the driver JVM (no gateway
    # yet, and none handed over by spark-submit) and the caller kept the
    # default options
    launching = SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ
    cds = _cds_for_launch() if launching and java_opts not in extra_conf else None
    b = SparkSession.builder.master(master).appName(app_name)
    if shuffle_partitions is not None:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    b = (
        b.config("spark.sql.adaptive.enabled", "true")
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
        # static: fixed when the JVM starts; executors read it too
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        # launcher puts it before spark.driver.extraJavaOptions; an
        # extra_conf entry of the same key replaces it
        .config(java_opts, f"{DRIVER_JIT_PROFILE} {cds.flag}" if cds else DRIVER_JIT_PROFILE)
    )
    for k, v in extra_conf.items():
        b = b.config(k, v)
    with _spark_conf_dir(cds.conf_dir) if cds else contextlib.nullcontext():
        spark = b.getOrCreate()
    if cds and cds.train and SparkContext._gateway is not None:
        atexit.register(_publish_archive, SparkContext._gateway.proc,
                        cds.train, cds.archive, os.getpid())
    spark.sparkContext.setLogLevel("WARN")
    return spark
