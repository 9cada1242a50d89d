"""Where a benchmark run lives and how it starts and stops Spark.

Everything a run writes goes under ``<checkout>/.perfbench/``: a per-run
scratch directory (inputs, checkpoints, sink output, Spark local dirs,
JVM temp files) that is deleted when the run ends, plus the persistent
``cache/`` (expected digests), ``results/`` and ``traces/``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

from perfbench import host

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"
CONFIG = json.loads((Path(__file__).parent / "config.json").read_text())
PACKAGE = "logeventprocessor_spark"


class MissingProgram(RuntimeError):
    """The checkout does not hold the engine package."""


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def run_dir() -> Path:
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        raise MissingProgram(f"no {PACKAGE} package under {ROOT}")
    d = WORK / f"run-{os.getpid()}"
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)
    return d


def prepare(rdir: Path) -> None:
    """Point every process Spark starts at the checkout: Python workers
    import the engine from it, and Spark, the JVM and Python keep their
    scratch files inside ``rdir``. Must run before the JVM starts."""
    tmp = rdir / "tmp"
    local = rdir / "spark-local"
    tmp.mkdir()
    local.mkdir()
    os.environ["PYTHONPATH"] = str(ROOT)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["SPARK_DRIVER_MEM"] = CONFIG["session"]["driver_memory"]
    # the launcher JVM and the driver JVM both honour this; no
    # hsperfdata files in /tmp, temp files inside the run directory
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    )
    sys.path.insert(0, str(ROOT))
    import logeventprocessor_spark

    where = Path(logeventprocessor_spark.__file__).resolve()
    if ROOT not in where.parents:
        raise MissingProgram(f"{PACKAGE} imported from {where}, not {ROOT}")


def start_session(rdir: Path):
    """A fresh SparkSession in the pinned shape; returns (spark, (wall
    seconds, CPU seconds))."""
    from logeventprocessor_spark.session import get_spark

    s = CONFIG["session"]
    t0, c0 = time.perf_counter(), host.cpu_s()
    # the heap starts at its maximum, so the JVM's peak RSS does not
    # depend on when the collector decides to grow it, which follows the
    # host's speed (registry, ten seeds: 1023-1334 MB without this,
    # 1566-1609 MB with it)
    spark = get_spark(
        "perfbench",
        master=f"local[{nproc()}]",
        shuffle_partitions=s["shuffle_partitions"],
        extra_conf={
            "spark.sql.warehouse.dir": str(rdir / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Xms{s['driver_memory']}",
        },
    )
    return spark, (time.perf_counter() - t0, host.cpu_s() - c0)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it
    forked) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    # the gateway JVM exits when its stdin closes
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
