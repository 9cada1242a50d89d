"""The session factory (logeventprocessor_spark/session.py): the driver
JVM runs the JIT profile, a caller's ``extra_conf`` replaces it, and
``cached_parquet``'s reader memo neither pins a dead session's plans nor
serves a rewritten path after ``clear_parquet_memo``. Also: every source
file compiles with warnings raised as errors."""

from __future__ import annotations

import warnings
from pathlib import Path
from types import SimpleNamespace

import pytest

from logeventprocessor_spark import session as S

ROOT = Path(__file__).resolve().parent.parent


@pytest.mark.parametrize("top", ["logeventprocessor_spark", "scripts", "tests"])
def test_sources_compile_without_warnings(top):
    files = sorted(
        p for p in (ROOT / top).rglob("*.py") if "__pycache__" not in p.parts
    )
    assert files
    for path in files:
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            # an invalid escape such as '\s' raises here
            compile(path.read_bytes(), str(path), "exec")


def test_driver_jvm_runs_the_jit_profile(spark):
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    args = list(mf.getRuntimeMXBean().getInputArguments())
    flags = S.DRIVER_JIT_PROFILE.split()
    assert len(flags) == 5
    assert [a for a in args if a in flags] == flags
    hotspot = mf.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    assert hotspot.getVMOption("CICompilerCount").getValue() == "2"


class _RecordingBuilder:
    """Stands in for SparkSession.builder: records the conf, starts no JVM."""

    def __init__(self):
        self.conf: dict = {}

    def master(self, _):
        return self

    def appName(self, _):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda _: None))


def _built_conf(monkeypatch, **kw) -> dict:
    builder = _RecordingBuilder()
    monkeypatch.setattr(S, "SparkSession", SimpleNamespace(builder=builder))
    S.get_spark(master="local[2]", **kw)
    return builder.conf


def test_extra_conf_replaces_the_jit_profile(monkeypatch):
    key = "spark.driver.defaultJavaOptions"
    assert _built_conf(monkeypatch)[key] == S.DRIVER_JIT_PROFILE
    mine = "-XX:TieredStopAtLevel=1"
    conf = _built_conf(monkeypatch, extra_conf={key: mine})
    assert conf[key] == mine
    # extraJavaOptions is another key: it leaves the profile in place
    conf = _built_conf(
        monkeypatch, extra_conf={"spark.driver.extraJavaOptions": "-Xms1g"}
    )
    assert conf[key] == S.DRIVER_JIT_PROFILE


def _write(spark, path: str, n: int) -> None:
    spark.range(n).write.mode("overwrite").parquet(path)


def test_reader_memo_drops_other_sessions(spark, tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    _write(spark, a, 2)
    _write(spark, b, 3)
    S.cached_parquet(spark, a)
    S.cached_parquet(spark, b)
    assert {s for s, _ in S._READER_MEMO.values()} == {spark}
    other = spark.newSession()
    try:
        assert S.cached_parquet(other, a).count() == 2
        assert [s for s, _ in S._READER_MEMO.values()] == [other]
        assert list(S._READER_MEMO) == [a]
    finally:
        S.clear_parquet_memo()


def test_clear_rereads_a_rewritten_path(spark, tmp_path):
    path = str(tmp_path / "t")
    _write(spark, path, 2)
    first = S.cached_parquet(spark, path)
    assert first.count() == 2
    assert S.cached_parquet(spark, path) is first
    _write(spark, path, 5)
    S.clear_parquet_memo()
    again = S.cached_parquet(spark, path)
    assert again is not first
    assert again.count() == 5
    S.clear_parquet_memo()
