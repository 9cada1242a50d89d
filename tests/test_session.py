"""The session factory (logeventprocessor_spark/session.py): the driver
JVM runs the JIT profile and maps (or trains) the class-data archive, a
caller's ``extra_conf`` replaces both, the archive's cache never serves
a partial or stale file, shuffle partitions follow the master, and
``cached_parquet``'s reader memo neither pins a dead session's plans nor
serves a rewritten path after ``clear_parquet_memo``. Also: every source
file compiles with warnings raised as errors."""

from __future__ import annotations

import logging
import os
import subprocess
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


def test_driver_jvm_maps_or_trains_the_archive(spark):
    """The JVM maps the published archive or, in a machine's first
    session, carries the training flag."""
    blocker = S._cds_blocker(S._find_spark_home())
    if blocker:
        pytest.skip(blocker)
    bean = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    args = list(bean.getInputArguments())
    mapped = [a.split("=", 1)[1] for a in args if a.startswith("-XX:SharedArchiveFile=")]
    training = [a for a in args if a.startswith("-XX:ArchiveClassesAtExit=")]
    assert len(mapped) + len(training) == 1
    if mapped:
        assert mapped[0] in Path(f"/proc/{bean.getPid()}/maps").read_text()


class _RecordingBuilder:
    """Stands in for SparkSession.builder: records the conf and the
    SPARK_CONF_DIR the launch would see, starts no JVM."""

    def __init__(self):
        self.conf: dict = {}
        self.conf_dir = None

    def master(self, _):
        return self

    def appName(self, _):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        self.conf_dir = os.environ.get("SPARK_CONF_DIR")
        return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda _: None))


def _build(monkeypatch, master="local[2]", **kw) -> _RecordingBuilder:
    builder = _RecordingBuilder()
    monkeypatch.setattr(S, "SparkSession", SimpleNamespace(builder=builder))
    # as if no driver JVM ran yet, so get_spark plans a launch
    monkeypatch.setattr(S.SparkContext, "_gateway", None)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    S.get_spark(master=master, **kw)
    return builder


def _built_conf(monkeypatch, **kw) -> dict:
    return _build(monkeypatch, **kw).conf


JAVA_OPTS = "spark.driver.defaultJavaOptions"
MAGIC = S._DYNAMIC_ARCHIVE_MAGIC + bytes(64)


@pytest.fixture
def cds_home(tmp_path, monkeypatch):
    """A temporary cache and a fake Spark home (two jars, a template-only
    conf dir); returns the archive cache directory."""
    spark_home = tmp_path / "spark"
    (spark_home / "jars").mkdir(parents=True)
    (spark_home / "conf").mkdir()
    (spark_home / "conf" / "spark-defaults.conf.template").write_text("")
    for name in ("a.jar", "b.jar"):
        (spark_home / "jars" / name).write_bytes(b"jar")
    monkeypatch.setenv("SPARK_HOME", str(spark_home))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    for var in ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR"):
        monkeypatch.delenv(var, raising=False)
    return tmp_path / "cache" / "logeventprocessor_spark" / "cds"


def _cds_flags(opts: str) -> list[str]:
    """The options after the profile: exactly one CDS flag, plus the
    training flag's log level."""
    assert opts.startswith(S.DRIVER_JIT_PROFILE + " ")
    rest = opts[len(S.DRIVER_JIT_PROFILE):].split()
    cds = ("-XX:SharedArchiveFile=", "-XX:ArchiveClassesAtExit=")
    assert sum(f.startswith(cds) for f in rest) == 1
    return rest


def test_extra_conf_replaces_the_jit_profile(monkeypatch, cds_home):
    b = _build(monkeypatch)
    rest = _cds_flags(b.conf[JAVA_OPTS])
    # no archive yet: this launch trains one, with the JDK's per-class
    # warnings muted, and sees the empty conf dir only while it starts
    assert [f.split("=")[0] for f in rest] == ["-XX:ArchiveClassesAtExit", "-Xlog:cds"]
    assert b.conf_dir == str(cds_home / "conf")
    assert "SPARK_CONF_DIR" not in os.environ
    mine = "-XX:TieredStopAtLevel=1"
    b = _build(monkeypatch, extra_conf={JAVA_OPTS: mine})
    assert b.conf[JAVA_OPTS] == mine
    assert b.conf_dir is None
    # extraJavaOptions is another key: it leaves the profile in place
    conf = _built_conf(
        monkeypatch, extra_conf={"spark.driver.extraJavaOptions": "-Xms1g"}
    )
    _cds_flags(conf[JAVA_OPTS])


def _dead_pid() -> int:
    p = subprocess.Popen(["true"])
    p.wait()
    return p.pid


def test_dead_trainers_temp_file_is_removed_not_promoted(monkeypatch, cds_home):
    key = S._cds_key(os.environ["SPARK_HOME"])
    cds_home.mkdir(parents=True)
    stale = cds_home / f"{key}.{_dead_pid()}.0.tmp"
    stale.write_bytes(MAGIC)
    live = cds_home / f"{key}.{os.getpid()}.999.tmp"
    live.write_bytes(b"")
    rest = _cds_flags(_built_conf(monkeypatch)[JAVA_OPTS])
    assert not stale.exists()
    assert live.exists()  # a live process may still be training into it
    assert not (cds_home / f"{key}.jsa").exists()
    assert rest[0].startswith(f"-XX:ArchiveClassesAtExit={cds_home}/{key}.{os.getpid()}.")


def test_changed_jar_selects_a_new_archive_and_drops_the_old(monkeypatch, cds_home):
    spark_home = os.environ["SPARK_HOME"]
    old = S._cds_key(spark_home)
    cds_home.mkdir(parents=True)
    archive = cds_home / f"{old}.jsa"
    archive.write_bytes(MAGIC)
    rest = _cds_flags(_built_conf(monkeypatch)[JAVA_OPTS])
    assert rest == [f"-XX:SharedArchiveFile={archive}"]
    jar = Path(spark_home) / "jars" / "a.jar"
    st = jar.stat()
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    by_mtime = S._cds_key(spark_home)
    jar.write_bytes(b"a larger jar")
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    by_size = S._cds_key(spark_home)
    assert len({old, by_mtime, by_size}) == 3
    rest = _cds_flags(_built_conf(monkeypatch)[JAVA_OPTS])
    assert not archive.exists()
    assert rest[0].startswith(f"-XX:ArchiveClassesAtExit={cds_home}/{by_size}.")


@pytest.mark.parametrize("var", ["SPARK_CONF_DIR", "HADOOP_CONF_DIR"])
def test_conf_dir_with_a_real_file_means_no_archive(monkeypatch, cds_home, tmp_path, caplog, var):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "log4j2.properties.template").write_text("")
    (conf / "spark-defaults.conf").write_text("")
    monkeypatch.setenv(var, str(conf))
    spark_conf_dir = os.environ.get("SPARK_CONF_DIR")
    with caplog.at_level(logging.WARNING, logger=S.__name__):
        b = _build(monkeypatch)
    assert b.conf[JAVA_OPTS] == S.DRIVER_JIT_PROFILE
    assert b.conf_dir == os.environ.get("SPARK_CONF_DIR") == spark_conf_dir
    [rec] = caplog.records
    assert var in rec.getMessage()


@pytest.mark.parametrize(
    "returncode,content,published",
    [(0, MAGIC, True), (1, MAGIC, False), (0, bytes(68), False), (0, None, False)],
    ids=["clean-exit", "failed-exit", "no-magic", "no-file"],
)
def test_only_a_clean_exits_complete_archive_is_published(
    tmp_path, returncode, content, published
):
    tmp, archive = tmp_path / "k.1.0.tmp", tmp_path / "k.jsa"
    if content is not None:
        tmp.write_bytes(content)
    proc = SimpleNamespace(poll=lambda: returncode, returncode=returncode)
    S._publish_archive(proc, tmp, archive, os.getpid())
    assert archive.exists() == published
    assert not tmp.exists()


def test_a_forked_child_leaves_the_archive_to_its_parent(tmp_path):
    tmp, archive = tmp_path / "k.1.0.tmp", tmp_path / "k.jsa"
    tmp.write_bytes(MAGIC)
    # what a child's Popen reports for its parent's JVM, still running
    proc = SimpleNamespace(poll=lambda: 0, returncode=0)
    S._publish_archive(proc, tmp, archive, os.getpid() + 1)
    assert tmp.exists()
    assert not archive.exists()


@pytest.mark.parametrize(
    "master,partitions",
    [
        ("local", "4"),
        ("local[2]", "4"),
        ("local[8]", "8"),
        ("local[4,2]", "4"),
        ("local[*]", "32"),
        ("local-cluster[2,1,1024]", None),
        ("yarn", None),
        ("spark://h:7077", None),
    ],
)
def test_shuffle_partitions_follow_the_master(monkeypatch, cds_home, master, partitions):
    conf = _built_conf(monkeypatch, master=master)
    assert conf.get("spark.sql.shuffle.partitions") == partitions


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
