"""The traced run's instruments, all from outside the engine.

* ``Tracer`` wraps public driver calls at runtime (the engine's code is
  not edited) and records one span per call: name, start, end, parent
  and attributes. Spans stay in memory until the run writes them.
* ``SparkStore`` reads Spark's own status stores (job and stage task
  metrics from ``AppStatusStore``, per-node SQL metrics from
  ``SQLAppStatusStore``); both work with the UI disabled.
* ``ladder`` runs cumulative prefixes of the batch operator chain
  (scan -> prefilter -> match -> cooldown -> steps), each forced with a
  ``noop`` write, so each layer's self time is its prefix's time minus
  the previous one's and each prefix's row count is the counter at that
  layer boundary.
"""

from __future__ import annotations

import itertools
import threading
import time
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import Observation
from pyspark.sql import functions as F


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.snapshots: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._query_span: int | None = None
        self._undo: list = []

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        sid = next(self._ids)
        start = time.time()
        try:
            yield sid
        finally:
            rec = {"id": sid, "name": name, "parent": parent,
                   "start": start, "end": time.time(), **attrs}
            with self._lock:
                self.spans.append(rec)

    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        setattr(owner, attr, make(orig))
        self._undo.append((owner, attr, orig))

    def install(self) -> None:
        from logeventprocessor_spark.streaming import pipeline as SP
        from logeventprocessor_spark.streaming.batch_state import (
            CooldownSnapshotState,
        )
        from logeventprocessor_spark.streaming.sink import ParquetUpsertSink

        tracer = self

        def start_pipeline(orig):
            def wrapped(*a, **kw):
                with tracer.span("start_pipeline") as sid:
                    tracer._query_span = sid
                    return orig(*a, **kw)
            return wrapped

        def per_batch(name, batch_arg=None):
            def make(orig):
                def wrapped(*a, **kw):
                    bid = None
                    if batch_arg is not None and len(a) > batch_arg:
                        bid = a[batch_arg]
                    with tracer.span(name, tracer._query_span, batch_id=bid):
                        return orig(*a, **kw)
                return wrapped
            return make

        def advance(orig):
            inner = per_batch("CooldownSnapshotState.advance", 2)(orig)

            def wrapped(state, gated, batch_id, *a, **kw):
                out = inner(state, gated, batch_id, *a, **kw)
                tracer.snapshots.append(
                    {"batch_id": batch_id,
                     **snapshot_size(Path(state._snap_dir(batch_id), "data"))}
                )
                return out
            return wrapped

        self._patch(SP, "start_pipeline", start_pipeline)
        self._patch(CooldownSnapshotState, "gate",
                    per_batch("CooldownSnapshotState.gate", 2))
        self._patch(CooldownSnapshotState, "advance", advance)
        self._patch(SP, "expand_steps", per_batch("expand_steps"))
        self._patch(ParquetUpsertSink, "write",
                    per_batch("ParquetUpsertSink.write", 2))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]


def snapshot_size(data_dir: Path) -> dict:
    """Keys and bytes of one cooldown snapshot (parquet footers only)."""
    import pyarrow.parquet as pq

    keys = size = 0
    if data_dir.is_dir():
        for f in data_dir.glob("*.parquet"):
            keys += pq.ParquetFile(f).metadata.num_rows
            size += f.stat().st_size
    return {"keys": keys, "bytes": size}


def dir_files(path: str) -> tuple[int, int]:
    files = list(Path(path).rglob("*.parquet"))
    return len(files), sum(p.stat().st_size for p in files)


class SparkStore:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._no_q = self.sc._gateway.new_array(self.sc._jvm.double, 0)

    def _stages(self) -> list:
        seq = self.store.stageList(None, False, False, self._no_q, None)
        return [seq.apply(i) for i in range(seq.size())]

    def mark(self) -> tuple[int, int, int]:
        """(max job id, max stage id, max SQL execution id) so far."""
        jobs = self.store.jobsList(None)
        j = max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)
        s = max((st.stageId() for st in self._stages()), default=-1)
        ex = self.sql.executionsList()
        e = max((ex.apply(i).executionId() for i in range(ex.size())), default=-1)
        return j, s, e

    def jobs_since(self, mark) -> int:
        jobs = self.store.jobsList(None)
        return sum(1 for i in range(jobs.size()) if jobs.apply(i).jobId() > mark[0])

    def job_seconds_since(self, mark) -> list[float]:
        """Wall time of each job finished after ``mark``."""
        # the store is fed from the listener bus, which may lag the action
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = self.store.jobsList(None)
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            start, end = j.submissionTime(), j.completionTime()
            if j.jobId() > mark[0] and start.isDefined() and end.isDefined():
                out.append((end.get().getTime() - start.get().getTime()) / 1000)
        return out

    def stages_since(self, mark) -> list[dict]:
        out = []
        for st in self._stages():
            if st.stageId() <= mark[1]:
                continue
            out.append({
                "stage_id": st.stageId(),
                "attempt": st.attemptId(),
                "tasks": st.numTasks(),
                "run_ms": st.executorRunTime(),
                "cpu_ns": st.executorCpuTime(),
                "gc_ms": st.jvmGcTime(),
                "shuffle_write_bytes": st.shuffleWriteBytes(),
                "shuffle_read_bytes": st.shuffleReadBytes(),
            })
        return sorted(out, key=lambda s: s["stage_id"])

    def task_skew(self, stage: dict) -> float:
        """max / median task run time of one stage."""
        q = self.sc._gateway.new_array(self.sc._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summ = self.store.taskSummary(stage["stage_id"], stage["attempt"], q)
        if not summ.isDefined():
            return 1.0
        run = summ.get().executorRunTime()
        med, top = run.apply(0), run.apply(1)
        return top / med if med > 0 else 1.0

    def sql_metrics_since(self, mark) -> list[dict]:
        """Per-node SQL metrics (name -> value string) of each SQL
        execution after ``mark``."""
        ex = self.sql.executionsList()
        out = []
        for i in range(ex.size()):
            e = ex.apply(i)
            if e.executionId() <= mark[2]:
                continue
            values = self.sql.executionMetrics(e.executionId())
            names = e.metrics()
            m = {}
            for k in range(names.size()):
                pm = names.apply(k)
                v = values.get(pm.accumulatorId())
                if v.isDefined():
                    m[f"{pm.name()}#{pm.accumulatorId()}"] = v.get()
            out.append({"execution_id": e.executionId(),
                        "description": e.description()[:80], "metrics": m})
        return out


def ladder(spark, input_dir: str, rules, store: SparkStore, reps: int = 2) -> dict:
    """Cumulative operator prefixes over the corpus; min time of
    ``reps`` runs each, rows from an ``Observation``."""
    from logeventprocessor_spark.operators.cooldown import apply_cooldown
    from logeventprocessor_spark.operators.match import (
        match_turns,
        prefilter_condition,
    )
    from logeventprocessor_spark.operators.steps import expand_steps
    from logeventprocessor_spark.schema import TRANSCRIPTS_SCHEMA

    enabled = [r for r in rules if r.enabled]
    turns = spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(input_dir)
    scan = turns.select("conv_id", "turn_idx", "text", "ts")
    sc = spark.sparkContext
    meter = tuple(sc.accumulator(0) for _ in range(4))
    matched = match_turns(turns, enabled, ipc_meter=meter)
    cooled = apply_cooldown(matched, rules)
    pre = prefilter_condition(enabled)
    prefixes = [
        ("scan", scan),
        ("prefilter", scan if pre is None else scan.filter(pre)),
        ("match", matched),
        ("cooldown", cooled),
        ("steps", expand_steps(cooled, rules)),
    ]
    out: dict = {"time_s": {}, "rows": {}}
    for name, df in prefixes:
        times = []
        for r in range(reps):
            obs = Observation(f"pb_ladder_{name}_{r}_{time.monotonic_ns()}")
            mark = store.mark()
            t0 = time.perf_counter()
            df.observe(obs, F.count(F.lit(1)).alias("n")).write.format(
                "noop"
            ).mode("overwrite").save()
            times.append(time.perf_counter() - t0)
            out["rows"][name] = obs.get["n"]
            if name == "cooldown":
                out["cooldown_stages"] = store.stages_since(mark)
        out["time_s"][name] = min(times)
        if name == "match":
            out["ipc_bytes_in"] = meter[0].value / reps
    stages = out.pop("cooldown_stages")
    out["cooldown_shuffle_bytes"] = sum(s["shuffle_write_bytes"] for s in stages)
    readers = [s for s in stages if s["shuffle_read_bytes"] > 0]
    out["cooldown_task_skew"] = (
        store.task_skew(max(readers, key=lambda s: s["run_ms"])) if readers else 1.0
    )
    return out
