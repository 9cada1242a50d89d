"""The four workloads. Each one sets up its seeded input, runs a cold
pass (the first in a fresh JVM), then a fixed number of warm passes
(``stream_live``: one publishing window of ``seconds``), checking every
pass's output after its timer stops. A traced run adds one traced pass
(spans, Spark progress and status-store metrics) and the layer ladder;
its numbers never feed the end-to-end metrics."""

from __future__ import annotations

import math
import os
import shutil
import time
from dataclasses import dataclass, field
from datetime import datetime
from pathlib import Path

from perfbench import check, host, inputs, streams, tracing
from perfbench.env import CONFIG
from perfbench.registry import registry_pass
from perfbench.summary import median, tail

LAYERS = (
    "source.turns_in", "source.latest_offset_ms", "source.get_batch_ms",
    "source.lag_files",
    "match.prefilter_pass", "match.prefilter_pass_ratio", "match.rows_out",
    "match.hit_ratio", "match.prefilter_s", "match.arrow_s",
    "match.ipc_bytes_in",
    "cooldown.rows_in", "cooldown.kept", "cooldown.suppressed",
    "cooldown.gate_s", "cooldown.shuffle_bytes", "cooldown.task_skew",
    "state.gate_plan_s", "state.advance_s", "state.snapshot_keys",
    "state.snapshot_bytes",
    "steps.expand_s", "steps.action_rows",
    "sink.write_s", "sink.files", "sink.bytes",
    "join.ctx_rows", "join.state_rows", "join.state_mem_bytes",
    "join.commit_ms", "join.update_ms",
    "engine.batches", "engine.planning_ms", "engine.add_batch_ms",
    "engine.commit_ms", "engine.trigger_overhead_ms",
    "engine.executor_cpu_s", "engine.gc_s",
    *(
        f"registry.{q}.{m}"
        for q in CONFIG["registry"]["queries"]
        for m in ("build_s", "plan_s", "exec_s", "jobs_in_build", "shuffle_bytes")
    ),
    "setup.session_s", "setup.input_s", "setup.fixture_s",
    "trace.overhead_s",
)
# Warm passes keep getting cheaper for a while (the JIT is still
# compiling), so a pass count that followed the host's speed would bias
# the median: the count is fixed. Two passes average out part of that
# warm-up; a third does not fit the time budget.
STREAM_WARM_PASSES = 2
REGISTRY_WARM_PASSES = 2


@dataclass
class Outcome:
    e2e: dict = field(default_factory=dict)
    tails: dict = field(default_factory=dict)
    layers: dict = field(default_factory=lambda: dict.fromkeys(LAYERS, 0))
    attempted: int = 0
    failed: int = 0
    checks: list = field(default_factory=list)
    validity: dict = field(default_factory=dict)
    dump: dict = field(default_factory=dict)


class Run:
    def __init__(self, spark, rdir: Path, seed: int, seconds: float,
                 traced: bool, session: tuple[float, float]):
        self.spark, self.rdir, self.seed = spark, rdir, seed
        self.seconds, self.traced = seconds, traced
        self.cache = check.ExpectedCache()
        self.out = Outcome()
        self.out.e2e["setup_wall_s"] = 0.0
        self.set_up("session", *session)
        self.timeout = CONFIG["pass_timeout_s"]

    def record(self, what: str, ok: bool) -> None:
        self.out.attempted += 1
        self.out.failed += 0 if ok else 1
        self.out.checks.append({"pass": what, "ok": ok})

    def set_up(self, part: str, wall_s: float, cpu_s: float) -> None:
        """Set-up is counted in CPU seconds, like the passes; its wall
        time is kept beside it."""
        self.out.layers[f"setup.{part}_s"] = cpu_s
        self.out.e2e["setup_wall_s"] += wall_s

    def setup_inputs(self, make):
        """Run ``make(i)`` ``setup_repeats`` times; keep the first
        result, report the median times, delete the other copies."""
        results, walls, cpus = [], [], []
        for i in range(CONFIG["setup_repeats"]):
            t0, c0 = time.perf_counter(), host.cpu_s()
            results.append(make(i))
            walls.append(time.perf_counter() - t0)
            cpus.append(host.cpu_s() - c0)
        for path, _ in results[1:]:
            shutil.rmtree(path, ignore_errors=True)
        self.set_up("input", median(walls), median(cpus))
        return results[0]

    def measure(self, one, passes: int) -> list:
        return [one(i) for i in range(1, passes + 1)]

    def cold(self, wall_s: float, cpu_s: float) -> None:
        self.out.e2e["cold_s"] = wall_s
        self.out.e2e["cold_cpu_s"] = cpu_s

    def timings(self, passes, rows, batches, lats) -> None:
        e, beyond = self.out.e2e, CONFIG["tail_min_beyond"]
        e["wall_s"] = median([p.wall_s for p in passes])
        e["rows_per_s"] = rows / e["wall_s"]
        e["cpu_s"] = median([p.cpu_s for p in passes])
        e["rows_per_cpu_s"] = rows / e["cpu_s"]
        self.out.validity["passes"] = [
            {"wall_s": round(p.wall_s, 3), "cpu_s": round(p.cpu_s, 2)} for p in passes
        ]
        for name, xs in (("batch", batches), ("latency", lats)):
            e[f"{name}_p50_s"] = median(xs)
            value, pct, n = tail(xs, beyond)
            e[f"{name}_tail_s"] = value
            self.out.tails[f"{name}_tail_s"] = {"percentile": round(pct, 1), "samples": n}


# ---------------------------------------------------------------- streams

def _iso(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _lag_files(p: streams.StreamPass) -> int:
    """Max over batches of files published before the trigger started
    but not read by an earlier batch."""
    fb = streams.file_batches(p.ckpt)
    lag = 0
    for pr in p.progress:
        start, bid = _iso(pr["timestamp"]), pr["batchId"]
        lag = max(lag, sum(
            1 for name, t in p.published.items()
            if t <= start and fb.get(name, bid) >= bid
        ))
    return lag


def _stream_layers(run: Run, p, tracer, stages, ladder, join) -> None:
    L = run.out.layers
    P = p.progress

    def med(xs):
        return median(xs) if xs else 0.0

    def dur(k):
        return [pr["durationMs"].get(k, 0) for pr in P]

    L["source.turns_in"] = sum(pr["sources"][0]["numInputRows"] for pr in P)
    L["source.latest_offset_ms"] = med(dur("latestOffset"))
    L["source.get_batch_ms"] = med(dur("getBatch"))
    L["source.lag_files"] = _lag_files(p)

    t, r = ladder["time_s"], ladder["rows"]
    L["match.prefilter_pass"] = r["prefilter"]
    L["match.prefilter_pass_ratio"] = r["prefilter"] / max(1, r["scan"])
    L["match.rows_out"] = r["match"]
    L["match.hit_ratio"] = r["match"] / max(1, r["prefilter"])
    L["match.prefilter_s"] = t["prefilter"] - t["scan"]
    L["match.arrow_s"] = t["match"] - t["prefilter"]
    L["match.ipc_bytes_in"] = ladder["ipc_bytes_in"]
    L["cooldown.rows_in"] = r["match"]
    L["cooldown.kept"] = r["cooldown"]
    L["cooldown.suppressed"] = r["match"] - r["cooldown"]
    L["cooldown.gate_s"] = t["cooldown"] - t["match"]
    L["cooldown.shuffle_bytes"] = ladder["cooldown_shuffle_bytes"]
    L["cooldown.task_skew"] = ladder["cooldown_task_skew"]
    L["steps.expand_s"] = t["steps"] - t["cooldown"]
    L["steps.action_rows"] = r["steps"]

    L["state.gate_plan_s"] = med(tracer.durations("CooldownSnapshotState.gate"))
    L["state.advance_s"] = med(tracer.durations("CooldownSnapshotState.advance"))
    L["state.snapshot_keys"] = max((s["keys"] for s in tracer.snapshots), default=0)
    L["state.snapshot_bytes"] = max((s["bytes"] for s in tracer.snapshots), default=0)
    L["sink.write_s"] = med(tracer.durations("ParquetUpsertSink.write"))
    L["sink.files"], L["sink.bytes"] = tracing.dir_files(f"{p.out_dir}/batches")

    if join:
        L["join.ctx_rows"] = sum(
            pr["sources"][1]["numInputRows"] for pr in P if len(pr["sources"]) > 1
        )
        ops = [pr.get("stateOperators", []) for pr in P]
        L["join.state_rows"] = max((sum(o["numRowsTotal"] for o in b) for b in ops), default=0)
        L["join.state_mem_bytes"] = max(
            (sum(o["memoryUsedBytes"] for o in b) for b in ops), default=0
        )
        L["join.commit_ms"] = sum(o["commitTimeMs"] for b in ops for o in b)
        L["join.update_ms"] = sum(o["allUpdatesTimeMs"] for b in ops for o in b)

    L["engine.batches"] = len(P)
    L["engine.planning_ms"] = med(dur("queryPlanning"))
    L["engine.add_batch_ms"] = med(dur("addBatch"))
    L["engine.commit_ms"] = med(
        [a + b for a, b in zip(dur("walCommit"), dur("commitOffsets"))]
    )
    L["engine.trigger_overhead_ms"] = med(
        [a - b for a, b in zip(dur("triggerExecution"), dur("addBatch"))]
    )
    _engine_stage_layers(run, stages)


def _engine_stage_layers(run: Run, stages) -> None:
    run.out.layers["engine.executor_cpu_s"] = sum(s["cpu_ns"] for s in stages) / 1e9
    run.out.layers["engine.gc_s"] = sum(s["gc_ms"] for s in stages) / 1e3


def _check_ladder(run: Run, ladder: dict, expected_rows: int) -> None:
    r = ladder["rows"]
    ok = (
        r["scan"] >= r["prefilter"] >= r["match"] >= r["cooldown"]
        and r["steps"] == expected_rows
    )
    run.record("ladder", ok)
    run.out.validity["ladder_rows"] = dict(r, oracle_action_rows=expected_rows)


def _traced(run: Run, body):
    """Run ``body()`` with spans installed; returns its result, the
    tracer, the stages it ran and the status-store reader."""
    tracer, store = tracing.Tracer(), tracing.SparkStore(run.spark)
    mark = store.mark()
    tracer.install()
    try:
        result = body()
    finally:
        tracer.uninstall()
    stages = store.stages_since(mark)
    run.out.dump.update(
        spans=tracer.spans,
        snapshots=tracer.snapshots,
        stages=stages,
        sql_metrics=store.sql_metrics_since(mark),
    )
    return result, tracer, stages, store


def stream_catchup(run: Run, join: bool = False) -> Outcome:
    from logeventprocessor_spark.rules import canonical_rules

    cfg = CONFIG["stream"]
    gen = inputs.transcript_args(cfg, run.seed)
    input_dir, pdf = run.setup_inputs(
        lambda i: (
            run.rdir / f"input{i}",
            inputs.write_stream_input(gen, cfg["n_files"], str(run.rdir / f"input{i}")),
        )
    )
    rules = canonical_rules()
    parts = {"kind": "stream", "gen": gen, "n_files": cfg["n_files"]}
    sp = CONFIG["session"]["state_partitions"]
    expected: dict = {}

    def one(i: int) -> streams.StreamPass:
        return streams.catchup_pass(
            run.spark, str(input_dir), rules, str(run.rdir / f"pass{i}"),
            cfg, join, sp, run.timeout,
        )

    def verify(p: streams.StreamPass, what: str) -> None:
        if not expected:
            expected.update(check.expected_stream(
                run.cache, run.spark, parts, pdf, rules, join))
        got = check.sink_digest(run.spark, p.out_dir, join)
        run.record(what, check.same(got, expected))

    def drop(p) -> None:
        shutil.rmtree(Path(p.out_dir).parent, ignore_errors=True)

    cold = one(0)
    run.cold(cold.wall_s, cold.cpu_s)
    verify(cold, "cold")
    drop(cold)
    warm = run.measure(one, STREAM_WARM_PASSES)
    for p in warm:
        verify(p, "warm")
        drop(p)
    run.timings(
        warm, len(pdf),
        [b for p in warm for b in p.batch_s],
        [x for p in warm for x in p.latency_s],
    )
    if run.traced:
        tp, tracer, stages, store = _traced(run, lambda: one(len(warm) + 1))
        verify(tp, "traced")
        ladder = tracing.ladder(run.spark, str(input_dir), rules, store)
        _check_ladder(run, ladder, expected["n"])
        _stream_layers(run, tp, tracer, stages, ladder, join)
        run.out.layers["trace.overhead_s"] = tp.wall_s - run.out.e2e["wall_s"]
        run.out.dump.update(ladder=ladder, progress=tp.progress)
        drop(tp)
    return run.out


def stream_join(run: Run) -> Outcome:
    return stream_catchup(run, join=True)


def stream_live(run: Run) -> Outcome:
    from logeventprocessor_spark.rules import canonical_rules, rules_with_cooldown

    cfg, live = CONFIG["stream"], CONFIG["live"]
    per_window = math.ceil(live["files_per_s"] * run.seconds)
    windows = 2 if run.traced else 1
    n_files = live["warmup_files"] + windows * per_window
    gen = inputs.live_args(cfg, live, run.seed, n_files)
    staging, pdf = run.setup_inputs(
        lambda i: (
            run.rdir / f"staging{i}",
            inputs.write_live_input(gen, n_files, str(run.rdir / f"staging{i}")),
        )
    )
    input_dir = run.rdir / "input"
    input_dir.mkdir()
    rules = rules_with_cooldown(canonical_rules(), live["cooldown_ms"])
    feed = streams.LiveFeed(
        run.spark, str(staging), str(input_dir), rules, str(run.rdir / "live"),
        cfg, live,
    )
    try:
        c0 = host.cpu_s()
        wall = feed.start(live["warmup_files"])
        run.cold(wall, host.cpu_s() - c0)
        w = feed.window(run.seconds)
        if run.traced:
            tw, tracer, stages, store = _traced(run, lambda: feed.window(run.seconds))
    finally:
        feed.stop()
    run.out.validity["window"] = w.validity
    run.record("window", w.valid)
    run.timings(
        [w], live["turns_per_file"] * len(w.latency_s), w.batch_s, w.latency_s
    )
    parts = {"kind": "live", "gen": gen, "n_files": n_files}
    expected = check.expected_stream(run.cache, run.spark, parts, pdf, rules, False)
    got = check.sink_digest(run.spark, feed.out, False)
    run.record("output", check.same(got, expected))
    if run.traced:
        run.out.validity["traced_window"] = tw.validity
        run.record("traced_window", tw.valid)
        ladder = tracing.ladder(run.spark, str(input_dir), rules, store)
        _check_ladder(run, ladder, expected["n"])
        _stream_layers(run, tw, tracer, stages, ladder, False)
        run.out.layers["trace.overhead_s"] = tw.wall_s - w.wall_s
        run.out.dump.update(ladder=ladder, progress=tw.progress)
    return run.out


# --------------------------------------------------------------- registry

def registry_dedup(run: Run) -> Outcome:
    from logeventprocessor_spark import fixtures as FX
    from logeventprocessor_spark import queries as Q

    rc = CONFIG["registry"]
    gen = inputs.document_args(rc, run.seed)
    # the pair fixture is keyed by the directory's base name
    tag = f"perfbench{os.getpid()}"
    sf_dir, docs = run.setup_inputs(
        lambda i: (
            run.rdir / f"{tag}_{i}",
            inputs.write_documents(gen, str(run.rdir / f"{tag}_{i}")),
        )
    )
    sf_dir = str(sf_dir)
    fixture = FX.ngram_pairs_path(sf_dir)
    shutil.rmtree(fixture, ignore_errors=True)
    try:
        qs = Q.build_queries()
        names = rc["queries"]
        expected: dict = {}

        def verify(p, what: str) -> None:
            if not expected:
                parts = {"kind": "registry", "gen": gen}
                for n in names:
                    expected[n] = check.expected_registry(
                        run.cache, run.spark, parts, sf_dir, n)
            for r in p.runs:
                run.record(f"{what}:{r.name}", check.same(r.digest, expected[r.name]))

        def one(i: int, store=None, only=names):
            return registry_pass(run.spark, qs, sf_dir, only, store)

        # dedup_clusters reads the stored pair set, which is set-up work:
        # build it between the cold queries, after the cold pass has run
        # ngram_jaccard_pairs, so that query's first run stays in cold_s
        split = names.index("dedup_clusters")
        cold = one(0, only=names[:split])
        t0, c0 = time.perf_counter(), host.cpu_s()
        FX.ngram_pairs_fixture(run.spark, sf_dir)
        run.set_up("fixture", time.perf_counter() - t0, host.cpu_s() - c0)
        rest = one(0, only=names[split:])
        cold.runs += rest.runs
        run.cold(cold.wall_s + rest.wall_s, cold.cpu_s + rest.cpu_s)
        verify(cold, "cold")
        jobs = tracing.SparkStore(run.spark)
        mark = jobs.mark()
        warm = run.measure(one, REGISTRY_WARM_PASSES)
        job_s = jobs.job_seconds_since(mark)
        for p in warm:
            verify(p, "warm")
        # a registry "batch" is a Spark job: a pass runs dozens, so their
        # median is steady where the median of three queries is not
        run.timings(
            warm, len(docs),
            job_s,
            [r.build_s + r.exec_s for p in warm for r in p.runs],
        )
        if run.traced:
            store = tracing.SparkStore(run.spark)
            mark = store.mark()
            tp = one(len(warm) + 1, store)
            verify(tp, "traced")
            stages = store.stages_since(mark)
            L = run.out.layers
            for r in tp.runs:
                for m in ("build_s", "plan_s", "exec_s", "jobs_in_build", "shuffle_bytes"):
                    L[f"registry.{r.name}.{m}"] = getattr(r, m)
            _engine_stage_layers(run, stages)
            L["trace.overhead_s"] = tp.wall_s - run.out.e2e["wall_s"]
            run.out.dump.update(stages=stages, sql_metrics=store.sql_metrics_since(mark))
    finally:
        shutil.rmtree(fixture, ignore_errors=True)
    return run.out


