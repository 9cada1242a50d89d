"""Streaming engine tests (SURVEY.md 5.2 #1/#3): the streaming path
must produce the IDENTICAL row set to the batch oracle for the same
input + watermark, under exactly-once, across restarts from checkpoint.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest

from logeventprocessor_spark.generator import (
    make_transcripts,
    transcripts_df,
    write_transcripts_parquet,
)
from logeventprocessor_spark.oracle import (
    oracle_matches,
    oracle_sequence_all_pairs,
    oracle_sequence_pairs,
)
from logeventprocessor_spark.pipeline import match_actions
from logeventprocessor_spark.rules import canonical_rules
from logeventprocessor_spark.schema import ACTION_KEY, TRANSCRIPTS_SCHEMA
from logeventprocessor_spark.streaming.batch_state import CooldownSnapshotState
from logeventprocessor_spark.streaming.pipeline import (
    read_transcripts_stream,
    run_micro_batch,
    start_pipeline,
    stream_sequence_detect,
    stream_sequence_detect_all,
)
from logeventprocessor_spark.streaming.sink import ParquetUpsertSink
from logeventprocessor_spark.operators.match import match_turns

KEY = ACTION_KEY
CMP = ["conv_id", "turn_idx", "rule_id", "rule_idx", "step_idx", "extracted",
       "action_type", "rendered_value", "ts"]


def _norm(pdf: pd.DataFrame, cols: list[str] = CMP) -> pd.DataFrame:
    out = pdf[cols].copy()
    out["ts"] = pd.to_datetime(out["ts"])
    for c in ("turn_idx", "rule_idx", "step_idx"):
        out[c] = out[c].astype("int64")
    return out.sort_values(cols, kind="mergesort").reset_index(drop=True)


@pytest.fixture(scope="module")
def fixture_dirs(tmp_path_factory):
    base = tmp_path_factory.mktemp("stream")
    pdf = make_transcripts(n_convs=20, seed=42)
    input_dir = str(base / "input")
    write_transcripts_parquet(pdf, input_dir, n_files=4)
    return pdf, input_dir, base


def test_streaming_equals_batch_oracle(spark, fixture_dirs):
    pdf, input_dir, base = fixture_dirs
    rules = canonical_rules()
    q, sink = start_pipeline(
        spark,
        input_dir,
        rules,
        out_dir=str(base / "out1"),
        checkpoint_dir=str(base / "ckpt1"),
        watermark="10 minutes",
        max_files_per_trigger=1,
    )
    q.awaitTermination(300)
    got = _norm(sink.read(spark).toPandas())
    exp = _norm(oracle_matches(pdf, rules))
    assert len(exp) > 50
    pd.testing.assert_frame_equal(got, exp)
    # lineage/metrics were emitted per micro-batch
    lin = sink.lineage()
    assert len(lin) >= 2, "expected multiple micro-batches (1 file/trigger)"
    assert sum(m["rows"] for m in lin) >= len(exp)


def test_exactly_once_across_restart(spark, fixture_dirs, tmp_path):
    """Feed half the files, run to completion, feed the rest, RESTART
    from the same checkpoint; final output == batch oracle on the full
    input, unique on the action key (no dupes, no loss)."""
    pdf, _, _ = fixture_dirs
    rules = canonical_rules()
    input_dir = str(tmp_path / "input")
    files = write_transcripts_parquet(pdf, str(tmp_path / "staging"), n_files=4)
    os.makedirs(input_dir)
    import shutil

    for f in files[:2]:
        shutil.copy(f, input_dir)
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    q1, sink = start_pipeline(spark, input_dir, rules, out_dir, ckpt)
    q1.awaitTermination(300)
    n_first = len(sink.read(spark).toPandas())
    assert n_first > 0

    for f in files[2:]:
        shutil.copy(f, input_dir)
    q2, sink = start_pipeline(spark, input_dir, rules, out_dir, ckpt)
    q2.awaitTermination(300)

    got = sink.read(spark).toPandas()
    exp = _norm(oracle_matches(pdf, rules))
    pd.testing.assert_frame_equal(_norm(got), exp)
    assert not got.duplicated(KEY).any()


def test_replay_is_idempotent(spark, fixture_dirs, tmp_path):
    """Re-writing an already-committed micro-batch (simulated replay
    after a crash between write and checkpoint commit) leaves the
    logical table unchanged."""
    pdf, input_dir, _ = fixture_dirs
    rules = canonical_rules()
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q, sink = start_pipeline(spark, input_dir, rules, out_dir, ckpt)
    q.awaitTermination(300)
    before = _norm(sink.read(spark).toPandas())

    # replay batch 0: write the same logical rows again under batch_id 0
    # (materialize first -- the write overwrites the directory read here)
    replay_pdf = spark.read.parquet(sink.batch_dir(0)).toPandas()
    sink.write(spark.createDataFrame(replay_pdf), 0)
    after = _norm(sink.read(spark).toPandas())
    pd.testing.assert_frame_equal(before, after)


def test_late_cutoff_filter(spark, fixture_dirs, tmp_path):
    """F6: rows timestamped before the configured cutoff are dropped
    (the reference's startup-time rejection, ActionSender.cpp:673-677).
    conv_0004 carries one row stamped 6 h early by the generator."""
    pdf, input_dir, _ = fixture_dirs
    rules = canonical_rules()
    cutoff = pd.Timestamp("2024-03-01 00:00:00")
    q, sink = start_pipeline(
        spark,
        input_dir,
        rules,
        out_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        late_cutoff=cutoff,
    )
    q.awaitTermination(300)
    got = _norm(sink.read(spark).toPandas())
    exp = _norm(oracle_matches(pdf[pdf.ts >= cutoff], rules))
    pd.testing.assert_frame_equal(got, exp)


def test_stream_sequence_detector_equals_batch_oracle(spark, tmp_path):
    """A-then-B within 60 s, keyed by conv_id, across micro-batches."""
    rules = canonical_rules()
    pdf = make_transcripts(n_convs=16, seed=11)
    input_dir = str(tmp_path / "input")
    write_transcripts_parquet(pdf, input_dir, n_files=3)

    batch_matches = match_turns(
        transcripts_df(spark, pdf), rules
    ).toPandas()
    exp = oracle_sequence_pairs(
        batch_matches, "error_detection", "test", within_ms=60_000
    )

    stream = read_transcripts_stream(spark, input_dir, max_files_per_trigger=1)
    m = match_turns(stream, rules).withWatermark("ts", "10 minutes")
    seq = stream_sequence_detect(m, "error_detection", "test", within_ms=60_000)
    q = (
        seq.writeStream.format("parquet")
        .option("path", str(tmp_path / "seq_out"))
        .option("checkpointLocation", str(tmp_path / "seq_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = (
        spark.read.parquet(str(tmp_path / "seq_out"))
        .toPandas()
        .sort_values(["conv_id", "b_turn_idx"])
        .reset_index(drop=True)
    )
    assert len(exp) > 0, "fixture should contain A-then-B sequences"
    pd.testing.assert_frame_equal(
        got[exp.columns].astype(exp.dtypes.to_dict()), exp
    )


def _match_frame(rows):
    """MATCHES_SCHEMA frame of (conv_id, turn_idx, rule_id, seconds
    after 2024-03-01 10:00) rows."""
    from logeventprocessor_spark.schema import MATCHES_SCHEMA

    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "rule_id", "ts"])
    pdf["ts"] = pd.Timestamp("2024-03-01 10:00") + pd.to_timedelta(pdf["ts"], unit="s")
    pdf = pdf.astype({"turn_idx": "int32", "ts": "datetime64[us]"})
    pdf = pdf.assign(rule_idx=np.int32(0), extracted="", text="t")
    return pdf[[f.name for f in MATCHES_SCHEMA.fields]]


def _sequence_stream_pairs(spark, tmp_path, detector, batches, **kw):
    """Runs ``detector(m, "A", "B", within_ms=60_000, **kw)`` with a
    10-minute watermark over one ``_match_frame`` file per micro-batch
    and returns the (conv_id, a_turn_idx, b_turn_idx) rows it emitted."""
    from logeventprocessor_spark.schema import MATCHES_SCHEMA

    input_dir = str(tmp_path / "in")
    os.makedirs(input_dir)
    for i, rows in enumerate(batches):
        p = f"{input_dir}/part-{i}.parquet"
        _match_frame(rows).to_parquet(p, index=False)
        os.utime(p, ns=(1_000_000_000_000_000_000 + i * 10**9,) * 2)
    m = (
        spark.readStream.schema(MATCHES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
        .withWatermark("ts", "10 minutes")
    )
    q = (
        detector(m, "A", "B", within_ms=60_000, **kw)
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return _pair_keys(spark.read.parquet(str(tmp_path / "out")).toPandas())


def _pair_keys(pdf):
    return sorted(map(tuple, pdf[["conv_id", "a_turn_idx", "b_turn_idx"]].values))


def test_stream_sequence_all_equals_batch_oracle(spark, tmp_path):
    """EVERY-A-pairs semantics: the streaming capped-list-state detector
    equals the batch interval-join operator AND ``oracle_sequence_all_pairs``
    on a corpus with planted multi-A bursts, across micro-batches."""
    from logeventprocessor_spark.operators.sequence import sequence_detect_all
    from logeventprocessor_spark.schema import MATCHES_SCHEMA

    rows = [
        # conv_a: 3 A's inside the window, then 2 B's -> 3+3 pairs; a
        # late A between the B's pairs only with the second B
        ("conv_a", 0, "A", 0), ("conv_a", 1, "A", 5), ("conv_a", 2, "A", 10),
        ("conv_a", 3, "B", 20), ("conv_a", 4, "A", 25),
        ("conv_a", 5, "B", 30),
        # conv_b: A too old for the window + one in-window pair
        ("conv_b", 0, "A", -120), ("conv_b", 1, "A", 1), ("conv_b", 2, "B", 40),
    ]
    pdf = _match_frame(rows)
    exp = _pair_keys(oracle_sequence_all_pairs(pdf, "A", "B", within_ms=60_000))
    assert len(exp) == 3 + 4 + 1  # planted geometry

    batch = sequence_detect_all(
        spark.createDataFrame(pdf, MATCHES_SCHEMA), "A", "B", within_ms=60_000
    )
    assert _pair_keys(batch.toPandas()) == exp
    # two files -> two micro-batches, so the A-buffer must survive in
    # state across batches
    got = _sequence_stream_pairs(
        spark, tmp_path, stream_sequence_detect_all, [rows[:5], rows[5:]]
    )
    assert got == exp


@pytest.mark.parametrize(
    "detector, exp",
    [
        pytest.param(stream_sequence_detect_all, [(0, 2), (1, 2)], id="every_a"),
        pytest.param(stream_sequence_detect, [(1, 2)], id="latest_a"),
    ],
)
def test_stream_sequence_all_b_replay_dedup(spark, tmp_path, detector, exp):
    """An at-least-once source replaying a B row in a LATER micro-batch
    must not re-emit its pairs: both detectors track emitted B turns
    in state within the watermark horizon. The batch operators dedup
    globally via .distinct()."""
    rows = [("c", 0, "A", 0), ("c", 1, "A", 5), ("c", 2, "B", 20)]
    # batch 0: both A's + the B; batch 1: the SAME B row redelivered
    got = _sequence_stream_pairs(spark, tmp_path, detector, [rows, rows[2:]])
    assert [(a, b) for _, a, b in got] == exp


def test_stream_sequence_latest_a_out_of_order_b(spark, tmp_path):
    """Latest-A keeps its A list across batches: A@10s and A@20s in
    batch 0, then B@15s in batch 1 pairs with A@10s, the latest A
    preceding it (the batch oracle's answer)."""
    got = _sequence_stream_pairs(
        spark, tmp_path, stream_sequence_detect,
        [[("c", 0, "A", 10), ("c", 1, "A", 20)], [("c", 2, "B", 15)]],
    )
    assert got == [("c", 0, 2)]


def test_stream_sequence_every_a_late_a_never_pairs(spark, tmp_path):
    """Every-A's arrival-order contract: B@15s in batch 0, then A@10s
    in batch 1 emits nothing, though the batch oracle pairs them; a B
    is not kept for A's that arrive after it."""
    got = _sequence_stream_pairs(
        spark, tmp_path, stream_sequence_detect_all,
        [[("c", 1, "B", 15)], [("c", 0, "A", 10)]],
    )
    assert got == []


def test_stream_sequence_all_cap(spark, tmp_path):
    """The max_as hard cap keeps only the NEWEST A's: 5 planted A's with
    max_as=3 -> the B pairs with the last 3 only (explicit-recall-loss
    contract for pathological conversations)."""
    a_rows = [("c", i, "A", i) for i in range(5)]
    # A's arrive in batch 0 (cap applies at state write), B in batch 1
    got = _sequence_stream_pairs(
        spark, tmp_path, stream_sequence_detect_all,
        [a_rows, [("c", 9, "B", 30)]], max_as=3,
    )
    assert [a for _, a, _ in got] == [2, 3, 4]


def test_context_join_pipeline_end_to_end(spark, fixture_dirs, tmp_path):
    """Same-turn context wired INTO the snapshot pipeline: match (role/
    tool carried) -> cooldown gate -> step expansion -> exactly-once
    sink. The action rows must be IDENTICAL to the plain pipeline's
    (context must not perturb cooldown semantics), every row must
    carry the source turn's role/tool, and a restart on the same
    checkpoint must add nothing."""
    pdf, input_dir, _ = fixture_dirs
    rules = canonical_rules()
    out = str(tmp_path / "out_ctx")
    ckpt = str(tmp_path / "ckpt_ctx")
    q, sink = start_pipeline(
        spark, input_dir, rules, out, ckpt, with_context_join=True,
    )
    q.awaitTermination(300)
    got = sink.read(spark).toPandas()
    assert {"role", "tool"} <= set(got.columns)

    # action-row parity with the plain snapshot pipeline
    q2, sink2 = start_pipeline(
        spark, input_dir, rules, str(tmp_path / "out_plain"),
        str(tmp_path / "ckpt_plain"),
    )
    q2.awaitTermination(300)
    pd.testing.assert_frame_equal(
        _norm(got), _norm(sink2.read(spark).toPandas())
    )

    # every row's role/tool equals the source turn's
    src = pdf.set_index(["conv_id", "turn_idx"])[["role", "tool"]]
    for r in got.itertuples(index=False):
        exp = src.loc[(r.conv_id, r.turn_idx)]
        assert (r.role, r.tool) == (exp["role"], exp["tool"])

    # exactly-once across restart: a second availableNow run on the
    # same checkpoint sees no new files and must not grow the table
    q3, _ = start_pipeline(
        spark, input_dir, rules, out, ckpt, with_context_join=True,
    )
    q3.awaitTermination(300)
    again = sink.read(spark).toPandas()
    assert len(again) == len(got)
    assert not again.duplicated(KEY).any()


def test_context_carry_matches_context_join(spark, fixture_dirs, tmp_path):
    """Both context_mode values produce the IDENTICAL sink table from
    ONE plan: role/tool ride the match operator's Arrow boundary. The
    query reads one source, and its executed plan scans the files once
    and holds no stream-stream join (no join state stores)."""
    pdf, input_dir, _ = fixture_dirs
    rules = canonical_rules()
    cols = CMP + ["role", "tool"]
    outs = {}
    for mode in ("join", "carry"):
        q, sink = start_pipeline(
            spark, input_dir, rules,
            str(tmp_path / f"out_{mode}"), str(tmp_path / f"ckpt_{mode}"),
            with_context_join=True, context_mode=mode,
        )
        q.awaitTermination(300)
        assert len(q.lastProgress["sources"]) == 1
        plan = q._jsq.streamingQuery().lastExecution().executedPlan()
        plan = plan.toString()
        assert plan.count("FileScan") == 1, plan
        assert "StreamingSymmetricHashJoin" not in plan, plan
        raw = sink.read(spark).toPandas()
        assert {"role", "tool"} <= set(raw.columns)
        out = raw[cols].copy()
        out["ts"] = pd.to_datetime(out["ts"])
        for c in ("turn_idx", "rule_idx", "step_idx"):
            out[c] = out[c].astype("int64")
        outs[mode] = out.sort_values(cols, kind="mergesort").reset_index(
            drop=True
        )
    assert len(outs["carry"]) > 0
    pd.testing.assert_frame_equal(outs["join"], outs["carry"])


def _turn_frame(rows) -> pd.DataFrame:
    """Turns from (conv_id, turn_idx, role, text, tool, ts) rows."""
    pdf = pd.DataFrame(rows, columns=[f.name for f in TRANSCRIPTS_SCHEMA.fields])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    return pdf


def _write_turn_files(input_dir, files):
    """One parquet file per list of (conv_id, turn_idx, role, text,
    tool, ts) rows, with increasing mtimes so the file source reads
    them in list order."""
    os.makedirs(input_dir)
    for i, rows in enumerate(files):
        p = f"{input_dir}/part-{i}.parquet"
        _turn_frame(rows).to_parquet(p, index=False)
        os.utime(p, ns=(1_000_000_000_000_000_000 + i * 10**9,) * 2)


def _snapshot_engine(spark, tmp_path):
    """The sink and cooldown state ``start_pipeline`` would give
    ``run_micro_batch`` for out_dir ``tmp_path/out`` (watermark delay
    10 minutes)."""
    sink = ParquetUpsertSink(str(tmp_path / "out"))
    cool = CooldownSnapshotState(
        spark, str(tmp_path / "out" / "cooldown_state"), 600_000
    )
    return sink, cool


def _run_batch(spark, sink, cool, batch_id, rows, rules, **kw) -> list[int]:
    """``run_micro_batch`` on a static frame of turn rows; returns the
    distinct turn_idx of the batch's sunk action rows."""
    df = spark.createDataFrame(_turn_frame(rows), TRANSCRIPTS_SCHEMA)
    run_micro_batch(df, batch_id, rules=rules, sink=sink, cool=cool, **kw)
    sunk = pd.read_parquet(sink.batch_dir(batch_id), columns=["turn_idx"])
    return sorted(set(sunk["turn_idx"]))


def _last_job_id(spark) -> int:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return max(sc.statusTracker().getJobIdsForGroup(None), default=-1)


def test_context_join_keeps_late_cold_matches(spark, tmp_path):
    """A zero-cooldown match arriving 50 min behind the max event time
    (40 min behind the watermark) is kept by the plain pipeline, so
    with_context_join=True must keep it too: the context output is
    the plain action rows plus each row's own role/tool."""
    base = pd.Timestamp("2024-03-01 10:00:00")
    m = pd.Timedelta(minutes=1)
    input_dir = str(tmp_path / "input")
    _write_turn_files(input_dir, [
        [("a", 0, "user", "hi clarice", "", base)],
        [("b", 0, "assistant", "clarice there", "search", base + 30 * m)],
        [("c", 0, "user", "clarice again", "", base + 60 * m),
         ("c", 1, "tool", "spam ping", "shell", base + 60 * m + m)],
        # late: the watermark (10 min delay) already sits at base+51min
        [("d", 0, "assistant", "late clarice", "grep", base + 11 * m)],
    ])
    outs = {}
    for ctx in (False, True):
        q, sink = start_pipeline(
            spark, input_dir, canonical_rules(), str(tmp_path / f"out_{ctx}"),
            str(tmp_path / f"ckpt_{ctx}"), max_files_per_trigger=1,
            with_context_join=ctx,
        )
        q.awaitTermination(300)
        outs[ctx] = sink.read(spark).toPandas()
    plain, got = outs[False], outs[True]
    assert ("d", 0) in set(zip(plain["conv_id"], plain["turn_idx"]))
    pd.testing.assert_frame_equal(_norm(got), _norm(plain))
    ctx_of = {
        ("a", 0): ("user", ""), ("b", 0): ("assistant", "search"),
        ("c", 0): ("user", ""), ("c", 1): ("tool", "shell"),
        ("d", 0): ("assistant", "grep"),
    }
    for r in got.itertuples(index=False):
        assert (r.role, r.tool) == ctx_of[(r.conv_id, r.turn_idx)]


@pytest.mark.parametrize(
    "kw",
    [
        dict(with_context_join=True, context_mode="Join"),
        dict(cooldown_backend="rocksdb"),
        # hot reload (a rules path) runs on the snapshot backend only
        dict(rules="rules.yaml", cooldown_backend="state"),
    ],
)
def test_start_pipeline_rejects_unknown_modes(spark, tmp_path, kw):
    """An unknown context_mode or cooldown_backend, or a backend that
    cannot serve the given rules, fails at the call, before any query
    starts (not inside the first micro-batch, and not by silently
    picking another backend)."""
    kw = {"rules": canonical_rules(), **kw}
    active = len(spark.streams.active)
    with pytest.raises(ValueError, match="must be"):
        start_pipeline(
            spark, str(tmp_path / "in"),
            out_dir=str(tmp_path / "out"),
            checkpoint_dir=str(tmp_path / "ckpt"), **kw,
        )
    assert len(spark.streams.active) == active


def test_cooldown_backends_agree(spark, fixture_dirs, tmp_path):
    """The snapshot backend (foreachBatch-managed parquet state, the
    throughput path) and the state-store backend (applyInPandasWithState)
    must produce the identical logical table across multi-batch runs --
    T1 semantics cannot depend on the state implementation."""
    pdf, input_dir, _ = fixture_dirs
    rules = canonical_rules()
    outs = {}
    for backend in ("snapshot", "state"):
        out = str(tmp_path / f"out_{backend}")
        q, sink = start_pipeline(
            spark, input_dir, rules, out, str(tmp_path / f"ckpt_{backend}"),
            cooldown_backend=backend,
        )
        q.awaitTermination(300)
        outs[backend] = _norm(sink.read(spark).toPandas())
    pd.testing.assert_frame_equal(outs["snapshot"], outs["state"])


def test_snapshot_state_replay_identical(spark, tmp_path):
    """Crash-replay contract of the snapshot cooldown state: re-running
    batch N (after a crash between output write and checkpoint commit)
    reads only committed snapshots < N, so it recomputes the IDENTICAL
    gated rows, sink table and snapshot -- exactly-once end to end."""
    rules = [r for r in canonical_rules() if r.rule_id == "spam_guard"]
    assert rules and rules[0].cooldown_ms > 0
    base = pd.Timestamp("2024-03-01 10:00:00")
    cd = pd.Timedelta(milliseconds=rules[0].cooldown_ms)
    sink, cool = _snapshot_engine(spark, tmp_path)

    def fire(turn_idx, ts):
        return ("c", turn_idx, "user", "spam ping", "", ts)

    def snapshot(batch_id):
        return pd.read_parquet(os.path.join(cool._snap_dir(batch_id), "data"))

    # batch 0: two fires inside one cooldown window -> second suppressed
    b0 = [fire(1, base), fire(2, base + cd / 2)]
    assert _run_batch(spark, sink, cool, 0, b0, rules) == [1]

    # batch 1: one fire still inside batch-0's window -> suppressed
    b1 = [fire(3, base + cd * 0.75)]
    first = _run_batch(spark, sink, cool, 1, b1, rules)
    assert first == []
    table, snap = _norm(sink.read(spark).toPandas()), snapshot(1)

    # REPLAY batch 1 (the snapshot written by the crashed attempt at 1
    # must be ignored): identical result, sink table and snapshot
    assert _run_batch(spark, sink, cool, 1, b1, rules) == first
    pd.testing.assert_frame_equal(_norm(sink.read(spark).toPandas()), table)
    pd.testing.assert_frame_equal(snapshot(1), snap)

    # batch 2 past the window -> fires again, seeded by the replayed
    # (not doubled) state
    b2 = [fire(4, base + cd + pd.Timedelta(seconds=1))]
    assert _run_batch(spark, sink, cool, 2, b2, rules) == [4]


def test_snapshot_state_evicts_under_batch_rules(spark, tmp_path):
    """A snapshot key is evicted by the batch's CURRENT rule set: a
    batch in which spam_guard has no cooldown drops its keys at that
    batch's advance, so once the cooldown returns, a fire 1 s after
    the first is kept rather than suppressed by forgotten history."""
    from dataclasses import replace

    rules = [r for r in canonical_rules() if r.rule_id == "spam_guard"]
    no_cd = [replace(r, cooldown_ms=0) for r in rules]
    base = pd.Timestamp("2024-03-01 10:00:00")
    sink, cool = _snapshot_engine(spark, tmp_path)
    schedule = [(base, rules), (base, no_cd), (base + pd.Timedelta(seconds=1), rules)]
    for batch_id, (ts, batch_rules) in enumerate(schedule):
        rows = [("c", batch_id, "user", "spam ping", "", ts)]
        kept = _run_batch(spark, sink, cool, batch_id, rows, batch_rules)
    assert kept == [2]


def test_snapshot_prior_starts_no_job(spark, tmp_path):
    """The prior snapshot is read with its known schema: resolving it
    lists files on the driver and runs no schema-inference job, which
    every micro-batch with a prior snapshot would otherwise pay."""
    from logeventprocessor_spark.schema import MATCHES_SCHEMA

    rules = [r for r in canonical_rules() if r.rule_id == "spam_guard"]
    ts = pd.Timestamp("2024-03-01 10:00:00")
    fire = spark.createDataFrame(
        [("c", 1, "spam_guard", 0, "", "spam ping", ts.to_pydatetime())],
        MATCHES_SCHEMA,
    )
    cool = CooldownSnapshotState(
        spark, str(tmp_path / "state"), watermark_delay_ms=600_000
    )
    g = cool.gate(fire, 0, rules).persist()
    cool.advance(g, 0, rules, max_ts=ts)
    g.unpersist()

    before = _last_job_id(spark)
    prior, wm_ns = cool.prior(1)
    assert _last_job_id(spark) == before
    assert prior.schema.simpleString() == (
        "struct<conv_id:string,rule_id:string,last_fire_ns:bigint>"
    )
    assert wm_ns > 0
    assert prior.collect()[0]["conv_id"] == "c"


def test_advance_without_hot_rows_starts_no_job(spark, tmp_path):
    """A batch whose rules have cooldowns but whose gated rows are all
    cold, with no prior snapshot, has nothing to keep or evict: advance
    commits meta.json alone, starts no Spark job, and the next batch
    reads no prior."""
    from logeventprocessor_spark.schema import MATCHES_SCHEMA

    rules = [r for r in canonical_rules() if r.rule_id in ("test", "spam_guard")]
    cold = spark.createDataFrame(
        [("c", 1, "test", 2, "", "clarice",
          pd.Timestamp("2024-03-01 10:00:00").to_pydatetime())],
        MATCHES_SCHEMA,
    )
    cool = CooldownSnapshotState(
        spark, str(tmp_path / "state"), watermark_delay_ms=600_000
    )
    g = cool.gate(cold, 0, rules).persist()
    try:
        before = _last_job_id(spark)
        cool.advance(g, 0, rules, max_ts=None)
        assert _last_job_id(spark) == before
    finally:
        g.unpersist()
    assert os.path.exists(os.path.join(cool._snap_dir(0), "meta.json"))
    assert cool.prior(1) == (None, 0)


@pytest.mark.parametrize("hot", [True, False], ids=["hot", "cold"])
def test_advance_merges_prior_in_one_aggregate(spark, tmp_path, hot):
    """With a prior snapshot, advance max-merges it with the batch's hot
    fires in one aggregate and write (2 jobs); a batch without hot-rule
    rows writes the prior's keys back through the eviction filter alone
    (1 job)."""
    from logeventprocessor_spark.schema import MATCHES_SCHEMA

    rules = [r for r in canonical_rules() if r.rule_id in ("test", "spam_guard")]
    base = pd.Timestamp("2024-03-01 10:00:00")
    s = pd.Timedelta(seconds=1)

    def matches(rows):
        return spark.createDataFrame(
            [(c, i, rule, 0, "", "", ts.to_pydatetime())
             for c, i, rule, ts in rows],
            MATCHES_SCHEMA,
        )

    cool = CooldownSnapshotState(
        spark, str(tmp_path / "state"), watermark_delay_ms=600_000
    )
    g0 = cool.gate(matches([("a", 0, "spam_guard", base),
                            ("b", 0, "spam_guard", base + s)]), 0, rules)
    cool.advance(g0, 0, rules, max_ts=base + s)

    if hot:
        # an existing key past its cooldown, and a new key
        rows = [("a", 1, "spam_guard", base + 10 * s),
                ("c", 1, "spam_guard", base + 2 * s)]
        max_ts, jobs = base + 10 * s, 2
        exp = {("a", base + 10 * s), ("b", base + s), ("c", base + 2 * s)}
    else:
        rows = [("c", 1, "test", base + 10 * s)]
        max_ts, jobs = None, 1
        exp = {("a", base), ("b", base + s)}
    g1 = cool.gate(matches(rows), 1, rules).persist()
    try:
        g1.count()  # the sink write materializes gated first
        before = _last_job_id(spark)
        cool.advance(g1, 1, rules, max_ts=max_ts)
        assert _last_job_id(spark) - before == jobs
    finally:
        g1.unpersist()
    snap = pd.read_parquet(os.path.join(cool._snap_dir(1), "data"))
    assert set(zip(snap["conv_id"], snap["rule_id"], snap["last_fire_ns"])) == {
        (c, "spam_guard", ts.value) for c, ts in exp
    }


def test_sink_writes_only_the_frames_columns(spark, tmp_path):
    """A sink batch directory holds exactly the written frame's
    columns: lineage reads partition ids from the file names, so no
    bookkeeping column lands in the table."""
    df = spark.createDataFrame(_turn_frame(
        [("c", 0, "user", "hi", "", pd.Timestamp("2024-03-01 10:00:00"))]
    ), TRANSCRIPTS_SCHEMA)
    sink = ParquetUpsertSink(str(tmp_path / "out"))
    sink.write(df, 0)
    assert list(pd.read_parquet(sink.batch_dir(0)).columns) == df.columns
    assert sink.lineage()[0]["rows"] == 1


def test_cooldown_out_of_order_fire_is_suppressed(spark, tmp_path):
    """Arrival-order contract (``run_micro_batch``, ``gate``): under a
    60 s cooldown, a fire at 100 s in batch 0 and a fire at 0 s in
    batch 1, both inside the watermark, sink only the 100 s turn; the
    event-time oracle keeps both."""
    from logeventprocessor_spark.rules import Rule, RuleStep

    rules = [Rule("r", 0, ".*spam ping.*", cooldown_ms=60_000,
                  steps=(RuleStep(0, "command", "ack"),))]
    base = pd.Timestamp("2024-03-01 10:00:00")
    batches = [
        [("c", 1, "user", "spam ping", "", base + pd.Timedelta(seconds=100))],
        [("c", 0, "user", "spam ping", "", base)],
    ]
    sink, cool = _snapshot_engine(spark, tmp_path)
    for batch_id, rows in enumerate(batches):
        _run_batch(spark, sink, cool, batch_id, rows, rules)
    assert sink.read(spark).toPandas()["turn_idx"].tolist() == [1]
    exp = oracle_matches(_turn_frame(batches[0] + batches[1]), rules)
    assert sorted(exp["turn_idx"]) == [0, 1]


def _source_files(ckpt: str) -> list[list[str]]:
    """The files each micro-batch of a file-source query read, from the
    checkpoint's source log (one ``v1`` line, then a JSON entry per
    file)."""
    import json

    d = os.path.join(ckpt, "sources", "0")
    out = []
    for n in sorted(int(x) for x in os.listdir(d) if x.isdigit()):
        with open(os.path.join(d, str(n))) as f:
            out.append([json.loads(x)["path"] for x in f.read().splitlines()[1:]])
    return out


def test_run_micro_batch_equals_start_pipeline(spark, fixture_dirs, tmp_path):
    """``run_micro_batch`` on static frames, one fixture file per call,
    writes the sink table, acks table and lineage row counts that
    ``start_pipeline`` writes from the same files, one per trigger."""
    _, input_dir, _ = fixture_dirs
    rules, ack_types = canonical_rules(), ["email", "sms"]
    ckpt = str(tmp_path / "ckpt")
    q, ref = start_pipeline(
        spark, input_dir, rules, str(tmp_path / "out_query"), ckpt,
        max_files_per_trigger=1, with_context_join=True, ack_types=ack_types,
    )
    q.awaitTermination(300)
    files = _source_files(ckpt)
    assert len(files) == 4

    sink, cool = _snapshot_engine(spark, tmp_path)
    for batch_id, paths in enumerate(files):
        run_micro_batch(
            spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(*paths), batch_id,
            rules=rules, sink=sink, cool=cool, carry=("role", "tool"),
            ack_types=ack_types,
        )
    cols = CMP + ["role", "tool"]
    pd.testing.assert_frame_equal(
        _norm(sink.read(spark).toPandas(), cols),
        _norm(ref.read(spark).toPandas(), cols),
    )
    ack_cols = KEY + ["status", "ts"]

    def acks(s):
        got = s.read_table(spark, "acks", KEY).toPandas()[ack_cols]
        return got.sort_values(KEY).reset_index(drop=True)

    assert len(acks(ref)) > 0
    pd.testing.assert_frame_equal(acks(sink), acks(ref))
    assert [m["rows"] for m in sink.lineage()] == [
        m["rows"] for m in ref.lineage()
    ]


def test_cooldown_backends_agree_on_late_data(spark, tmp_path):
    """Late-data parity (round-4 review finding): a hot-rule match
    arriving AFTER the watermark passed its cooldown window must be
    dropped by BOTH backends -- the store backend drops it before the
    stateful op; the snapshot backend's gate() must replicate that,
    else an evicted key lets a within-cooldown fire through."""
    base = pd.Timestamp("2024-03-01 10:00:00")
    input_dir = str(tmp_path / "input")
    _write_turn_files(input_dir, [
        # batch 0: conv c fires spam_guard (cooldown 5 s) at T
        [("c", 1, "user", "spam ping one", "", base)],
        # batch 1: conv d fires at T+30min -> watermark (1 min delay)
        # reaches T+29min, far past c's cooldown window -> c evicted
        [("d", 1, "user", "spam ping two", "",
          base + pd.Timedelta(minutes=30))],
        # batch 2: LATE fire for c at T+2s -- inside c's original
        # cooldown window AND older than the watermark -> must be
        # dropped, not fired
        [("c", 2, "user", "spam ping late", "",
          base + pd.Timedelta(seconds=2))],
    ])

    outs = {}
    for backend in ("snapshot", "state"):
        out = str(tmp_path / f"out_{backend}")
        q, sink = start_pipeline(
            spark, input_dir, canonical_rules(), out,
            str(tmp_path / f"ckpt_{backend}"),
            watermark="1 minute", max_files_per_trigger=1,
            cooldown_backend=backend,
        )
        q.awaitTermination(300)
        outs[backend] = _norm(sink.read(spark).toPandas())
    # the late fire must be absent from BOTH outputs
    for backend, got in outs.items():
        c_turns = set(got[got["conv_id"] == "c"]["turn_idx"])
        assert 2 not in c_turns, f"{backend} emitted the late fire"
    pd.testing.assert_frame_equal(outs["snapshot"], outs["state"])



def test_cooldown_backends_agree_after_cold_only_batch(spark, tmp_path):
    """A batch holding only zero-cooldown matches must not advance the
    snapshot watermark: on the store backend the watermark comes from
    cooldown-bearing matches alone, so a later hot fire 30 min behind
    the cold row is on time there and must be kept by both backends."""
    base = pd.Timestamp("2024-03-01 10:00:00")
    m = pd.Timedelta(minutes=1)
    input_dir = str(tmp_path / "input")
    _write_turn_files(input_dir, [
        [("c", 1, "user", "spam ping one", "", base)],
        [("d", 1, "user", "clarice here", "", base + 60 * m)],
        [("e", 1, "user", "spam ping two", "", base + 30 * m)],
    ])
    outs = {}
    for backend in ("snapshot", "state"):
        q, sink = start_pipeline(
            spark, input_dir, canonical_rules(),
            str(tmp_path / f"out_{backend}"),
            str(tmp_path / f"ckpt_{backend}"),
            watermark="1 minute", max_files_per_trigger=1,
            cooldown_backend=backend,
        )
        q.awaitTermination(300)
        outs[backend] = _norm(sink.read(spark).toPandas())
    assert "e" in set(outs["snapshot"]["conv_id"])
    pd.testing.assert_frame_equal(outs["snapshot"], outs["state"])

# --- hot rule reload: start_pipeline given a rules path ---------------

RELOAD_RULES = """
regex_rules:
  - name: spam
    pattern: ".*spam ping.*"
    cooldown_ms: {spam_ms}
    action_type: command
    action_value: "ack"
  - name: tick
    pattern: ".*tick.*"
    action_type: keystroke
    action_value: "t"
"""


def test_hot_reload_batch_sees_one_rule_version(spark, tmp_path, monkeypatch):
    """A rules file republished WHILE batch 0 runs (here: while its
    steps are being rendered) must not split the batch between two
    versions: the match, the gate and the rendered action values all
    come from the version the batch resolved first."""
    from logeventprocessor_spark.rules import publish_rules
    from logeventprocessor_spark.streaming import pipeline as SP

    rule = """
regex_rules:
  - name: r
    pattern: "{pat}"
    action_type: keystroke
    action_value: "{val}"
"""
    rules_path = str(tmp_path / "rules.yaml")
    publish_rules(rules_path, rule.format(pat=".*alpha.*", val="A"))
    base = pd.Timestamp("2024-03-01 10:00:00")
    input_dir = str(tmp_path / "input")
    _write_turn_files(input_dir, [[
        ("c", 0, "user", "alpha", "", base),
        ("c", 1, "user", "beta", "", base + pd.Timedelta(seconds=1)),
    ]])
    orig = SP.expand_steps

    def publish_mid_batch(*a, **kw):
        publish_rules(rules_path, rule.format(pat=".*beta.*", val="B"))
        return orig(*a, **kw)

    monkeypatch.setattr(SP, "expand_steps", publish_mid_batch)
    q, sink = start_pipeline(
        spark, input_dir, rules_path, str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)
    got = sink.read(spark).toPandas()
    assert set(zip(got["turn_idx"], got["rendered_value"])) == {(0, "A")}


def test_hot_reload_raised_cooldown_keeps_history(spark, tmp_path):
    """Raising a rule's cooldown keeps the suppression history a
    shorter cooldown would already have evicted: after spam goes from
    60 s to 1 h, a spam fire 40 min after the first is suppressed,
    even though zero-cooldown rows in between moved event time well
    past the old 60 s horizon. One file per query run, so each file is
    its own batch."""
    import shutil

    from logeventprocessor_spark.rules import publish_rules

    base = pd.Timestamp("2024-03-01 10:00:00")
    m = pd.Timedelta(minutes=1)
    stage = str(tmp_path / "stage")
    _write_turn_files(stage, [
        [("c", 0, "user", "spam ping", "", base)],
        [("d", 0, "user", "tick", "", base + 30 * m)],
        [("d", 1, "user", "tick", "", base + 45 * m)],
        [("c", 1, "user", "spam ping", "", base + 40 * m)],
    ])
    rules_path = str(tmp_path / "rules.yaml")
    publish_rules(rules_path, RELOAD_RULES.format(spam_ms=60000))
    input_dir = str(tmp_path / "input")
    os.makedirs(input_dir)
    for i in range(4):
        if i == 1:
            publish_rules(rules_path, RELOAD_RULES.format(spam_ms=3600000))
        shutil.copy2(f"{stage}/part-{i}.parquet", input_dir)
        q, sink = start_pipeline(
            spark, input_dir, rules_path, str(tmp_path / "out"),
            str(tmp_path / "ckpt"),
        )
        q.awaitTermination(300)
    got = sink.read(spark).toPandas()
    spam = got[got["rule_id"] == "spam"]
    assert list(zip(spam["conv_id"], spam["turn_idx"])) == [("c", 0)]


def test_hot_reload_keeps_late_cold_matches(spark, tmp_path):
    """A zero-cooldown match behind the watermark is kept under hot
    reload, as it is with a fixed rule list: only cooldown-bearing
    matches are late-filtered."""
    base = pd.Timestamp("2024-03-01 10:00:00")
    m = pd.Timedelta(minutes=1)
    input_dir = str(tmp_path / "input")
    _write_turn_files(input_dir, [
        [("d", 0, "user", "tick", "", base)],
        [("d", 1, "user", "tick", "", base + 60 * m)],
        [("d", 2, "user", "tick", "", base + 61 * m)],
        [("e", 0, "user", "tick", "", base + 10 * m)],
    ])
    rules_path = str(tmp_path / "rules.yaml")
    with open(rules_path, "w") as f:
        f.write(RELOAD_RULES.format(spam_ms=60000))
    q, sink = start_pipeline(
        spark, input_dir, rules_path, str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)
    got = sink.read(spark).toPandas()
    assert ("e", 0) in set(zip(got["conv_id"], got["turn_idx"]))
