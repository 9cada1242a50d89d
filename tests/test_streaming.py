"""Streaming engine tests (SURVEY.md 5.2 #1/#3): the streaming path
must produce the IDENTICAL row set to the batch oracle for the same
input + watermark, under exactly-once, across restarts from checkpoint.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest

from logeventprocessor_spark.generator import (
    make_transcripts,
    transcripts_df,
    write_transcripts_parquet,
)
from logeventprocessor_spark.oracle import oracle_matches, oracle_sequence_pairs
from logeventprocessor_spark.pipeline import match_actions
from logeventprocessor_spark.rules import canonical_rules
from logeventprocessor_spark.schema import ACTION_KEY
from logeventprocessor_spark.streaming.pipeline import (
    read_transcripts_stream,
    start_pipeline,
    stream_sequence_detect,
)
from logeventprocessor_spark.operators.match import match_turns

KEY = ACTION_KEY
CMP = ["conv_id", "turn_idx", "rule_id", "rule_idx", "step_idx", "extracted",
       "action_type", "rendered_value", "ts"]


def _norm(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf[CMP].copy()
    out["ts"] = pd.to_datetime(out["ts"])
    for c in ("turn_idx", "rule_idx", "step_idx"):
        out[c] = out[c].astype("int64")
    return out.sort_values(CMP, kind="mergesort").reset_index(drop=True)


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
    replay_pdf = spark.read.parquet(sink.batch_dir(0)).drop("_part").toPandas()
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


def test_stream_sequence_all_equals_batch_oracle(spark, tmp_path):
    """EVERY-A-pairs semantics: the streaming capped-list-state detector
    equals the batch interval-join operator AND a naive pandas scan on
    a corpus with planted multi-A bursts, across micro-batches."""
    import pandas as pd
    from logeventprocessor_spark.operators.sequence import sequence_detect_all
    from logeventprocessor_spark.schema import MATCHES_SCHEMA
    from logeventprocessor_spark.streaming.pipeline import (
        stream_sequence_detect_all,
    )

    base = pd.Timestamp("2024-03-01 10:00:00")
    rows = []
    # conv_a: 3 A's inside the window, then 2 B's -> 3+3 pairs; a late A
    # between the B's pairs only with the second B
    for i, off in enumerate([0, 5, 10]):
        rows.append(("conv_a", i, "A", base + pd.Timedelta(seconds=off)))
    rows.append(("conv_a", 3, "B", base + pd.Timedelta(seconds=20)))
    rows.append(("conv_a", 4, "A", base + pd.Timedelta(seconds=25)))
    rows.append(("conv_a", 5, "B", base + pd.Timedelta(seconds=30)))
    # conv_b: A too old for the window + one in-window pair
    rows.append(("conv_b", 0, "A", base - pd.Timedelta(seconds=120)))
    rows.append(("conv_b", 1, "A", base + pd.Timedelta(seconds=1)))
    rows.append(("conv_b", 2, "B", base + pd.Timedelta(seconds=40)))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "rule_id", "ts"])
    pdf["rule_idx"] = 0
    pdf["extracted"] = ""
    pdf["text"] = "t"
    pdf = pdf[[f.name for f in MATCHES_SCHEMA.fields]]
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["rule_idx"] = pdf["rule_idx"].astype("int32")
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")

    # naive expectation
    exp = set()
    for conv, g in pdf.groupby("conv_id"):
        a = g[g.rule_id == "A"]
        for b in g[g.rule_id == "B"].itertuples(index=False):
            for ar in a.itertuples(index=False):
                gap = (b.ts - ar.ts).total_seconds()
                if 0 <= gap <= 60:
                    exp.add((conv, ar.turn_idx, b.turn_idx))
    assert len(exp) == 3 + 4 + 1  # planted geometry

    batch = sequence_detect_all(
        spark.createDataFrame(pdf, MATCHES_SCHEMA), "A", "B", within_ms=60_000
    ).toPandas()
    assert set(map(tuple, batch[["conv_id", "a_turn_idx", "b_turn_idx"]].values)) == exp

    input_dir = str(tmp_path / "matches_in")
    import os

    os.makedirs(input_dir, exist_ok=True)
    # two files -> two micro-batches with maxFilesPerTrigger=1, so the
    # A-buffer must survive in state across batches
    pdf.iloc[:5].to_parquet(f"{input_dir}/part-0.parquet", index=False)
    pdf.iloc[5:].to_parquet(f"{input_dir}/part-1.parquet", index=False)
    m = (
        spark.readStream.schema(MATCHES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
        .withWatermark("ts", "10 minutes")
    )
    seq = stream_sequence_detect_all(m, "A", "B", within_ms=60_000)
    q = (
        seq.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.read.parquet(str(tmp_path / "out")).toPandas()
    assert set(map(tuple, got[["conv_id", "a_turn_idx", "b_turn_idx"]].values)) == exp
    assert not got.duplicated(["conv_id", "a_turn_idx", "b_turn_idx"]).any()


def test_stream_sequence_all_b_replay_dedup(spark, tmp_path):
    """An at-least-once source replaying a B row in a LATER micro-batch
    must not re-emit its pairs: the detector tracks emitted B turns in
    state within the watermark horizon (round-4 advice). The batch
    operator dedups globally via .distinct(); before this guard the
    stream variant deduped only within one batch frame."""
    import pandas as pd
    from logeventprocessor_spark.schema import MATCHES_SCHEMA
    from logeventprocessor_spark.streaming.pipeline import (
        stream_sequence_detect_all,
    )

    base = pd.Timestamp("2024-03-01 10:00:00")
    rows = [
        ("c", 0, "A", base),
        ("c", 1, "A", base + pd.Timedelta(seconds=5)),
        ("c", 2, "B", base + pd.Timedelta(seconds=20)),
    ]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "rule_id", "ts"])
    pdf["rule_idx"] = 0
    pdf["extracted"] = ""
    pdf["text"] = "t"
    pdf = pdf[[f.name for f in MATCHES_SCHEMA.fields]]
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["rule_idx"] = pdf["rule_idx"].astype("int32")
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    input_dir = str(tmp_path / "in")
    import os

    os.makedirs(input_dir, exist_ok=True)
    # batch 0: both A's + the B; batch 1: the SAME B row redelivered
    pdf.to_parquet(f"{input_dir}/part-0.parquet", index=False)
    pdf.iloc[[2]].to_parquet(f"{input_dir}/part-1.parquet", index=False)
    m = (
        spark.readStream.schema(MATCHES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
        .withWatermark("ts", "10 minutes")
    )
    seq = stream_sequence_detect_all(m, "A", "B", within_ms=60_000)
    q = (
        seq.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.read.parquet(str(tmp_path / "out")).toPandas()
    # exactly the two (A, B) pairs, each ONCE despite the B replay
    assert sorted(
        map(tuple, got[["a_turn_idx", "b_turn_idx"]].values)
    ) == [(0, 2), (1, 2)]


def test_stream_sequence_all_cap(spark, tmp_path):
    """The max_as hard cap keeps only the NEWEST A's: 5 planted A's with
    max_as=3 -> the B pairs with the last 3 only (explicit-recall-loss
    contract for pathological conversations)."""
    import pandas as pd
    from logeventprocessor_spark.schema import MATCHES_SCHEMA
    from logeventprocessor_spark.streaming.pipeline import (
        stream_sequence_detect_all,
    )

    base = pd.Timestamp("2024-03-01 10:00:00")
    rows = [("c", i, "A", base + pd.Timedelta(seconds=i)) for i in range(5)]
    rows.append(("c", 9, "B", base + pd.Timedelta(seconds=30)))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "rule_id", "ts"])
    pdf["rule_idx"] = 0
    pdf["extracted"] = ""
    pdf["text"] = "t"
    pdf = pdf[[f.name for f in MATCHES_SCHEMA.fields]]
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["rule_idx"] = pdf["rule_idx"].astype("int32")
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    input_dir = str(tmp_path / "in")
    import os

    os.makedirs(input_dir, exist_ok=True)
    # A's arrive in batch 0 (cap applies at state write), B in batch 1
    pdf.iloc[:5].to_parquet(f"{input_dir}/part-0.parquet", index=False)
    pdf.iloc[5:].to_parquet(f"{input_dir}/part-1.parquet", index=False)
    m = (
        spark.readStream.schema(MATCHES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
        .withWatermark("ts", "10 minutes")
    )
    seq = stream_sequence_detect_all(m, "A", "B", within_ms=60_000, max_as=3)
    q = (
        seq.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.read.parquet(str(tmp_path / "out")).toPandas()
    assert sorted(got["a_turn_idx"]) == [2, 3, 4]


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


def _write_turn_files(input_dir, files):
    """One parquet file per list of (conv_id, turn_idx, role, text,
    tool, ts) rows, with increasing mtimes so the file source reads
    them in list order."""
    from logeventprocessor_spark.schema import TRANSCRIPTS_SCHEMA

    os.makedirs(input_dir)
    for i, rows in enumerate(files):
        pdf = pd.DataFrame(
            rows, columns=[f.name for f in TRANSCRIPTS_SCHEMA.fields]
        )
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        p = f"{input_dir}/part-{i}.parquet"
        pdf.to_parquet(p, index=False)
        os.utime(p, ns=(1_000_000_000_000_000_000 + i * 10**9,) * 2)


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
    gated rows and snapshot -- exactly-once end to end."""
    import pandas as pd
    from logeventprocessor_spark.schema import MATCHES_SCHEMA
    from logeventprocessor_spark.streaming.batch_state import (
        CooldownSnapshotState,
    )

    rules = [r for r in canonical_rules() if r.rule_id == "spam_guard"]
    assert rules and rules[0].cooldown_ms > 0
    base = pd.Timestamp("2024-03-01 10:00:00")

    def matches(rows):
        pdf = pd.DataFrame(
            rows, columns=["conv_id", "turn_idx", "ts"]
        ).assign(rule_id="spam_guard", rule_idx=0, extracted="", text="spam ping")
        pdf = pdf[[f.name for f in MATCHES_SCHEMA.fields]]
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        pdf["rule_idx"] = pdf["rule_idx"].astype("int32")
        return spark.createDataFrame(pdf, MATCHES_SCHEMA)

    cool = CooldownSnapshotState(
        spark, str(tmp_path / "state"), watermark_delay_ms=600_000
    )
    cd_s = rules[0].cooldown_ms / 1000.0

    # batch 0: two fires inside one cooldown window -> second suppressed
    b0 = matches([("c", 1, base), ("c", 2, base + pd.Timedelta(seconds=cd_s / 2))])
    g0 = cool.gate(b0, 0, rules).persist()
    assert sorted(g0.toPandas()["turn_idx"]) == [1]
    cool.advance(g0, 0, rules)
    g0.unpersist()

    # batch 1: one fire still inside batch-0's window -> suppressed
    b1 = matches([("c", 3, base + pd.Timedelta(seconds=cd_s * 0.75))])
    g1 = cool.gate(b1, 1, rules).persist()
    first = sorted(g1.toPandas()["turn_idx"])
    cool.advance(g1, 1, rules)
    g1.unpersist()
    assert first == []

    # REPLAY batch 1 (the snapshot written by the crashed attempt at 1
    # must be ignored): identical result, identical snapshot
    g1r = cool.gate(b1, 1, rules).persist()
    assert sorted(g1r.toPandas()["turn_idx"]) == first
    cool.advance(g1r, 1, rules)
    g1r.unpersist()

    # batch 2 past the window -> fires again, seeded by the replayed
    # (not doubled) state
    b2 = matches([("c", 4, base + pd.Timedelta(seconds=cd_s + 1))])
    g2 = cool.gate(b2, 2, rules)
    assert sorted(g2.toPandas()["turn_idx"]) == [4]


def test_snapshot_state_evicts_under_batch_rules(spark, tmp_path):
    """A snapshot key is evicted by the batch's CURRENT rule set: a
    batch in which spam_guard has no cooldown drops its keys at that
    batch's advance, so once the cooldown returns, a fire 1 s after
    the first is kept rather than suppressed by forgotten history."""
    from dataclasses import replace

    from logeventprocessor_spark.schema import MATCHES_SCHEMA
    from logeventprocessor_spark.streaming.batch_state import (
        CooldownSnapshotState,
    )

    rules = [r for r in canonical_rules() if r.rule_id == "spam_guard"]
    no_cd = [replace(r, cooldown_ms=0) for r in rules]
    base = pd.Timestamp("2024-03-01 10:00:00")

    def fire(turn_idx, ts):
        return spark.createDataFrame(
            [("c", turn_idx, "spam_guard", 0, "", "spam ping",
              ts.to_pydatetime())],
            MATCHES_SCHEMA,
        )

    cool = CooldownSnapshotState(
        spark, str(tmp_path / "state"), watermark_delay_ms=600_000
    )
    for batch_id, batch_rules in enumerate([rules, no_cd]):
        g = cool.gate(fire(batch_id, base), batch_id, batch_rules).persist()
        cool.advance(g, batch_id, batch_rules)
        g.unpersist()
    g2 = cool.gate(fire(2, base + pd.Timedelta(seconds=1)), 2, rules)
    assert g2.toPandas()["turn_idx"].tolist() == [2]


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
