"""Stream-stream context join (T5), hot rule reload (T8), metrics
listener + observe (K5), streaming windowed aggregation."""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

from logeventprocessor_spark.generator import (
    make_transcripts,
    transcripts_df,
    write_transcripts_parquet,
)
from logeventprocessor_spark.operators.match import match_turns
from logeventprocessor_spark.rules import canonical_rules
from logeventprocessor_spark.streaming.metrics import (
    JsonProgressListener,
    with_observed_counters,
)
from logeventprocessor_spark.streaming.pipeline import (
    read_transcripts_stream,
    start_pipeline,
    stream_join_context,
)


@pytest.fixture(scope="module")
def stream_input(tmp_path_factory):
    base = tmp_path_factory.mktemp("extras")
    pdf = make_transcripts(n_convs=12, seed=42)
    input_dir = str(base / "input")
    write_transcripts_parquet(pdf, input_dir, n_files=3)
    return pdf, input_dir, base


def test_stream_stream_context_join(spark, stream_input, tmp_path):
    """Matches stream joined back to the turns stream recovers
    role/tool for every match (batch equivalence check)."""
    pdf, input_dir, _ = stream_input
    rules = canonical_rules()
    stream = read_transcripts_stream(spark, input_dir, max_files_per_trigger=1)
    m = match_turns(stream, rules)
    joined = stream_join_context(m, stream)
    q = (
        joined.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = (
        spark.read.parquet(str(tmp_path / "out"))
        .toPandas()
        .sort_values(["conv_id", "turn_idx", "rule_idx"])
        .reset_index(drop=True)
    )
    # batch truth: matches joined to the original turns
    bm = match_turns(transcripts_df(spark, pdf), rules).toPandas()
    exp = bm.merge(
        pdf[["conv_id", "turn_idx", "role", "tool"]], on=["conv_id", "turn_idx"]
    ).sort_values(["conv_id", "turn_idx", "rule_idx"]).reset_index(drop=True)
    assert len(got) == len(exp) > 0
    pd.testing.assert_frame_equal(
        got[["conv_id", "turn_idx", "rule_id", "role", "tool"]],
        exp[["conv_id", "turn_idx", "rule_id", "role", "tool"]],
    )


def test_stream_stream_join_scans_once_per_leg(spark, stream_input, tmp_path):
    """Both legs of the T5 join come from ONE readStream frame, and the
    query has one source, yet each data batch still scans the files
    once per leg and shuffles both into the stateful join. That is why
    start_pipeline carries same-turn context instead of joining it.

    A second query on the same frames, run without the trailing
    no-data batch so its last execution is a data batch; the output
    check above runs with Spark's defaults."""
    _, input_dir, _ = stream_input
    stream = read_transcripts_stream(spark, input_dir, max_files_per_trigger=1)
    joined = stream_join_context(match_turns(stream, canonical_rules()), stream)
    no_data = "spark.sql.streaming.noDataMicroBatches.enabled"
    spark.conf.set(no_data, "false")
    try:
        q = (
            joined.writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.unset(no_data)
    q.awaitTermination(300)
    assert len(q.lastProgress["sources"]) == 1
    plan = q._jsq.streamingQuery().lastExecution().executedPlan().toString()
    assert plan.count("FileScan") == 2, plan
    assert plan.count("REQUIRED_BY_STATEFUL_OPERATOR") == 2, plan
    assert "StreamingSymmetricHashJoin" in plan, plan

def test_hot_rule_reload(spark, stream_input, tmp_path):
    """Rules re-read per micro-batch: edit the YAML between runs and
    the next batches use the new rule set on the same checkpoint."""
    pdf, _, _ = stream_input
    rules_path = str(tmp_path / "rules.yaml")
    v1 = """
regex_rules:
  - name: clarice_rule
    pattern: ".*clarice.*"
    action_type: keystroke
    action_value: "g woot"
"""
    v2 = v1 + """
  - name: error_rule
    pattern: ".*\\\\[ERROR\\\\].*"
    action_type: keystroke
    action_value: "f1"
"""
    input_dir = str(tmp_path / "input")
    os.makedirs(input_dir)
    files = write_transcripts_parquet(pdf, str(tmp_path / "stage"), n_files=2)
    import shutil

    with open(rules_path, "w") as f:
        f.write(v1)
    shutil.copy(files[0], input_dir)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q, sink = start_pipeline(spark, input_dir, rules_path, out, ckpt)
    q.awaitTermination(300)
    first = sink.read(spark).toPandas()
    assert set(first["rule_id"]) == {"clarice_rule"}

    with open(rules_path, "w") as f:
        f.write(v2)
    shutil.copy(files[1], input_dir)
    q, sink = start_pipeline(spark, input_dir, rules_path, out, ckpt)
    q.awaitTermination(300)
    second = sink.read(spark).toPandas()
    assert "error_rule" in set(second["rule_id"]), "new rule active after reload"
    # rows from batch 1 are untouched (still only clarice matches there)
    assert set(first["rule_id"]) == {"clarice_rule"}


def test_hot_reload_preserves_cooldown_state(spark, tmp_path):
    """The round-2 gap: edit a rule's pattern MID-STREAM (no query
    restart) and (a) the new pattern takes effect on the next
    micro-batch, (b) the suppression history of the UNTOUCHED cooldown
    rule survives the swap -- a spam fire 40 min after the first one is
    still suppressed by the 1 h cooldown even though the rule file
    changed in between (reference: config swap main.cpp:185-241 leaves
    the ActionManager cooldown map intact, ActionManager.h:148-150)."""
    import time

    def mk(rows):
        return pd.DataFrame(
            {
                "conv_id": [r[0] for r in rows],
                "turn_idx": pd.array([r[1] for r in rows], dtype="int32"),
                "role": ["user"] * len(rows),
                "text": [r[2] for r in rows],
                "tool": [""] * len(rows),
                "ts": pd.to_datetime([r[3] for r in rows]).astype(
                    "datetime64[us]"
                ),
            }
        )

    rules_path = str(tmp_path / "rules.yaml")
    v1 = """
regex_rules:
  - name: spam_rule
    pattern: ".*spam ping.*"
    cooldown_ms: 3600000
    action_type: command
    action_value: "ack"
  - name: other_rule
    pattern: ".*clarice.*"
    action_type: keystroke
    action_value: "g woot"
"""
    v2 = v1.replace('".*clarice.*"', '".*\\\\[ERROR\\\\].*"')
    with open(rules_path, "w") as f:
        f.write(v1)

    input_dir = str(tmp_path / "input")
    os.makedirs(input_dir)
    mk(
        [
            ("c1", 0, "spam ping", "2024-03-01 10:00:00"),
            ("c1", 1, "spam ping again", "2024-03-01 10:30:00"),  # suppressed
            ("c1", 2, "clarice says hi", "2024-03-01 10:31:00"),
        ]
    ).to_parquet(f"{input_dir}/a.parquet", index=False)

    q, sink = start_pipeline(
        spark, input_dir, rules_path,
        out_dir=str(tmp_path / "out"), checkpoint_dir=str(tmp_path / "ckpt"),
        available_now=False, max_files_per_trigger=None,
    )

    def wait_rows(pred, timeout=120):
        deadline = time.time() + timeout
        while time.time() < deadline:
            try:
                got = sink.read(spark).toPandas()
                if pred(got):
                    return got
            except Exception:
                pass  # no batch dir yet
            time.sleep(1)
        raise AssertionError("timed out waiting for stream output")

    try:
        first = wait_rows(lambda g: len(g) >= 2)
        spam1 = first[first.rule_id == "spam_rule"]
        assert len(spam1) == 1 and spam1.iloc[0]["turn_idx"] == 0
        assert set(first[first.rule_id == "other_rule"]["turn_idx"]) == {2}

        # --- edit the rule file mid-stream: other_rule's pattern only ---
        with open(rules_path, "w") as f:
            f.write(v2)
        mk(
            [
                # 40 min after the 10:00 fire -> STILL inside the 1 h
                # cooldown; only suppressed if state survived the edit
                ("c1", 3, "spam ping late", "2024-03-01 10:40:00"),
                ("c1", 4, "all good [ERROR] here", "2024-03-01 10:41:00"),
                # 90 min after -> cooldown expired, fires
                ("c1", 5, "spam ping fresh", "2024-03-01 11:30:00"),
            ]
        ).to_parquet(f"{input_dir}/b.parquet", index=False)

        second = wait_rows(
            lambda g: len(g[g.rule_id == "spam_rule"]) >= 2
            and 4 in set(g[g.rule_id == "other_rule"]["turn_idx"])
        )
    finally:
        q.stop()

    spam = second[second.rule_id == "spam_rule"].sort_values("turn_idx")
    # turn 3 suppressed (history survived the rule edit), turn 5 fired
    assert spam["turn_idx"].tolist() == [0, 5]
    # the edited pattern took effect without a restart
    other = second[second.rule_id == "other_rule"].sort_values("turn_idx")
    assert other["turn_idx"].tolist() == [2, 4]


def test_observe_and_listener(spark, stream_input, tmp_path):
    pdf, input_dir, _ = stream_input
    rules = canonical_rules()
    metrics_path = str(tmp_path / "progress.jsonl")
    listener = JsonProgressListener(metrics_path)
    spark.streams.addListener(listener)
    try:
        stream = read_transcripts_stream(spark, input_dir, max_files_per_trigger=1)
        m = with_observed_counters(match_turns(stream, rules))
        q = (
            m.writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        import time

        time.sleep(2)  # listener events are async
    finally:
        spark.streams.removeListener(listener)
    lines = [json.loads(x) for x in open(metrics_path)]
    assert len(lines) >= 2
    observed = [
        ln["observed"]["engine_metrics"]
        for ln in lines
        if ln["observed"].get("engine_metrics")
    ]
    total_rows = sum(o["rows"] for o in observed)
    exp_rows = match_turns(transcripts_df(spark, pdf), rules).count()
    assert total_rows == exp_rows


def test_streaming_tumbling_agg_drops_late_row(spark, tmp_path):
    """F6 via a REAL watermark: a row whose event time is hours behind
    the already-advanced watermark (late in ARRIVAL order, delivered in
    a later micro-batch) is dropped by the windowed aggregation."""
    import os as _os

    from pyspark.sql import functions as F

    def mk(rows):
        return pd.DataFrame(
            {
                "conv_id": [r[0] for r in rows],
                "turn_idx": pd.array([r[1] for r in rows], dtype="int32"),
                "role": ["user"] * len(rows),
                "text": [r[2] for r in rows],
                "tool": [""] * len(rows),
                "ts": pd.to_datetime([r[3] for r in rows]).astype("datetime64[us]"),
            }
        )

    input_dir = str(tmp_path / "input")
    _os.makedirs(input_dir)
    # batch 1: on-time rows advance the watermark to ~11:50
    a = mk(
        [
            ("c1", 0, "x", "2024-03-01 10:00:00"),
            ("c1", 1, "x", "2024-03-01 11:00:00"),
            ("c1", 2, "x", "2024-03-01 12:00:00"),
        ]
    )
    # batch 2: one on-time row + one 5-hours-late row (07:00 window)
    b = mk(
        [
            ("c1", 3, "x", "2024-03-01 12:30:00"),
            ("c2", 0, "late", "2024-03-01 07:00:00"),
        ]
    )
    stream = read_transcripts_stream(spark, input_dir, max_files_per_trigger=1)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("ws"), "n")
    )

    def run():
        q = (
            agg.writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    # run 1 advances the committed watermark to 11:50; the late row
    # arrives in run 2 from the same checkpoint (watermark semantics:
    # the filter uses the watermark committed by previous triggers)
    a.to_parquet(f"{input_dir}/a.parquet", index=False)
    run()
    b.to_parquet(f"{input_dir}/b.parquet", index=False)
    run()
    got = spark.read.parquet(str(tmp_path / "out")).toPandas()
    windows = set(pd.to_datetime(got["ws"]))
    assert pd.Timestamp("2024-03-01 07:00:00") not in windows, (
        "late row must be dropped by the watermark"
    )
    closed = got.set_index(pd.to_datetime(got["ws"]))["n"].to_dict()
    # the 10:00 and 11:00 windows are final (watermark passed them)
    assert closed.get(pd.Timestamp("2024-03-01 10:00:00")) == 1
    assert closed.get(pd.Timestamp("2024-03-01 11:00:00")) == 1


def test_multi_table_ack_sink(spark, stream_input, tmp_path):
    """K4: ack rows written to a second table in the same micro-batch
    write; both tables consistent under exactly-once keys."""
    from logeventprocessor_spark.rules import canonical_rules
    from logeventprocessor_spark.schema import ACTION_KEY
    from logeventprocessor_spark.streaming.pipeline import start_pipeline

    pdf, input_dir, _ = stream_input
    q, sink = start_pipeline(
        spark,
        input_dir,
        canonical_rules(),
        out_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        ack_types=["email", "sms"],
    )
    q.awaitTermination(300)
    actions = sink.read(spark).toPandas()
    acks = sink.read_table(spark, "acks", ACTION_KEY).toPandas()
    exp = actions[actions.action_type.isin(["email", "sms"])]
    assert len(acks) == len(exp) > 0
    assert not acks.duplicated(ACTION_KEY).any()
    assert set(acks["status"]) == {"ack"}


def test_pii_scrub_ingest_pipeline(spark, tmp_path):
    """Ingest -> PII scrub -> match -> cooldown -> sink, exactly-once:
    the sink must equal the BATCH pipeline run over the same scrubbed
    frame, rendered action values must carry the redaction tokens (not
    the raw PII), and a rule that extracts an email must stop firing
    once the email is scrubbed pre-match (round-5 verdict task #7)."""
    import pandas as _pd

    from logeventprocessor_spark.generator import transcripts_df
    from logeventprocessor_spark.pipeline import match_actions
    from logeventprocessor_spark.rules import canonical_rules
    from logeventprocessor_spark.streaming.pipeline import (
        scrub_stream_text,
        start_pipeline,
    )

    pdf = make_transcripts(n_convs=6, seed=7).copy()
    # plant PII in turns that match rules: sms_tell renders the full
    # turn text (K3); user_login EXTRACTS the email itself
    pdf.loc[pdf.index[0], "text"] = (
        "Zork tells you, 'mail john.doe@example.com at 10.0.0.1'"
    )
    pdf.loc[pdf.index[1], "text"] = "User login: jane@corp.example.org ok"
    input_dir = str(tmp_path / "input")
    write_transcripts_parquet(pdf, input_dir, n_files=2)
    rules = canonical_rules()

    q, sink = start_pipeline(
        spark, input_dir, rules,
        out_dir=str(tmp_path / "out"), checkpoint_dir=str(tmp_path / "ckpt"),
        pii_scrub=True,
    )
    q.awaitTermination(300)
    got = sink.read(spark).toPandas()

    # batch truth: the SAME scrub expression over the batch frame
    exp = match_actions(
        scrub_stream_text(transcripts_df(spark, pdf)), rules,
        with_cooldown=True,
    ).toPandas()
    key = ["conv_id", "turn_idx", "rule_id", "step_idx"]
    cmp = key + ["extracted", "action_type", "rendered_value"]

    def norm(p):
        out = p[cmp].copy()
        out["turn_idx"] = out["turn_idx"].astype("int64")
        out["step_idx"] = out["step_idx"].astype("int64")
        return out.sort_values(cmp, kind="mergesort").reset_index(drop=True)

    _pd.testing.assert_frame_equal(norm(got), norm(exp))

    blob = " ".join(
        got[c].astype(str).str.cat(sep=" ")
        for c in ("extracted", "rendered_value")
    )
    assert "john.doe@example.com" not in blob
    assert "jane@corp.example.org" not in blob
    assert "10.0.0.1" not in blob
    sms = got[(got.rule_id == "sms_tell") & (got.turn_idx == 0)]
    assert len(sms) == 1
    assert "<EMAIL>" in sms.iloc[0]["rendered_value"]
    assert "<IP>" in sms.iloc[0]["rendered_value"]
    # the email-extracting rule fired on RAW text but not on scrubbed
    assert (got.rule_id == "user_login").sum() == 0
    raw = match_actions(transcripts_df(spark, pdf), rules).toPandas()
    assert (raw.rule_id == "user_login").sum() > 0
    # exactly-once: restart on the same checkpoint adds nothing
    q2, _ = start_pipeline(
        spark, input_dir, rules,
        out_dir=str(tmp_path / "out"), checkpoint_dir=str(tmp_path / "ckpt"),
        pii_scrub=True,
    )
    q2.awaitTermination(300)
    assert len(sink.read(spark).toPandas()) == len(got)


def test_rocksdb_state_store_parity(stream_input, tmp_path):
    """The RocksDB state store (the 10^12-scale backend) produces the
    identical exactly-once output as the default HDFS-backed store."""
    from logeventprocessor_spark.oracle import oracle_matches
    from logeventprocessor_spark.rules import canonical_rules
    from logeventprocessor_spark.session import get_spark
    from logeventprocessor_spark.streaming.pipeline import start_pipeline

    pdf, input_dir, _ = stream_input
    # fresh session: the provider conf must hold for the whole query
    spark2 = get_spark("rocksdb-test", master="local[4]", shuffle_partitions=4)
    spark2.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        q, sink = start_pipeline(
            spark2,
            input_dir,
            canonical_rules(),
            out_dir=str(tmp_path / "out"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            # the store provider only matters for the DAG-stateful
            # backend; the snapshot backend keeps no store state
            cooldown_backend="state",
        )
        q.awaitTermination(300)
        got = (
            sink.read(spark2)
            .toPandas()
            .sort_values(["conv_id", "turn_idx", "rule_idx", "step_idx"])
            .reset_index(drop=True)
        )
        exp = oracle_matches(pdf, canonical_rules())
        assert len(got) == len(exp) > 0
        assert (
            got["rendered_value"].tolist() == exp["rendered_value"].tolist()
        )
        # the checkpoint actually used RocksDB
        import glob

        assert glob.glob(str(tmp_path / "ckpt/state/**/*.zip"), recursive=True) or \
            glob.glob(str(tmp_path / "ckpt/state/**/*.changelog"), recursive=True), \
            "RocksDB snapshot files expected under the state checkpoint"
    finally:
        spark2.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_streaming_session_window(spark, stream_input, tmp_path):
    """Session windows keyed by conv_id with a watermark, on the
    stream, in append mode -- closed sessions match the batch truth."""
    from pyspark.sql import functions as F

    from logeventprocessor_spark.operators import windows as Wops

    pdf, input_dir, _ = stream_input
    stream = read_transcripts_stream(spark, input_dir, max_files_per_trigger=1)
    s = Wops.session(
        stream.withWatermark("ts", "10 minutes"), "ts", "5 minutes",
        keys=["conv_id"],
    )
    q = (
        s.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = (
        spark.read.parquet(str(tmp_path / "out"))
        .toPandas()
        .sort_values(["conv_id", "session_start"])
        .reset_index(drop=True)
    )
    exp = (
        Wops.session(transcripts_df(spark, pdf), "ts", "5 minutes",
                     keys=["conv_id"])
        .toPandas()
        .sort_values(["conv_id", "session_start"])
        .reset_index(drop=True)
    )
    # append mode only emits sessions the watermark has CLOSED; every
    # emitted session must be a real (batch-truth) session
    assert len(got) > 0
    key = ["conv_id", "session_start", "session_end", "n_events"]
    merged = got[key].merge(exp[key], on=key, how="left", indicator=True)
    assert (merged["_merge"] == "both").all()
