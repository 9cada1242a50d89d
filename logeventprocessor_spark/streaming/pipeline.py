"""The streaming engine: source -> match -> keyed cooldown -> step
join -> exactly-once sink (SURVEY.md 3.2 "Spark analog").

Two entry points wire the whole query, one per cooldown backend:

* ``start_pipeline`` with the default snapshot backend -- the only
  streaming path for both a fixed rule list and a hot-reloaded rules
  file (T8). Its DAG holds no stateful operator:

    readStream(parquet/iceberg, TRANSCRIPTS_SCHEMA)
      -> (scrub_stream_text)                # optional ingest PII redaction
      -> filter(ts >= late_cutoff)          # F6: reference's startup-time
                                            # late-data rejection
                                            # (ActionSender.cpp:660-677)
      -> foreachBatch(process)

  and ``process`` resolves ONE rule set per micro-batch on the driver,
  then runs match (M1/M2) -> cooldown gate (T1, seeded by a parquet
  snapshot, streaming/batch_state.py) -> steps + render (T3/T4/M3) ->
  ParquetUpsertSink (T2 + T6/K1) -> snapshot advance on that one list.

* ``build_match_stream`` (``start_pipeline(cooldown_backend="state")``)
  -- the store-native backend: match -> withWatermark ->
  ``stream_cooldown`` (``applyInPandasWithState`` keyed
  (conv_id, rule_id)) -> steps -> ``foreachBatch`` sink, for a fixed
  rule list only.

Both cooldown backends scan with ``operators.cooldown.greedy_keep``, the
kernel the batch path uses, so their semantics cannot diverge; state is
one ``last_fire_ns`` per key, evicted once the watermark passes
last_fire + cooldown (bounded state at 10^12-turn scale -- north-rule
requirement).

Same-turn context (the matched turn's role/tool) is CARRIED through the
match operator's Arrow boundary (``match_turns(carry_cols=...)``), not
joined back. A stream-stream join cannot share the match side's scan:
on Spark 4.1.2, deriving both join legs from ONE ``readStream`` frame
gives one source, yet every data batch's executed plan still holds two
``FileScan parquet`` nodes, two ``Exchange ... REQUIRED_BY_STATEFUL_
OPERATOR`` and a ``StreamingSymmetricHashJoin`` (four state stores per
partition). ``stream_join_context`` stays the operator for CROSS-turn
context, where the enrichment comes from another turn or stream.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

from logeventprocessor_spark.operators.cooldown import (
    NO_PRIOR,
    _epoch_ns,
    greedy_keep,
    hot_cooldowns,
)
from logeventprocessor_spark.operators.match import match_turns
from logeventprocessor_spark.operators.steps import expand_steps
from logeventprocessor_spark.rules import Rule, load_rules_yaml
from logeventprocessor_spark.schema import MATCHES_SCHEMA, TRANSCRIPTS_SCHEMA
from logeventprocessor_spark.streaming.sink import ParquetUpsertSink

COOLDOWN_STATE_SCHEMA = T.StructType(
    [T.StructField("last_fire_ns", T.LongType(), True)]
)


def read_transcripts_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-based micro-batch source over the transcripts schema (the
    sandbox stand-in for the Iceberg streaming scan; the reference's
    tail-the-file source S1/S2, LogReader.cpp:49-124 -- Spark's offset
    tracking replaces byte-position bookkeeping)."""
    r = spark.readStream.schema(TRANSCRIPTS_SCHEMA)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    return r.parquet(input_dir)


def stream_cooldown(matches: DataFrame, rules: list[Rule]) -> DataFrame:
    """Streaming T1 over a fixed rule set: ``applyInPandasWithState``
    keyed (conv_id, rule_id). Only cooldown-bearing matches reach the
    state operator.

    Rows of each key inside a micro-batch are processed in
    (ts, turn_idx) order -- the engine's deterministic ordering
    contract -- by ``greedy_keep`` (one run per key); ``last_fire_ns``
    persists across micro-batches."""
    cooldowns = hot_cooldowns(rules)
    if not cooldowns:
        return matches

    def fn(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        _, rule_id = key
        pdfs = [p for p in pdf_iter if not p.empty]
        if not pdfs:
            return
        g = pd.concat(pdfs, ignore_index=True)
        g = g.sort_values(["ts", "turn_idx"], kind="mergesort")
        cd = int(cooldowns[rule_id])
        prior = state.getOption
        ts_ns = _epoch_ns(g["ts"])
        keep = greedy_keep(
            ts_ns,
            [0],
            [cd * 1_000_000],
            [NO_PRIOR if prior is None else prior[0]],
        )
        # g is non-empty, so a key without a prior fire keeps its first row
        last = int(ts_ns[keep][-1]) if keep.any() else prior[0]
        state.update((last,))
        # evict once the watermark passes last_fire + cooldown (+1 s
        # slack); must stay above the current watermark
        wm = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(last // 1_000_000 + cd + 1000, wm + 1000))
        if keep.any():
            yield g[keep]

    hot = matches.filter(F.col("rule_id").isin(list(cooldowns)))
    return hot.groupBy("conv_id", "rule_id").applyInPandasWithState(
        fn,
        outputStructType=MATCHES_SCHEMA,
        stateStructType=COOLDOWN_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


SEQUENCE_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("a_turn_idx", T.IntegerType(), False),
        T.StructField("b_turn_idx", T.IntegerType(), False),
        T.StructField("a_ts", T.TimestampType(), False),
        T.StructField("b_ts", T.TimestampType(), False),
    ]
)

SEQ_STATE_SCHEMA = T.StructType(
    [
        T.StructField("a_ts_ns", T.LongType(), True),
        T.StructField("a_turn_idx", T.IntegerType(), True),
    ]
)


def stream_sequence_detect(
    matches: DataFrame, rule_a: str, rule_b: str, within_ms: int
) -> DataFrame:
    """Streaming T3-generalized: "rule A followed by rule B within
    within_ms", keyed by conv_id (the reference's chained-matcher
    semantics, ActionManager.cpp:188-199, as a CEP sequence operator).
    Emits (conv, a_turn, b_turn, a_ts, b_ts) with the LATEST qualifying
    A per B. State = last A (ts, turn); evicted when the watermark
    passes a_ts + within_ms.
    """

    def fn(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        (conv_id,) = key
        pdfs = [p for p in pdf_iter if not p.empty]
        if not pdfs:
            return
        g = pd.concat(pdfs, ignore_index=True)
        g = g[g["rule_id"].isin([rule_a, rule_b])]
        # (ts, turn_idx, is_b) order matches batch sequence_detect and
        # the oracle: at an identical (ts, turn_idx) the A row is
        # processed first so a same-turn A qualifies as "preceding"
        g = g.assign(_is_b=(g["rule_id"] == rule_b).astype(int))
        g = g.drop_duplicates(["turn_idx", "rule_id"]).sort_values(
            ["ts", "turn_idx", "_is_b"], kind="mergesort"
        )
        st = state.getOption
        a_ts_ns = st[0] if st is not None else None
        a_turn = st[1] if st is not None else None
        out = []
        for row in g.itertuples(index=False):
            ts_ns = int(pd.Timestamp(row.ts).value)
            if row.rule_id == rule_b and a_ts_ns is not None:
                if 0 <= ts_ns - a_ts_ns <= within_ms * 1_000_000:
                    out.append(
                        (
                            conv_id,
                            int(a_turn),
                            int(row.turn_idx),
                            pd.Timestamp(a_ts_ns),
                            pd.Timestamp(ts_ns),
                        )
                    )
            # "latest A" state: a late-arriving OLDER A (possible across
            # micro-batches) must never regress the stored timestamp
            if row.rule_id == rule_a and (a_ts_ns is None or ts_ns >= a_ts_ns):
                a_ts_ns, a_turn = ts_ns, int(row.turn_idx)
        if a_ts_ns is not None:
            state.update((int(a_ts_ns), int(a_turn)))
            wm = state.getCurrentWatermarkMs()
            timeout_ms = max(a_ts_ns // 1_000_000 + within_ms + 1000, wm + 1000)
            state.setTimeoutTimestamp(timeout_ms)
        if out:
            yield pd.DataFrame(
                out,
                columns=["conv_id", "a_turn_idx", "b_turn_idx", "a_ts", "b_ts"],
            )

    return matches.groupBy("conv_id").applyInPandasWithState(
        fn,
        outputStructType=SEQUENCE_SCHEMA,
        stateStructType=SEQ_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


SEQ_ALL_STATE_SCHEMA = T.StructType(
    [
        T.StructField("a_ts_ns", T.ArrayType(T.LongType()), True),
        T.StructField("a_turn", T.ArrayType(T.IntegerType()), True),
        # B turns already emitted, kept within the watermark horizon:
        # an at-least-once source replaying a B row in a LATER batch
        # must not re-emit its pairs (the batch operator's .distinct()
        # dedups globally; intra-batch dupes are handled by
        # drop_duplicates on the batch frame). Schema widened from the
        # 2-field round-4 form -- UnsafeRow state encoding validates at
        # query start, so upgrading needs a fresh checkpoint (sink is
        # batch-id idempotent; bounded source replay is safe).
        T.StructField("b_ts_ns", T.ArrayType(T.LongType()), True),
        T.StructField("b_turn", T.ArrayType(T.IntegerType()), True),
    ]
)


def stream_sequence_detect_all(
    matches: DataFrame,
    rule_a: str,
    rule_b: str,
    within_ms: int,
    max_as: int = 64,
) -> DataFrame:
    """EVERY-A-pairs streaming semantics (round-3 verdict task #8):
    each B emits one row per buffered A within ``within_ms`` -- the
    counterpart of ``stream_sequence_detect``'s "latest qualifying A".

    State per conv_id is a BOUNDED list of candidate A's:

    * event-time eviction -- an A is dropped once the watermark passes
      ``a_ts + within_ms`` (no future B can pair with it), so state
      size is bounded by the A-rate within one window, not the stream
      length (the 10^12-turn requirement);
    * hard cap ``max_as`` -- the newest entries win (a skew guard for
      pathological conversations; evictions under the cap are recall
      losses by explicit contract, exactly like the reference's
      fixed-size buffers);
    * batch oracle: ``operators.sequence.sequence_detect_all`` -- the
      parity test plants A-bursts and checks both emit identical pair
      sets (tests/test_streaming_extras.py).
    """

    def fn(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        (conv_id,) = key
        pdfs = [p for p in pdf_iter if not p.empty]
        if not pdfs:
            return
        g = pd.concat(pdfs, ignore_index=True)
        g = g[g["rule_id"].isin([rule_a, rule_b])]
        g = g.assign(_is_b=(g["rule_id"] == rule_b).astype(int))
        g = g.drop_duplicates(["turn_idx", "rule_id"]).sort_values(
            ["ts", "turn_idx", "_is_b"], kind="mergesort"
        )
        st = state.getOption
        buf: list[tuple[int, int]] = (
            list(zip(st[0], st[1])) if st is not None else []
        )
        # B's whose pairs were already emitted (cross-batch replay
        # guard); old 2-field state tuples have no b columns
        b_done: list[tuple[int, int]] = (
            list(zip(st[2], st[3]))
            if st is not None and len(st) > 3 and st[2] is not None
            else []
        )
        seen = {t for _, t in buf}
        seen_b = {t for _, t in b_done}
        out = []
        within_ns = within_ms * 1_000_000
        for row in g.itertuples(index=False):
            ts_ns = int(pd.Timestamp(row.ts).value)
            if row.rule_id == rule_b:
                if row.turn_idx in seen_b:
                    continue  # replayed B from an earlier batch
                b_done.append((ts_ns, int(row.turn_idx)))
                seen_b.add(row.turn_idx)
                for a_ts_ns, a_turn in buf:
                    # the equal-ts tie rule of the batch operator: an A
                    # at the same timestamp precedes B only when
                    # a_turn <= b_turn (matters for a cross-batch A
                    # that arrived before this B but sorts after it)
                    if (0 <= ts_ns - a_ts_ns <= within_ns) and not (
                        ts_ns == a_ts_ns and a_turn > row.turn_idx
                    ):
                        out.append(
                            (
                                conv_id,
                                int(a_turn),
                                int(row.turn_idx),
                                pd.Timestamp(a_ts_ns),
                                pd.Timestamp(ts_ns),
                            )
                        )
            else:
                if row.turn_idx not in seen:
                    buf.append((ts_ns, int(row.turn_idx)))
                    seen.add(row.turn_idx)
        wm_ns = state.getCurrentWatermarkMs() * 1_000_000
        if buf:
            # evict A's no future B (ts >= watermark) can reach, then
            # apply the hard cap newest-first
            buf = [a for a in buf if a[0] + within_ns >= wm_ns]
            buf.sort(key=lambda a: a[0])
            buf = buf[-max_as:]
        if b_done:
            # a replayed B reaches this operator only while its event
            # time is >= the watermark (Spark drops later replays
            # upstream of stateful ops), so the replay guard only needs
            # entries inside the horizon -- watermark eviction alone
            # bounds it. The cap is a last-resort skew guard and is
            # deliberately MUCH larger than max_as (the guard list is
            # two ints per B vs a recall contract for the A buffer): a
            # conv that emits more than 16*max_as B's inside one
            # watermark horizon can see duplicate pairs re-emitted for
            # its evicted (oldest) B's under at-least-once replay --
            # an explicit bounded-memory/exactness trade, newest wins
            b_done = [b for b in b_done if b[0] >= wm_ns]
            b_done.sort(key=lambda b: b[0])
            b_done = b_done[-16 * max_as:]
        if buf or b_done:
            state.update(
                (
                    [a[0] for a in buf],
                    [a[1] for a in buf],
                    [b[0] for b in b_done],
                    [b[1] for b in b_done],
                )
            )
            wm = state.getCurrentWatermarkMs()
            newest = max(x[0] for x in buf + b_done)
            state.setTimeoutTimestamp(
                max(newest // 1_000_000 + within_ms + 1000, wm + 1000)
            )
        elif st is not None:
            state.remove()
        if out:
            yield pd.DataFrame(
                out,
                columns=["conv_id", "a_turn_idx", "b_turn_idx", "a_ts", "b_ts"],
            )

    return matches.groupBy("conv_id").applyInPandasWithState(
        fn,
        outputStructType=SEQUENCE_SCHEMA,
        stateStructType=SEQ_ALL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def dedup_stream(stream: DataFrame, keys: list[str]) -> DataFrame:
    """T7 (the email-UID dedup, EmailMonitor.cs:214-217) as a streaming
    operator: drop duplicate keys within the watermark horizon --
    bounded state, exact within the horizon. Requires a watermark
    upstream."""
    return stream.dropDuplicatesWithinWatermark(keys)


def union_response_stream(
    turns: DataFrame, responses: DataFrame
) -> DataFrame:
    """S4 (the email-response feedback ingress): a second source stream
    unioned into the turn stream. ``responses`` must be transcript-
    shaped (role='response'); each source keeps its own watermark
    upstream; Spark takes the min across inputs."""
    return turns.unionByName(responses)


def drop_empty_turns(stream: DataFrame) -> DataFrame:
    """F1 (LogReader.cpp:102): empty lines never become events."""
    return stream.filter(F.length(F.trim(F.col("text"))) > 0)


def scrub_stream_text(stream: DataFrame) -> DataFrame:
    """Ingest-time PII redaction: REPLACE the turn's text with its
    scrubbed form (operators/text.with_pii_scrub -- pure codegen'd
    regexp_replace projection, no state, no shuffle) before any match,
    join, or sink, so raw PII never reaches rule extraction, rendered
    action values, or stored action rows. Stateless like the
    contamination gate, so the streaming and batch forms are the same
    expression -- parity pinned by
    tests/test_streaming_extras.py::test_pii_scrub_ingest_pipeline.
    Works on batch frames too (used there as the batch truth)."""
    from logeventprocessor_spark.operators.text import with_pii_scrub

    cols = stream.columns
    return (
        with_pii_scrub(stream)
        .withColumn("text", F.col("text_clean"))
        .select(*cols)
    )


def stream_join_context(
    matches: DataFrame,
    turns: DataFrame,
    watermark: str = "10 minutes",
    join_window: str = "10 minutes",
) -> DataFrame:
    """T5 as a true stateful STREAM-STREAM join: re-attach full turn
    context (role, tool) to the matched-events stream. Both sides carry
    watermarks; the time-range predicate bounds the join state so Spark
    can evict buffered rows (mandatory at 10^12-turn scale). This is
    the CROSS-turn operator; ``start_pipeline`` serves same-turn
    context by carrying it (module header).

    Reference analog: actions carry the original logLine forward
    (ActionManager.h:22, set at ActionManager.cpp:82).
    """
    m = matches.withWatermark("ts", watermark).alias("m")
    t = (
        turns.select("conv_id", "turn_idx", "role", "tool",
                     F.col("ts").alias("turn_ts"))
        .withWatermark("turn_ts", watermark)
        .alias("t")
    )
    return m.join(
        t,
        F.expr(
            f"""m.conv_id = t.conv_id AND m.turn_idx = t.turn_idx
                AND t.turn_ts BETWEEN m.ts - INTERVAL {join_window}
                                  AND m.ts + INTERVAL {join_window}"""
        ),
        "inner",
    ).select(
        "m.conv_id", "m.turn_idx", "m.rule_id", "m.rule_idx",
        "m.extracted", "m.text", "m.ts", "t.role", "t.tool",
    )


def build_match_stream(
    stream: DataFrame,
    rules: list[Rule],
    watermark: str = "10 minutes",
) -> DataFrame:
    """source stream -> rendered action rows (unsunk), the ``'state'``
    backend of ``start_pipeline``: zero-cooldown rules match straight
    into the output, cooldown-bearing rules go through the keyed
    ``applyInPandasWithState`` operator (``stream_cooldown``)."""
    # the DAG forks per branch and each branch re-executes its lineage
    # per micro-batch, so split the RULE SET (not the match output):
    # each branch regexes only its own rules -- total regex CPU stays
    # one-pass even though the (cheap, columnar) source scan runs per
    # branch
    hot_rules = [r for r in rules if r.enabled and r.cooldown_ms > 0]
    cold_rules = [r for r in rules if r.enabled and r.cooldown_ms == 0]
    parts = []
    if cold_rules:
        parts.append(match_turns(stream, cold_rules))
    if hot_rules:
        # the watermark must sit on the stateful operator's direct
        # input: mapInPandas produces a fresh event-time column, so
        # the marker is (re)declared on the matches stream
        mh = match_turns(stream, hot_rules).withWatermark("ts", watermark)
        parts.append(stream_cooldown(mh, hot_rules))
    m = parts[0]
    for p in parts[1:]:
        m = m.unionByName(p)
    return expand_steps(m, rules)


def _ack_rows(actions: DataFrame, ack_types: list[str]) -> DataFrame:
    """The ``acks`` table rows of a batch's action rows: one per step
    whose type is in ``ack_types``."""
    return actions.filter(F.col("action_type").isin(ack_types)).select(
        "conv_id", "turn_idx", "rule_id", "step_idx",
        F.lit("ack").alias("status"), "ts",
    )


def start_pipeline(
    spark: SparkSession,
    input_dir: str,
    rules: list[Rule] | str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "10 minutes",
    late_cutoff=None,
    available_now: bool = True,
    max_files_per_trigger: int | None = 1,
    ack_types: list[str] | None = None,
    state_store: str | None = None,
    cooldown_backend: str = "snapshot",
    with_context_join: bool = False,
    context_mode: str = "join",
    pii_scrub: bool = False,
    state_partitions: int | None = None,
):
    """Wire the full query and start it. Returns (query, sink).

    ``rules``: the rule list, or the path of a rules YAML file for T8
    hot reload (snapshot backend only; any other backend raises
    ``ValueError``). ``foreachBatch`` resolves ONE rule set per
    micro-batch on the driver -- the list itself, or
    ``load_rules_yaml(path)`` -- and runs match, cooldown gate, step
    rendering, sink and snapshot advance on that one list, so no
    batch mixes two rule versions, and a rule edit takes effect at the
    next batch without a restart while every key's cooldown history
    survives it (the reference swaps the rule set between events,
    main.cpp:185-241, and its cooldown map outlives the swap,
    ActionManager.h:148-150). Publish edits with
    ``rules.publish_rules`` so the driver never reads a half-written
    file. The snapshot eviction policy under a changing rule set is
    ``CooldownSnapshotState``'s. Checkpoints of the earlier
    executor-side reload pipeline hold cooldown history in Spark's
    state store, which this path does not read: start them fresh.

    ``pii_scrub``: redact PII at INGEST (``scrub_stream_text``) so no
    raw PII reaches rule extraction, rendered values, or the sink --
    note this changes match semantics by design (a rule extracting an
    email no longer fires once the email is a ``<EMAIL>`` token).

    ``with_context_join`` (snapshot backend only): every sink row
    carries its own turn's role/tool. The matched turn's columns ride
    through the match operator's Arrow boundary
    (``match_turns(carry_cols=...)``, one zero-copy ``pc.take`` per
    column), then THROUGH the cooldown gate and step expansion as
    pass-through columns (the gate's keyed scan only reads
    conv_id/rule_id/ts and only ever drops rows). So the action rows
    equal the plain pipeline's, late zero-cooldown matches included,
    with one source scan and no join state. A stream-stream join
    cannot share that scan (module header), so the T5 join
    (``stream_join_context``) is left to CROSS-turn enrichment.

    ``context_mode``: ``"join"`` or ``"carry"``. Both select the carry
    plan above; the parameter stays for callers that name a mode.
    Any other value raises ``ValueError``. Checkpoints written by the
    earlier ``"join"`` plan (two sources plus join state) cannot be
    resumed: Spark's offset log refuses a query with fewer sources
    ("There are [2] sources in the checkpoint offsets and now there
    are [1]"). Start such a query on a fresh checkpoint.

    ``state_partitions``: shuffle-partition count pinned into THIS
    query's checkpoint at first start (Spark reads the session conf at
    query planning; the session value is restored right after
    ``start()``). On the snapshot backend the streaming plan holds no
    stateful operator, so it sizes only the gate/advance shuffles run
    inside ``foreachBatch``. On the ``'state'`` backend it also sets
    the partition count of the cooldown state stores, each paying a
    FIXED open/commit/maintenance cost per micro-batch: size it to the
    per-trigger state volume, not the core count.

    ``ack_types``: action types that additionally produce an ``acks``
    row (K4, the reference's acknowledgment email after processing a
    response, ActionSender.cpp:741-764) -- written to a second logical
    table inside the SAME micro-batch write (multi-table exactly-once).

    ``state_store='rocksdb'``: spillable off-heap keyed state (the
    10^12-turn backend -- HDFS-backed in-memory state cannot hold one
    entry per active (conv_id, rule_id)). Session-level conf; keep it
    constant for the lifetime of a checkpoint.

    ``cooldown_backend`` selects the T1 keyed-state realization (pinned
    identical by tests/test_streaming.py::test_cooldown_backends_agree):

    * ``'snapshot'`` (default, the throughput path): the streaming DAG
      is ``readStream -> (pii scrub) -> (late cutoff) -> foreachBatch``;
      ONE match pass over all rules, then cooldown as a seeded batch
      ``mapInArrow``, both inside ``foreachBatch``, with per-batch-id
      parquet state snapshots (streaming/batch_state.py). Measured at
      local[32] by a since-deleted probe (historical, see
      BENCH/BASELINE.md): applyInPandasWithState cost ~3-4 s FIXED per
      trigger at 32 partitions even with zero rows; this backend
      removes that floor and the hot/cold double source scan.
    * ``'state'``: the store-native form -- hot/cold rule split with
      ``applyInPandasWithState`` eviction timers (build_match_stream),
      the one keyed-state backend; both call the same ``greedy_keep``
      kernel.

    Any other ``cooldown_backend`` raises ``ValueError``.
    """
    if cooldown_backend not in ("snapshot", "state"):
        raise ValueError(
            f"cooldown_backend must be 'snapshot' or 'state', "
            f"got {cooldown_backend!r}"
        )
    if context_mode not in ("join", "carry"):
        raise ValueError(
            f"context_mode must be 'join' or 'carry', got {context_mode!r}"
        )
    if isinstance(rules, str) and cooldown_backend != "snapshot":
        raise ValueError(
            f"a rules path (hot reload) must be served by the 'snapshot' "
            f"cooldown backend, got {cooldown_backend!r}"
        )
    if with_context_join and cooldown_backend != "snapshot":
        raise ValueError(
            "with_context_join is implemented for the snapshot "
            "backend (use stream_join_context directly otherwise)"
        )
    if state_store == "rocksdb":
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
    stream = read_transcripts_stream(spark, input_dir, max_files_per_trigger)
    if pii_scrub:
        stream = scrub_stream_text(stream)
    if late_cutoff is not None:
        stream = stream.filter(F.col("ts") >= F.lit(late_cutoff))
    sink = ParquetUpsertSink(out_dir)

    if cooldown_backend == "snapshot":
        import os as _os

        from logeventprocessor_spark.streaming.batch_state import (
            CooldownSnapshotState,
            delay_to_ms,
        )

        batches = stream
        cool = CooldownSnapshotState(
            spark,
            _os.path.join(out_dir, "cooldown_state"),
            delay_to_ms(watermark),
        )
        carry = ("role", "tool") if with_context_join else ()

        def process(df: DataFrame, batch_id: int) -> None:
            # ONE cache (the gated matches) and two phases that run
            # jobs: (1) the sink write, which also populates the cache
            # and computes the watermark's max event time for free via
            # Observation; (2) advance, the fires agg + snapshot write.
            # Jobs per batch, counted from status-store job ids around
            # each phase of perfbench's stream_join input (local[4],
            # AQE on): 5 without a prior snapshot (write 3, advance 2)
            # and 7 with one (write 4, with the prior's broadcast;
            # advance 3). Reading the prior runs none. A previous shape
            # (cache raw matches AND gated, separate max-ts job)
            # measured ~3.7 s of fixed per-batch work that capped
            # streaming scaling (BENCH/BASELINE.md).
            #
            # Context (role/tool) rides THROUGH the gate and the step
            # expansion as pass-through columns (apply_cooldown's
            # output schema mirrors its input; expand_steps appends
            # extra_cols) -- a previous shape split the context off,
            # dropDuplicates'd it, and re-joined after expansion,
            # costing a persist of the raw frame plus an extra
            # exchange+agg and a join PER MICRO-BATCH for values the
            # rows already carried.
            from pyspark.sql import Observation

            # the batch's ONE rule set: every step below sees it
            batch_rules = (
                load_rules_yaml(rules) if isinstance(rules, str) else rules
            )
            matches = match_turns(
                df,
                [r for r in batch_rules if r.enabled],
                carry_cols=carry,
            )
            gated = cool.gate(matches, batch_id, batch_rules).persist()
            try:
                obs = Observation(f"wm_{batch_id}")
                # watermark source = HOT-rule event time only, matching
                # the store backend (its withWatermark sits on the hot
                # match stream; cold rows must not advance eviction)
                hot_ids = list(hot_cooldowns(batch_rules))
                wm_src = F.when(
                    F.col("rule_id").isin(hot_ids), F.col("ts")
                )
                out = expand_steps(
                    gated.observe(obs, F.max(wm_src).alias("max_ts")),
                    batch_rules,
                    extra_cols=carry,
                )
                sink.write(out, batch_id)
                if ack_types:
                    sink.write_table(
                        "acks", _ack_rows(out, ack_types), batch_id
                    )
                cool.advance(
                    gated, batch_id, batch_rules, max_ts=obs.get["max_ts"]
                )
            finally:
                gated.unpersist()
    else:
        batches = build_match_stream(stream, rules, watermark)

        if ack_types:
            def process(df: DataFrame, batch_id: int) -> None:
                df = df.persist()
                try:
                    sink.write(df, batch_id)
                    sink.write_table(
                        "acks", _ack_rows(df, ack_types), batch_id
                    )
                finally:
                    df.unpersist()
        else:
            process = sink.foreach_batch()

    writer = (
        batches.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    if state_partitions is None:
        return writer.start(), sink
    # pinned into THIS query at start; the session value is restored
    # right after start()
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key, None)
    spark.conf.set(key, str(state_partitions))
    try:
        q = writer.start()
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    return q, sink
