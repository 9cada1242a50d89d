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
      -> foreachBatch(run_micro_batch)

  and ``run_micro_batch`` resolves ONE rule set per micro-batch on the
  driver, then runs match (M1/M2) -> cooldown gate (T1, seeded by a
  parquet snapshot, streaming/batch_state.py) -> steps + render
  (T3/T4/M3) -> ParquetUpsertSink (T2 + T6/K1) -> snapshot advance on
  that one list.

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

import functools
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
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
from logeventprocessor_spark.operators.sequence import sequence_step
from logeventprocessor_spark.operators.steps import expand_steps
from logeventprocessor_spark.rules import Rule, load_rules_yaml
from logeventprocessor_spark.schema import MATCHES_SCHEMA, TRANSCRIPTS_SCHEMA
from logeventprocessor_spark.streaming.batch_state import (
    CooldownSnapshotState,
    delay_to_ms,
)
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

SEQ_ALL_STATE_SCHEMA = T.StructType(
    [
        T.StructField("a_ts_ns", T.ArrayType(T.LongType()), True),
        T.StructField("a_turn", T.ArrayType(T.IntegerType()), True),
        # B turns already emitted, kept within the watermark horizon:
        # an at-least-once source replaying a B row in a LATER batch
        # must not re-emit its pairs (the batch operators' .distinct()
        # dedups globally). UnsafeRow state encoding validates at query
        # start, so a checkpoint written under another state shape
        # needs a fresh start (sink is batch-id idempotent; bounded
        # source replay is safe).
        T.StructField("b_ts_ns", T.ArrayType(T.LongType()), True),
        T.StructField("b_turn", T.ArrayType(T.IntegerType()), True),
    ]
)

# A-list cap of both sequence detectors (``max_as``); the B replay
# guard keeps 16x as many entries
SEQ_MAX_AS = 64


def _stream_sequence(matches, rule_a, rule_b, within_ms, every_a, max_as):
    """Both streaming sequence detectors: ``applyInPandasWithState``
    keyed by conv_id over ``operators.sequence.sequence_step``, with
    SEQ_ALL_STATE_SCHEMA state, timed out once the watermark passes
    the newest stored ts + within_ms."""
    within_ns = within_ms * 1_000_000

    def fn(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        pdfs = [p for p in pdf_iter if not p.empty]
        if not pdfs:
            return
        g = pd.concat(pdfs, ignore_index=True)
        ts, turn = _epoch_ns(g["ts"]), g["turn_idx"].to_numpy(np.int64)
        is_a = (g["rule_id"] == rule_a).to_numpy()
        is_b = (g["rule_id"] == rule_b).to_numpy()
        st = state.getOption
        prior = [np.asarray(c, np.int64) for c in st or ([],) * 4]
        wm = state.getCurrentWatermarkMs()
        pairs, (next_a, next_b) = sequence_step(
            (ts[is_a], turn[is_a]),
            (ts[is_b], turn[is_b]),
            prior[:2],
            prior[2:],
            every_a,
            within_ns,
            wm * 1_000_000,
            max_as,
        )
        stored_ts = np.concatenate([next_a[0], next_b[0]])
        if len(stored_ts):
            state.update(tuple(c.tolist() for c in next_a + next_b))
            state.setTimeoutTimestamp(
                max(int(stored_ts.max()) // 1_000_000 + within_ms + 1000, wm + 1000)
            )
        elif st is not None:
            state.remove()
        if len(pairs[0]):
            a_ts, a_turn, b_ts, b_turn = pairs
            yield pd.DataFrame(
                {
                    "conv_id": key[0],
                    "a_turn_idx": a_turn,
                    "b_turn_idx": b_turn,
                    "a_ts": a_ts.astype("datetime64[ns]"),
                    "b_ts": b_ts.astype("datetime64[ns]"),
                }
            )

    return matches.groupBy("conv_id").applyInPandasWithState(
        fn,
        outputStructType=SEQUENCE_SCHEMA,
        stateStructType=SEQ_ALL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def stream_sequence_detect(
    matches: DataFrame, rule_a: str, rule_b: str, within_ms: int
) -> DataFrame:
    """Streaming T3-generalized: "rule A followed by rule B within
    within_ms", keyed by conv_id (the reference's chained-matcher
    semantics, ActionManager.cpp:188-199, as a CEP sequence operator).
    Emits (conv, a_turn, b_turn, a_ts, b_ts) with the LATEST qualifying
    A per B; batch oracle ``operators.sequence.sequence_detect``.

    State is that of ``stream_sequence_detect_all`` (the A list capped
    at SEQ_MAX_AS, and the B replay guard), so a checkpoint written by
    the earlier one-A state needs a fresh start.

    Arrival-order contract: a B pairs with the latest A that precedes
    it among the A's that arrived in an earlier micro-batch or in its
    own. A@10s and A@20s in one batch, then B@15s in the next, emits
    (A@10s, B@15s); an A arriving after its B never pairs with it."""
    return _stream_sequence(matches, rule_a, rule_b, within_ms, False, SEQ_MAX_AS)


def stream_sequence_detect_all(
    matches: DataFrame,
    rule_a: str,
    rule_b: str,
    within_ms: int,
    max_as: int = SEQ_MAX_AS,
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
    * B replay guard -- emitted B turns inside the watermark horizon,
      capped at ``16 * max_as``, newest first: a conv emitting more
      B's than that inside one horizon can re-emit pairs for its
      oldest B's under at-least-once replay (bounded memory over
      exactness);
    * batch oracle: ``operators.sequence.sequence_detect_all`` -- the
      parity test plants A-bursts and checks both emit identical pair
      sets (tests/test_streaming.py).

    Arrival-order contract: a B pairs with the preceding A's that
    arrived in an earlier micro-batch or in its own. B@15s in one
    batch, then A@10s in the next, emits nothing: a B is not kept for
    A's that arrive after it."""
    return _stream_sequence(matches, rule_a, rule_b, within_ms, True, max_as)


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
    """F1 (LogReader.cpp:102): empty lines never become events; a
    line of whitespace alone counts as empty."""
    from logeventprocessor_spark.operators.text import ws_norm

    return stream.filter(F.length(ws_norm(F.col("text"))) > 0)


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


def run_micro_batch(
    df: DataFrame, batch_id: int, *, rules: list[Rule] | str,
    sink: ParquetUpsertSink, cool: CooldownSnapshotState,
    carry: tuple[str, ...] = (), ack_types: list[str] | None = None,
) -> None:
    """The snapshot backend's body for one micro-batch of turns
    (TRANSCRIPTS_SCHEMA, a streaming batch or a static frame).

    Resolves ONE rule set on the driver (the list, or
    ``load_rules_yaml(rules)``) and runs match (``carry`` columns ride
    through the Arrow boundary) -> ``cool.gate`` -> ``expand_steps`` ->
    ``sink.write`` (+ the ``acks`` table for ``ack_types``) ->
    ``cool.advance`` on it. So no batch mixes two rule versions, and a
    rule edit takes effect at the next batch while every key's
    cooldown history survives it (the reference swaps the rule set
    between events, main.cpp:185-241, and its cooldown map outlives
    the swap, ActionManager.h:148-150). A replay of ``batch_id``
    rewrites the same sink and snapshot directories.

    Arrival-order contract: a key's fires are gated in batch order
    across micro-batches and in ``(ts, turn_idx)`` order within one. A
    hot-rule fire event-time-earlier than its key's kept fire from an
    earlier batch has a negative gap and is suppressed: under a 60 s
    cooldown, fire@100s in batch 0 then fire@0s in batch 1 sinks only
    the 100 s turn, where ``oracle.oracle_matches`` keeps both.
    Hot-rule rows behind the snapshot watermark are dropped; cold-rule
    rows never are."""
    # ONE cache (the gated matches) and two phases that run jobs: (1)
    # the sink write, which also populates the cache and computes the
    # watermark's max event time for free via Observation; (2) advance,
    # one max-merge agg + snapshot write. Jobs per batch, counted from
    # status-store job ids around each phase of perfbench's stream_join
    # input (local[4], AQE on): 5 without a prior snapshot (write 3,
    # advance 2) and 6 with one (write 4, with the prior's broadcast;
    # advance 2). An advance with a prior and no hot-rule row runs 1
    # (the write); reading the prior runs none, and neither does an
    # advance with no hot-rule row and no prior. Caching the raw
    # matches too, with a separate max-ts job, measured ~3.7 s of fixed
    # per-batch work (BENCH/BASELINE.md).
    #
    # Context (role/tool) rides THROUGH the gate and the step expansion
    # as pass-through columns (apply_cooldown's output schema mirrors
    # its input; expand_steps appends extra_cols): splitting it off and
    # re-joining it after expansion cost a persist, an exchange+agg and
    # a join per micro-batch for values the rows already carry.
    batch_rules = load_rules_yaml(rules) if isinstance(rules, str) else rules
    matches = match_turns(
        df, [r for r in batch_rules if r.enabled], carry_cols=carry
    )
    gated = cool.gate(matches, batch_id, batch_rules).persist()
    try:
        obs = Observation(f"wm_{batch_id}")
        # watermark source = HOT-rule event time only, matching the
        # store backend (its withWatermark sits on the hot match
        # stream; cold rows must not advance eviction)
        hot_ids = list(hot_cooldowns(batch_rules))
        wm_src = F.when(F.col("rule_id").isin(hot_ids), F.col("ts"))
        out = expand_steps(
            gated.observe(obs, F.max(wm_src).alias("max_ts")),
            batch_rules,
            extra_cols=carry,
        )
        sink.write(out, batch_id)
        if ack_types:
            sink.write_table("acks", _ack_rows(out, ack_types), batch_id)
        cool.advance(gated, batch_id, batch_rules, obs.get["max_ts"])
    finally:
        gated.unpersist()


def _write_with_acks(df: DataFrame, batch_id: int, *, sink, ack_types) -> None:
    """The ``'state'`` backend's sink step when ``ack_types`` is set:
    the action rows, then their ``acks`` rows, from one cached frame."""
    df = df.persist()
    try:
        sink.write(df, batch_id)
        sink.write_table("acks", _ack_rows(df, ack_types), batch_id)
    finally:
        df.unpersist()


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
    cooldown_backend: str = "snapshot",
    with_context_join: bool = False,
    context_mode: str = "join",
    pii_scrub: bool = False,
    state_partitions: int | None = None,
):
    """Wire the full query and start it. Returns (query, sink).

    ``rules``: the rule list, or the path of a rules YAML file for T8
    hot reload (snapshot backend only; any other backend raises
    ``ValueError``), resolved once per micro-batch by
    ``run_micro_batch``. Publish edits with ``rules.publish_rules`` so
    the driver never reads a half-written file. Checkpoints of the
    earlier executor-side reload pipeline hold cooldown history in
    Spark's state store, which this path does not read: start them
    fresh.

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

    ``cooldown_backend`` selects the T1 keyed-state realization (pinned
    identical by tests/test_streaming.py::test_cooldown_backends_agree):

    * ``'snapshot'`` (default, the throughput path): ``run_micro_batch``
      (module header), whose cooldown is a seeded batch ``mapInArrow``
      over per-batch-id parquet state snapshots. Measured at
      local[32] by a since-deleted probe (historical, see
      BENCH/BASELINE.md): applyInPandasWithState cost ~3-4 s FIXED per
      trigger at 32 partitions even with zero rows; this backend
      removes that floor and the hot/cold double source scan.
    * ``'state'``: the store-native form -- hot/cold rule split with
      ``applyInPandasWithState`` eviction timers (build_match_stream),
      the one keyed-state backend; both call the same ``greedy_keep``
      kernel. Its store provider is the session conf
      ``spark.sql.streaming.stateStore.providerClass`` (RocksDB's
      spills off-heap, for one entry per active (conv_id, rule_id) at
      10^12-turn scale): set it before the first start and keep it for
      the lifetime of the checkpoint.

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
    stream = read_transcripts_stream(spark, input_dir, max_files_per_trigger)
    if pii_scrub:
        stream = scrub_stream_text(stream)
    if late_cutoff is not None:
        stream = stream.filter(F.col("ts") >= F.lit(late_cutoff))
    sink = ParquetUpsertSink(out_dir)

    if cooldown_backend == "snapshot":
        batches = stream
        cool = CooldownSnapshotState(
            spark, os.path.join(out_dir, "cooldown_state"), delay_to_ms(watermark)
        )
        process = functools.partial(
            run_micro_batch,
            rules=rules,
            sink=sink,
            cool=cool,
            carry=("role", "tool") if with_context_join else (),
            ack_types=ack_types,
        )
    else:
        batches = build_match_stream(stream, rules, watermark)
        process = (
            functools.partial(_write_with_acks, sink=sink, ack_types=ack_types)
            if ack_types
            else sink.write
        )

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
