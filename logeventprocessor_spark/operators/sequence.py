"""A-then-B sequence detection (SURVEY.md 2.5 T3 generalized).

"Rule A fired, then rule B fired in the same conversation within
``within_ms``" -- the reference's chained-matcher semantics
(ActionManager.cpp:188-199: step B follows step A after a delay)
promoted to a CEP sequence operator across turns. An A precedes a B
iff ``(a_ts, a_turn) <= (b_ts, b_turn)`` and ``b_ts - a_ts <=
within_ms``. Two event-selection policies: each B pairs with the
LATEST preceding A, or with EVERY one.

Batch realization is pure Spark: ``sequence_detect`` (latest A) is a
running ``last`` over the per-conversation event-time order, one
shuffle on conv_id and no Python; ``sequence_detect_all`` (every A)
is a time-bounded interval join.

``sequence_step`` is the ONE streaming kernel: both
``applyInPandasWithState`` detectors (streaming/pipeline.py) call it
once per key and micro-batch with one state shape, the bounded A list
plus the emitted-B replay guard; the policy only decides how many of
a B's candidate A's it pairs with. Tests pin the kernel against both
pure-Python oracles.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sequence_detect_all(
    matches: DataFrame, rule_a: str, rule_b: str, within_ms: int
) -> DataFrame:
    """EVERY-A-pairs semantics (round-3 verdict task #8): each B-fire
    pairs with EVERY preceding A-fire within ``within_ms`` -- the other
    CEP contract real users ask for next to ``sequence_detect``'s
    "latest qualifying A". Same tie rule: at identical (ts, turn_idx)
    the A counts as preceding.

    Batch realization is a time-bounded equi-join on conv_id (the
    interval-join shape): one shuffle per side, the time bound prunes
    inside the join's codegen stage. The per-key output is inherently
    |A|x|B| for clustered fires -- at 100 TB the bound keeps the fan-out
    proportional to the true answer, not the key size."""
    evts = (
        matches.filter(F.col("rule_id").isin(rule_a, rule_b))
        .select("conv_id", "turn_idx", "rule_id", "ts")
        .distinct()
    )
    a = evts.filter(F.col("rule_id") == rule_a).select(
        "conv_id",
        F.col("turn_idx").alias("a_turn_idx"),
        F.col("ts").alias("a_ts"),
    )
    b = evts.filter(F.col("rule_id") == rule_b).select(
        "conv_id",
        F.col("turn_idx").alias("b_turn_idx"),
        F.col("ts").alias("b_ts"),
    )
    # gap as EXACT integer microseconds (never a double subtraction of
    # epoch-scale casts: ~2.4e-7 s float resolution can flip a pair
    # landing exactly on the bound against the oracle's INTERVAL math)
    gap_us = F.unix_micros(F.col("b_ts").cast("timestamp")) - F.unix_micros(
        F.col("a_ts").cast("timestamp")
    )
    precedes = (F.col("a_ts") < F.col("b_ts")) | (
        (F.col("a_ts") == F.col("b_ts"))
        & (F.col("a_turn_idx") <= F.col("b_turn_idx"))
    )
    return a.join(b, "conv_id").filter(
        precedes & (gap_us <= within_ms * 1000)
    ).select("conv_id", "a_turn_idx", "b_turn_idx", "a_ts", "b_ts")


def sequence_detect(
    matches: DataFrame, rule_a: str, rule_b: str, within_ms: int
) -> DataFrame:
    """matches (MATCHES_SCHEMA-like; needs conv_id, turn_idx, rule_id,
    ts) -> (conv_id, a_turn_idx, b_turn_idx, a_ts, b_ts) pairs: for
    each B-fire, the LATEST A-fire with 0 <= ts_b - ts_a <= within_ms.
    """
    evts = (
        matches.filter(F.col("rule_id").isin(rule_a, rule_b))
        .select("conv_id", "turn_idx", "rule_id", "ts")
        .distinct()
        .withColumn("is_b", F.when(F.col("rule_id") == rule_b, 1).otherwise(0))
    )
    # At identical (ts, turn_idx) an A sorts before a B so a same-turn
    # A qualifies as "preceding" (ts_a <= ts_b), matching the oracle.
    w = (
        Window.partitionBy("conv_id")
        .orderBy("ts", "turn_idx", "is_b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    a_ts = F.when(F.col("is_b") == 0, F.col("ts"))
    a_turn = F.when(F.col("is_b") == 0, F.col("turn_idx"))
    out = (
        evts.withColumn("a_ts", F.last(a_ts, ignorenulls=True).over(w))
        .withColumn("a_turn_idx", F.last(a_turn, ignorenulls=True).over(w))
        .filter(
            (F.col("is_b") == 1)
            & F.col("a_ts").isNotNull()
            # exact integer-microsecond gap; cast through TIMESTAMP
            # first (parquet NTZ timestamps cannot feed unix_micros
            # directly), never a double subtraction of epoch-scale
            # casts whose ~2.4e-7 s resolution flips boundary pairs
            & (
                (
                    F.unix_micros(F.col("ts").cast("timestamp"))
                    - F.unix_micros(F.col("a_ts").cast("timestamp"))
                )
                <= within_ms * 1000
            )
        )
        .select(
            "conv_id",
            "a_turn_idx",
            F.col("turn_idx").alias("b_turn_idx"),
            "a_ts",
            F.col("ts").alias("b_ts"),
        )
    )
    return out


def _new_turns(ts, turn, seen):
    """(ts, turn) of the first row of each turn not in ``seen``."""
    _, first = np.unique(turn, return_index=True)
    first = first[~np.isin(turn[first], seen)]
    return ts[first], turn[first]


def sequence_step(a, b, prior_a, prior_b, every_a, within_ns, wm_ns, cap):
    """One key's micro-batch of the streaming A-then-B detectors.

    ``a`` and ``b`` are this batch's A and B fires, ``prior_a`` the
    key's buffered A's and ``prior_b`` its already-emitted B's, each a
    ``(ts_ns, turn)`` pair of int64 arrays; a turn seen before counts
    once (a replayed B emits nothing). Every new B pairs with the
    buffered or new A's that precede it within ``within_ns``: all of
    them when ``every_a``, else the latest. Returns the pairs as
    ``(a_ts, a_turn, b_ts, b_turn)`` arrays and the next
    ``(prior_a, prior_b)``: A's no B at or after the watermark
    ``wm_ns`` can reach are evicted and the newest ``cap`` kept; B's
    behind the watermark are evicted and the newest ``16 * cap``
    kept."""
    a_ts, a_turn = _new_turns(*a, prior_a[1])
    b_ts, b_turn = _new_turns(*b, prior_b[1])
    ts = np.concatenate([prior_a[0], a_ts, b_ts])
    turn = np.concatenate([prior_a[1], a_turn, b_turn])
    is_b = np.arange(len(ts)) >= len(ts) - len(b_ts)
    # (ts, turn, is_b) order: at an identical (ts, turn) the A comes
    # first, so the A's counted before a B are exactly those preceding it
    o = np.lexsort((is_b, turn, ts))
    hi = np.cumsum(~is_b[o])[is_b[o]]
    pool_ts, pool_turn = ts[o[~is_b[o]]], turn[o[~is_b[o]]]
    b_ts, b_turn = ts[o[is_b[o]]], turn[o[is_b[o]]]
    lo = np.searchsorted(pool_ts, b_ts - within_ns, "left")
    n = np.maximum(hi - lo, 0)
    if not every_a:
        n = np.minimum(n, 1)
    # pair k of a B takes pool index hi - n + k
    a_idx = np.repeat(hi - n - (np.cumsum(n) - n), n) + np.arange(n.sum())
    b_idx = np.repeat(np.arange(len(b_ts)), n)
    pairs = (pool_ts[a_idx], pool_turn[a_idx], b_ts[b_idx], b_turn[b_idx])
    live = pool_ts + within_ns >= wm_ns
    next_a = (pool_ts[live][-cap:], pool_turn[live][-cap:])
    done_ts = np.concatenate([prior_b[0], b_ts])
    done_turn = np.concatenate([prior_b[1], b_turn])
    o = np.argsort(done_ts, kind="stable")
    o = o[done_ts[o] >= wm_ns][-16 * cap:]
    return pairs, (next_a, (done_ts[o], done_turn[o]))
