"""Cooldown keyed-state operator edge cases (SURVEY.md 5.2 #2, T1)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from logeventprocessor_spark.generator import transcripts_df
from logeventprocessor_spark.operators.cooldown import (
    NO_PRIOR,
    _epoch_ns,
    apply_cooldown,
    greedy_keep,
)
from logeventprocessor_spark.operators.match import match_turns
from logeventprocessor_spark.oracle import oracle_matches
from logeventprocessor_spark.rules import Rule, RuleStep


def _turns(spark, texts_ts: list[tuple[str, str]], conv="c"):
    pdf = pd.DataFrame(
        {
            "conv_id": [conv] * len(texts_ts),
            "turn_idx": pd.array(range(len(texts_ts)), dtype="int32"),
            "role": ["user"] * len(texts_ts),
            "text": [t for t, _ in texts_ts],
            "tool": [""] * len(texts_ts),
            "ts": pd.to_datetime([ts for _, ts in texts_ts], format="mixed"),
        }
    )
    return pdf, transcripts_df(spark, pdf)


RULES = [
    Rule("ping", 0, "ping", cooldown_ms=5000, steps=(RuleStep(0, "command", "ack"),))
]


def test_exact_boundary_fires(spark):
    """elapsed == cooldown -> fires (>= semantics, pinned by oracle)."""
    pdf, turns = _turns(
        spark,
        [
            ("ping 1", "2024-03-01 00:00:00"),
            ("ping 2", "2024-03-01 00:00:05"),  # exactly 5000 ms -> fires
            ("ping 3", "2024-03-01 00:00:09.999"),  # 4999 ms -> suppressed
        ],
    )
    got = apply_cooldown(match_turns(turns, RULES), RULES).toPandas()
    assert sorted(got["turn_idx"].tolist()) == [0, 1]
    exp = oracle_matches(pdf, RULES)
    assert sorted(exp["turn_idx"].tolist()) == [0, 1]


def test_suppressed_fire_does_not_reset_clock(spark):
    """t=0 fires; t=3s suppressed; t=6s fires BECAUSE the clock runs
    from t=0, not from the suppressed t=3s (ActionManager.cpp:96-110
    only updates the map on an actual fire)."""
    pdf, turns = _turns(
        spark,
        [
            ("ping a", "2024-03-01 00:00:00"),
            ("ping b", "2024-03-01 00:00:03"),
            ("ping c", "2024-03-01 00:00:06"),
        ],
    )
    got = apply_cooldown(match_turns(turns, RULES), RULES).toPandas()
    assert sorted(got["turn_idx"].tolist()) == [0, 2]
    exp = oracle_matches(pdf, RULES)
    assert sorted(exp["turn_idx"].tolist()) == [0, 2]


def test_cooldown_keyed_per_conversation(spark):
    """Simultaneous fires in different conversations don't suppress
    each other (key = (conv_id, rule_id))."""
    pdf_a, _ = _turns(spark, [("ping", "2024-03-01 00:00:00")], conv="a")
    pdf_b, _ = _turns(spark, [("ping", "2024-03-01 00:00:01")], conv="b")
    pdf = pd.concat([pdf_a, pdf_b], ignore_index=True)
    turns = transcripts_df(spark, pdf)
    got = apply_cooldown(match_turns(turns, RULES), RULES).toPandas()
    assert len(got) == 2


def test_zero_cooldown_is_off(spark):
    rules = [Rule("ping", 0, "ping", cooldown_ms=0,
                  steps=(RuleStep(0, "command", "ack"),))]
    _, turns = _turns(
        spark,
        [("ping", "2024-03-01 00:00:00"), ("ping", "2024-03-01 00:00:00.001")],
    )
    got = apply_cooldown(match_turns(turns, rules), rules).toPandas()
    assert len(got) == 2


def test_prior_fire_before_1970_still_suppresses(spark):
    """A seed at a NEGATIVE epoch-ns timestamp is a real prior fire, not
    "no prior": the store backend keeps such a ``last_fire_ns``, so the
    snapshot backend's seed must too."""
    _, turns = _turns(spark, [("ping", "1969-12-31 23:59:59")])
    matches = match_turns(turns, RULES)
    prior = spark.createDataFrame(
        [("c", "ping", int(pd.Timestamp("1969-12-31 23:59:58").value))],
        "conv_id string, rule_id string, prior_ns long",
    )
    assert apply_cooldown(matches, RULES).count() == 1
    assert apply_cooldown(matches, RULES, prior=prior).count() == 0


def test_greedy_keep_carries_seed_across_calls():
    """A run's last fire seeds the next call's scan -- the contract the
    streaming backends rely on across micro-batches."""

    def ns(s: str) -> int:
        return int(pd.Timestamp(f"2024-03-01 00:00:{s}").value)

    first = greedy_keep([ns("00")], [0], [5_000_000_000], [NO_PRIOR])
    assert first.tolist() == [True]
    second = greedy_keep([ns("03"), ns("06")], [0], [5_000_000_000], [ns("00")])
    assert second.tolist() == [False, True]


def test_epoch_ns_tz_aware_is_epoch_based():
    """tz-aware frames must normalize to UTC EPOCH ns, not wall time:
    the streaming backends seed the scan from JVM unix_micros (UTC
    epoch), so a non-UTC tz-aware frame dropped to wall time would skew
    every cross-batch cooldown by the tz offset (round-4 advice)."""
    base = pd.Timestamp("2024-03-01 00:00:00", tz="UTC")
    # same instants rendered in a +05:00 zone, at Arrow's us unit
    ts = pd.Series(
        [base + pd.Timedelta(seconds=s) for s in (0, 3, 6)]
    ).dt.tz_convert("Asia/Karachi").dt.as_unit("us")
    ts_ns = _epoch_ns(ts)
    assert ts_ns.tolist() == [
        int((base + pd.Timedelta(seconds=s)).value) for s in (0, 3, 6)
    ]
    # seed: a fire at base-4s -> +0s is inside the 5 s cooldown (gap
    # 4s), +3s fires (gap 7s), +6s is suppressed (gap 3s). A wall-time
    # skew (every ts 5h past the seed) would instead fire turn 0.
    seed = int((base - pd.Timedelta(seconds=4)).value)
    keep = greedy_keep(ts_ns, [0], [5_000_000_000], [seed])
    assert keep.tolist() == [False, True, False]


def _two_rules(cd_ping: int, cd_pong: int) -> list[Rule]:
    step = (RuleStep(0, "command", "ack"),)
    return [
        Rule("ping", 0, "ping", cooldown_ms=cd_ping, steps=step),
        Rule("pong", 1, "pong", cooldown_ms=cd_pong, steps=step),
    ]


# microsecond offsets: a grid of exact 1001 ms steps (ties, and gaps
# that equal a 1001 ms cooldown exactly) mixed with arbitrary values
_OFFSET_US = st.one_of(
    st.integers(0, 12).map(lambda k: k * 1_001_000),
    st.integers(0, 15_000_000),
)
_COOLDOWN_MS = st.one_of(st.just(1001), st.integers(1, 6000))


@settings(derandomize=True, deadline=None, max_examples=150)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.sampled_from(["ping", "pong", "ping pong"]),
            _OFFSET_US,
        ),
        min_size=1,
        max_size=30,
    ),
    cd_ping=_COOLDOWN_MS,
    cd_pong=_COOLDOWN_MS,
    split_us=_OFFSET_US,
    tz=st.sampled_from([None, "Asia/Karachi", "America/New_York"]),
)
def test_greedy_keep_matches_oracle(rows, cd_ping, cd_pong, split_us, tz):
    """``greedy_keep`` keeps exactly the fires the oracle does not mark
    ``suppressed_by_cooldown``, over several (conv_id, rule_id) keys,
    with the rows split at an event time into two batches -- the second
    seeded with each key's last fire from the first."""
    base = pd.Timestamp("2024-03-01")
    turns = pd.DataFrame(
        {
            "conv_id": [c for c, _, _ in rows],
            "turn_idx": range(len(rows)),
            "text": [t for _, t, _ in rows],
            "ts": [base + pd.Timedelta(microseconds=us) for _, _, us in rows],
        }
    )
    exp = (
        oracle_matches(turns, _two_rules(cd_ping, cd_pong), include_suppressed=True)
        .sort_values(["conv_id", "rule_id", "ts", "turn_idx"], kind="mergesort")
        .reset_index(drop=True)
    )
    ts = exp["ts"]
    if tz is not None:
        ts = ts.dt.tz_localize("UTC").dt.tz_convert(tz)
    ts_ns = _epoch_ns(ts)
    keys = list(zip(exp["conv_id"], exp["rule_id"]))
    cd_ns = {"ping": cd_ping * 1_000_000, "pong": cd_pong * 1_000_000}

    keep = np.zeros(len(exp), dtype=bool)
    last: dict = {}
    first = ts_ns < base.value + split_us * 1000
    for batch in (np.flatnonzero(first), np.flatnonzero(~first)):
        starts = [
            j for j in range(len(batch))
            if j == 0 or keys[batch[j]] != keys[batch[j - 1]]
        ]
        keep[batch] = greedy_keep(
            ts_ns[batch],
            starts,
            [cd_ns[keys[batch[j]][1]] for j in starts],
            [last.get(keys[batch[j]], NO_PRIOR) for j in starts],
        )
        last.update((keys[i], int(ts_ns[i])) for i in batch[keep[batch]])
    assert keep.tolist() == (~exp["suppressed_by_cooldown"]).tolist()
