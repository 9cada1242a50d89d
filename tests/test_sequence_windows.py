"""Batch sequence detector + window aggregations + skew helpers."""

from __future__ import annotations

import numpy as np
import pandas as pd

from logeventprocessor_spark.generator import make_transcripts, transcripts_df
from logeventprocessor_spark.operators.match import match_turns
from logeventprocessor_spark.operators.sequence import sequence_detect
from logeventprocessor_spark.operators.skew import salted_two_phase_agg
from logeventprocessor_spark.operators import windows as Wops
from logeventprocessor_spark.oracle import oracle_sequence_pairs
from logeventprocessor_spark.rules import canonical_rules


def test_batch_sequence_equals_oracle(spark):
    pdf = make_transcripts(n_convs=25, seed=5)
    rules = canonical_rules()
    matches = match_turns(transcripts_df(spark, pdf), rules)
    got = (
        sequence_detect(matches, "error_detection", "test", within_ms=120_000)
        .toPandas()
        .sort_values(["conv_id", "b_turn_idx"])
        .reset_index(drop=True)
    )
    exp = oracle_sequence_pairs(
        matches.toPandas(), "error_detection", "test", within_ms=120_000
    )
    assert len(exp) > 0
    pd.testing.assert_frame_equal(got[exp.columns].astype(exp.dtypes.to_dict()), exp)


def test_same_turn_a_qualifies(spark):
    """A and B firing the same turn: A counts as preceding (ts_a <= ts_b).
    An A at B's ts on a LATER turn does not: conv "d" pairs its B with
    the A five seconds earlier, not the A at the same ts."""
    from logeventprocessor_spark.rules import Rule, RuleStep

    rules = [
        Rule("a", 0, "alpha", steps=(RuleStep(0, "text", "x"),)),
        Rule("b", 1, "beta", steps=(RuleStep(0, "text", "y"),)),
    ]
    pdf = pd.DataFrame(
        {
            "conv_id": ["c", "d", "d", "d"],
            "turn_idx": pd.array([0, 1, 3, 5], dtype="int32"),
            "role": ["user"] * 4,
            "text": ["alpha and beta together", "alpha", "beta", "alpha"],
            "tool": [""] * 4,
            "ts": pd.to_datetime(
                ["2024-03-01 00:00:00", "2024-03-01 09:59:55",
                 "2024-03-01 10:00:00", "2024-03-01 10:00:00"]
            ).astype("datetime64[us]"),
        }
    )
    matches = match_turns(transcripts_df(spark, pdf), rules)
    got = sequence_detect(matches, "a", "b", within_ms=10_000).toPandas()
    exp = oracle_sequence_pairs(matches.toPandas(), "a", "b", within_ms=10_000)
    cols, pairs = ["conv_id", "a_turn_idx", "b_turn_idx"], [("c", 0, 0), ("d", 1, 3)]
    assert sorted(map(tuple, got[cols].values)) == pairs
    assert list(map(tuple, exp[cols].values)) == pairs


def test_tumbling_window_counts(spark):
    pdf = make_transcripts(n_convs=10, seed=9)
    turns = transcripts_df(spark, pdf)
    got = Wops.tumbling(turns, "ts", "10 minutes").toPandas()
    exp = (
        pdf.assign(w=pdf.ts.dt.floor("10min"))
        .groupby("w")
        .size()
        .reset_index(name="n")
    )
    merged = got.merge(exp, left_on="window_start", right_on="w", how="outer")
    assert (merged["n_events"].fillna(-1) == merged["n"].fillna(-1)).all()
    # window_end - window_start == 10 min everywhere
    assert (
        (got["window_end"] - got["window_start"]) == pd.Timedelta("10min")
    ).all()


def test_sliding_window_multiplicity(spark):
    """1 h window sliding 30 min: every event lands in exactly 2 windows."""
    pdf = make_transcripts(n_convs=8, seed=13)
    turns = transcripts_df(spark, pdf)
    got = Wops.sliding(turns, "ts", "1 hour", "30 minutes").toPandas()
    assert got["n_events"].sum() == 2 * len(pdf)


def test_session_window_against_pandas(spark):
    """Session = maximal runs with gaps < 5 min; end = last ts + gap."""
    pdf = make_transcripts(n_convs=10, seed=21)
    turns = transcripts_df(spark, pdf)
    got = (
        Wops.session(turns, "ts", "5 minutes", keys=["conv_id"])
        .toPandas()
        .sort_values(["conv_id", "session_start"])
        .reset_index(drop=True)
    )

    def sessions(g):
        g = g.sort_values("ts")
        gap = pd.Timedelta("5min")
        new = (g.ts.diff() >= gap).cumsum()
        return g.groupby(new).agg(
            session_start=("ts", "min"), last_ts=("ts", "max"), n_events=("ts", "size")
        )

    exp = (
        pdf.groupby("conv_id")[["ts"]]
        .apply(sessions)
        .reset_index()
        .assign(session_end=lambda d: d.last_ts + pd.Timedelta("5min"))
        .sort_values(["conv_id", "session_start"])
        .reset_index(drop=True)
    )
    assert len(got) == len(exp)
    cols = ["conv_id", "session_start", "session_end", "n_events"]
    pd.testing.assert_frame_equal(
        got[cols].astype({"session_start": "datetime64[ns]",
                          "session_end": "datetime64[ns]"}),
        exp[cols].astype({"n_events": "int64",
                          "session_start": "datetime64[ns]",
                          "session_end": "datetime64[ns]"}),
    )


def test_salted_agg_equals_plain_agg(spark):
    from pyspark.sql import functions as F

    pdf = make_transcripts(n_convs=12, seed=17)
    turns = transcripts_df(spark, pdf).withColumn("v", F.col("turn_idx") * 1.5)
    got = (
        salted_two_phase_agg(turns, "conv_id", 8, sum_cols=["v"],
                             det_cols=["turn_idx"])
        .toPandas()
        .sort_values("conv_id")
        .reset_index(drop=True)
    )
    exp = (
        pdf.assign(v=pdf.turn_idx * 1.5)
        .groupby("conv_id")
        .agg(n_events=("v", "size"), sum_v=("v", "sum"))
        .reset_index()
    )
    assert (got["n_events"].values == exp["n_events"].values).all()
    assert abs(got["sum_v"].values - exp["sum_v"].values).max() < 1e-6


def test_sequence_kernel_equals_oracles():
    """Property, no Spark: ``sequence_step`` run over the micro-batches
    of a key's fires cut in (ts, turn_idx, is_b) order emits exactly
    ``oracle_sequence_pairs`` (latest A) and ``oracle_sequence_all_pairs``
    (every A). Drawn runs hold equal-ts ties, gaps on the bound,
    duplicate rows and A/B fires of one turn, timestamps across 1970 or
    tz-aware, and a watermark trailing the batches by a drawn delay."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from logeventprocessor_spark.operators.cooldown import NO_PRIOR, _epoch_ns
    from logeventprocessor_spark.operators.sequence import sequence_step
    from logeventprocessor_spark.oracle import oracle_sequence_all_pairs

    within_ms = 10_000
    none = (np.empty(0, np.int64),) * 2

    @settings(max_examples=150, deadline=None, derandomize=True)
    @given(
        fires=st.lists(
            st.tuples(st.integers(0, 7), st.sampled_from("AB")), min_size=1, max_size=12
        ),
        turn_s=st.lists(st.integers(0, 15), min_size=8, max_size=8),
        base=st.sampled_from(["2024-03-01", "1969-12-31 23:59:50"]),
        tz=st.sampled_from([None, "UTC", "America/New_York"]),
        cuts=st.lists(st.integers(1, 11), max_size=4),
        delay_s=st.integers(0, 12),
    )
    def check(fires, turn_s, base, tz, cuts, delay_s):
        t0 = pd.Timestamp(base, tz=tz)
        pdf = pd.DataFrame(
            [("c", t, r, t0 + pd.Timedelta(seconds=turn_s[t])) for t, r in fires],
            columns=["conv_id", "turn_idx", "rule_id", "ts"],
        )
        ts, turn = _epoch_ns(pdf["ts"]), pdf["turn_idx"].to_numpy(np.int64)
        is_b = (pdf["rule_id"] == "B").to_numpy()
        batches = np.split(np.lexsort((is_b, turn, ts)), sorted(set(cuts)))
        for every_a, oracle in (
            (False, oracle_sequence_pairs),
            (True, oracle_sequence_all_pairs),
        ):
            got, state, wm = [], (none, none), NO_PRIOR
            for rows in batches:
                a, b = rows[~is_b[rows]], rows[is_b[rows]]
                pairs, state = sequence_step(
                    (ts[a], turn[a]), (ts[b], turn[b]), *state,
                    every_a, within_ms * 1_000_000, wm, 1 << 20,
                )
                got += zip(*(p.tolist() for p in pairs))
                if len(rows):
                    wm = max(wm, int(ts[rows].max()) - delay_s * 10**9)
            exp = oracle(pdf, "A", "B", within_ms)
            exp = zip(
                _epoch_ns(pd.to_datetime(exp["a_ts"])).tolist(),
                exp["a_turn_idx"].tolist(),
                _epoch_ns(pd.to_datetime(exp["b_ts"])).tolist(),
                exp["b_turn_idx"].tolist(),
            )
            assert sorted(got) == sorted(exp), (every_a, pdf)

    check()
