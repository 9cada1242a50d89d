"""Batch match pipeline vs the pure-Python oracle (SURVEY.md 5.2 #1).

The golden contract: one row per (turn, fired rule, enabled step),
extracted = group(1)-else-group(0), '#' substitution, sms forwards full
text, cooldown suppression keyed (conv_id, rule_id) in event time,
stable (conv_id, turn_idx, rule_idx, step_idx) order.
"""

from __future__ import annotations

import pandas as pd

from logeventprocessor_spark.generator import make_transcripts, transcripts_df
from logeventprocessor_spark.operators.match import classify_unmatched, match_turns
from logeventprocessor_spark.oracle import oracle_matches
from logeventprocessor_spark.pipeline import match_actions
from logeventprocessor_spark.rules import canonical_rules

KEY = ["conv_id", "turn_idx", "rule_id", "rule_idx", "step_idx"]
CMP = KEY + ["extracted", "action_type", "rendered_value", "ts"]


def _norm(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf[CMP].copy()
    out["ts"] = pd.to_datetime(out["ts"])
    return out.sort_values(KEY, kind="mergesort").reset_index(drop=True)


def test_flagship_matches_oracle(spark):
    pdf = make_transcripts(n_convs=30, seed=42)
    turns = transcripts_df(spark, pdf)
    rules = canonical_rules()

    got = _norm(match_actions(turns, rules, with_cooldown=True).toPandas())
    exp = _norm(oracle_matches(pdf, rules, with_cooldown=True))

    assert len(exp) > 100, "fixture should plant plenty of matches"
    pd.testing.assert_frame_equal(got, exp)


def test_no_cooldown_matches_oracle(spark):
    pdf = make_transcripts(n_convs=12, seed=7)
    turns = transcripts_df(spark, pdf)
    rules = canonical_rules()
    got = _norm(match_actions(turns, rules, with_cooldown=False).toPandas())
    exp = _norm(oracle_matches(pdf, rules, with_cooldown=False))
    pd.testing.assert_frame_equal(got, exp)


def test_prefilter_tiers_and_none_path_end_to_end(spark):
    """The prefilter tiers, each against the pure-Python oracle:
    (1) canonical v3 rules include the no-literal pin_code rule, so the
    JVM gate must take the safe-subset RLIKE branch (condition stays
    non-None) while the Python side takes the RE2 candidate mask for
    that rule; (2) adding a Python-only pattern ((?P<...>) is a Java
    syntax error) forces prefilter_condition to None -- every row
    crosses the boundary and every row is that rule's candidate -- and
    the full pipeline must STILL match the oracle exactly."""
    from logeventprocessor_spark.operators.match import (
        prefilter_condition,
        prefilter_literal,
    )
    from logeventprocessor_spark.rules import Rule, RuleStep

    rules = canonical_rules()
    assert any(prefilter_literal(r.pattern) is None for r in rules)
    assert prefilter_condition(rules) is not None  # RLIKE branch holds

    pyonly = Rule(
        "py_only",
        10,
        r"(?P<word>minions|fools)",
        steps=(RuleStep(0, "command", "saw #"),),
    )
    rules_none = rules + [pyonly]
    assert prefilter_condition(rules_none) is None

    pdf = make_transcripts(n_convs=12, seed=7)
    turns = transcripts_df(spark, pdf)
    got = _norm(match_actions(turns, rules_none, with_cooldown=True).toPandas())
    exp = _norm(oracle_matches(pdf, rules_none, with_cooldown=True))
    assert (exp.rule_id == "py_only").sum() > 0
    assert (exp.rule_id == "pin_code").sum() > 0
    pd.testing.assert_frame_equal(got, exp)


def test_inline_flag_rules_match_oracle(spark):
    """Group-free rules that open with a global inline flag pass
    ``validate_rules`` and take no prefilter (``(?`` defeats the literal
    scan); they go through the same search/extract loop as every other
    rule and match the oracle. Wrapping such a pattern in a capture
    group, ``((?s)...)``, raises ``re.error``."""
    from logeventprocessor_spark.rules import Rule, RuleStep, validate_rules

    rules = validate_rules(
        canonical_rules()
        + [
            Rule("dotall_tell", 10, r"(?s)tells.you",
                 steps=(RuleStep(0, "command", "heard #"),)),
            Rule("icase_minions", 11, r"(?i)attack MY minions",
                 steps=(RuleStep(0, "text", "#"),)),
        ]
    )
    pdf = make_transcripts(n_convs=12, seed=7)
    turns = transcripts_df(spark, pdf)
    got = _norm(match_actions(turns, rules, with_cooldown=True).toPandas())
    exp = _norm(oracle_matches(pdf, rules, with_cooldown=True))
    assert (exp.rule_id == "dotall_tell").sum() > 0
    assert (exp.rule_id == "icase_minions").sum() > 0
    pd.testing.assert_frame_equal(got, exp)


def test_extraction_group1_else_group0(spark):
    rules = canonical_rules()
    pdf = pd.DataFrame(
        {
            "conv_id": ["c"] * 3,
            "turn_idx": pd.array([0, 1, 2], dtype="int32"),
            "role": ["user"] * 3,
            "text": [
                "say hello brave world now",  # group(1) -> 'brave'
                "oh CLARICE dear",  # no groups -> group(0) full match
                "User login: a.b+c@ex.co done",  # email capture
            ],
            "tool": [""] * 3,
            "ts": pd.to_datetime(["2024-03-01"] * 3),
        }
    )
    turns = transcripts_df(spark, pdf)
    got = (
        match_turns(turns, rules)
        .toPandas()
        .set_index("rule_id")["extracted"]
        .to_dict()
    )
    assert got["hello_world_response"] == "brave"
    # no groups -> group(0); the surrounding .* makes that the full line
    assert got["test"] == "oh CLARICE dear"
    assert got["user_login"] == "a.b+c@ex.co"


def test_hash_substitution_and_sms_full_text(spark):
    rules = canonical_rules()
    pdf = pd.DataFrame(
        {
            "conv_id": ["c", "c"],
            "turn_idx": pd.array([0, 1], dtype="int32"),
            "role": ["user"] * 2,
            "text": [
                "hello wide world",
                "Boromir tells you, 'the ring is mine'",
            ],
            "tool": [""] * 2,
            "ts": pd.to_datetime(
                ["2024-03-01", "2024-03-01 00:01:00"], format="mixed"
            ),
        }
    )
    turns = transcripts_df(spark, pdf)
    acts = match_actions(turns, rules).toPandas().set_index("rule_id")
    assert acts.loc["hello_world_response", "rendered_value"] == "g wide Goodbye"
    assert (
        acts.loc["sms_tell", "rendered_value"]
        == "Boromir tells you, 'the ring is mine'"
    )


def test_rule_order_deterministic(spark):
    """Multiple rules firing the same turn come out in rule_idx order
    (ActionManager.cpp:126)."""
    rules = canonical_rules()
    pdf = pd.DataFrame(
        {
            "conv_id": ["c"],
            "turn_idx": pd.array([0], dtype="int32"),
            "role": ["user"],
            "text": ["hello new world, clarice, running an email test"],
            "tool": [""],
            "ts": pd.to_datetime(["2024-03-01"]),
        }
    )
    turns = transcripts_df(spark, pdf)
    got = (
        match_actions(turns, rules)
        .orderBy("rule_idx")
        .select("rule_id")
        .toPandas()["rule_id"]
        .tolist()
    )
    assert got == ["hello_world_response", "test", "email_test"]


def test_fallback_classifier(spark):
    rules = canonical_rules()
    pdf = pd.DataFrame(
        {
            "conv_id": ["c"] * 4,
            "turn_idx": pd.array([0, 1, 2, 3], dtype="int32"),
            "role": ["user"] * 4,
            "text": [
                "plain ERROR mention",
                "WARNING low disk",
                "INFO all good",
                "nothing to see",
            ],
            "tool": [""] * 4,
            "ts": pd.to_datetime(["2024-03-01"] * 4),
        }
    )
    turns = transcripts_df(spark, pdf)
    m = match_turns(turns, rules)
    got = (
        classify_unmatched(turns, m)
        .orderBy("turn_idx")
        .select("level")
        .toPandas()["level"]
        .tolist()
    )
    assert got == ["error", "warning", "info", "unclassified"]


def test_disabled_rules_and_steps_skipped(spark):
    from logeventprocessor_spark.rules import Rule, RuleStep

    rules = [
        Rule("off", 0, "hello", enabled=False, steps=(RuleStep(0, "text", "x"),)),
        Rule(
            "partial",
            1,
            "hello",
            steps=(
                RuleStep(0, "text", "on"),
                RuleStep(1, "text", "off", enabled=False),
                RuleStep(2, "text", "on2"),
            ),
        ),
    ]
    pdf = pd.DataFrame(
        {
            "conv_id": ["c"],
            "turn_idx": pd.array([0], dtype="int32"),
            "role": ["user"],
            "text": ["hello there"],
            "tool": [""],
            "ts": pd.to_datetime(["2024-03-01"]),
        }
    )
    turns = transcripts_df(spark, pdf)
    acts = match_actions(turns, rules).orderBy("step_idx").toPandas()
    assert acts["rule_id"].tolist() == ["partial", "partial"]
    assert acts["rendered_value"].tolist() == ["on", "on2"]
