"""Step expansion (operators/steps.py) against a plain-Python expansion.

The reference expands a fired rule to its ordered enabled steps
(ActionManager.cpp:188-199), substitutes '#' with a non-empty extracted
text and forwards the full turn text for sms/email steps. The Spark
operator looks each match's steps up in a literal map and explodes
them; these tests pin its rows, its output schema and its plan.
"""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import types as T

from logeventprocessor_spark.operators.steps import expand_steps
from logeventprocessor_spark.oracle import render_value
from logeventprocessor_spark.rules import Rule, RuleStep
from logeventprocessor_spark.schema import MATCHES_SCHEMA

RULES = [
    Rule("off", 0, "x", enabled=False, steps=(RuleStep(0, "text", "never"),)),
    Rule(
        "partial",
        1,
        "x",
        steps=(
            RuleStep(0, "text", "on #"),
            RuleStep(1, "text", "skipped", enabled=False, delay_ms=999),
            RuleStep(2, "keystroke", "k", delay_ms=250),
        ),
    ),
    Rule("mute", 2, "x", steps=(RuleStep(0, "text", "n", enabled=False),)),
    Rule("bare", 3, "x"),
    # steps given out of order: expansion follows step_idx
    Rule(
        "delays",
        4,
        "x",
        steps=(
            RuleStep(2, "command", "third", delay_ms=2500),
            RuleStep(0, "command", "first", delay_ms=100),
            RuleStep(1, "command", "second"),
        ),
    ),
    Rule(
        "hash",
        5,
        "x",
        steps=(
            RuleStep(0, "command", "saw # and #"),
            RuleStep(1, "spell", "it's \\ \"q\"\né #", modifiers=3),
        ),
    ),
    Rule(
        "fwd",
        6,
        "x",
        steps=(
            RuleStep(0, "sms", "ignored #", delay_ms=10),
            RuleStep(1, "email", "also ignored"),
        ),
    ),
    # a hand-built list may repeat a rule_id: both rules' steps apply
    Rule("dup", 7, "x", steps=(RuleStep(0, "text", "a", delay_ms=5),)),
    Rule("dup", 8, "x", steps=(RuleStep(0, "text", "b"),
                               RuleStep(1, "text", "c", delay_ms=7))),
]

T0 = datetime(2024, 3, 1, 12, 0, 0, 123456)


def _matches():
    rows = []
    for i, r in enumerate(sorted({r.rule_id for r in RULES})):
        for j, extracted in enumerate(["", "X1", None]):
            text = None if extracted is None else f"turn {i} says 'hi'\tü"
            rows.append((
                f"c{j}", i, r, i, extracted, text,
                T0 + timedelta(seconds=i, microseconds=j),
            ))
    return rows


def _py_expand(rows, rules):
    out = []
    for conv_id, turn_idx, rule_id, rule_idx, extracted, text, ts, role in rows:
        for r in rules:
            if not r.enabled or r.rule_id != rule_id:
                continue
            cum = 0
            for s in sorted(r.steps, key=lambda s: s.step_idx):
                if not s.enabled:
                    continue
                cum += s.delay_ms
                out.append((
                    conv_id, turn_idx, rule_id, rule_idx, s.step_idx,
                    extracted, s.type,
                    render_value(s.value, extracted, s.type, text),
                    ts, ts + timedelta(milliseconds=cum), role,
                ))
    return sorted(out, key=repr)


def test_expand_steps_matches_python_expansion(spark):
    rows = [(*m, f"role{m[1]}") for m in _matches()]
    schema = T.StructType(
        MATCHES_SCHEMA.fields + [T.StructField("role", T.StringType())]
    )
    got = expand_steps(
        spark.createDataFrame(rows, schema), RULES, extra_cols=("role",)
    ).collect()
    exp = _py_expand(rows, RULES)
    assert sorted(map(tuple, got), key=repr) == exp
    ids = {g.rule_id for g in got}
    assert ids == {"partial", "delays", "hash", "fwd", "dup"}
    # the cases the expectation must hold, not just agree on
    delays = sorted((g.step_idx, g.effective_ts - g.ts) for g in got
                    if g.rule_id == "delays" and g.conv_id == "c0")
    assert delays == [(0, timedelta(milliseconds=100)),
                      (1, timedelta(milliseconds=100)),
                      (2, timedelta(milliseconds=2600))]
    rendered = {(g.step_idx, g.extracted): g.rendered_value for g in got
                if g.rule_id == "hash"}
    assert rendered[(0, "")] == "saw # and #"
    assert rendered[(0, "X1")] == "saw X1 and X1"
    assert rendered[(1, "X1")] == "it's \\ \"q\"\né X1"
    assert sum(g.rule_id == "dup" for g in got) == 3 * 3


def test_expand_steps_schema_and_plan(spark, tmp_path):
    """Output columns and types are those of the steps-table join this
    replaced, and the executed plan reads no Python RDD and broadcasts
    nothing."""
    path = str(tmp_path / "matches")
    spark.createDataFrame(_matches(), MATCHES_SCHEMA).write.parquet(path)
    out = expand_steps(spark.read.parquet(path), RULES)
    assert [(f.name, f.dataType) for f in out.schema.fields] == [
        ("conv_id", T.StringType()),
        ("turn_idx", T.IntegerType()),
        ("rule_id", T.StringType()),
        ("rule_idx", T.IntegerType()),
        ("step_idx", T.IntegerType()),
        ("extracted", T.StringType()),
        ("action_type", T.StringType()),
        ("rendered_value", T.StringType()),
        ("ts", T.TimestampType()),
        ("effective_ts", T.TimestampType()),
    ]
    assert out.count() == len(_py_expand(
        [(*m, None) for m in _matches()], RULES
    ))
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan, plan
    assert "BroadcastExchange" not in plan, plan
    assert "Generate" in plan, plan


def test_expand_steps_without_enabled_steps_is_empty(spark):
    matches = spark.createDataFrame(_matches(), MATCHES_SCHEMA)
    assert expand_steps(matches, [r for r in RULES if r.rule_id in
                                  ("off", "mute", "bare")]).count() == 0
    assert expand_steps(matches, []).count() == 0
