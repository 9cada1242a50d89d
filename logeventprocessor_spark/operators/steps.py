"""Rule -> action-step enrichment + template rendering (SURVEY.md 2.5
T3/T4, 2.4 M3).

Reference semantics: a fired rule expands to its ORDERED enabled step
list (ActionManager.cpp:40-47, :188-199; disabled steps skipped :80);
each '#' in the step value is replaced by the extracted text when it is
non-empty (ActionManager.cpp:83-90); sms/email steps forward the FULL
turn text (ActionManager.cpp:82, ActionSender.cpp:564-588).

Spark realization: the rule set is tiny, so each rule's ordered step
list is a JVM literal -- a ``rule_id -> array<struct<step_idx, type,
value, cum_delay_ms>>`` map that Catalyst constant-folds -- and a match
expands by ``explode`` of its lookup. No join, no broadcast, no Python
task: a ``createDataFrame(list)`` steps table was a Python RDD whose
broadcast ran one Python task per partition every micro-batch.
Rendering is pure built-in column expressions (whole-stage codegen).
``effective_ts`` materializes the reference's between-step delays
(config delay_ms, blocking sleep ActionManager.cpp:188-199) as data:
step ts + cumulative delay of PRECEDING steps.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from logeventprocessor_spark.rules import Rule


def _sql_str(s: str | None) -> str:
    # hex-encoded UTF-8: exact for any quote, backslash or newline, and
    # independent of spark.sql.parser.escapedStringLiterals
    if s is None:
        return "CAST(NULL AS STRING)"
    return f"CAST(X'{s.encode().hex()}' AS STRING)"


def _step_entries(rules: list[Rule]) -> tuple:
    """(rule_id, ((step_idx, type, value, cum_delay_ms), ...)) per
    rule_id with enabled steps: enabled rules x enabled steps in step
    order, cum_delay_ms the delay of this and preceding steps. A
    rule_id repeated in a hand-built list gets both rules' steps."""
    by_id: dict[str, list] = {}
    for r in rules:
        if not r.enabled:
            continue
        cum = 0
        for s in sorted(r.steps, key=lambda s: s.step_idx):
            if not s.enabled:
                continue
            cum += s.delay_ms
            by_id.setdefault(r.rule_id, []).append(
                (s.step_idx, s.type, s.value, cum)
            )
    return tuple((rid, tuple(steps)) for rid, steps in by_id.items())


# Keyed by content, not identity: under hot reload ``start_pipeline``
# loads a fresh rule list each batch, and an unchanged file must still
# hit. One py4j call (the SQL parse) per distinct rule set.
@lru_cache(maxsize=8)
def _steps_lookup(entries: tuple) -> Column:
    """The literal step map as ONE SQL expression."""
    pairs = ", ".join(
        f"{_sql_str(rid)}, array("
        + ", ".join(
            f"named_struct('step_idx', {i}, 'type', {_sql_str(t)}, "
            f"'value', {_sql_str(v)}, 'cum_delay_ms', {cum}L)"
            for i, t, v, cum in steps
        )
        + ")"
        for rid, steps in entries
    )
    return F.expr(
        f"CAST(map({pairs}) AS map<string, array<struct<step_idx: int, "
        "type: string, value: string, cum_delay_ms: bigint>>>)"
    )


def expand_steps(
    matches: DataFrame, rules: list[Rule], extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    """matches (MATCHES_SCHEMA) -> ACTIONS_SCHEMA rows (one per enabled
    step of each fired rule) + effective_ts.

    ``extra_cols``: input columns appended verbatim to every action row
    (e.g. carried role/tool context riding through from the match
    operator -- replaces a per-batch dropDuplicates + re-join in the
    context pipelines)."""
    step = "_step"
    rendered = F.when(
        F.col(f"{step}.type").isin("sms", "email"), F.col("text")
    ).otherwise(
        F.when(
            F.col("extracted") != F.lit(""),
            F.replace(F.col(f"{step}.value"), F.lit("#"), F.col("extracted")),
        ).otherwise(F.col(f"{step}.value"))
    )
    lookup = _steps_lookup(_step_entries(rules))
    return (
        matches.select(
            "*", F.explode(lookup[F.col("rule_id")]).alias(step)
        )
        .select(
            "conv_id",
            "turn_idx",
            "rule_id",
            "rule_idx",
            F.col(f"{step}.step_idx").alias("step_idx"),
            "extracted",
            F.col(f"{step}.type").alias("action_type"),
            rendered.alias("rendered_value"),
            "ts",
            (
                F.col("ts")
                + (F.col(f"{step}.cum_delay_ms")
                   * F.expr("INTERVAL 1 MILLISECOND"))
            ).alias("effective_ts"),
            *extra_cols,
        )
    )


def ordered(actions: DataFrame) -> DataFrame:
    """The deterministic total order the reference's reorder buffer
    reconstructs at runtime (EventProcessor.cpp:117-142), as a plain
    sort -- cheap, scale-out-able (SURVEY.md 2.5 T2)."""
    return actions.orderBy("conv_id", "turn_idx", "rule_idx", "step_idx")
