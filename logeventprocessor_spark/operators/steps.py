"""Rule -> action-step enrichment + template rendering (SURVEY.md 2.5
T3/T4, 2.4 M3).

Reference semantics: a fired rule expands to its ORDERED enabled step
list (ActionManager.cpp:40-47, :188-199; disabled steps skipped :80);
each '#' in the step value is replaced by the extracted text when it is
non-empty (ActionManager.cpp:83-90); sms/email steps forward the FULL
turn text (ActionManager.cpp:82, ActionSender.cpp:564-588).

Spark realization: the rules/steps table is tiny -> ``broadcast`` hash
join (no shuffle of the match stream); rendering is pure built-in
column expressions (whole-stage codegen, no Python).
``effective_ts`` materializes the reference's between-step delays
(config delay_ms, blocking sleep ActionManager.cpp:188-199) as data:
step ts + cumulative delay of PRECEDING steps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logeventprocessor_spark.rules import Rule
from logeventprocessor_spark.schema import rules_df


# (row-tuple fingerprint) -> (session, DataFrame): PLAN memo for the
# tiny steps dimension. createDataFrame costs ~50-100 ms of driver
# work per call, and the snapshot streaming backend calls steps_df once
# per MICRO-BATCH (plus once per query build in the batch family) for a
# table whose content is a pure function of the rule set. Keyed by
# content, not identity: under hot reload ``start_pipeline`` loads a
# fresh rule list each batch, and an unchanged file must still hit.
# Bounded LRU (a reload can alternate rule sets between batches).
_STEPS_MEMO: dict[tuple, tuple] = {}
_STEPS_MEMO_CAP = 4


def steps_df(spark: SparkSession, rules: list[Rule]) -> DataFrame:
    """Flat (rule_id, step_idx, type, value, modifiers, delay_ms,
    cum_delay_ms) dimension: enabled rules x enabled steps, with the
    cumulative delay of preceding steps precomputed driver-side."""
    rows = []
    for r in rules:
        if not r.enabled:
            continue
        cum = 0
        for s in sorted(r.steps, key=lambda s: s.step_idx):
            if not s.enabled:
                continue
            cum += s.delay_ms
            rows.append((r.rule_id, s.step_idx, s.type, s.value, s.modifiers,
                         s.delay_ms, cum))
    key = tuple(rows)
    hit = _STEPS_MEMO.get(key)
    if hit is not None and hit[0] is spark:
        _STEPS_MEMO.pop(key)
        _STEPS_MEMO[key] = hit  # refresh recency
        return hit[1]
    df = spark.createDataFrame(
        list(rows),
        "rule_id string, step_idx int, type string, value string, "
        "modifiers int, delay_ms int, cum_delay_ms long",
    )
    while len(_STEPS_MEMO) >= _STEPS_MEMO_CAP:
        _STEPS_MEMO.pop(next(iter(_STEPS_MEMO)))
    _STEPS_MEMO[key] = (spark, df)
    return df


def expand_steps(
    matches: DataFrame, rules: list[Rule], extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    """matches (MATCHES_SCHEMA) -> ACTIONS_SCHEMA rows (one per enabled
    step of each fired rule) + effective_ts.

    ``extra_cols``: input columns appended verbatim to every action row
    (e.g. carried role/tool context riding through from the match
    operator -- replaces a per-batch dropDuplicates + re-join in the
    context pipelines)."""
    spark = matches.sparkSession
    steps = steps_df(spark, rules)
    rendered = F.when(
        F.col("type").isin("sms", "email"), F.col("text")
    ).otherwise(
        F.when(
            F.col("extracted") != F.lit(""),
            F.replace(F.col("value"), F.lit("#"), F.col("extracted")),
        ).otherwise(F.col("value"))
    )
    return (
        matches.join(F.broadcast(steps), "rule_id")
        .select(
            "conv_id",
            "turn_idx",
            "rule_id",
            "rule_idx",
            "step_idx",
            "extracted",
            F.col("type").alias("action_type"),
            rendered.alias("rendered_value"),
            "ts",
            (
                F.col("ts")
                + (F.col("cum_delay_ms") * F.expr("INTERVAL 1 MILLISECOND"))
            ).alias("effective_ts"),
            *extra_cols,
        )
    )


def ordered(actions: DataFrame) -> DataFrame:
    """The deterministic total order the reference's reorder buffer
    reconstructs at runtime (EventProcessor.cpp:117-142), as a plain
    sort -- cheap, scale-out-able (SURVEY.md 2.5 T2)."""
    return actions.orderBy("conv_id", "turn_idx", "rule_idx", "step_idx")
