"""End-to-end batch pipeline: the engine's flagship query.

"Which turns fired which rules, with what rendered action, in what
order" -- the full data path of the reference (SURVEY.md 3.2) as one
declarative plan:

    turns -> vectorized match (M1/M2) -> cooldown state (T1)
          -> literal step-map explode + render (T3/T4/M3) -> stable order (T2)

The batch form is the semantic ground truth; the streaming form
(streaming/pipeline.py) must produce the identical row set under
exactly-once for the same input + watermark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from logeventprocessor_spark.operators.cooldown import apply_cooldown
from logeventprocessor_spark.operators.match import match_turns
from logeventprocessor_spark.operators.steps import expand_steps
from logeventprocessor_spark.rules import Rule


def match_actions(
    turns: DataFrame, rules: list[Rule], with_cooldown: bool = True
) -> DataFrame:
    """turns -> ACTIONS_SCHEMA(+effective_ts) rows."""
    m = match_turns(turns, rules)
    if with_cooldown:
        m = apply_cooldown(m, rules)
    return expand_steps(m, rules)
