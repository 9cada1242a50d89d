"""Canonical Spark schemas for the engine's tables.

The transcripts schema is fixed by the target contract: an event
stream of multi-turn conversation/agent transcripts where each turn
is one log event (the reference's ``LogEvent``: data/timestamp/
lineNumber, LogEvent.h:11-20, generalized to many concurrent
conversations).
"""

from __future__ import annotations

from pyspark.sql import types as T

TRANSCRIPTS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)

# One row per (turn, fired rule) BEFORE step expansion -- output of the
# vectorized match operator (SURVEY.md 2.4 M1/M2).
MATCHES_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("rule_id", T.StringType(), False),
        T.StructField("rule_idx", T.IntegerType(), False),
        T.StructField("extracted", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)

# Final sink rows: one per (turn, fired rule, enabled step) under
# exactly-once (FIXTURES.md section 4). Key for idempotent upsert:
# (conv_id, turn_idx, rule_id, step_idx).
ACTIONS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("rule_id", T.StringType(), False),
        T.StructField("rule_idx", T.IntegerType(), False),
        T.StructField("step_idx", T.IntegerType(), False),
        T.StructField("extracted", T.StringType(), True),
        T.StructField("action_type", T.StringType(), False),
        T.StructField("rendered_value", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)

ACTION_KEY = ["conv_id", "turn_idx", "rule_id", "step_idx"]
