"""Driver-harness query registry: every operator from SURVEY.md §2 as
a (Spark query, DuckDB oracle SQL) pair over the driver's sf tables.

Conventions (the driver hashes values after sorting columns by name):
* every computed column is aliased IDENTICALLY in Spark and SQL;
* timestamps are rendered as strings (``date_format`` / ``strftime``)
  so engine-internal epoch/timezone representations never leak into
  the hash;
* float aggregates are rounded (sums to 2-4 dp, ratios to 6 dp) so
  partial-aggregation summation order cannot flip low bits;
* integer-typed outputs are cast to the same width on both sides
  (Spark ``size``/literals are int32; DuckDB ``len``/``row_number``
  are int64).

CEP queries run over ``documents_as_transcripts`` (the driver's
documents table adapted to the transcript shape) so the match operator
is checked against DuckDB on driver-owned data; the cooldown oracle is
a recursive-CTE greedy chain -- an independent SQL formulation of the
keyed-state semantics.
"""

from __future__ import annotations


import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logeventprocessor_spark import fixtures as FX
from logeventprocessor_spark.generator import documents_as_transcripts
from logeventprocessor_spark.operators import components as CC
from logeventprocessor_spark.operators import dedup as D
from logeventprocessor_spark.operators import multimodal as M
from logeventprocessor_spark.operators import similarity as S
from logeventprocessor_spark.operators import text as Tx
from logeventprocessor_spark.operators import windows as Wops
from logeventprocessor_spark.operators.cooldown import apply_cooldown
from logeventprocessor_spark.operators.match import classify_unmatched, match_turns
from logeventprocessor_spark.operators.sequence import sequence_detect
from logeventprocessor_spark.operators.steps import expand_steps
from logeventprocessor_spark.pipeline import match_actions
from logeventprocessor_spark.session import cached_parquet
from logeventprocessor_spark.rules import Rule, RuleStep, canonical_rules, document_rules
from logeventprocessor_spark.schema import TRANSCRIPTS_SCHEMA

TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
TS_FMT_SPARK_US = "yyyy-MM-dd HH:mm:ss.SSSSSS"
TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"
TS_FMT_DUCK_US = "%Y-%m-%d %H:%M:%S.%f"

# Java's \s class in RE2 syntax: RE2's \s lacks \x0B, so every oracle
# regex spells the six characters out.
WS_CLASS_SQL = r" \t\n\x0B\f\r"

# DuckDB form of operators/text.ws_norm, the one whitespace rule every
# tokenising oracle reads: `string_split(..., ' ')` gives its tokens.
# One-argument trim() would also strip NBSP and other Unicode spaces,
# so it names ' '.
WS_NORM_SQL = rf"trim(regexp_replace(text, '[{WS_CLASS_SQL}]+', ' ', 'g'), ' ')"

# RE2 forms of operators/text.py's BPE_TOKEN_RE, with_quality_score's
# punctuation class and URL_RE
BPE_TOKEN_SQL = rf"'[A-Za-z]+|[0-9]+|[^{WS_CLASS_SQL}A-Za-z0-9]'"
PUNCT_SQL = rf"'[^\w{WS_CLASS_SQL}]'"
URL_SQL = rf"'https?://[A-Za-z0-9.-]+(/[^{WS_CLASS_SQL}]*)?'"

# DuckDB fragment: the documents table in transcript shape (must stay
# in lockstep with generator.documents_as_transcripts)
_SQL_DOC_TURNS = """
  SELECT source AS conv_id,
         CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS INTEGER) AS turn_idx,
         text,
         TIMESTAMP '2024-03-01 00:00:00' + doc_id * INTERVAL 60 SECOND AS ts
  FROM documents
"""

# DuckDB fragment: one row per (turn, fired document-rule) -- mirrors
# rules.document_rules(); patterns are dialect-safe (Python re == RE2)
_SQL_DOC_MATCHES = f"""
  WITH t AS ({_SQL_DOC_TURNS})
  SELECT conv_id, turn_idx, ts, text, 'spark_next' AS rule_id,
         CAST(0 AS INTEGER) AS rule_idx,
         regexp_extract(text, '(?i)spark ([^\\s]+) window', 1) AS extracted
    FROM t WHERE regexp_matches(text, '(?i)spark ([^\\s]+) window')
  UNION ALL
  SELECT conv_id, turn_idx, ts, text, 'merge_batch', CAST(1 AS INTEGER),
         regexp_extract(text, '(?i)merge batch', 0)
    FROM t WHERE regexp_matches(text, '(?i)merge batch')
  UNION ALL
  SELECT conv_id, turn_idx, ts, text, 'customer_query', CAST(2 AS INTEGER),
         regexp_extract(text, '(?i)customer ([a-z]+) query', 1)
    FROM t WHERE regexp_matches(text, '(?i)customer ([a-z]+) query')
  UNION ALL
  SELECT conv_id, turn_idx, ts, text, 'big_table', CAST(3 AS INTEGER),
         regexp_extract(text, '(?i)big table', 0)
    FROM t WHERE regexp_matches(text, '(?i)big table')
"""

_SQL_DOC_STEPS = """
  (VALUES ('spark_next',    0, 'command',   'g # noted'),
          ('merge_batch',   0, 'keystroke', 'f2'),
          ('merge_batch',   1, 'command',   'compact now'),
          ('customer_query',0, 'text',      'seen: #'),
          ('big_table',     0, 'sms',       '')) AS s(rule_id, step_idx, type, value)
"""


# --------------------------------------------------------------------
# Canonical-transcripts oracle SQL (generated from the SAME rule
# objects the engine runs, so rule edits cannot desync the oracle).
# The transcript corpus itself is the parquet fixture
# FX.transcripts_fixture_path() -- written once, read by both engines.
# --------------------------------------------------------------------

def _sq(s: str) -> str:
    return s.replace("'", "''")


def _canon_matches_sql() -> str:
    """One row per (turn, fired canonical rule): UNION ALL of per-rule
    regexp_matches scans, extracted = group(1)-else-group(0) (mirrors
    operators.match semantics; patterns are Python-re == RE2 safe)."""
    parts = []
    for r in canonical_rules():
        if not r.enabled:  # mirror _rules_payload: disabled rules never match
            continue
        pat = _sq(r.pattern)
        grp = 1 if r.n_groups >= 1 else 0
        parts.append(
            f"SELECT conv_id, turn_idx, ts, text, '{r.rule_id}' AS rule_id,\n"
            f"       CAST({r.rule_idx} AS INTEGER) AS rule_idx,\n"
            f"       regexp_extract(text, '(?i){pat}', {grp}) AS extracted\n"
            f"  FROM t WHERE regexp_matches(text, '(?i){pat}')"
        )
    return "\nUNION ALL\n".join(parts)


def _canon_steps_sql() -> str:
    rows = []
    for r in canonical_rules():
        if not r.enabled:
            continue
        for s in sorted(r.steps, key=lambda s: s.step_idx):
            if not s.enabled:
                continue
            rows.append(
                f"('{_sq(r.rule_id)}', {s.step_idx}, "
                f"'{_sq(s.type)}', '{_sq(s.value)}')"
            )
    return (
        "(VALUES " + ",\n        ".join(rows)
        + ") AS s(rule_id, step_idx, type, value)"
    )


def _flagship_oracle_sql() -> str:
    """The full canonical pipeline in SQL: match (UNION-ALL regex
    scans) -> cooldown (recursive-CTE greedy chain per (conv, rule),
    generalized to ANY number of cooldown-bearing rules, each with its
    own cooldown length carried through the recursion) -> steps join ->
    render."""
    tpath = FX.transcripts_fixture_path(ensure=False)
    cd_rules = [r for r in canonical_rules() if r.cooldown_ms > 0]
    assert cd_rules, "flagship corpus must exercise the cooldown operator"
    cd_values = ", ".join(
        f"('{_sq(r.rule_id)}', CAST({r.cooldown_ms} AS BIGINT))"
        for r in cd_rules
    )
    cd_ids = ", ".join(f"'{_sq(r.rule_id)}'" for r in cd_rules)
    return f"""
        WITH RECURSIVE t AS (SELECT * FROM read_parquet('{tpath}')),
        m AS ({_canon_matches_sql()}),
        hits AS (
          SELECT m.conv_id, m.turn_idx, m.ts, m.text, m.extracted,
                 m.rule_id, m.rule_idx, cd.cd_ms,
                 row_number() OVER (PARTITION BY m.conv_id, m.rule_id
                                    ORDER BY m.ts, m.turn_idx) AS rn
          FROM m JOIN (VALUES {cd_values}) AS cd(rule_id, cd_ms)
            ON m.rule_id = cd.rule_id
        ), fire AS (
          SELECT conv_id, turn_idx, ts, text, extracted, rule_id,
                 rule_idx, cd_ms, rn
          FROM hits WHERE rn = 1
          UNION ALL
          SELECT n.conv_id, n.turn_idx, n.ts, n.text, n.extracted,
                 n.rule_id, n.rule_idx, n.cd_ms, n.rn
          FROM fire f, LATERAL (
            SELECT * FROM hits h
            WHERE h.conv_id = f.conv_id AND h.rule_id = f.rule_id
              AND h.ts >= f.ts + to_milliseconds(f.cd_ms)
            ORDER BY h.rn LIMIT 1
          ) n
        ), kept AS (
          SELECT conv_id, turn_idx, ts, text, rule_id, rule_idx, extracted
          FROM m WHERE rule_id NOT IN ({cd_ids})
          UNION ALL
          SELECT conv_id, turn_idx, ts, text, rule_id, rule_idx, extracted
          FROM fire
        )
        SELECT k.conv_id, k.turn_idx, k.rule_id, k.rule_idx,
               CAST(s.step_idx AS INTEGER) AS step_idx, k.extracted,
               s.type AS action_type,
               CASE WHEN s.type IN ('sms','email') THEN k.text
                    WHEN k.extracted <> '' THEN replace(s.value, '#', k.extracted)
                    ELSE s.value END AS rendered_value,
               strftime(k.ts, '{TS_FMT_DUCK_US}') AS ts
        FROM kept k JOIN {_canon_steps_sql()} USING (rule_id)
    """


def _fallback_classify_oracle_sql() -> str:
    tpath = FX.transcripts_fixture_path(ensure=False)
    return f"""
        WITH t AS (SELECT * FROM read_parquet('{tpath}')),
        m AS ({_canon_matches_sql()})
        SELECT CASE WHEN contains(text, 'ERROR') THEN 'error'
                    WHEN contains(text, 'WARNING') THEN 'warning'
                    WHEN contains(text, 'INFO') THEN 'info'
                    ELSE 'unclassified' END AS level,
               count(*) AS n_turns
        FROM t WHERE NOT EXISTS (
          SELECT 1 FROM m WHERE m.conv_id = t.conv_id AND m.turn_idx = t.turn_idx)
        GROUP BY 1
    """


def _simhash_md5_oracle_sql(max_hamming: int = 3) -> str:
    """The 60-bit md5 SimHash recomputed bit-for-bit in DuckDB."""
    bits = ",\n                 ".join(
        f"sum(CASE WHEN (h // {1 << b}) % 2 = 1 THEN 1 ELSE -1 END) AS b_{b}"
        for b in range(60)
    )
    sig = " + ".join(
        f"CASE WHEN b_{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(60)
    )
    return f"""
        WITH toks AS (
          SELECT doc_id,
                 unnest(string_split(lower({WS_NORM_SQL}), ' ')) AS tok
          FROM documents
        ), h AS (
          SELECT doc_id,
                 CAST('0x' || substring(md5(tok), 1, 15) AS BIGINT) AS h
          FROM toks
        ), sums AS (
          SELECT doc_id, {bits}
          FROM h GROUP BY doc_id
        ), sig AS (
          SELECT doc_id, CAST({sig} AS BIGINT) AS s FROM sums
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.s, b.s)) AS INTEGER) AS hamming
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.s, b.s)) <= {max_hamming}
    """


def _aug_path_oracle() -> str:
    return FX.augmented_embeddings_path(FX.ORACLE_SF_DIR, ensure=False)


def _multimodal_oracle_sql() -> str:
    """Partial oracle for the multimodal decoder: everything
    SQL-expressible about a decoded payload -- byte length via
    octet_length, header width/height vs the STORED meta struct (the
    Spark side re-derives them from the payload bytes, so agreement
    verifies the decode)."""
    mpath = FX.media_fixture_path(ensure=False)
    return f"""
        SELECT media_id, kind,
               CAST(octet_length(payload) AS INTEGER) AS n_bytes,
               meta.width AS width, meta.height AS height
        FROM read_parquet('{mpath}')
    """


def _ann_topk_oracle_sql(k: int = 10) -> str:
    path = _aug_path_oracle()
    return f"""
        WITH q AS (SELECT embedding::DOUBLE[] AS qv
                   FROM read_parquet('{path}') WHERE vec_id = 0)
        SELECT vec_id,
               round(list_cosine_similarity(embedding::DOUBLE[], qv), 6) AS cos_sim
        FROM read_parquet('{path}'), q
        WHERE vec_id <> 0
        ORDER BY cos_sim DESC, vec_id LIMIT {k}
    """


def _neardup_aug_oracle_sql(threshold: float = 0.9) -> str:
    path = _aug_path_oracle()
    return f"""
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round(list_cosine_similarity(a.embedding::DOUBLE[],
                                            b.embedding::DOUBLE[]), 6) AS cos_sim
        FROM read_parquet('{path}') a JOIN read_parquet('{path}') b
          ON a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                           b.embedding::DOUBLE[]), 6) >= {threshold}
    """


def _doc_actions(spark: SparkSession, sf_dir: str) -> DataFrame:
    turns = documents_as_transcripts(spark, sf_dir)
    return match_actions(turns, document_rules(), with_cooldown=False).select(
        "conv_id",
        "turn_idx",
        "rule_id",
        "rule_idx",
        "step_idx",
        "extracted",
        "action_type",
        "rendered_value",
    )


# cached_parquet = reader-PLAN memoization (session.py): every action
# still scans the files; what repeat builds skip is the ~90 ms
# footer/schema re-read spark.read.parquet pays per call.
def _events(spark, sf_dir):
    return cached_parquet(spark, f"{sf_dir}/events.parquet")


def _docs(spark, sf_dir):
    return cached_parquet(spark, f"{sf_dir}/documents.parquet")


def _emb(spark, sf_dir):
    return cached_parquet(spark, f"{sf_dir}/embeddings.parquet")


def _li(spark, sf_dir, name):
    return cached_parquet(spark, f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------
# CEP family (documents-as-transcripts)
# --------------------------------------------------------------------

def _canon_turns(spark):
    """The canonical transcript corpus, read from the parquet fixture
    its oracles read (inferred, ``ts`` would be ``timestamp_ntz``)."""
    return spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(
        FX.transcripts_fixture_path()
    )


def q_cep_match_actions(spark, sf_dir):
    """Flagship: match + extract + render + step expansion (M1-M4,
    T3/T4), no cooldown."""
    return _doc_actions(spark, sf_dir)


def q_cep_match_counts(spark, sf_dir):
    turns = documents_as_transcripts(spark, sf_dir)
    m = match_turns(turns, document_rules())
    return m.groupBy("rule_id").agg(F.count(F.lit(1)).alias("n_matches"))


def q_cep_fallback_classify(spark, sf_dir):
    """F5: substring fallback classifier on turns no rule matched
    (left-anti join + CASE WHEN). Runs on the canonical transcript
    corpus, whose filler lines span all four classes (the documents
    corpus only exercised one -- round-1 verdict)."""
    turns = _canon_turns(spark)
    m = match_turns(turns, canonical_rules())
    return (
        classify_unmatched(turns, m)
        .groupBy("level")
        .agg(F.count(F.lit(1)).alias("n_turns"))
    )


def _doc_rules_with_cooldown():
    rules = document_rules()
    out = []
    for r in rules:
        if r.rule_id == "big_table":
            r = Rule(r.rule_id, r.rule_idx, r.pattern, cooldown_ms=1_800_000,
                     enabled=r.enabled, steps=r.steps)
        out.append(r)
    return out


def q_cep_cooldown_fires(spark, sf_dir):
    """T1: event-time cooldown (30 min) on the big_table rule; oracle
    is an independent recursive-CTE greedy chain in DuckDB."""
    turns = documents_as_transcripts(spark, sf_dir)
    rules = _doc_rules_with_cooldown()
    m = apply_cooldown(match_turns(turns, rules), rules)
    return m.filter(F.col("rule_id") == "big_table").select(
        "conv_id", "turn_idx",
        F.date_format("ts", TS_FMT_SPARK).alias("fire_ts"),
    )


def q_cep_sequence_pairs(spark, sf_dir):
    """T3-generalized: merge_batch then big_table within 2 h per conv."""
    turns = documents_as_transcripts(spark, sf_dir)
    m = match_turns(turns, document_rules())
    seq = sequence_detect(m, "merge_batch", "big_table", within_ms=7_200_000)
    return seq.select(
        "conv_id",
        "a_turn_idx",
        "b_turn_idx",
        F.date_format("a_ts", TS_FMT_SPARK).alias("a_fire_ts"),
        F.date_format("b_ts", TS_FMT_SPARK).alias("b_fire_ts"),
    )


def q_cep_session_convs(spark, sf_dir):
    """Session windows per conversation, 30 min gap (2.6)."""
    turns = documents_as_transcripts(spark, sf_dir)
    s = Wops.session(turns, "ts", "30 minutes", keys=["conv_id"])
    return s.select(
        "conv_id",
        F.date_format("session_start", TS_FMT_SPARK).alias("session_start"),
        F.date_format("session_end", TS_FMT_SPARK).alias("session_end"),
        "n_events",
    )


# --------------------------------------------------------------------
# events family
# --------------------------------------------------------------------

def q_window_tumbling_1h(spark, sf_dir):
    w = Wops.tumbling(_events(spark, sf_dir), "ts", "1 hour",
                      keys=["event_type"], value_col="value")
    return w.select(
        F.date_format("window_start", TS_FMT_SPARK).alias("window_start"),
        "event_type", "n_events",
        F.round("sum_value", 4).alias("sum_value"),
    )


def q_window_sliding_1h_30m(spark, sf_dir):
    w = Wops.sliding(_events(spark, sf_dir), "ts", "1 hour", "30 minutes",
                     keys=["event_type"], value_col="value")
    return w.select(
        F.date_format("window_start", TS_FMT_SPARK).alias("window_start"),
        "event_type", "n_events",
        F.round("sum_value", 4).alias("sum_value"),
    )


def q_window_session_30m(spark, sf_dir):
    s = Wops.session(_events(spark, sf_dir), "ts", "30 minutes",
                     keys=["user_id"], value_col="value")
    return s.select(
        "user_id",
        F.date_format("session_start", TS_FMT_SPARK_US).alias("session_start"),
        F.date_format("session_end", TS_FMT_SPARK_US).alias("session_end"),
        "n_events",
        F.round("sum_value", 4).alias("sum_value"),
    )


def q_sequence_signup_purchase(spark, sf_dir):
    """A-then-B on the events table via the engine's sequence operator
    (events adapted to the match frame)."""
    e = _events(spark, sf_dir).select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("event_id").cast("int").alias("turn_idx"),
        F.col("event_type").alias("rule_id"),
        "ts",
    )
    seq = sequence_detect(e, "signup", "purchase", within_ms=3_600_000)
    return seq.select(
        F.col("conv_id").cast("long").alias("user_id"),
        F.col("a_turn_idx").alias("signup_event_id"),
        F.col("b_turn_idx").alias("purchase_event_id"),
        F.date_format("a_ts", TS_FMT_SPARK_US).alias("a_ts"),
        F.date_format("b_ts", TS_FMT_SPARK_US).alias("b_ts"),
    )


def q_sequence_all_pairs(spark, sf_dir):
    """EVERY-A-pairs sequence semantics (the counterpart of
    ``sequence_signup_purchase``'s latest-A): each purchase pairs with
    ALL signups in the preceding hour. Batch shape is the bounded
    interval join of ``sequence_detect_all``; the streaming twin
    (``stream_sequence_detect_all``, capped list state) is pinned
    against this in tests/test_streaming.py."""
    from logeventprocessor_spark.operators.sequence import sequence_detect_all

    e = _events(spark, sf_dir).select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("event_id").cast("int").alias("turn_idx"),
        F.col("event_type").alias("rule_id"),
        "ts",
    )
    seq = sequence_detect_all(e, "signup", "purchase", within_ms=3_600_000)
    return seq.select(
        F.col("conv_id").cast("long").alias("user_id"),
        F.col("a_turn_idx").alias("signup_event_id"),
        F.col("b_turn_idx").alias("purchase_event_id"),
        F.date_format("a_ts", TS_FMT_SPARK_US).alias("a_ts"),
        F.date_format("b_ts", TS_FMT_SPARK_US).alias("b_ts"),
    )


def q_interval_join_error_click(spark, sf_dir):
    """Interval join (2.6): clicks within +-5 min of an error, same user."""
    e = _events(spark, sf_dir)
    a = e.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("user_id"), F.col("event_id").alias("error_id"),
        F.col("ts").alias("a_ts"))
    b = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("user_id"), F.col("event_id").alias("click_id"),
        F.col("ts").alias("b_ts"))
    j = a.join(b, "user_id").filter(
        (F.col("b_ts") >= F.col("a_ts") - F.expr("INTERVAL 5 MINUTES"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr("INTERVAL 5 MINUTES"))
    )
    return j.select("user_id", "error_id", "click_id")


def q_topk_events_per_user(spark, sf_dir):
    from pyspark.sql import Window

    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), "event_id")
    return (
        e.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
        .select("user_id", "event_id", F.round("value", 2).alias("value"), "rnk")
    )


def q_window_funcs_events(spark, sf_dir):
    """2.6 window-function surface beyond row_number: lag/lead (event
    gaps), ntile quartiles, percent_rank -- one shuffle on user_id."""
    from pyspark.sql import Window

    e = _events(spark, sf_dir)
    wt = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wv = Window.partitionBy("user_id").orderBy("value", "event_id")
    # integer-microsecond difference FIRST, divide once: (a/1e6 - b/1e6)
    # in double loses ~2e-6 s at epoch magnitude and can flip round(,3)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = (us - F.lag(us).over(wt)) / F.lit(1_000_000.0)
    return e.select(
        "user_id",
        "event_id",
        F.round(gap, 3).alias("gap_s"),
        F.lead("event_id").over(wt).alias("next_event_id"),
        F.ntile(4).over(wv).alias("value_quartile"),
        F.round(F.percent_rank().over(wv), 6).alias("value_pct_rank"),
    )


def q_events_p95_udaf(spark, sf_dir):
    """2.6 UDAF surface: a grouped-agg pandas UDF (Arrow-batched
    per-group Series -> scalar) computing the p95 of value per type;
    oracle is DuckDB quantile_cont (same linear interpolation)."""

    @F.pandas_udf("double")
    def p95(v: pd.Series) -> float:
        return float(v.quantile(0.95))

    @F.pandas_udf("double")
    def p50(v: pd.Series) -> float:
        return float(v.quantile(0.50))

    # NOTE: grouped-agg pandas UDFs cannot mix with built-in aggregates
    # in one agg() -- keep the whole aggregate list pandas-side
    e = _events(spark, sf_dir)
    return e.groupBy("event_type").agg(
        F.round(p95("value"), 4).alias("p95_value"),
        F.round(p50("value"), 4).alias("p50_value"),
    )


def q_approx_distinct_users(spark, sf_dir):
    """Sketch surface: HLL++ approx_count_distinct checked against the
    exact count inside the query -- the oracle pins the exact count and
    the invariant that the sketch lands within 5%."""
    e = _events(spark, sf_dir)
    exact = F.countDistinct("user_id")
    approx = F.approx_count_distinct("user_id", 0.02)
    return e.groupBy("event_type").agg(
        exact.alias("exact_users"),
        (
            F.abs(approx - exact) / exact <= 0.05
        ).alias("approx_within_5pct"),
    )


def q_rollup_hourly_to_daily(spark, sf_dir):
    """Hypertable-style continuous aggregate: the daily rollup is
    derived by REAGGREGATING the hourly rollup (sums of partial
    sums/counts -- algebraic aggregates compose), never rescanning the
    raw events; the oracle aggregates raw directly, pinning that the
    cascade loses nothing. At scale the hourly table is the persisted
    materialization and day/month views reaggregate it."""
    e = _events(spark, sf_dir)
    hourly = e.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sv"))
    return hourly.groupBy(
        F.date_format(F.date_trunc("day", "hour"), "yyyy-MM-dd").alias("day"),
        "event_type",
    ).agg(
        F.sum("n").alias("n_events"),
        F.round(F.sum("sv"), 4).alias("sum_value"),
    )


def q_approx_quantile_check(spark, sf_dir):
    """Sketch surface #2: built-in percentile_approx (Greenwald-Khanna)
    pinned to land within 2% of the exact median per event type."""
    e = _events(spark, sf_dir)
    exact = F.expr("percentile(value, 0.5)")
    approx = F.percentile_approx("value", 0.5, 10_000)
    return e.groupBy("event_type").agg(
        F.round(exact, 4).alias("exact_median"),
        (F.abs(approx - exact) / exact <= 0.02).alias("approx_within_2pct"),
    )


def q_salted_agg_by_user(spark, sf_dir):
    """Skew operator driver-verified: salted two-phase count/sum per
    user equals the plain GROUP BY (oracle); the salt splits any
    mega-key across reducers before the final S-row combine."""
    from logeventprocessor_spark.operators.skew import salted_two_phase_agg

    e = _events(spark, sf_dir)
    out = salted_two_phase_agg(
        e, "user_id", n_salts=8, sum_cols=["value"], det_cols=["event_id"]
    )
    return out.select(
        "user_id", "n_events", F.round("sum_value", 4).alias("sum_value")
    )


def q_orders_above_cust_avg(spark, sf_dir):
    """Correlated scalar subquery (2.6 relational surface): orders
    priced >= 1.5x their own customer's average order price. Catalyst
    DECORRELATES the subquery into an aggregate + join -- the plan to
    check is one shuffle on o_custkey, no per-row re-execution (the
    classic pre-optimizer trap at 100 TB)."""
    _li(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    # the threshold is rounded to 6 decimals in BOTH dialects: the two
    # engines may sum doubles in different orders, so a row landing
    # exactly on the raw-float boundary could flip between them
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
        FROM orders_v o
        WHERE o_totalprice >= round(1.5 * (
          SELECT avg(o2.o_totalprice) FROM orders_v o2
          WHERE o2.o_custkey = o.o_custkey), 6)
        """
    )


def q_events_pivot_daily(spark, sf_dir):
    """PIVOT (2.6): events rotated to one column per event type with
    daily counts + summed value. Spark plans it as a single partial+
    final pivot aggregate (one shuffle on day); the explicit value
    list keeps the plan static (no distinct-scan pre-pass) -- required
    at scale where an unlisted pivot means an extra full scan."""
    types = ["click", "view", "purchase", "signup", "error"]
    e = _events(spark, sf_dir).withColumn(
        "day", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
    )
    p = e.groupBy("day").pivot("event_type", types).agg(
        F.count(F.lit(1)).alias("n")
    )
    return p.select(
        "day",
        *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
          for t in types],
    )


class RegexAllMatchesUDTF:
    """2.6 UDTF surface: one output row per regex match in the input
    text (match_idx, matched). Row-based Python by design -- the UDTF
    API demo; bulk regex work stays in the vectorized match operator."""

    def eval(self, text: str, pattern: str):
        import re as _re

        if text is None:
            return
        for i, m in enumerate(_re.finditer(pattern, text.lower())):
            yield i, m.group(0)


def q_udtf_regex_matches(spark, sf_dir):
    from pyspark.sql.functions import udtf

    tf = udtf(RegexAllMatchesUDTF, returnType="match_idx int, matched string")
    spark.udtf.register("regex_all_matches", tf)
    _docs(spark, sf_dir).createOrReplaceTempView("docs_for_udtf")
    return spark.sql(
        """
        SELECT d.doc_id, m.match_idx, m.matched
        FROM docs_for_udtf d,
             LATERAL regex_all_matches(d.text, 'spark|window|merge') m
        """
    )


def q_dedup_first_event_per_minute(spark, sf_dir):
    """T7 analog: dropDuplicates by (user, type, minute) keeping the
    first event id."""
    e = _events(spark, sf_dir)
    return (
        e.withColumn("minute", F.date_format(F.date_trunc("minute", "ts"),
                                             TS_FMT_SPARK))
        .groupBy("user_id", "event_type", "minute")
        .agg(F.min("event_id").alias("first_event_id"))
    )


def q_props_k_stats(spark, sf_dir):
    """JSON-ish props extraction (2.6 json fns) -- regex on both sides
    (dialect-safe; avoids JSON-extension availability questions)."""
    e = _events(spark, sf_dir)
    k = F.regexp_extract("props", r'"k":\s*(\d+)', 1).cast("int")
    return (
        e.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


def q_props_json_stats(spark, sf_dir):
    """2.6 JSON fns: real JSON-path extraction (``get_json_object``)
    over the events.props document column -- closes the category the
    regex-based props_k_stats left open (round-1 verdict)."""
    e = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.withColumn("k_bucket", F.floor(k / 10).cast("int"))
        .groupBy("event_type", "k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


def q_events_rollup(spark, sf_dir):
    """ROLLUP aggregation (2.6 grouping sets)."""
    e = _events(spark, sf_dir).withColumn(
        "day", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
    )
    return (
        e.rollup("event_type", "day")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce("day", F.lit("ALL")).alias("day"),
            "n_events",
        )
    )


# --------------------------------------------------------------------
# TPC-H-ish family (classic relational operators)
# --------------------------------------------------------------------

def q_events_cube(spark, sf_dir):
    """CUBE aggregation (2.6 grouping sets)."""
    e = _events(spark, sf_dir).withColumn(
        "day", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
    )
    return (
        e.cube("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce("day", F.lit("ALL")).alias("day"),
            "n_events",
            "sum_value",
        )
    )


def q_tpch_q1_pricing(spark, sf_dir):
    li = _li(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_tpch_q3_top_revenue(spark, sf_dir):
    c = _li(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _li(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1995-03-15"))
    li = _li(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "revenue",
        )
    )


def q_tpch_q5_nation_revenue(spark, sf_dir):
    r = _li(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _li(spark, sf_dir, "nation")
    s = _li(spark, sf_dir, "supplier")
    c = _li(spark, sf_dir, "customer")
    o = _li(spark, sf_dir, "orders")
    li = _li(spark, sf_dir, "lineitem")
    return (
        r.join(n, n.n_regionkey == r.r_regionkey)
        .join(s, s.s_nationkey == n.n_nationkey)
        .join(li, li.l_suppkey == s.s_suppkey)
        .join(o, o.o_orderkey == li.l_orderkey)
        .join(c, (c.c_custkey == o.o_custkey) & (c.c_nationkey == s.s_nationkey))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


def q_tpch_q6_forecast(spark, sf_dir):
    """TPC-H Q6: pure filter + aggregate -- every predicate must reach
    the parquet scan (PushedFilters shows all four)."""
    li = _li(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1994-01-01"))
            & (F.col("l_shipdate") < F.lit("1995-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2)
            .alias("revenue")
        )
    )


def q_tpch_q18_large_orders(spark, sf_dir):
    """TPC-H Q18: HAVING subquery (orders whose total quantity > 300)
    joined back to customer -- aggregate-then-join, broadcast of the
    small filtered key set."""
    li = _li(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    o = _li(spark, sf_dir, "orders")
    c = _li(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(big), o.o_orderkey == big.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .select(
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "total_qty",
        )
    )


def q_tpch_q4_priority(spark, sf_dir):
    """Semi-join: orders with >=1 lineitem received late."""
    o = _li(spark, sf_dir, "orders")
    li = _li(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-06-01")
    )
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def q_customers_without_orders(spark, sf_dir):
    """Anti-join (2.6 set ops): customers with no order above 300k
    (plain no-orders would be empty at these SFs)."""
    c = _li(spark, sf_dir, "customer")
    o = _li(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_nationkey")
    )


# --------------------------------------------------------------------
# text / dedup / similarity family
# --------------------------------------------------------------------

def q_doc_fingerprints(spark, sf_dir):
    # fp_roll is xxhash64-based (no DuckDB equivalent) -> oracle checks
    # fp_md5 only; fp_roll is pinned by unit tests instead
    return Tx.with_fingerprint(Tx.fan_out(_docs(spark, sf_dir))).select(
        "doc_id", "fp_md5"
    )


def q_dedup_exact_stats(spark, sf_dir):
    d = Tx.with_fingerprint(Tx.fan_out(_docs(spark, sf_dir)))
    return d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("fp_md5").alias("n_distinct"),
    )


def q_ngram_jaccard_pairs(spark, sf_dir):
    return D.ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.6)


def q_dedup_clusters(spark, sf_dir):
    """Transitive near-dup clustering over the documents table: the
    n-gram Jaccard pair set (threshold 0.6, the registered
    ngram_jaccard_pairs geometry, MATERIALIZED once as a fixture --
    pair generation is its own pipeline stage and its own bench line)
    fed through pointer-jumping connected components
    (operators/components.py); every doc gets its component id and a
    canonical flag, singletons included. The oracle recomputes the
    WHOLE closure -- pair SQL included -- from the documents table with
    a DuckDB recursive CTE, so the fixture's correctness is re-proven
    on every driver run."""
    docs = _docs(spark, sf_dir)
    pairs = cached_parquet(spark, FX.ngram_pairs_fixture(spark, sf_dir))
    return CC.dedup_clusters(docs, pairs)


def q_benchmark_decontamination(spark, sf_dir):
    """Benchmark decontamination over the documents table: a
    deterministic slice (doc_id % 17 == 0) stands in for the held-out
    eval set; every remaining doc reports its 5-gram overlap with that
    set and a contaminated flag at 20% overlap. The eval-side shingle
    set is broadcast; the corpus is scanned once (see
    operators/dedup.py ngram_contamination)."""
    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    corpus = docs.filter(F.col("doc_id") % 17 != 0)
    return D.ngram_contamination(corpus, bench, n=5, frac_threshold=0.2)


# Deterministic PII-laden rows planted next to the real documents so
# the scrub query exercises every class and boundary (an email whose
# host looks like an IPv4; an SSN adjacent to phones) regardless of
# what the synthetic corpus happens to contain. Negative ids cannot
# collide with driver doc_ids. Mirrored verbatim in the VALUES list of
# the DuckDB oracle.
PII_PLANTED = [
    (-1, "contact john.doe@example.com or jane+tag@sub.domain.org for access"),
    (-2, "ssn 123-45-6789 and phones 555-123-4567 or 555.987.6543"),
    (-3, "hosts 10.0.0.1 and 192.168.100.250 reachable"),
    (-4, "edge admin@192.168.1.1 visits 8.8.8.8 twice 8.8.8.8"),
]



# (rows content, schema) -> (session, DataFrame): plan memo for the
# tiny planted-row frames -- createDataFrame is ~50-100 ms of driver
# work per call. Keyed by content, not id(rows): a freed list's id is
# reused, and a new list must never get the frame of a dead one.
_PLANTED_MEMO: dict = {}


def _planted_df(spark, rows, schema):
    key = (tuple(map(tuple, rows)), schema)
    hit = _PLANTED_MEMO.get(key)
    if hit is not None and hit[0] is spark:
        return hit[1]
    df = spark.createDataFrame(rows, schema)
    _PLANTED_MEMO[key] = (spark, df)
    return df


def q_pii_scrub(spark, sf_dir):
    """PII redaction over the documents table (plus planted PII rows):
    per-class counts, total, and the md5 of the redacted text -- the
    oracle recomputes the scrub with the same nested regex expressions
    in DuckDB, so the hash pins every replaced span byte-for-byte.
    Pure codegen'd projection, no shuffle (operators/text.py
    with_pii_scrub)."""
    planted = _planted_df(spark, PII_PLANTED, "doc_id long, text string")
    # fan_out: the scrub is 8 regex passes over a single-split local
    # scan -- rebalanced, it runs at cluster parallelism (A/B at sf0.1
    # local[32]: 0.45 -> 0.20 s); a real 100 TB scan arrives
    # multi-split and fan_out passes through off a local master
    docs = Tx.fan_out(
        _docs(spark, sf_dir).select("doc_id", "text").unionByName(planted)
    )
    return Tx.with_pii_scrub(docs).select(
        "doc_id",
        "n_email",
        "n_ssn",
        "n_phone",
        "n_ipv4",
        "pii_total",
        F.md5("text_clean").alias("clean_md5"),
    )


# Deterministic URL-bearing rows planted next to the documents table
# (the synthetic corpus has no URLs); mirrored in the oracle VALUES.
URL_PLANTED = [
    (-11, "see https://example.com/a and http://EXAMPLE.com/b?q=1 plus https://docs.example.org"),
    (-12, "bare domain example.com is not a url but https://sub.tld-host.net/path/x.html is"),
    (-13, "repeat https://example.com/a https://example.com/a trailing text"),
]


def q_top_url_domains(spark, sf_dir):
    """Source-domain mix over the corpus: extract every http(s) URL,
    reduce to its lowercased host, and count mentions + distinct docs
    per domain -- the provenance profile a web pipeline computes before
    per-domain caps/blocklists. Explode fans out only URL-bearing rows
    (the corpus scan stays one pass); the domain aggregation is the
    single shuffle."""
    planted = _planted_df(spark, URL_PLANTED, "doc_id long, text string")
    docs = Tx.fan_out(
        _docs(spark, sf_dir).select("doc_id", "text").unionByName(planted)
    )
    u = Tx.with_urls(docs).filter(F.col("n_urls") > 0)
    return (
        u.select("doc_id", F.explode("urls").alias("url"))
        .select("doc_id", Tx.domain_of(F.col("url")).alias("domain"))
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_mentions"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )


def q_domain_capped_docs(spark, sf_dir):
    """The policy step after the provenance profile: keep the top-2
    documents per source domain by quality score (ties by doc_id).
    One (doc_id, domain) pair per mention-distinct doc; the cap is the
    salted two-phase top-N of ``Tx.cap_docs_per_domain`` (a Zipfian
    mega-domain never lands whole in one window task). Oracled with
    the same window in DuckDB."""
    planted = _planted_df(spark, URL_PLANTED, "doc_id long, text string")
    docs = Tx.fan_out(
        _docs(spark, sf_dir).select("doc_id", "text").unionByName(planted)
    )
    dom = (
        Tx.with_urls(docs)
        .filter(F.col("n_urls") > 0)
        .select("doc_id", F.explode("urls").alias("url"))
        .select("doc_id", Tx.domain_of(F.col("url")).alias("domain"))
        .distinct()
    )
    q = Tx.with_quality_score(docs).select("doc_id", "quality_score")
    return Tx.cap_docs_per_domain(dom.join(q, "doc_id"), cap=2).select(
        "domain", "doc_id", "quality_score", F.col("rn").cast("int").alias("rn")
    )


def q_stratified_sample_docs(spark, sf_dir):
    """Training-mix control: deterministically downsample the corpus
    per predicted language (en kept at 40%, de at 80%, others whole).
    Membership is a pure hash of doc_id (operators/sampling.py) -- NO
    RNG state, retry/cluster-size stable, codegen'd filter with no
    shuffle -- unlike DataFrame.sample(), whose per-partition seeding
    changes the kept set under repartitioning or stage retry. Returns
    the bucket so the oracle pins the arithmetic, not just the
    row set."""
    from logeventprocessor_spark.operators import sampling as Smp

    d = Tx.with_lang_id(Tx.fan_out(_docs(spark, sf_dir)))
    out = Smp.stratified_sample(
        d, {"en": 0.4, "de": 0.8}, strata_col="lang_pred", key_col="doc_id"
    )
    return out.select(
        "doc_id",
        "lang_pred",
        Smp.sample_bucket(F.col("doc_id")).cast("int").alias("bucket"),
    )


def q_text_quality(spark, sf_dir):
    d = Tx.with_quality_score(Tx.fan_out(_docs(spark, sf_dir)))
    return d.select(
        "doc_id", "n_tokens_ws", "stopword_ratio", "punct_ratio", "quality_score"
    )


def q_lang_id_pred(spark, sf_dir):
    return Tx.with_lang_id(Tx.fan_out(_docs(spark, sf_dir))).select(
        "doc_id", "lang_pred"
    )


def q_doc_repetition(spark, sf_dir):
    """Gopher-style n-gram repetition ratio per doc (training-data
    quality signal) -- no explode, no shuffle."""
    d = Tx.with_repetition_ratio(_docs(spark, sf_dir))
    return d.select(
        "doc_id",
        F.col("n_grams").cast("int").alias("n_grams"),
        "rep_ratio",
    ).filter(F.col("n_grams").isNotNull())


def q_token_stats_by_lang(spark, sf_dir):
    d = Tx.with_token_counts(Tx.fan_out(_docs(spark, sf_dir)))
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_tokens_ws"), 4).alias("avg_tokens"),
        F.sum("n_tokens_bpe").cast("long").alias("total_bpe_tokens"),
    )


def _query_vec(spark, sf_dir) -> list[float]:
    row = _emb(spark, sf_dir).filter(F.col("vec_id") == 0).first()
    return [float(x) for x in row["embedding"]]


def q_training_data_filter(spark, sf_dir):
    """The end-to-end training-data admission decision, per document:
    exact-dedup (normalized md5, keep min doc_id) -> quality score ->
    lang-ID -> repetition ratio, composed from the individual
    operators, with the FIRST failing gate recorded as the drop
    reason. One scan, no shuffle except the dedup window -- the shape
    of a real corpus-filter job at 100 TB. Fully DuckDB-oracled."""
    from pyspark.sql import Window

    # rebalance FIRST: the fingerprint/quality/lang feature work is
    # regex + interpreted higher-order expressions, and the small local
    # parquet arrives as ONE scan split -- fanned out up front, every
    # feature stage parallelizes instead of only the repetition pass
    # (guide §2: partitioning bounds downstream parallelism)
    d = Tx.with_repetition_ratio(
        Tx.with_lang_id(Tx.with_quality_score(Tx.with_fingerprint(
            Tx.fan_out(_docs(spark, sf_dir))))),
        rebalance=False,
    )
    w = Window.partitionBy("fp_md5").orderBy("doc_id")
    d = d.withColumn("_rn", F.row_number().over(w))
    reason = (
        F.when(F.col("_rn") > 1, F.lit("dup"))
        .when(F.col("quality_score") < 0.7, F.lit("quality"))
        .when(F.col("lang_pred") == "und", F.lit("lang"))
        .when(
            F.col("rep_ratio").isNotNull() & (F.col("rep_ratio") > 0.2),
            F.lit("repetition"),
        )
        .otherwise(F.lit("kept"))
    )
    return d.select("doc_id", reason.alias("decision"))


def q_embedding_cosine_query(spark, sf_dir):
    """Brute-force similarity search: all vectors with cosine >= 0.25
    to the vec_id=0 query (threshold form -- stable under ties)."""
    q = _query_vec(spark, sf_dir)
    sim = S.cosine_sim_to_query(_emb(spark, sf_dir), q)
    return (
        _emb(spark, sf_dir)
        .select("vec_id", F.round(sim, 6).alias("cos_sim"))
        .filter((F.col("cos_sim") >= 0.25) & (F.col("vec_id") != 0))
    )


def q_embedding_neardup_pairs(spark, sf_dir):
    """Near-dup pairs probing the PERSISTED LSH index (bucket column
    materialized at ingest; the probe plan has no UDF and no bucket
    recompute -- the scale path, no cross join); oracle is the
    brute-force SQL over the same augmented fixture. The Spark-side
    index builder (``lsh_build``) feeding the same probe is
    pytest-pinned against ``brute_force_pairs``."""
    return S.near_dup_pairs_from_index(
        spark, FX.lsh_index_fixture(sf_dir), threshold=0.9
    )


def q_embedding_brute_force_pairs(spark, sf_dir):
    """Exact all-pairs baseline on the RAW driver embeddings (recall
    ground truth; O(n^2) by design -- small fixed inputs only)."""
    return S.brute_force_pairs(_emb(spark, sf_dir), threshold=0.30)


def q_asof_purchase_view(spark, sf_dir):
    """As-of join: each purchase matched to the user's latest preceding
    view within 2 h (oracle: DuckDB native ASOF JOIN)."""
    from logeventprocessor_spark.operators.asof import asof_join

    e = _events(spark, sf_dir)
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "ts"
    )
    v = e.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), "ts"
    )
    j = asof_join(p, v, key="user_id", right_cols=["view_id"],
                  tolerance_ms=7_200_000)
    return j.filter(F.col("asof_view_id").isNotNull()).select(
        "user_id",
        "purchase_id",
        F.col("asof_view_id").alias("view_id"),
        F.date_format("ts", TS_FMT_SPARK_US).alias("purchase_ts"),
        F.date_format("asof_ts", TS_FMT_SPARK_US).alias("view_ts"),
    )


def q_set_ops_users(spark, sf_dir):
    """Set operators: users with a signup and NO purchase (EXCEPT) plus
    users with both (INTERSECT), labeled."""
    e = _events(spark, sf_dir)
    s = e.filter(F.col("event_type") == "signup").select("user_id").distinct()
    p = e.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    both = s.intersect(p).withColumn("cohort", F.lit("signup_and_purchase"))
    only = s.exceptAll(p).withColumn("cohort", F.lit("signup_only"))
    return both.unionByName(only)


# --------------------------------------------------------------------
# rows-only queries (no SQL-expressible oracle: hashing/stateful/UDF)
# --------------------------------------------------------------------

def q_minhash_lsh_pairs(spark, sf_dir):
    """Banded-MinHash candidates verified with exact Jaccard: recall is
    the S-curve, precision 1.0 -- at the fixture geometry recall is
    exactly 1, so the exact-Jaccard SQL is a full value oracle."""
    return D.minhash_lsh_pairs(_docs(spark, sf_dir), k=32, bands=8, threshold=0.6)


def q_simhash_pairs(spark, sf_dir):
    """EXACT hamming<=3 pairs over the 64-bit xxhash SimHash with the
    Manku compound-key geometry (``simhash_pairs``' default at
    max_hamming=3: 6 blocks, 3-block combo keys >=30 bits wide) -- the
    join-key cardinality that survives a 10^9-doc corpus (round-3
    verdict: the old max_hamming=6 single-block registration had 9-bit
    keys, quadratic per bucket at scale).
    Value-oracled: DuckDB brute-scans signatures computed by the
    INDEPENDENT pure-Python XXH64+SimHash (oracle.py) from the
    signature fixture."""
    return D.simhash_pairs(_docs(spark, sf_dir), max_hamming=3)


def q_simhash_md5_pairs(spark, sf_dir):
    """EXACT hamming<=3 pairs over the dialect-portable 60-bit md5
    SimHash, candidates via the Manku compound-key geometry (30-bit
    join keys -- the same 10^9-doc-safe shape as ``simhash_pairs``);
    DuckDB recomputes the identical signature and pair set."""
    return D.simhash_md5_pairs(_docs(spark, sf_dir), max_hamming=3)


def q_lsh_ann_topk(spark, sf_dir):
    """ANN top-k probing the PERSISTED banded-LSH index (bucket array
    materialized at ingest by the fixture builder / ``lsh_build``):
    the probe plan is a columnar scan + ``arrays_overlap`` on the
    stored column -- no UDF, no bucket recompute. At the fixture the
    candidate set provably contains the true top-k (the planted
    query-duplicates), so exact top-k SQL is the oracle."""
    q = FX.query_vector(sf_dir)
    path = FX.lsh_index_fixture(sf_dir)
    return S.lsh_load_topk(spark, path, q, k=10, exclude_id=0)


def q_ivf_ann_topk(spark, sf_dir):
    """ANN top-k via a PERSISTED IVF index: the index is a fixture
    (built by ``fixtures.ivf_index_fixture`` next to the other fixture
    writes -- round-2 verdict: registered queries are READ-ONLY);
    probes are partition-pruned scans with no model fit."""
    q = FX.query_vector(sf_dir)
    path = FX.ivf_index_fixture(sf_dir)
    return S.ivf_load_topk(spark, path, q, k=10, n_probe=2, exclude_id=0)


def q_cep_transcripts_flagship(spark, sf_dir):
    """The full canonical CEP pipeline (incl. cooldown state) on the
    deterministic transcript generator -- the engine's own fixtures.
    Spark and the DuckDB oracle read the same parquet fixture
    (fixtures.py); the oracle recomputes the WHOLE pipeline
    independently."""
    turns = _canon_turns(spark)
    acts = match_actions(turns, canonical_rules(), with_cooldown=True)
    return acts.select(
        "conv_id", "turn_idx", "rule_id", "rule_idx", "step_idx",
        "extracted", "action_type", "rendered_value",
        F.date_format("ts", TS_FMT_SPARK_US).alias("ts"),
    )


def q_cep_actions_with_context(spark, sf_dir):
    """T5's row contract in batch form, driver-oracled: every flagship
    action row re-joined to its source turn's role/tool context by
    (conv_id, turn_idx) equality. The streaming form,
    start_pipeline(with_context_join=True), carries the same columns
    through the match operator instead of joining them back (a
    stream-stream join would scan the source a second time and keep
    join state); its parity is pinned by
    tests/test_streaming.py::test_context_join_pipeline_end_to_end.
    Reference analog: actions carry the original logLine forward
    (ActionManager.h:22, set at ActionManager.cpp:82)."""
    turns = _canon_turns(spark)
    acts = match_actions(turns, canonical_rules(), with_cooldown=True)
    ctx = turns.select("conv_id", "turn_idx", "role", "tool")
    return acts.join(F.broadcast(ctx), ["conv_id", "turn_idx"]).select(
        "conv_id", "turn_idx", "rule_id", "step_idx", "role", "tool",
        "rendered_value",
        F.date_format("ts", TS_FMT_SPARK_US).alias("ts"),
    )


def q_cep_actions_ctx_carry(spark, sf_dir):
    """The same row contract as ``cep_actions_with_context`` via the
    CARRY-THROUGH plan of ``start_pipeline(with_context_join=True)``:
    the matched turn's role/tool ride the match operator's Arrow
    boundary (``match_turns(carry_cols=...)``, one zero-copy
    ``pc.take`` per column), then pass through the cooldown gate (its
    output schema mirrors its input) and step expansion
    (``extra_cols``) -- one match pass, no second pass over the turns,
    no join. Oracled with the SAME SQL as the join variant: two
    physical plans, one logical result."""
    turns = _canon_turns(spark)
    rules = canonical_rules()
    ctx = ("role", "tool")
    m = match_turns(turns, rules, carry_cols=ctx)
    acts = expand_steps(apply_cooldown(m, rules), rules, extra_cols=ctx)
    return acts.select(
        "conv_id", "turn_idx", "rule_id", "step_idx", "role", "tool",
        "rendered_value",
        F.date_format("ts", TS_FMT_SPARK_US).alias("ts"),
    )


def q_multimodal_features(spark, sf_dir):
    """Multimodal decode, DuckDB-oracled: Spark reads the media fixture
    parquet and DECODES every payload header (decode_meta -> n_bytes +
    width/height parsed from the BMP/WAV/RAWV bytes in mapInPandas);
    the oracle reads the SAME parquet and cross-checks against
    octet_length(payload) and the stored meta struct. The full feature
    vector (feat_sum) is not SQL-expressible and stays pinned by
    tests/test_datapipe.py."""
    media = cached_parquet(spark, FX.media_fixture_path())
    return M.decode_meta(media)


# --------------------------------------------------------------------
# oracle SQL
# --------------------------------------------------------------------

ORACLES: dict[str, str] = {
    "cep_match_actions": f"""
        WITH m AS ({_SQL_DOC_MATCHES})
        SELECT m.conv_id, m.turn_idx, m.rule_id, m.rule_idx,
               CAST(s.step_idx AS INTEGER) AS step_idx, m.extracted,
               s.type AS action_type,
               CASE WHEN s.type IN ('sms','email') THEN m.text
                    WHEN m.extracted <> '' THEN replace(s.value, '#', m.extracted)
                    ELSE s.value END AS rendered_value
        FROM m JOIN {_SQL_DOC_STEPS} USING (rule_id)
    """,
    "cep_match_counts": f"""
        WITH m AS ({_SQL_DOC_MATCHES})
        SELECT rule_id, count(*) AS n_matches FROM m GROUP BY rule_id
    """,
    "cep_fallback_classify": _fallback_classify_oracle_sql(),
    "cep_transcripts_flagship": _flagship_oracle_sql(),
    "cep_actions_with_context": f"""
        SELECT f.conv_id, f.turn_idx, f.rule_id, f.step_idx,
               c.role, c.tool, f.rendered_value, f.ts
        FROM ({_flagship_oracle_sql()}) f
        JOIN read_parquet('{FX.transcripts_fixture_path(ensure=False)}') c
          USING (conv_id, turn_idx)
    """,
    "cep_cooldown_fires": f"""
        WITH RECURSIVE hits AS (
          SELECT conv_id, turn_idx, ts,
                 row_number() OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS rn
          FROM ({_SQL_DOC_MATCHES}) WHERE rule_id = 'big_table'
        ), fire AS (
          SELECT conv_id, turn_idx, ts, rn FROM hits WHERE rn = 1
          UNION ALL
          SELECT n.conv_id, n.turn_idx, n.ts, n.rn FROM fire f, LATERAL (
            SELECT * FROM hits h
            WHERE h.conv_id = f.conv_id AND h.ts >= f.ts + INTERVAL 1800 SECOND
            ORDER BY h.rn LIMIT 1
          ) n
        )
        SELECT conv_id, turn_idx, strftime(ts, '{TS_FMT_DUCK}') AS fire_ts FROM fire
    """,
    "cep_sequence_pairs": f"""
        WITH m AS (
          SELECT DISTINCT conv_id, turn_idx, ts, rule_id
          FROM ({_SQL_DOC_MATCHES}) WHERE rule_id IN ('merge_batch','big_table')
        ), x AS (
          SELECT *,
            last_value(CASE WHEN rule_id='merge_batch' THEN ts END IGNORE NULLS)
              OVER w AS a_ts,
            last_value(CASE WHEN rule_id='merge_batch' THEN turn_idx END IGNORE NULLS)
              OVER w AS a_turn_idx
          FROM m WINDOW w AS (PARTITION BY conv_id
            ORDER BY ts, turn_idx, CASE WHEN rule_id='big_table' THEN 1 ELSE 0 END
            ROWS UNBOUNDED PRECEDING)
        )
        SELECT conv_id, CAST(a_turn_idx AS INTEGER) AS a_turn_idx,
               turn_idx AS b_turn_idx,
               strftime(a_ts, '{TS_FMT_DUCK}') AS a_fire_ts,
               strftime(ts, '{TS_FMT_DUCK}') AS b_fire_ts
        FROM x WHERE rule_id = 'big_table' AND a_ts IS NOT NULL
          AND ts - a_ts <= INTERVAL 7200 SECOND
    """,
    "cep_session_convs": f"""
        WITH t AS ({_SQL_DOC_TURNS}), o AS (
          SELECT conv_id, ts,
                 CASE WHEN lag(ts) OVER w IS NULL
                      OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS brk
          FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY ts)
        ), s AS (
          SELECT *, sum(brk) OVER (PARTITION BY conv_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS sid
          FROM o
        )
        SELECT conv_id, strftime(min(ts), '{TS_FMT_DUCK}') AS session_start,
               strftime(max(ts) + INTERVAL 30 MINUTE, '{TS_FMT_DUCK}') AS session_end,
               count(*) AS n_events
        FROM s GROUP BY conv_id, sid
    """,
    "window_tumbling_1h": f"""
        SELECT strftime(date_trunc('hour', ts), '{TS_FMT_DUCK}') AS window_start,
               event_type, count(*) AS n_events,
               round(round(sum(value), 6), 4) AS sum_value
        FROM events GROUP BY 1, 2
    """,
    "window_sliding_1h_30m": f"""
        SELECT strftime(make_timestamp((epoch_us(ts) // 1800000000 - k) * 1800000000),
                        '{TS_FMT_DUCK}') AS window_start,
               event_type, count(*) AS n_events,
               round(round(sum(value), 6), 4) AS sum_value
        FROM events, (VALUES (0),(1)) off(k)
        GROUP BY 1, 2
    """,
    "window_session_30m": f"""
        WITH o AS (
          SELECT user_id, ts, value,
                 CASE WHEN lag(ts) OVER w IS NULL
                      OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS brk
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), s AS (
          SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS sid
          FROM o
        )
        SELECT user_id, strftime(min(ts), '{TS_FMT_DUCK_US}') AS session_start,
               strftime(max(ts) + INTERVAL 30 MINUTE, '{TS_FMT_DUCK_US}') AS session_end,
               count(*) AS n_events,
               round(round(sum(value), 6), 4) AS sum_value
        FROM s GROUP BY user_id, sid
    """,
    "sequence_signup_purchase": f"""
        WITH e AS (
          SELECT user_id, event_id, ts, event_type FROM events
          WHERE event_type IN ('signup', 'purchase')
        ), x AS (
          SELECT *,
            last_value(CASE WHEN event_type='signup' THEN ts END IGNORE NULLS)
              OVER w AS a_ts,
            last_value(CASE WHEN event_type='signup' THEN event_id END IGNORE NULLS)
              OVER w AS a_id
          FROM e WINDOW w AS (PARTITION BY user_id
            ORDER BY ts, event_id, CASE WHEN event_type='purchase' THEN 1 ELSE 0 END
            ROWS UNBOUNDED PRECEDING)
        )
        SELECT user_id, CAST(a_id AS INTEGER) AS signup_event_id,
               CAST(event_id AS INTEGER) AS purchase_event_id,
               strftime(a_ts, '{TS_FMT_DUCK_US}') AS a_ts,
               strftime(ts, '{TS_FMT_DUCK_US}') AS b_ts
        FROM x WHERE event_type='purchase' AND a_ts IS NOT NULL
          AND ts - a_ts <= INTERVAL 3600 SECOND
    """,
    "sequence_all_pairs": f"""
        WITH a AS (
          SELECT user_id, event_id AS a_id, ts AS a_ts FROM events
          WHERE event_type = 'signup'
        ), b AS (
          SELECT user_id, event_id AS b_id, ts AS b_ts FROM events
          WHERE event_type = 'purchase'
        )
        SELECT a.user_id,
               CAST(a_id AS INTEGER) AS signup_event_id,
               CAST(b_id AS INTEGER) AS purchase_event_id,
               strftime(a_ts, '{TS_FMT_DUCK_US}') AS a_ts,
               strftime(b_ts, '{TS_FMT_DUCK_US}') AS b_ts
        FROM a JOIN b ON a.user_id = b.user_id
        WHERE (a_ts < b_ts OR (a_ts = b_ts AND a_id <= b_id))
          AND b_ts - a_ts <= INTERVAL 3600 SECOND
    """,
    "interval_join_error_click": """
        SELECT a.user_id AS user_id, a.event_id AS error_id, b.event_id AS click_id
        FROM events a JOIN events b
          ON a.user_id = b.user_id
         AND a.event_type = 'error' AND b.event_type = 'click'
         AND b.ts >= a.ts - INTERVAL 5 MINUTE
         AND b.ts <= a.ts + INTERVAL 5 MINUTE
    """,
    "topk_events_per_user": """
        SELECT user_id, event_id, round(value, 2) AS value, CAST(rnk AS INTEGER) AS rnk
        FROM (
          SELECT *, row_number() OVER (PARTITION BY user_id
                    ORDER BY value DESC, event_id) AS rnk
          FROM events
        ) WHERE rnk <= 3
    """,
    "dedup_first_event_per_minute": f"""
        SELECT user_id, event_type,
               strftime(date_trunc('minute', ts), '{TS_FMT_DUCK}') AS minute,
               min(event_id) AS first_event_id
        FROM events GROUP BY 1, 2, 3
    """,
    "top_url_domains": f"""
        WITH planted(doc_id, text) AS (VALUES
          (-11, 'see https://example.com/a and http://EXAMPLE.com/b?q=1 plus https://docs.example.org'),
          (-12, 'bare domain example.com is not a url but https://sub.tld-host.net/path/x.html is'),
          (-13, 'repeat https://example.com/a https://example.com/a trailing text')
        ), ad AS (
          SELECT doc_id, text FROM documents
          UNION ALL SELECT CAST(doc_id AS BIGINT), text FROM planted
        ), u AS (
          SELECT doc_id,
                 unnest(regexp_extract_all(text,
                     {URL_SQL}, 0)) AS url
          FROM ad
        )
        SELECT lower(regexp_extract(url, 'https?://([A-Za-z0-9.-]+)', 1))
                 AS domain,
               count(*) AS n_mentions,
               count(DISTINCT doc_id) AS n_docs
        FROM u GROUP BY domain
    """,
    "dedup_clusters": f"""
        WITH RECURSIVE w AS (
          SELECT doc_id, string_split(lower({WS_NORM_SQL}), ' ') AS words FROM documents
        ), g AS (
          SELECT DISTINCT doc_id,
                 words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
          FROM w, UNNEST(range(1, len(words) - 1)) t(i)
          WHERE len(words) >= 3
        ), sizes AS (
          SELECT doc_id, count(*) AS n_sh FROM g GROUP BY doc_id
        ), inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
          FROM g a JOIN g b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        ), p AS (
          SELECT doc_a, doc_b
          FROM inter
          JOIN sizes sa ON sa.doc_id = doc_a
          JOIN sizes sb ON sb.doc_id = doc_b
          WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.6
        ), e AS (
          SELECT doc_a AS src, doc_b AS dst FROM p
          UNION
          SELECT doc_b, doc_a FROM p
        ), r AS (
          SELECT doc_id AS id, doc_id AS reach FROM documents
          UNION
          SELECT r.id, e.dst FROM r JOIN e ON r.reach = e.src
        )
        SELECT id AS doc_id, min(reach) AS comp_id,
               (id = min(reach)) AS is_canonical
        FROM r GROUP BY id
    """,
    "pii_scrub": """
        WITH planted(doc_id, text) AS (VALUES
          (-1, 'contact john.doe@example.com or jane+tag@sub.domain.org for access'),
          (-2, 'ssn 123-45-6789 and phones 555-123-4567 or 555.987.6543'),
          (-3, 'hosts 10.0.0.1 and 192.168.100.250 reachable'),
          (-4, 'edge admin@192.168.1.1 visits 8.8.8.8 twice 8.8.8.8')
        ), ad AS (
          SELECT doc_id, text FROM documents
          UNION ALL SELECT CAST(doc_id AS BIGINT), text FROM planted
        ), s1 AS (
          SELECT doc_id,
                 len(regexp_extract_all(text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_email,
                 regexp_replace(text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                     '<EMAIL>', 'g') AS t
          FROM ad
        ), s2 AS (
          SELECT doc_id, n_email,
                 len(regexp_extract_all(t, '\\b\\d{3}-\\d{2}-\\d{4}\\b')) AS n_ssn,
                 regexp_replace(t, '\\b\\d{3}-\\d{2}-\\d{4}\\b', '<SSN>', 'g') AS t
          FROM s1
        ), s3 AS (
          SELECT doc_id, n_email, n_ssn,
                 len(regexp_extract_all(t, '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b')) AS n_phone,
                 regexp_replace(t, '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b', '<PHONE>', 'g') AS t
          FROM s2
        ), s4 AS (
          SELECT doc_id, n_email, n_ssn, n_phone,
                 len(regexp_extract_all(t,
                     '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS n_ipv4,
                 regexp_replace(t,
                     '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b',
                     '<IP>', 'g') AS t
          FROM s3
        )
        SELECT doc_id,
               CAST(n_email AS INTEGER) AS n_email,
               CAST(n_ssn AS INTEGER) AS n_ssn,
               CAST(n_phone AS INTEGER) AS n_phone,
               CAST(n_ipv4 AS INTEGER) AS n_ipv4,
               CAST(n_email + n_ssn + n_phone + n_ipv4 AS INTEGER) AS pii_total,
               md5(t) AS clean_md5
        FROM s4
    """,
    "props_k_stats": """
        SELECT event_type,
               round(avg(k), 4) AS avg_k,
               min(k) AS min_k, max(k) AS max_k
        FROM (SELECT event_type,
                     CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS INTEGER) AS k
              FROM events)
        GROUP BY event_type
    """,
    "events_rollup": """
        SELECT coalesce(event_type, 'ALL') AS event_type,
               coalesce(day, 'ALL') AS day,
               count(*) AS n_events
        FROM (SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day
              FROM events)
        GROUP BY ROLLUP (event_type, day)
    """,
    "asof_purchase_view": f"""
        SELECT p.user_id AS user_id, p.event_id AS purchase_id,
               v.event_id AS view_id,
               strftime(p.ts, '{TS_FMT_DUCK_US}') AS purchase_ts,
               strftime(v.ts, '{TS_FMT_DUCK_US}') AS view_ts
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        ASOF JOIN (SELECT * FROM events WHERE event_type = 'view') v
          ON p.user_id = v.user_id AND v.ts <= p.ts
        WHERE p.ts - v.ts <= INTERVAL 2 HOUR
    """,
    "set_ops_users": """
        SELECT user_id, 'signup_and_purchase' AS cohort
        FROM (SELECT DISTINCT user_id FROM events WHERE event_type='signup'
              INTERSECT
              SELECT DISTINCT user_id FROM events WHERE event_type='purchase')
        UNION ALL
        SELECT user_id, 'signup_only' AS cohort
        FROM (SELECT DISTINCT user_id FROM events WHERE event_type='signup'
              EXCEPT
              SELECT DISTINCT user_id FROM events WHERE event_type='purchase')
    """,
    "events_cube": """
        SELECT coalesce(event_type, 'ALL') AS event_type,
               coalesce(day, 'ALL') AS day,
               count(*) AS n_events,
               round(sum(value), 4) AS sum_value
        FROM (SELECT event_type, value,
                     strftime(date_trunc('day', ts), '%Y-%m-%d') AS day
              FROM events)
        GROUP BY CUBE (event_type, day)
    """,
    "tpch_q1_pricing": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(avg(l_quantity), 4) AS avg_qty,
               round(avg(l_discount), 6) AS avg_disc,
               count(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    "tpch_q3_top_revenue": """
        SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, revenue
        FROM (
          SELECT o_orderkey, o_orderdate,
                 round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
          FROM customer
          JOIN orders ON c_custkey = o_custkey
          JOIN lineitem ON l_orderkey = o_orderkey
          WHERE c_mktsegment = 'BUILDING'
            AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
            AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
          GROUP BY o_orderkey, o_orderdate
          ORDER BY revenue DESC, o_orderkey LIMIT 10
        )
    """,
    "tpch_q5_nation_revenue": """
        SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM region
        JOIN nation ON n_regionkey = r_regionkey
        JOIN supplier ON s_nationkey = n_nationkey
        JOIN lineitem ON l_suppkey = s_suppkey
        JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey AND c_nationkey = s_nationkey
        WHERE r_name = 'ASIA'
        GROUP BY n_name
    """,
    "tpch_q6_forecast": """
        SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1995-01-01 00:00:00'
          AND l_discount >= 0.05 AND l_discount <= 0.07
          AND l_quantity < 24
    """,
    "tpch_q18_large_orders": """
        SELECT c_custkey, o_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
               round(o_totalprice, 2) AS o_totalprice, total_qty
        FROM orders
        JOIN (SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
              FROM lineitem GROUP BY 1
              HAVING round(sum(l_quantity), 2) > 300) b
          ON o_orderkey = b.l_orderkey
        JOIN customer ON c_custkey = o_custkey
    """,
    "window_funcs_events": """
        SELECT user_id, event_id,
               round((epoch_us(ts) - epoch_us(lag(ts) OVER wt)) / 1000000.0, 3)
                 AS gap_s,
               lead(event_id) OVER wt AS next_event_id,
               CAST(ntile(4) OVER wv AS INTEGER) AS value_quartile,
               round(percent_rank() OVER wv, 6) AS value_pct_rank
        FROM events
        WINDOW wt AS (PARTITION BY user_id ORDER BY ts, event_id),
               wv AS (PARTITION BY user_id ORDER BY value, event_id)
    """,
    "events_p95_udaf": """
        SELECT event_type, round(quantile_cont(value, 0.95), 4) AS p95_value,
               round(quantile_cont(value, 0.50), 4) AS p50_value
        FROM events GROUP BY event_type
    """,
    "approx_distinct_users": """
        SELECT event_type, count(DISTINCT user_id) AS exact_users,
               TRUE AS approx_within_5pct
        FROM events GROUP BY event_type
    """,
    "rollup_hourly_to_daily": """
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
               count(*) AS n_events,
               round(round(sum(value), 6), 4) AS sum_value
        FROM events GROUP BY 1, 2
    """,
    "approx_quantile_check": """
        SELECT event_type,
               round(quantile_cont(value, 0.5), 4) AS exact_median,
               TRUE AS approx_within_2pct
        FROM events GROUP BY event_type
    """,
    "salted_agg_by_user": """
        SELECT user_id, count(*) AS n_events,
               round(round(sum(value), 6), 4) AS sum_value
        FROM events GROUP BY user_id
    """,
    "udtf_regex_matches": """
        SELECT doc_id,
               CAST(generate_subscripts(ms, 1) - 1 AS INTEGER) AS match_idx,
               unnest(ms) AS matched
        FROM (SELECT doc_id,
                     regexp_extract_all(lower(text), 'spark|window|merge') AS ms
              FROM documents)
    """,
    "tpch_q4_priority": """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders o
        WHERE EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o.o_orderkey
                        AND l_shipdate > TIMESTAMP '1995-06-01 00:00:00')
        GROUP BY o_orderpriority
    """,
    "customers_without_orders": """
        SELECT c_custkey, c_nationkey
        FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c.c_custkey
                            AND o_totalprice > 300000)
    """,
    "doc_fingerprints": f"""
        SELECT doc_id,
               md5(lower({WS_NORM_SQL})) AS fp_md5
        FROM documents
    """,
    "dedup_exact_stats": f"""
        SELECT count(*) AS n_docs,
               count(DISTINCT md5(lower({WS_NORM_SQL})))
                 AS n_distinct
        FROM documents
    """,
    "benchmark_decontamination": f"""
        WITH w AS (
          SELECT doc_id, string_split(lower({WS_NORM_SQL}), ' ') AS words FROM documents
        ), g AS (
          SELECT DISTINCT doc_id,
                 words[i] || ' ' || words[i+1] || ' ' || words[i+2] || ' ' ||
                 words[i+3] || ' ' || words[i+4] AS shingle
          FROM w, UNNEST(range(1, len(words) - 3)) t(i)
          WHERE len(words) >= 5
        ), b AS (
          SELECT DISTINCT shingle FROM g WHERE doc_id % 17 = 0
        ), c AS (
          SELECT doc_id, shingle FROM g WHERE doc_id % 17 <> 0
        )
        SELECT c.doc_id,
               count(*) AS n_sh,
               count(b.shingle) AS n_contam,
               round(CAST(count(b.shingle) AS DOUBLE) / count(*), 6)
                 AS contam_frac,
               (CAST(count(b.shingle) AS DOUBLE) / count(*)) >= 0.2
                 AS contaminated
        FROM c LEFT JOIN b USING (shingle)
        GROUP BY c.doc_id
    """,
    "ngram_jaccard_pairs": f"""
        WITH w AS (
          SELECT doc_id, string_split(lower({WS_NORM_SQL}), ' ') AS words FROM documents
        ), g AS (
          SELECT DISTINCT doc_id,
                 words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
          FROM w, UNNEST(range(1, len(words) - 1)) t(i)
          WHERE len(words) >= 3
        ), sizes AS (
          SELECT doc_id, count(*) AS n_sh FROM g GROUP BY doc_id
        ), inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
          FROM g a JOIN g b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6)
                 AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.6
    """,
    "domain_capped_docs": f"""
        WITH planted(doc_id, text) AS (VALUES
          (-11, 'see https://example.com/a and http://EXAMPLE.com/b?q=1 plus https://docs.example.org'),
          (-12, 'bare domain example.com is not a url but https://sub.tld-host.net/path/x.html is'),
          (-13, 'repeat https://example.com/a https://example.com/a trailing text')
        ), ad AS (
          SELECT doc_id, text FROM documents
          UNION ALL SELECT CAST(doc_id AS BIGINT), text FROM planted
        ), dom AS (
          SELECT DISTINCT doc_id,
                 lower(regexp_extract(url, 'https?://([A-Za-z0-9.-]+)', 1))
                   AS domain
          FROM (
            SELECT doc_id,
                   unnest(regexp_extract_all(text,
                       {URL_SQL}, 0)) AS url
            FROM ad
          )
        ), x AS (
          SELECT doc_id,
                 string_split({WS_NORM_SQL}, ' ') AS toks,
                 CAST(len(regexp_extract_all(text, {PUNCT_SQL})) AS INTEGER)
                   AS n_punct,
                 text
          FROM ad
        ), q AS (
          SELECT doc_id,
                 round(
                   (CASE WHEN len(toks) BETWEEN 10 AND 100000 THEN 0.4 ELSE 0.0 END)
                 + (CASE WHEN CAST(n_punct AS DOUBLE) / greatest(length(text),1) <= 0.2
                         THEN 0.3 ELSE 0.0 END)
                 + (CASE WHEN CAST(length(replace({WS_NORM_SQL}, ' ', '')) AS DOUBLE)
                              / len(toks) BETWEEN 2 AND 12
                         THEN 0.3 ELSE 0.0 END), 2) AS quality_score
          FROM x
        ), ranked AS (
          SELECT dom.domain, dom.doc_id, q.quality_score,
                 CAST(row_number() OVER (
                   PARTITION BY dom.domain
                   ORDER BY q.quality_score DESC, dom.doc_id ASC
                 ) AS INTEGER) AS rn
          FROM dom JOIN q ON dom.doc_id = q.doc_id
        )
        SELECT domain, doc_id, quality_score, rn FROM ranked WHERE rn <= 2
    """,
    "text_quality": f"""
        WITH x AS (
          SELECT doc_id, text,
                 string_split({WS_NORM_SQL}, ' ') AS toks,
                 CAST(len(regexp_extract_all(text, {PUNCT_SQL})) AS INTEGER) AS n_punct
          FROM documents
        )
        SELECT doc_id,
               CAST(len(toks) AS INTEGER) AS n_tokens_ws,
               round(CAST(len(list_filter(toks, t -> list_contains(
                 ['the','and','of','to','is','in','that','it'], lower(t))))
                 AS DOUBLE) / len(toks), 6) AS stopword_ratio,
               round(CAST(n_punct AS DOUBLE) / greatest(length(text), 1), 6)
                 AS punct_ratio,
               round(
                 (CASE WHEN len(toks) BETWEEN 10 AND 100000 THEN 0.4 ELSE 0.0 END)
               + (CASE WHEN CAST(n_punct AS DOUBLE) / greatest(length(text),1) <= 0.2
                       THEN 0.3 ELSE 0.0 END)
               + (CASE WHEN CAST(length(replace({WS_NORM_SQL}, ' ', '')) AS DOUBLE)
                            / len(toks) BETWEEN 2 AND 12
                       THEN 0.3 ELSE 0.0 END), 2) AS quality_score
        FROM x
    """,
    "lang_id_pred": f"""
        WITH s AS (
          SELECT doc_id,
            list_transform(string_split({WS_NORM_SQL}, ' '), t -> lower(t)) AS toks
          FROM documents
        ), sc AS (
          SELECT doc_id,
            len(list_filter(toks, t -> list_contains(
              ['the','and','of','to','is','in','that','it'], t))) AS s_en,
            len(list_filter(toks, t -> list_contains(
              ['der','die','das','und','ist','nicht','ich','zu'], t))) AS s_de,
            len(list_filter(toks, t -> list_contains(
              ['le','la','les','et','est','une','je','pas'], t))) AS s_fr,
            len(list_filter(toks, t -> list_contains(
              ['el','la','los','y','es','una','que','no'], t))) AS s_es,
            len(list_filter(toks, t -> list_contains(
              ['的','是','了','在','我','有','和','不'], t))) AS s_zh
          FROM s
        )
        SELECT doc_id,
          CASE WHEN greatest(s_en,s_de,s_fr,s_es,s_zh) = 0 THEN 'und'
               WHEN s_en = greatest(s_en,s_de,s_fr,s_es,s_zh) THEN 'en'
               WHEN s_de = greatest(s_de,s_fr,s_es,s_zh) THEN 'de'
               WHEN s_fr = greatest(s_fr,s_es,s_zh) THEN 'fr'
               WHEN s_es = greatest(s_es,s_zh) THEN 'es'
               ELSE 'zh' END AS lang_pred
        FROM sc
    """,
    "stratified_sample_docs": f"""
        WITH s AS (
          SELECT doc_id,
            list_transform(string_split({WS_NORM_SQL}, ' '), t -> lower(t)) AS toks
          FROM documents
        ), sc AS (
          SELECT doc_id,
            len(list_filter(toks, t -> list_contains(
              ['the','and','of','to','is','in','that','it'], t))) AS s_en,
            len(list_filter(toks, t -> list_contains(
              ['der','die','das','und','ist','nicht','ich','zu'], t))) AS s_de,
            len(list_filter(toks, t -> list_contains(
              ['le','la','les','et','est','une','je','pas'], t))) AS s_fr,
            len(list_filter(toks, t -> list_contains(
              ['el','la','los','y','es','una','que','no'], t))) AS s_es,
            len(list_filter(toks, t -> list_contains(
              ['的','是','了','在','我','有','和','不'], t))) AS s_zh
          FROM s
        ), lang AS (
          SELECT doc_id,
            CASE WHEN greatest(s_en,s_de,s_fr,s_es,s_zh) = 0 THEN 'und'
                 WHEN s_en = greatest(s_en,s_de,s_fr,s_es,s_zh) THEN 'en'
                 WHEN s_de = greatest(s_de,s_fr,s_es,s_zh) THEN 'de'
                 WHEN s_fr = greatest(s_fr,s_es,s_zh) THEN 'fr'
                 WHEN s_es = greatest(s_es,s_zh) THEN 'es'
                 ELSE 'zh' END AS lang_pred
          FROM sc
        ), b AS (
          SELECT doc_id, lang_pred,
                 CAST(CAST('0x' || substring(
                     md5('s42' || CAST(doc_id AS VARCHAR)), 1, 15)
                   AS BIGINT) % 1000000 AS INTEGER) AS bucket
          FROM lang
        )
        SELECT doc_id, lang_pred, bucket
        FROM b
        WHERE bucket < CASE lang_pred WHEN 'en' THEN 400000
                                      WHEN 'de' THEN 800000
                                      ELSE 1000000 END
    """,
    "doc_repetition": f"""
        WITH g AS (
          SELECT doc_id,
                 list_transform(
                   range(1, len(words) - 1),
                   i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]
                 ) AS grams
          FROM (SELECT doc_id,
                       string_split(lower({WS_NORM_SQL}), ' ') AS words
                FROM documents)
          WHERE len(words) >= 3
        )
        SELECT doc_id, CAST(len(grams) AS INTEGER) AS n_grams,
               round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
                         / len(grams), 6) AS rep_ratio
        FROM g
    """,
    "token_stats_by_lang": f"""
        SELECT lang, count(*) AS n_docs,
               round(avg(CAST(len(string_split({WS_NORM_SQL}, ' ')) AS DOUBLE)), 4)
                 AS avg_tokens,
               CAST(sum(len(regexp_extract_all(text,
                 {BPE_TOKEN_SQL}))) AS BIGINT)
                 AS total_bpe_tokens
        FROM documents GROUP BY lang
    """,
    "embedding_cosine_query": """
        WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
        SELECT vec_id,
               round(list_cosine_similarity(embedding::DOUBLE[], qv), 6) AS cos_sim
        FROM embeddings, q
        WHERE round(list_cosine_similarity(embedding::DOUBLE[], qv), 6) >= 0.25
          AND vec_id <> 0
    """,
    "embedding_brute_force_pairs": """
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round(list_cosine_similarity(a.embedding::DOUBLE[],
                                            b.embedding::DOUBLE[]), 6) AS cos_sim
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                           b.embedding::DOUBLE[]), 6) >= 0.30
    """,
    "embedding_neardup_pairs": _neardup_aug_oracle_sql(0.9),
    "lsh_ann_topk": _ann_topk_oracle_sql(10),
    "ivf_ann_topk": _ann_topk_oracle_sql(10),
    "simhash_md5_pairs": _simhash_md5_oracle_sql(3),
    # brute O(n^2) hamming scan over signatures computed by the
    # INDEPENDENT pure-Python XXH64+SimHash (oracle.py -> signature
    # fixture); parity of the two signature implementations is pinned
    # in tests/test_datapipe.py
    "simhash_pairs": f"""
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
        FROM read_parquet('{FX.simhash_sig_path(FX.ORACLE_SF_DIR)}') a
        JOIN read_parquet('{FX.simhash_sig_path(FX.ORACLE_SF_DIR)}') b
          ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
    "multimodal_features": _multimodal_oracle_sql(),
    "orders_above_cust_avg": """
        SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
        FROM orders o
        WHERE o_totalprice >= round(1.5 * (
          SELECT avg(o2.o_totalprice) FROM orders o2
          WHERE o2.o_custkey = o.o_custkey), 6)
    """,
    # dialect-portable pivot oracle: conditional aggregation
    "events_pivot_daily": """
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
               CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
               CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
        FROM events GROUP BY 1
    """,
    "props_json_stats": """
        SELECT event_type,
               CAST(floor(CAST(json_extract_string(props, '$.k') AS INTEGER)
                          / 10) AS INTEGER) AS k_bucket,
               count(*) AS n_events,
               round(round(sum(value), 6), 4) AS sum_value
        FROM events GROUP BY 1, 2
    """,
}

# the training-data admission decision composes the individual text
# oracles (already hash-verified) plus the dedup window, with the same
# gate priority as the Spark query
ORACLES["training_data_filter"] = f"""
    WITH q AS ({ORACLES['text_quality']}),
    l AS ({ORACLES['lang_id_pred']}),
    r AS ({ORACLES['doc_repetition']}),
    rn AS (
      SELECT doc_id,
             row_number() OVER (
               PARTITION BY md5(lower({WS_NORM_SQL}))
               ORDER BY doc_id) AS rn
      FROM documents
    )
    SELECT rn.doc_id,
           CASE WHEN rn.rn > 1 THEN 'dup'
                WHEN q.quality_score < 0.7 THEN 'quality'
                WHEN l.lang_pred = 'und' THEN 'lang'
                WHEN r.rep_ratio IS NOT NULL AND r.rep_ratio > 0.2
                  THEN 'repetition'
                ELSE 'kept' END AS decision
    FROM rn
    JOIN q USING (doc_id)
    JOIN l USING (doc_id)
    LEFT JOIN r USING (doc_id)
"""

# the MinHash-LSH verify step is exact Jaccard, and the banding
# geometry (k=32, b=8, r=4) has recall 1.0 on this corpus -- so the
# pair set equals the inverted-index exact answer and shares its oracle
ORACLES["minhash_lsh_pairs"] = ORACLES["ngram_jaccard_pairs"]
# carry-through context is a different PHYSICAL plan for the same
# logical result -- the oracle is identical by construction
ORACLES["cep_actions_ctx_carry"] = ORACLES["cep_actions_with_context"]

def build_queries() -> dict:
    # The canonical registry, CEP family first. Every entry is oracled
    # and checked by scripts/check_oracles.py whatever its position.
    return {
        "cep_transcripts_flagship": q_cep_transcripts_flagship,
        "cep_match_actions": q_cep_match_actions,
        "cep_match_counts": q_cep_match_counts,
        "cep_actions_with_context": q_cep_actions_with_context,
        "cep_actions_ctx_carry": q_cep_actions_ctx_carry,
        "cep_fallback_classify": q_cep_fallback_classify,
        "cep_cooldown_fires": q_cep_cooldown_fires,
        "cep_sequence_pairs": q_cep_sequence_pairs,
        "cep_session_convs": q_cep_session_convs,
        "multimodal_features": q_multimodal_features,
        "window_tumbling_1h": q_window_tumbling_1h,
        "window_session_30m": q_window_session_30m,
        "sequence_signup_purchase": q_sequence_signup_purchase,
        "sequence_all_pairs": q_sequence_all_pairs,
        "interval_join_error_click": q_interval_join_error_click,
        "dedup_first_event_per_minute": q_dedup_first_event_per_minute,
        "props_json_stats": q_props_json_stats,
        "events_rollup": q_events_rollup,
        "tpch_q1_pricing": q_tpch_q1_pricing,
        "tpch_q3_top_revenue": q_tpch_q3_top_revenue,
        "tpch_q5_nation_revenue": q_tpch_q5_nation_revenue,
        "tpch_q4_priority": q_tpch_q4_priority,
        "tpch_q18_large_orders": q_tpch_q18_large_orders,
        "window_funcs_events": q_window_funcs_events,
        "events_p95_udaf": q_events_p95_udaf,
        "approx_distinct_users": q_approx_distinct_users,
        "salted_agg_by_user": q_salted_agg_by_user,
        "udtf_regex_matches": q_udtf_regex_matches,
        "orders_above_cust_avg": q_orders_above_cust_avg,
        "events_pivot_daily": q_events_pivot_daily,
        "customers_without_orders": q_customers_without_orders,
        "asof_purchase_view": q_asof_purchase_view,
        "doc_fingerprints": q_doc_fingerprints,
        "dedup_exact_stats": q_dedup_exact_stats,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "benchmark_decontamination": q_benchmark_decontamination,
        "text_quality": q_text_quality,
        "lang_id_pred": q_lang_id_pred,
        "doc_repetition": q_doc_repetition,
        "token_stats_by_lang": q_token_stats_by_lang,
        "training_data_filter": q_training_data_filter,
        "embedding_cosine_query": q_embedding_cosine_query,
        "embedding_neardup_pairs": q_embedding_neardup_pairs,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "simhash_md5_pairs": q_simhash_md5_pairs,
        "simhash_pairs": q_simhash_pairs,
        "lsh_ann_topk": q_lsh_ann_topk,
        "ivf_ann_topk": q_ivf_ann_topk,
        "embedding_brute_force_pairs": q_embedding_brute_force_pairs,
        "set_ops_users": q_set_ops_users,
        "props_k_stats": q_props_k_stats,
        "approx_quantile_check": q_approx_quantile_check,
        "rollup_hourly_to_daily": q_rollup_hourly_to_daily,
        "events_cube": q_events_cube,
        "tpch_q6_forecast": q_tpch_q6_forecast,
        "window_sliding_1h_30m": q_window_sliding_1h_30m,
        "topk_events_per_user": q_topk_events_per_user,
        "pii_scrub": q_pii_scrub,
        "dedup_clusters": q_dedup_clusters,
        "top_url_domains": q_top_url_domains,
        "domain_capped_docs": q_domain_capped_docs,
        "stratified_sample_docs": q_stratified_sample_docs,
    }
