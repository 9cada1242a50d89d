"""Capture the physical plans of the engine's key operators into
PLANS.md -- the evidence that each plan is the one we want at 100 TB:
filters pushed into the parquet scan, columns pruned, small sides
broadcast, aggregates partial+final, whole-stage codegen around the
relational parts, one shuffle per keyed stateful op.

Run: python scripts/explain_plans.py
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from logeventprocessor_spark import queries as Q  # noqa: E402
from logeventprocessor_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.01"

PLANS = [
    ("cep_match_actions",
     "JVM literal prefilter -> mapInArrow match (no shuffle) -> literal step-map explode -> render"),
    ("cep_cooldown_fires",
     "single repartition(conv_id, rule_id) + in-partition sorted scan"),
    ("cep_sequence_pairs",
     "one shuffle on conv_id; running last() window, no range join"),
    ("window_session_30m", "session window: partial merge + state-style agg"),
    ("tpch_q5_nation_revenue",
     "pushdown + pruning + broadcast join chain + partial/final agg"),
    ("tpch_q6_forecast",
     "every predicate in PushedFilters; 2-column ReadSchema"),
    ("tpch_q18_large_orders",
     "agg-then-broadcast-join; HAVING applied before the join"),
    ("window_funcs_events",
     "two window specs, ONE exchange on user_id (sorts differ, partitioning reused)"),
    ("salted_agg_by_user",
     "two-phase agg: (key,salt) partial then S-row final combine"),
    ("asof_purchase_view", "union + window carry; one shuffle on the key"),
    ("ngram_jaccard_pairs",
     "per-doc shingle ARRAYS materialized once (in-row array_distinct, "
     "no global distinct shuffle); prefix-filtered candidates; exact "
     "verify = array_intersect over the two stored arrays per pair -- "
     "no exploded candidatesxshingles shuffle, no pair aggregate"),
    ("minhash_lsh_pairs",
     "ONE materialized shingle scan feeds the 32-min-agg signature AND "
     "the verify; band-bucket join; exact verify via array_intersect"),
    ("benchmark_decontamination",
     "corpus scanned ONCE: within-row array_distinct shingles (no "
     "global distinct shuffle on the big side), benchmark shingle set "
     "BROADCAST, left join marks hits JVM-side, single doc_id "
     "partial+final aggregate"),
    ("embedding_cosine_query", "scan + codegen'd aggregate expression, no UDF"),
    ("embedding_neardup_pairs",
     "persisted-index bucket explode (no UDF) -> bucket self-join -> exact cosine; NO cross join"),
    ("ivf_ann_topk",
     "persisted IVF probe: PartitionFilters prune to n_probe lists, no fit"),
    ("lsh_ann_topk",
     "persisted LSH probe: arrays_overlap on the MATERIALIZED bucket "
     "column -- no UDF, no bucket recompute in the plan"),
    ("simhash_md5_pairs",
     "60 codegen'd bit aggregates -> Manku compound keys (20 3-of-6 "
     "block combos, >=30-bit join keys) -> exact hamming filter inside "
     "the join stage -> distinct"),
    ("simhash_pairs",
     "Manku compound keys: 20 3-block combos per doc, join key >=30 "
     "bits (2^30+ cardinality -- the geometry that survives 10^9 "
     "docs) -> exact hamming filter INSIDE the join stage -> distinct"),
    ("sequence_all_pairs",
     "every-A-pairs: time-bounded equi-join on the key; the bound "
     "prunes inside the join's codegen stage"),
    ("pii_scrub",
     "4-class scrub as ONE codegen'd projection over a 2-column pruned "
     "scan -- regexp_count + sequential regexp_replace, no shuffle, no "
     "Python; per-stage replace chains share subexpressions at codegen"),
    ("top_url_domains",
     "URL filter + explode in one codegen stage over a 2-column pruned "
     "scan; count + countDistinct in ONE pass via partial-count on "
     "(domain, doc) then domain-keyed distinct merge -- two exchanges, "
     "the minimum for this aggregate pair"),
    ("domain_capped_docs",
     "salted two-phase top-N: phase-1 window on (domain, salt) bounds "
     "any Zipfian mega-domain to n_salt*cap rows BEFORE the phase-2 "
     "exact rank on domain alone -- the head domain's row set never "
     "lands whole in one window task"),
    ("cep_actions_ctx_carry",
     "same-turn context CARRIED through the match operator's Arrow "
     "boundary (extra pc.take columns, no second source scan), then "
     "through the cooldown gate and the step-map explode as "
     "pass-through columns -- two MapInArrow, no join, no dedup "
     "aggregate: start_pipeline(with_context_join=True)'s per-batch "
     "plan"),
    ("orders_above_cust_avg",
     "correlated scalar subquery DECORRELATED: per-key aggregate + one "
     "join, not a per-row re-execution"),
    ("events_pivot_daily",
     "PIVOT with explicit value list: one partial+final aggregate, no "
     "distinct pre-scan"),
]


def main():
    spark = get_spark("plans", master="local[4]", shuffle_partitions=4)
    qs = Q.build_queries()
    out = ["# PLANS — physical plans of the headline operators",
           "",
           "Generated by `python scripts/explain_plans.py` at sf0.01.",
           "What to look for: `PushedFilters`/`ReadSchema` on scans "
           "(pushdown + pruning), `BroadcastHashJoin` for dimension "
           "joins, partial+final `HashAggregate`, a single `Exchange` "
           "per keyed stateful operator, `WholeStageCodegen` spans "
           "around the relational sections.",
           ""]
    for name, why in PLANS:
        df = qs[name](spark, SF)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        out.append(f"## {name}\n\n*Why this plan:* {why}\n")
        out.append("```\n" + buf.getvalue().strip() + "\n```\n")
    # --- AQE skew-join split: the FINAL adaptive plan exists only
    # after execution, so this section captures an EXECUTED plan ---
    from pyspark.sql import functions as F

    from logeventprocessor_spark.operators.skew import (
        SKEW_DEMO_CONF,
        skew_join_demo,
    )

    for k, v in SKEW_DEMO_CONF.items():
        spark.conf.set(k, v)
    j = skew_join_demo(spark)
    agg = j.groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.crc32(F.col("pad"))).alias("chk"),
    )
    agg.collect()
    plan = agg._jdf.queryExecution().executedPlan().toString()
    out.append(
        "## aqe_skew_join_split (executed adaptive plan)\n\n"
        "*Why this plan:* one key holds 60% of the left rows; AQE's "
        "runtime re-plan splits the hot shuffle partition "
        "(`skew=true` on the SortMergeJoin) instead of pinning one "
        "core -- the mitigation for joins whose key cannot be salted. "
        "Captured from `operators.skew.skew_join_demo` under "
        "`SKEW_DEMO_CONF`; asserted by "
        "`tests/test_plans.py::test_aqe_skew_join_split`.\n"
    )
    skew_lines = [
        ln for ln in plan.splitlines()
        if any(t in ln for t in ("AdaptiveSparkPlan", "SortMergeJoin",
                                 "AQEShuffleRead", "Exchange", "skew"))
    ]
    out.append("```\n" + "\n".join(skew_lines) + "\n```\n")

    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
