"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]. The LAST stdout line is the compact summary:
{"metric": ..., "value": seconds, "unit": "sec", "queries": {...},
 "sf": ..., "throughput": {...}}
The per-query run spread is emitted on its own EARLIER stdout line
({"kind": "bench_spread", ...}) and mirrored to BENCH/spread_last.json
-- keeping the summary line short enough for the driver's tail capture
(round-3 verdict: the combined line was truncated to parsed:null).

Headline set = the operators that dominate a 100 TB run: the CEP match
pipeline (batch + streaming forms) on a deterministically generated
transcript stream sized to the SF, plus the window/join/dedup/
similarity queries over the driver tables.

Protocol (round-2 verdict task #6): this host shows 2-5x run-to-run
variance on identical queries, so every reported number is a MEDIAN --
5 runs per driver-table query, 3 runs per pipeline (each pipeline run
is itself tens of seconds) -- and ``spread`` records min/max so a
noisy host is visible in the artifact rather than silently folded in.
``value`` (total wall) is the sum of medians plus fixed setup, NOT the
raw loop time.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from logeventprocessor_spark import queries as Q  # noqa: E402
from logeventprocessor_spark.generator import (  # noqa: E402
    make_transcripts_fast,
    write_transcripts_parquet,
)
from logeventprocessor_spark.pipeline import match_actions  # noqa: E402
from logeventprocessor_spark.rules import canonical_rules  # noqa: E402
from logeventprocessor_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_QUERY_RUNS = int(os.environ.get("SPARK_GRAFT_RUNS", "5"))
N_PIPE_RUNS = int(os.environ.get("SPARK_GRAFT_PIPE_RUNS", "3"))

# transcript-stream size scales with SF (sf0.1 -> ~1M turns)
_SF = float(SF_DIR.rstrip("/").split("sf")[-1]) if "sf" in SF_DIR else 0.1
N_CONVS = max(400, int(200_000 * _SF))
MEAN_TURNS = 48

BENCH_QUERIES = [
    "cep_match_actions",
    "cep_cooldown_fires",
    "cep_sequence_pairs",
    "window_tumbling_1h",
    "window_sliding_1h_30m",
    "window_session_30m",
    "sequence_signup_purchase",
    "sequence_all_pairs",
    "interval_join_error_click",
    "asof_purchase_view",
    "topk_events_per_user",
    "tpch_q1_pricing",
    "tpch_q3_top_revenue",
    "tpch_q5_nation_revenue",
    "tpch_q6_forecast",
    "tpch_q18_large_orders",
    "window_funcs_events",
    "events_p95_udaf",
    "salted_agg_by_user",
    "ngram_jaccard_pairs",
    "benchmark_decontamination",
    "dedup_clusters",
    "pii_scrub",
    "minhash_lsh_pairs",
    "simhash_pairs",
    "simhash_md5_pairs",
    "embedding_cosine_query",
    "embedding_neardup_pairs",
    "lsh_ann_topk",
    "ivf_ann_topk",
    "props_json_stats",
    "text_quality",
    "training_data_filter",
    "lang_id_pred",
]


def _run(df) -> None:
    """Force full execution without collecting rows to the driver.
    ONE action only (the noop write) -- chaining a count() would run
    every query twice and double the reported timings."""
    df.write.format("noop").mode("overwrite").save()


def _median_runs(fn, n: int) -> tuple[float, list[float]]:
    xs = []
    for _ in range(n):
        t0 = time.time()
        fn()
        xs.append(time.time() - t0)
    return round(statistics.median(xs), 3), [round(x, 3) for x in xs]


def _host_probe(dur: float = 4.0) -> float:
    """Host-health stamp (round-5 verdict task #6): single-process
    Arrow IPC serialize+deserialize of a text-heavy RecordBatch -- the
    exact shape of the match boundary's traffic -- for ~``dur`` s;
    returns rows/s. Run before AND after the bench loop and recorded in
    the summary, so a degraded-host window (measured 2-3x swings on
    this machine) is visible in the artifact instead of masquerading as
    a code regression. Cross-round comparisons should be refused when
    probes disagree >20% (scripts/compare_bench.py enforces this)."""
    import pyarrow as pa

    n = 100_000
    texts = [
        f"user turn {i} please run tool search with query q{i % 97} and report"
        for i in range(n)
    ]
    b = pa.record_batch(
        [
            pa.array([f"c{i % 5000}" for i in range(n)]),
            pa.array(list(range(n)), pa.int32()),
            pa.array(texts),
        ],
        names=["conv_id", "turn_idx", "text"],
    )
    rows = 0
    t_end = time.time() + dur
    t0 = time.time()
    while time.time() < t_end:
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, b.schema) as w:
            w.write_batch(b)
        with pa.ipc.open_stream(sink.getvalue()) as r:
            for rb in r:
                rows += rb.num_rows
    return round(rows / (time.time() - t0), 1)


def main():
    spark = get_spark(
        "bench", master=f"local[{CPUS}]",
        shuffle_partitions=max(CPUS, 8),
        # keep input splits >= cores: the small per-file sizes at bench
        # SF would otherwise pack into fewer partitions than cores
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
            "spark.sql.files.openCostInBytes": str(1024 * 1024),
        },
    )
    qs = Q.build_queries()
    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    throughput: dict[str, float] = {}
    probe_before = _host_probe()
    t_total = time.time()

    # --- CEP batch pipeline on the generated transcript stream ---
    pdf = make_transcripts_fast(n_convs=N_CONVS, mean_turns=MEAN_TURNS, seed=42)
    n_turns = len(pdf)
    tmp = tempfile.mkdtemp(prefix="bench_")
    try:
        write_transcripts_parquet(pdf, f"{tmp}/turns", n_files=max(CPUS * 2, 16))
        del pdf
        rules = canonical_rules()
        turns = spark.read.parquet(f"{tmp}/turns")
        turns.count()  # warm the file listing / page cache

        acts = match_actions(turns, rules, with_cooldown=True)
        n_actions = acts.count()  # warm Python workers + JIT
        med, xs = _median_runs(lambda: acts.count(), N_PIPE_RUNS)
        timings["cep_batch_pipeline"] = med
        spread["cep_batch_pipeline"] = xs
        throughput["batch_turns_per_sec"] = round(n_turns / med, 1)
        throughput["batch_match_rows_per_sec"] = round(n_actions / med, 1)
        throughput["n_turns"] = n_turns
        throughput["n_match_rows"] = n_actions

        # --- CEP streaming pipeline (availableNow over the same input,
        # fresh checkpoint/out per run so every run does the same work) ---
        from logeventprocessor_spark.streaming.pipeline import start_pipeline

        def stream_once():
            sdir = tempfile.mkdtemp(prefix="bench_stream_", dir=tmp)
            q, _ = start_pipeline(
                spark, f"{tmp}/turns", rules,
                out_dir=f"{sdir}/out", checkpoint_dir=f"{sdir}/ckpt",
                watermark="10 minutes", max_files_per_trigger=None,
            )
            q.awaitTermination(3600)
            shutil.rmtree(sdir, ignore_errors=True)

        stream_once()  # warm streaming-side Python workers / state store
        med, xs = _median_runs(stream_once, N_PIPE_RUNS)
        timings["cep_streaming_pipeline"] = med
        spread["cep_streaming_pipeline"] = xs
        throughput["stream_turns_per_sec"] = round(n_turns / med, 1)

        # --- same pipeline with same-turn context: role/tool ride the
        # match operator's Arrow boundary and pass through the gate and
        # step expansion (one source scan, no join state) -- its own
        # line so the context columns' cost is measured, not guessed ---
        def stream_ctx_once():
            sdir = tempfile.mkdtemp(prefix="bench_sctx_", dir=tmp)
            q, _ = start_pipeline(
                spark, f"{tmp}/turns", rules,
                out_dir=f"{sdir}/out", checkpoint_dir=f"{sdir}/ckpt",
                watermark="10 minutes", max_files_per_trigger=None,
                with_context_join=True,
                # shuffle partitions pinned into the query: on the
                # snapshot backend they size the gate/advance shuffles.
                # The heuristic (~120K turns per partition, floor 2,
                # cap 8) was measured for the former join state stores
                # (32 vs 8 on a ~1M-turn input = 24 s vs 5 s per batch)
                # and is kept so this line stays comparable.
                state_partitions=max(2, min(8, n_turns // 120_000)),
            )
            q.awaitTermination(3600)
            shutil.rmtree(sdir, ignore_errors=True)

        stream_ctx_once()
        med, xs = _median_runs(stream_ctx_once, N_PIPE_RUNS)
        timings["cep_streaming_ctx_pipeline"] = med
        spread["cep_streaming_ctx_pipeline"] = xs
        throughput["stream_ctx_turns_per_sec"] = round(n_turns / med, 1)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    # --- driver-table operator queries (median of N, no warmup run:
    # the first run's listing/JIT cost is absorbed by the median) ---
    for name in BENCH_QUERIES:
        med, xs = _median_runs(lambda: _run(qs[name](spark, SF_DIR)), N_QUERY_RUNS)
        timings[name] = med
        spread[name] = xs

    total = round(time.time() - t_total, 3)
    value = round(sum(timings.values()), 3)
    probe_after = _host_probe()
    # rolling history -> a run is flagged when its probe deviates >20%
    # from the median of prior runs (or before/after disagree >20%):
    # such a run's timings must not ground cross-round conclusions
    probe = {
        "arrow_rows_per_s_before": probe_before,
        "arrow_rows_per_s_after": probe_after,
    }
    try:
        os.makedirs("BENCH", exist_ok=True)
        hist_path = "BENCH/host_probe_history.json"
        hist = []
        if os.path.exists(hist_path):
            with open(hist_path) as f:
                hist = json.load(f)
        prior = [h for rec in hist for h in
                 (rec["arrow_rows_per_s_before"], rec["arrow_rows_per_s_after"])]
        if prior:
            ref = statistics.median(prior)
            probe["rolling_median"] = round(ref, 1)
            probe["flagged"] = bool(
                abs(probe_before - ref) / ref > 0.2
                or abs(probe_after - ref) / ref > 0.2
                or abs(probe_after - probe_before)
                / max(probe_before, probe_after) > 0.2
            )
        else:
            probe["flagged"] = abs(probe_after - probe_before) / max(
                probe_before, probe_after
            ) > 0.2
        hist.append({**probe, "sf": _SF, "cpus": CPUS, "wall": total,
                     "ts": time.time()})
        with open(hist_path, "w") as f:
            json.dump(hist[-50:], f, indent=1)
    except OSError:
        probe["flagged"] = None  # read-only cwd: no history available
    # spread (per-query run lists) goes on its OWN earlier line + a side
    # file: round-3 verdict "what's wrong #1" -- folding it into the
    # summary line outgrew the driver's tail capture and left
    # BENCH_r03.json with parsed:null. The LAST stdout line must be the
    # compact machine-readable summary, nothing else after it.
    spread_doc = {"kind": "bench_spread", "sf": _SF, "spread": spread}
    print(json.dumps(spread_doc))
    try:
        os.makedirs("BENCH", exist_ok=True)
        with open("BENCH/spread_last.json", "w") as f:
            json.dump(spread_doc, f, indent=1)
    except OSError:
        pass  # read-only cwd: the stdout line above still has the data
    print(
        json.dumps(
            {
                "metric": "bench_total_median",
                "value": value,
                "unit": "sec",
                "queries": timings,
                "sf": _SF,
                "cpus": CPUS,
                "throughput": throughput,
                "runs_per_query": N_QUERY_RUNS,
                "runs_per_pipeline": N_PIPE_RUNS,
                "loop_wall": total,
                "host_probe": probe,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
