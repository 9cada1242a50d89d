"""Same-host benchmark of the CEP engine and its dedup registry.

    python3 perfbench/run.py --workload stream_join --seed 42 --seconds 4 --trace 0

Runs one workload (see perfbench/README.md), prints every metric by name
with its unit, and ends with one JSON line:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a separate traced pass. Each run also appends a
full record to .perfbench/results/<workload>.jsonl (read by
perfbench/compare.py) and, when traced, writes its spans and Spark
metrics to .perfbench/traces/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import env, host  # noqa: E402

# the metrics in the result line. The timed ones are CPU seconds: on a
# shared virtual machine the hypervisor steals from 0 to over 20% of the
# CPU time, and a warm pass's wall time follows the steal (7.6 s at 0.3%,
# 13.6 s at 24%, in one run) far more than its CPU time does.
E2E_UNITS = {
    "setup_s": "s",
    "cold_cpu_s": "s",
    "cpu_s": "s",
    "rows_per_cpu_s": "rows/cpu-s",
    "peak_rss_mb": "MB",
}
# printed and recorded, but not in the result line: the wall times, which
# follow the steal, and the tails: a run has too few batches or files for
# a percentile with ten samples beyond it, so a tail is usually the
# maximum.
EXTRA = {
    "setup_wall_s": "s",
    "cold_s": "s",
    "wall_s": "s",
    "rows_per_s": "rows/s",
    "batch_p50_s": "s",
    "batch_tail_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
}


def layer_unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith(("bytes", "bytes_in")):
        return "bytes"
    if name.endswith(("ratio", "skew")):
        return "ratio"
    return "count"


WORKLOADS = ("stream_catchup", "stream_join", "stream_live", "registry_dedup")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=env.CONFIG["seeds"]["default"])
    p.add_argument("--seconds", type=float, default=4)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def run(args) -> dict:
    rdir = env.run_dir()
    try:
        env.prepare(rdir)
        from perfbench import workloads

        ctx = {"nproc": env.nproc(), "loadavg_before": host.loadavg(),
               "arrow_probe_before": host.arrow_probe()}
        ticks = host.cpu_ticks()
        spark, session = env.start_session(rdir)
        try:
            r = workloads.Run(spark, rdir, args.seed, args.seconds,
                              bool(args.trace), session)
            out = getattr(workloads, args.workload)(r)
            peak_mb = host.peak_rss_mb(os.getpid())
        finally:
            env.stop_session(spark)
        ctx.update(loadavg_after=host.loadavg(),
                   arrow_probe_after=host.arrow_probe(),
                   **host.cpu_shares(ticks, host.cpu_ticks()))
    finally:
        shutil.rmtree(rdir, ignore_errors=True)
    L = out.layers
    out.e2e["setup_s"] = L["setup.session_s"] + L["setup.input_s"] + L["setup.fixture_s"]
    out.e2e["peak_rss_mb"] = peak_mb
    if args.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in L.items()}
    else:
        metrics = {k: {"value": out.e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    return {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "time": time.time(),
        "correct": out.failed == 0, "attempted": out.attempted,
        "failed": out.failed, "metrics": metrics, "tails": out.tails,
        "layers": L, "e2e": out.e2e, "validity": out.validity,
        "checks": out.checks, "host": ctx, "session": env.CONFIG["session"],
        "dump": out.dump,
    }


def report(rec: dict) -> None:
    for name, m in rec["metrics"].items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    if not rec["trace"]:
        for name, unit in EXTRA.items():
            t = rec["tails"].get(name)
            extra = f"  (p{t['percentile']} of {t['samples']} samples)" if t else ""
            print(f"{name} = {rec['e2e'][name]:.6g} {unit}{extra}")
    print(f"fail_ratio = {rec['failed'] / rec['attempted']:.6g} ratio"
          f"  ({rec['failed']} of {rec['attempted']} checks failed)")
    print(f"host = {json.dumps(rec['host'])}")
    if rec["validity"]:
        print(f"validity = {json.dumps(rec['validity'])}")
    dump = rec.pop("dump")
    results = env.WORK / "results"
    results.mkdir(parents=True, exist_ok=True)
    with open(results / f"{rec['workload']}.jsonl", "a") as f:
        f.write(json.dumps(rec) + "\n")
    if dump:
        traces = env.WORK / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        path = traces / f"{rec['workload']}-seed{rec['seed']}-{int(rec['time'])}.json"
        path.write_text(json.dumps(dump, default=str))
        print(f"trace = {path.relative_to(env.ROOT)}")
    print(json.dumps({k: rec[k] for k in ("correct", "attempted", "failed", "metrics")}))


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        rec = run(args)
    except env.MissingProgram as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    report(rec)
    return 0


if __name__ == "__main__":
    sys.exit(main())
