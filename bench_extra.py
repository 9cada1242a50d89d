"""Round-7 optimization harness (bench.py is FROZEN for measurement;
this file holds the extra instrumentation the optimization round needs
-- guide §1.4 noop-sink isolation, per-query plan capture, streaming
phase decomposition). Cited from OPTIMIZATION_r07.md.

Usage:
  python bench_extra.py time <query> [<query> ...] [--runs N]
      isolate named driver-table queries with the noop sink, same
      session/config as bench.py; prints median/min per query.
  python bench_extra.py explain <query> [...] --out plans/r07 --tag before
      write .explain("formatted") to plans/r07/<query>_<tag>.txt
  python bench_extra.py stream [--mode plain|join] [--runs N]
      run one streaming pipeline variant over the generated transcript
      corpus (same shape as bench.py) and print per-run wall + the
      sink's per-batch phase decomposition.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from logeventprocessor_spark import queries as Q  # noqa: E402
from logeventprocessor_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _spark():
    # identical session shape to bench.py so isolated numbers compare
    return get_spark(
        "bench_extra", master=f"local[{CPUS}]",
        shuffle_partitions=max(CPUS, 8),
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
            "spark.sql.files.openCostInBytes": str(1024 * 1024),
        },
    )


def _run(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def cmd_time(args) -> None:
    spark = _spark()
    qs = Q.build_queries()
    out = {}
    for name in args.queries:
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        xs = []
        for _ in range(args.runs):
            t0 = time.time()
            _run(qs[name](spark, SF_DIR))
            xs.append(round(time.time() - t0, 3))
        out[name] = {
            "median": round(statistics.median(xs), 3),
            "min": min(xs),
            "samples": xs,
        }
        print(json.dumps({name: out[name]}))
    print(json.dumps({"kind": "bench_extra_time", "sf_dir": SF_DIR,
                      "cpus": CPUS, "results": out}))
    spark.stop()


def cmd_explain(args) -> None:
    spark = _spark()
    qs = Q.build_queries()
    os.makedirs(args.out, exist_ok=True)
    for name in args.queries:
        df = qs[name](spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(args.out, f"{name}_{args.tag}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {path}")
    spark.stop()


def cmd_stream(args) -> None:
    from logeventprocessor_spark.generator import (
        make_transcripts_fast,
        write_transcripts_parquet,
    )
    from logeventprocessor_spark.rules import canonical_rules
    from logeventprocessor_spark.streaming.pipeline import start_pipeline

    spark = _spark()
    sf = float(SF_DIR.rstrip("/").split("sf")[-1]) if "sf" in SF_DIR else 0.1
    n_convs = max(400, int(200_000 * sf))
    pdf = make_transcripts_fast(n_convs=n_convs, mean_turns=48, seed=42)
    n_turns = len(pdf)
    tmp = tempfile.mkdtemp(prefix="bx_stream_")
    try:
        write_transcripts_parquet(pdf, f"{tmp}/turns", n_files=max(CPUS * 2, 16))
        del pdf
        rules = canonical_rules()
        kw = {}
        if args.mode == "join":
            kw = dict(with_context_join=True,
                      state_partitions=max(2, min(8, n_turns // 120_000)))

        def once(idx: int):
            sdir = tempfile.mkdtemp(prefix=f"run{idx}_", dir=tmp)
            t0 = time.time()
            q, sink = start_pipeline(
                spark, f"{tmp}/turns", rules,
                out_dir=f"{sdir}/out", checkpoint_dir=f"{sdir}/ckpt",
                watermark="10 minutes", max_files_per_trigger=None, **kw,
            )
            q.awaitTermination(3600)
            wall = round(time.time() - t0, 3)
            phases = list(getattr(sink, "phases", []) or [])
            shutil.rmtree(sdir, ignore_errors=True)
            return wall, phases

        walls = []
        for i in range(args.runs + 1):  # +1 warmup
            wall, phases = once(i)
            tag = "warmup" if i == 0 else f"run{i}"
            print(json.dumps({"kind": "stream_leg", "mode": args.mode,
                              "tag": tag, "wall_s": wall,
                              "n_turns": n_turns, "phases": phases}))
            if i > 0:
                walls.append(wall)
        print(json.dumps({
            "kind": "bench_extra_stream", "mode": args.mode,
            "median": round(statistics.median(walls), 3),
            "min": min(walls), "samples": walls, "n_turns": n_turns,
        }))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()


def main():
    p = argparse.ArgumentParser()
    sub = p.add_subparsers(dest="cmd", required=True)
    t = sub.add_parser("time")
    t.add_argument("queries", nargs="+")
    t.add_argument("--runs", type=int, default=5)
    e = sub.add_parser("explain")
    e.add_argument("queries", nargs="+")
    e.add_argument("--out", default="plans/r07")
    e.add_argument("--tag", default="before")
    s = sub.add_parser("stream")
    s.add_argument("--mode", default="plain",
                   choices=["plain", "join"])
    s.add_argument("--runs", type=int, default=3)
    args = p.parse_args()
    {"time": cmd_time, "explain": cmd_explain, "stream": cmd_stream}[args.cmd](args)


if __name__ == "__main__":
    main()
