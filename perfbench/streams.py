"""Streaming passes: closed-loop catch-up (plain and context join) and
the open-loop live feed, all through ``streaming.pipeline.start_pipeline``.

Batch timings come from Spark's ``StreamingQueryProgress``. Per-file
latency joins the checkpoint's file-source log (which batch read which
file) with the commit log (when each batch committed, the commit file's
mtime).
"""

from __future__ import annotations

import json
import math
import os
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

from logeventprocessor_spark.streaming import pipeline as SP
from perfbench import host
from perfbench.summary import median


@dataclass
class StreamPass:
    wall_s: float
    batch_s: list[float]
    latency_s: list[float]
    progress: list[dict]
    out_dir: str
    ckpt: str
    published: dict = field(default_factory=dict)
    cpu_s: float = 0.0
    valid: bool = True
    validity: dict = field(default_factory=dict)


def file_batches(ckpt: str) -> dict[str, int]:
    """file name -> id of the batch that read it (source 0's log;
    compacted ``N.compact`` files repeat earlier entries)."""
    out: dict[str, int] = {}
    d = Path(ckpt, "sources", "0")
    if not d.is_dir():
        return out
    for f in d.iterdir():
        if f.name.startswith("."):
            continue
        for line in f.read_text().splitlines()[1:]:
            e = json.loads(line)
            out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def commit_times(ckpt: str) -> dict[int, float]:
    d = Path(ckpt, "commits")
    if not d.is_dir():
        return {}
    return {
        int(f.name): f.stat().st_mtime
        for f in d.iterdir()
        if f.name.isdigit()
    }


def data_progress(q) -> list[dict]:
    """Progress of the batches that ran (``addBatch`` present)."""
    out = []
    for p in q.recentProgress:
        d = json.loads(p.json) if hasattr(p, "json") else dict(p)
        if "addBatch" in d.get("durationMs", {}):
            out.append(d)
    return out


def _await(q, timeout_s: float) -> None:
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(f"streaming pass exceeded {timeout_s} s")
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))


def catchup_pass(
    spark, input_dir: str, rules, pdir: str, cfg: dict, join: bool,
    state_partitions: int, timeout_s: float,
) -> StreamPass:
    """Drain every input file with ``available_now`` in batches of
    ``files_per_trigger`` files; every file is due at the pass start."""
    out, ckpt = f"{pdir}/out", f"{pdir}/ckpt"
    kw = {}
    if join:
        kw = dict(
            with_context_join=True,
            context_mode="join",
            state_partitions=state_partitions,
        )
    t0, c0 = time.time(), host.cpu_s()
    q, _ = SP.start_pipeline(
        spark, input_dir, rules, out, ckpt,
        watermark=cfg["watermark"],
        available_now=True,
        max_files_per_trigger=cfg["files_per_trigger"],
        **kw,
    )
    _await(q, timeout_s)
    wall, cpu = time.time() - t0, host.cpu_s() - c0
    progress = data_progress(q)
    commits = commit_times(ckpt)
    fb = file_batches(ckpt)
    lat = [commits[b] - t0 for b in fb.values()]
    return StreamPass(
        wall_s=wall,
        batch_s=[p["durationMs"]["triggerExecution"] / 1000 for p in progress],
        latency_s=lat,
        progress=progress,
        out_dir=out,
        ckpt=ckpt,
        published=dict.fromkeys(fb, t0),
        cpu_s=cpu,
    )


class Publisher(threading.Thread):
    """Open-loop load: renames staged files into the watched directory
    at a fixed rate, recording when each was due and when it landed."""

    def __init__(self, names: list[str], staging: str, input_dir: str,
                 start: float, rate: float):
        super().__init__(daemon=True)
        self.names, self.staging, self.input_dir = names, staging, input_dir
        self.start_t, self.rate = start, rate
        self.due: dict[str, float] = {}
        self.done: dict[str, float] = {}

    def run(self) -> None:
        for i, name in enumerate(self.names):
            due = self.start_t + i / self.rate
            self.due[name] = due
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            os.replace(os.path.join(self.staging, name),
                       os.path.join(self.input_dir, name))
            self.done[name] = time.time()


class LiveFeed:
    """One long-running query over a directory that the benchmark feeds.
    ``start`` is the cold pass; each ``window`` publishes the next files
    on schedule and waits until all of them are committed."""

    def __init__(self, spark, staging: str, input_dir: str, rules,
                 pdir: str, cfg: dict, live: dict):
        self.spark, self.staging, self.input_dir = spark, staging, input_dir
        self.rules, self.cfg, self.live = rules, cfg, live
        self.out, self.ckpt = f"{pdir}/out", f"{pdir}/ckpt"
        self.names = sorted(os.listdir(staging))
        self.next = 0
        self.q = None

    def _wait_committed(self, names: list[str], deadline: float) -> dict:
        while True:
            if self.q.exception() is not None:
                raise RuntimeError(str(self.q.exception()))
            fb = file_batches(self.ckpt)
            commits = commit_times(self.ckpt)
            if all(n in fb and fb[n] in commits for n in names):
                return {n: commits[fb[n]] for n in names}
            if time.time() > deadline:
                return {n: commits[fb[n]] for n in names
                        if n in fb and fb[n] in commits}
            time.sleep(0.02)

    def start(self, files: int) -> float:
        """Start the query and feed it ``files`` files one batch at a
        time (the second batch is the first to read a prior cooldown
        snapshot); returns the time to the last one's commit."""
        t0 = time.time()
        for i, name in enumerate(self.names[:files]):
            os.replace(os.path.join(self.staging, name),
                       os.path.join(self.input_dir, name))
            if i == 0:
                self.q, _ = SP.start_pipeline(
                    self.spark, self.input_dir, self.rules, self.out, self.ckpt,
                    watermark=self.cfg["watermark"],
                    available_now=False,
                    max_files_per_trigger=None,
                )
            done = self._wait_committed([name], time.time() + 120)
            if name not in done:
                raise TimeoutError(f"live warm-up file {name} never committed")
        self.next = files
        return done[name] - t0

    def window(self, seconds: float) -> StreamPass:
        rate = self.live["files_per_s"]
        n = math.ceil(rate * seconds)
        names = self.names[self.next:self.next + n]
        self.next += n
        seen = {p["batchId"] for p in data_progress(self.q)}
        start, c0 = time.time() + 0.05, host.cpu_s()
        pub = Publisher(names, self.staging, self.input_dir, start, rate)
        pub.start()
        pub.join()
        backlog_end = len(names) - len(self._wait_committed(names, 0))
        done = self._wait_committed(
            names, time.time() + self.live["drain_timeout_s"]
        )
        wall = max(done.values(), default=time.time()) - start
        cpu = host.cpu_s() - c0
        lat = [done[n] - pub.due[n] for n in names if n in done]
        late = [pub.done[n] - pub.due[n] for n in names]
        # a growing backlog shows as later files waiting longer
        half = len(lat) // 2
        first = median(lat[:half]) if half else 0.0
        second = median(lat[half:]) if lat else 0.0
        validity = {
            "files": len(names),
            "committed": len(done),
            "gen_lateness_max_s": round(max(late), 4),
            "backlog_end_files": backlog_end,
            "latency_p50_first_half_s": round(first, 4),
            "latency_p50_second_half_s": round(second, 4),
        }
        valid = (
            len(done) == len(names)
            and max(late) <= self.live["max_lateness_s"]
            and second <= 1.5 * first + 0.5
        )
        progress = [p for p in data_progress(self.q) if p["batchId"] not in seen]
        return StreamPass(
            wall_s=wall,
            batch_s=[p["durationMs"]["triggerExecution"] / 1000 for p in progress],
            latency_s=lat,
            progress=progress,
            out_dir=self.out,
            ckpt=self.ckpt,
            published=dict(pub.done),
            cpu_s=cpu,
            valid=valid,
            validity=validity,
        )

    def stop(self) -> None:
        if self.q is not None:
            self.q.stop()
