"""Registry pass: the heaviest dedup/similarity queries, each built
through ``queries.build_queries()`` and forced with a ``noop`` write
whose digest rides along as an ``Observation``."""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from perfbench import check, host


@dataclass
class QueryRun:
    name: str
    build_s: float
    exec_s: float
    digest: dict
    plan_s: float = 0.0
    jobs_in_build: int = 0
    shuffle_bytes: int = 0


@dataclass
class RegistryPass:
    wall_s: float
    cpu_s: float
    runs: list[QueryRun] = field(default_factory=list)


def registry_pass(spark, qs: dict, sf_dir: str, names, store=None) -> RegistryPass:
    """Run each query once. With a ``store`` (traced run) also time
    Catalyst planning on its own and count the jobs fired while the
    query object is built and the shuffle bytes of its execution."""
    t0, c0 = time.perf_counter(), host.cpu_s()
    runs = []
    for name in names:
        keys, floats = check.REGISTRY_KEYS[name]
        mark = store.mark() if store else None
        b0 = time.perf_counter()
        df = qs[name](spark, sf_dir)
        df, obs = check.observed(df, f"pb_{name}_{time.monotonic_ns()}", keys, floats)
        b1 = time.perf_counter()
        run = QueryRun(name, b1 - b0, 0.0, {})
        if store:
            run.jobs_in_build = store.jobs_since(mark)
            p0 = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            run.plan_s = time.perf_counter() - p0
            mark = store.mark()
        e0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        run.exec_s = time.perf_counter() - e0
        if store:
            run.shuffle_bytes = sum(
                s["shuffle_write_bytes"] for s in store.stages_since(mark)
            )
        run.digest = check.from_observation(obs)
        runs.append(run)
    return RegistryPass(time.perf_counter() - t0, host.cpu_s() - c0, runs)
