"""Per-rule cooldown suppression -- the keyed-state CEP operator.

Reference semantics (/root/reference/LogEventProcessor/
ActionManager.cpp:96-110, state map ActionManager.h:148-150): if a rule
fired less than ``cooldown_ms`` ago, suppress this fire; suppressed
fires do NOT advance the clock (the map is only updated when the rule
actually fires). The reference keys this by rule on its single implicit
stream; we key by ``(conv_id, rule_id)`` and define "ago" in EVENT TIME
(deterministic; see SURVEY.md 7.4).

Batch realization is SINGLE-PASS and SINGLE-SHUFFLE, designed for the
100 TB case where the match stream is far smaller than the turn stream
but still too large to scan twice:

    matches -> repartition(conv_id, rule_id)
            -> sortWithinPartitions(conv_id, rule_id, ts, turn_idx)
            -> mapInArrow(C++ hot/cold split + greedy_keep over each chunk)

``mapInArrow`` (not ``applyInPandas``) avoids one Python call per
(conv, rule) group -- a partition's many groups are processed in one
Arrow batch; rows of zero-cooldown rules pass straight through as a
zero-copy C++ filter and never become Python objects. Because Arrow
may split a partition into multiple record batches, the trailing group
of each chunk is carried into the next chunk so no keyed scan is ever
cut mid-group.

``greedy_keep`` is the ONE implementation of the greedy scan: this
batch operator calls it with many keyed runs per Arrow chunk, the
store-native streaming backend (streaming/pipeline.py,
``applyInPandasWithState`` keyed by (conv_id, rule_id)) with one run
per key, so the paths cannot diverge.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame

from logeventprocessor_spark.rules import Rule


# "no prior fire" for a run's seed: every real epoch-ns timestamp,
# pre-1970 ones included, is greater (pandas' Timestamp.min is
# INT64_MIN + 1), so a negative prior is a real fire, not a missing one
NO_PRIOR = -(2**63)


def _epoch_ns(ts: pd.Series) -> np.ndarray:
    """A timestamp column as int64 UTC epoch ns, whatever its unit or tz.

    Frames born from Arrow batches carry datetime64[us] (a bare int64
    cast would be microseconds -- a silent 1000x cooldown inflation),
    while applyInPandasWithState delivers datetime64[ns]. A tz-aware
    column is converted to UTC BEFORE its tz is dropped: the seeds
    (the snapshot's and the store's ``last_fire_ns``) are UTC epoch ns,
    and wall time in a non-UTC zone would skew every cross-batch
    cooldown by the tz offset."""
    if getattr(ts.dtype, "tz", None) is not None:
        ts = ts.dt.tz_convert("UTC").dt.tz_localize(None)
    return ts.to_numpy().astype("datetime64[ns]").astype("int64")


def hot_cooldowns(rules: list[Rule]) -> dict[str, int]:
    """rule_id -> cooldown_ms of the enabled cooldown-bearing rules."""
    return {
        r.rule_id: r.cooldown_ms
        for r in rules
        if r.enabled and r.cooldown_ms > 0
    }


def greedy_keep(ts_ns, run_starts, cd_ns, prior_ns) -> np.ndarray:
    """The T1 greedy event-time scan: a bool keep-mask over ``ts_ns``.

    ``ts_ns`` holds one or more keyed runs back to back, each sorted by
    (ts, turn_idx); ``run_starts`` are the runs' first indices (the
    first is 0). ``cd_ns`` and ``prior_ns`` give each run its cooldown
    and its last fire before this scan (``NO_PRIOR`` for none). A row
    fires when no fire precedes it in its run or its gap to the last
    fire is >= the cooldown; a suppressed row does not advance the
    clock."""
    ts = np.asarray(ts_ns, dtype=np.int64).tolist()
    bounds = [int(s) for s in run_starts] + [len(ts)]
    keep = np.zeros(len(ts), dtype=bool)
    for r, (cd, last) in enumerate(zip(cd_ns, prior_ns)):
        cd = int(cd)
        last = None if last == NO_PRIOR else int(last)
        for i in range(bounds[r], bounds[r + 1]):
            t = ts[i]
            if last is None or t - last >= cd:
                keep[i] = True
                last = t
    return keep


# a cooldown seed and a scan's reported fires: one last kept fire per
# key, as UTC epoch ns
FIRES_SCHEMA = pa.schema([
    ("conv_id", pa.string()),
    ("rule_id", pa.string()),
    ("last_fire_ns", pa.int64()),
])


class _Parts(AccumulatorParam):
    """A list of ``(tag, Arrow IPC bytes)`` parts, concatenated."""

    def zero(self, value):
        return []

    def addInPlace(self, value1, value2):
        value1.extend(value2)
        return value1


class FireReport:
    """The seeded scan's way back to the driver: each kernel task adds
    ONE part, the last kept fire of every hot ``(conv_id, rule_id)``
    it scanned (``FIRES_SCHEMA`` as Arrow IPC bytes), tagged with the
    scan's ``tag``. Spark merges a task's accumulator updates only when
    the task succeeds, and before its job returns.

    One accumulator serves every scan of this object: PySpark's driver
    registry never drops an accumulator, so one per scan would grow
    without bound. A new scan under a tag drops the parts already held
    under it (an earlier attempt's, whose rules may have changed), and
    ``take`` drops every part and destroys every seed broadcast, so
    driver memory stays bounded across scans."""

    def __init__(self, sc):
        self._acc = sc.accumulator([], _Parts())
        self._seeds: list = []

    def _open(self, tag: int, seed):
        # planning runs between jobs: no task can add a part meanwhile
        self._acc.value = [p for p in self._acc.value if p[0] != tag]
        if seed is not None:
            self._seeds.append(seed)
        return self._acc

    def take(self, tag: int) -> pa.Table:
        """The fires reported under ``tag``: a key repeats when a task
        ran again (a retry, or a cache re-read), with the same value,
        so a max per key over them is exact."""
        parts, self._acc.value = self._acc.value, []
        for seed in self._seeds:
            seed.destroy()
        self._seeds = []
        return pa.concat_tables(
            [FIRES_SCHEMA.empty_table()]
            + [pa.ipc.open_stream(b).read_all() for t, b in parts if t == tag]
        )


def apply_cooldown(
    matches: DataFrame,
    rules: list[Rule],
    prior: pa.Table | None = None,
    *,
    wm_ns: int = 0,
    report: FireReport | None = None,
    tag: int = 0,
) -> DataFrame:
    """matches (MATCHES_SCHEMA) -> matches with cooldown-suppressed
    fires removed. No-op (no shuffle at all) when no rule has a
    cooldown.

    Arrow-native hot/cold split: rows of zero-cooldown rules are passed
    through with a C++ filter (``pc.is_in``) and NEVER become pandas --
    only the (typically small) cooldown-bearing subset is converted for
    the keyed greedy scan. Converting every match row to pandas was the
    dominant cost of this operator once match went Arrow-native
    (profiled: cooldown 3.5 s of the 3.9 s batch pipeline at local[16],
    5M turns).

    The cross-batch half of the snapshot-state streaming backend
    (streaming/batch_state.py):

    * ``prior``: an optional ``FIRES_SCHEMA`` table seeding each key's
      scan with its last fire from an earlier batch, and ``wm_ns``: hot
      rows with an event time before it are dropped before the scan
      (cold rows never are). Both ride ONE ``SparkContext.broadcast``
      to the kernel, which looks each run's seed up with
      ``pc.index_in``: no join, no seed column in the shuffle, and no
      per-batch literal in generated code (a watermark literal made
      Janino compile again on every batch). The broadcast lives until
      ``report.take`` destroys it, or until the context stops.
    * ``report``: the kernel tasks add each hot key's last kept fire to
      it under ``tag`` (``FireReport``), so the caller reads them with
      no Spark job."""
    cooldowns = hot_cooldowns(rules)
    if not cooldowns:
        return matches

    hot_ids = sorted(cooldowns)
    # the prior's keys per hot rule: the only ones this scan can seed
    by_rule = {}
    for r in hot_ids if prior is not None else ():
        t = prior.filter(pc.equal(prior["rule_id"], r))
        if t.num_rows:
            by_rule[r] = (t["conv_id"].combine_chunks(), t["last_fire_ns"].to_numpy())
    seed = None
    if by_rule or wm_ns > 0:
        seed = matches.sparkSession.sparkContext.broadcast((wm_ns, by_rule))
    acc = report._open(tag, seed) if report is not None else None

    # Output schema = the INPUT schema: the scan only drops rows, never
    # reshapes them, so extra columns after the MATCHES prefix (e.g.
    # carried role/tool context) pass through untouched -- this is what
    # lets the carry-context pipeline send context THROUGH the gate
    # instead of splitting it off and re-joining after step expansion
    # (a dropDuplicates + join per micro-batch).
    rep = matches.repartition("conv_id", "rule_id").sortWithinPartitions(
        "conv_id", "rule_id", "ts", "turn_idx"
    )

    def fn(batches):
        wm, by_rule = seed.value if seed is not None else (0, {})
        hot_set = pa.array(hot_ids, pa.string())
        carry: pd.DataFrame | None = None
        fired: list[tuple] = []  # (conv, rule, ts_ns) of each run's last kept fire

        def scan(pdf: pd.DataFrame) -> pa.RecordBatch | None:
            # rows arrive SORTED by (conv_id, rule_id, ts, turn_idx), so
            # each keyed group is one contiguous run: one kernel call
            # per chunk, NOT a pandas groupby -- hot groups are tiny
            # (1-3 fires) and numerous, and a pandas sub-frame per group
            # cost ~300 us EACH (+1.5 s on the sf0.1 batch pipeline,
            # BENCH/batch_ab.json, round-5 verdict task #3)
            conv = pdf["conv_id"].to_numpy()
            rule = pdf["rule_id"].to_numpy()
            brk = np.empty(len(pdf), dtype=bool)
            brk[0] = True
            brk[1:] = (conv[1:] != conv[:-1]) | (rule[1:] != rule[:-1])
            starts = np.flatnonzero(brk)
            ts = _epoch_ns(pdf["ts"])
            prior_ns = np.full(len(starts), NO_PRIOR, dtype=np.int64)
            for r, (seed_conv, seed_ns) in by_rule.items():
                at = np.flatnonzero(rule[starts] == r)
                if not len(at):
                    continue
                # probe the seed's keys against this chunk's runs: the
                # hash table is built on the chunk's (small) side
                pos = pc.index_in(
                    seed_conv, value_set=pa.array(conv[starts[at]], pa.string())
                )
                hit = pos.is_valid().to_numpy(zero_copy_only=False)
                prior_ns[at[pos.drop_null().to_numpy()]] = seed_ns[hit]
            keep = greedy_keep(
                ts, starts, [cooldowns[r] * 1_000_000 for r in rule[starts]],
                prior_ns,
            )
            kept = np.flatnonzero(keep)
            if not len(kept):
                return None
            if acc is not None:
                run = np.searchsorted(starts, kept, side="right") - 1
                last = kept[np.append(run[1:] != run[:-1], True)]
                fired.append((conv[last], rule[last], ts[last]))
            return pa.RecordBatch.from_pandas(
                pdf.iloc[kept], schema=schema, preserve_index=False
            )

        for rb in batches:
            if rb.num_rows == 0:
                continue
            schema = rb.schema
            hot_mask = pc.is_in(rb.column("rule_id"), value_set=hot_set)
            cold = rb.filter(pc.invert(hot_mask))
            if cold.num_rows:
                yield cold  # zero-copy, no Python objects
            hot = rb.filter(hot_mask)
            if wm > 0:
                ts = hot.column("ts")
                hot = hot.filter(pc.greater_equal(
                    ts, pa.scalar(wm, pa.timestamp("ns", ts.type.tz))
                ))
            if hot.num_rows == 0:
                continue
            pdf = hot.to_pandas()
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            # hold back the trailing (conv_id, rule_id) group: Arrow
            # may have split this partition mid-group (rows are sorted,
            # so only the LAST group can continue into the next batch)
            last = pdf.iloc[-1]
            tail = (pdf["conv_id"].to_numpy() == last["conv_id"]) & (
                pdf["rule_id"].to_numpy() == last["rule_id"]
            )
            carry = pdf[tail]
            head = pdf[~tail]
            if len(head):
                out = scan(head)
                if out is not None:
                    yield out
        if carry is not None and len(carry):
            out = scan(carry)
            if out is not None:
                yield out
        if fired:
            conv, rule, ts = (np.concatenate(c) for c in zip(*fired))
            part = pa.table(
                [pa.array(conv, pa.string()), pa.array(rule, pa.string()),
                 pa.array(ts, pa.int64())],
                schema=FIRES_SCHEMA,
            )
            sink = pa.BufferOutputStream()
            with pa.ipc.new_stream(sink, FIRES_SCHEMA) as w:
                w.write_table(part)
            acc.add([(tag, sink.getvalue().to_pybytes())])

    return rep.mapInArrow(fn, schema=matches.schema)
