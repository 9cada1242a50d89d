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
from pyspark.sql import DataFrame

from logeventprocessor_spark.rules import Rule


# "no prior fire" in a prior_ns seed: every real epoch-ns timestamp,
# pre-1970 ones included, is greater (pandas' Timestamp.min is
# INT64_MIN + 1), so a negative prior is a real fire, not a missing one
NO_PRIOR = -(2**63)


def _epoch_ns(ts: pd.Series) -> np.ndarray:
    """A timestamp column as int64 UTC epoch ns, whatever its unit or tz.

    Frames born from Arrow batches carry datetime64[us] (a bare int64
    cast would be microseconds -- a silent 1000x cooldown inflation),
    while applyInPandasWithState delivers datetime64[ns]. A tz-aware
    column is converted to UTC BEFORE its tz is dropped: the seeds
    (snapshot ``prior_ns``, store ``last_fire_ns``) are UTC epoch ns,
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


def apply_cooldown(
    matches: DataFrame,
    rules: list[Rule],
    prior: DataFrame | None = None,
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

    ``prior``: optional (conv_id, rule_id, prior_ns) frame seeding each
    key's greedy scan with its last fire from an earlier batch -- the
    cross-batch half of the snapshot-state streaming backend
    (streaming/batch_state.py). Joined BEFORE the repartition so the
    seed rides the same shuffle; nulls become ``NO_PRIOR`` JVM-side (a
    ns value must never pass through a nullable float, 2^63-scale ints
    lose precision there). Without ``prior`` every row is seeded with a
    literal ``NO_PRIOR``, so the kernel sees one input shape."""
    cooldowns = hot_cooldowns(rules)
    if not cooldowns:
        return matches

    from pyspark.sql import functions as F

    # Output schema = the INPUT schema (minus the prior_ns seed): the
    # scan only drops rows, never reshapes them, so extra columns after
    # the MATCHES prefix (e.g. carried role/tool context) pass through
    # untouched -- this is what lets the carry-context pipeline send
    # context THROUGH the gate instead of splitting it off and
    # re-joining after step expansion (a dropDuplicates + join per
    # micro-batch).
    out_schema = matches.schema
    cols = matches.columns
    seed = F.lit(NO_PRIOR)
    if prior is not None:
        matches = matches.join(prior, ["conv_id", "rule_id"], "left")
        seed = F.coalesce(F.col("prior_ns"), seed).cast("long")
    # the USING-join moves its keys to the front; restore the original
    # order -- mapInArrow matches output batches to the declared schema
    # BY POSITION, so a reordered frame would have Spark reading
    # rule_id bytes as turn_idx ints
    matches = matches.select(*cols, seed.alias("prior_ns"))

    rep = matches.repartition("conv_id", "rule_id").sortWithinPartitions(
        "conv_id", "rule_id", "ts", "turn_idx"
    )

    hot_ids = sorted(cooldowns)

    def fn(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        hot_set = pa.array(hot_ids, pa.string())
        schema = None
        carry: pd.DataFrame | None = None

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
            keep = greedy_keep(
                _epoch_ns(pdf["ts"]),
                starts,
                [cooldowns[r] * 1_000_000 for r in rule[starts]],
                pdf["prior_ns"].to_numpy()[starts],
            )
            if not keep.any():
                return None
            return pa.RecordBatch.from_pandas(
                pdf[keep].drop(columns=["prior_ns"]),
                schema=schema,
                preserve_index=False,
            )

        for rb in batches:
            if rb.num_rows == 0:
                continue
            if schema is None:
                schema = rb.schema.remove(rb.num_columns - 1)  # prior_ns
            rule_col = rb.column(rb.schema.get_field_index("rule_id"))
            hot_mask = pc.is_in(rule_col, value_set=hot_set)
            cold = rb.filter(pc.invert(hot_mask))
            if cold.num_rows:
                yield cold.select(schema.names)  # zero-copy, no Python objects
            hot = rb.filter(hot_mask)
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

    return rep.mapInArrow(fn, schema=out_schema)
