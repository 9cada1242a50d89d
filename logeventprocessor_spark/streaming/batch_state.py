"""Cross-batch cooldown state as one driver-side Arrow snapshot file
per batch id, managed inside ``foreachBatch`` -- the high-throughput
backend of the streaming cooldown operator (T1).

Why this exists (round-3 verdict task #4; historical local[32] numbers
from a since-deleted probe, see BENCH/BASELINE.md):
``applyInPandasWithState`` carried ~3-4 s of FIXED per-trigger cost at
32 shuffle partitions on that host -- a dedicated Python-worker fleet,
state-store load/commit and timer scans per partition -- even with ZERO
input rows, plus per-group dispatch on top. The same cooldown computed as a seeded batch ``mapInArrow``
(operators/cooldown.py) costs ~0.3 s. This module supplies the missing
cross-batch half: each micro-batch reads the last committed snapshot,
seeds the greedy scan, and writes a new snapshot keyed by batch id.

The pattern (stateful logic in ``foreachBatch`` + an idempotent keyed
store) is the standard Structured-Streaming recipe for state that
outgrows the built-in store. The state is one ``last_fire_ns`` per live
``(conv_id, rule_id)``, so the driver reads, merges and writes it with
pyarrow, and the gate ships it to the scan by broadcast.

Exactly-once / resumability contract:

* snapshot N is derived ONLY from (snapshot < N, input batch N), and
  batch N's reader ignores any snapshot >= N -- so a replayed batch
  (crash between output write and checkpoint commit) recomputes the
  identical gated rows and overwrites both directories idempotently;
* the batch's kept fires reach the driver through an accumulator
  (``FireReport``), filled by the sink write's own job: Spark merges
  the updates of successful tasks only, and a task that runs again
  (a retry, or a re-read after a cache eviction) reports the same
  last fire per key, which the per-key max merge ignores;
* snapshot N is one file, written under a dot-prefixed tmp name and
  renamed into place (``os.replace``): its presence marks N committed,
  and a half-written one is never read;
* the watermark is kept in that file's metadata
  (``max(prior_wm, max_event_ts - delay)``, Spark's own definition)
  and drives event-time eviction: a key is dropped once the watermark
  passes ``last_fire + cooldown + grace``, the exact timeout rule of
  the ``applyInPandasWithState`` backend -- state stays bounded by
  fire-rate x cooldown horizon, not stream length (the 10^12-turn
  requirement).

State-size note: the snapshot holds the ACTIVE keys only (evicted keys
never land), and the driver merges all of them once per batch:
``start_pipeline`` states the measured key-count bound, beyond which
the ``'state'`` backend is the path.

Reference: the cooldown map lives in ActionManager
(/root/reference/LogEventProcessor/ActionManager.h:148-150,
ActionManager.cpp:96-110); retry-after-crash semantics
ActionSender.cpp:719-731.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from logeventprocessor_spark.operators.cooldown import (
    FIRES_SCHEMA,
    FireReport,
    apply_cooldown,
    hot_cooldowns,
)
from logeventprocessor_spark.rules import Rule

# eviction grace matches stream_cooldown's timeout slack (+1 s)
GRACE_MS = 1000

# snapshot generations kept: a restart only ever replays the last
# uncommitted batch, so 2 would suffice
RETENTION = 4

_UNITS_MS = {
    "millisecond": 1, "milliseconds": 1,
    "second": 1000, "seconds": 1000,
    "minute": 60_000, "minutes": 60_000,
    "hour": 3_600_000, "hours": 3_600_000,
    "day": 86_400_000, "days": 86_400_000,
}


def delay_to_ms(delay: str) -> int:
    """'10 minutes' -> 600000 (the CalendarInterval subset watermarks
    use)."""
    n, unit = delay.strip().split()
    return int(n) * _UNITS_MS[unit.lower()]


class CooldownSnapshotState:
    """Layout:  state_dir/batch_id=N/data/part-0.parquet
    (``FIRES_SCHEMA``, ``wm_ns`` in its key-value metadata; no keys
    = zero rows), pruned to ``RETENTION`` generations. State written by
    the earlier layout (``meta.json`` + Spark part files) is not read.

    The rule set is an argument of every ``gate``/``advance`` call, not
    state of this object: ``run_micro_batch`` resolves ONE rule set per
    micro-batch (a list, or a rules file re-read per batch) and hands
    the same list to match, gate, step rendering and advance. Eviction
    policy under a changing rule set: a snapshot key is evicted by the
    batch's CURRENT rule set -- its cooldown in that batch sets the
    ``last_fire + cooldown + grace`` horizon, and a rule that has no
    cooldown in a batch (removed, disabled or set to 0) drops its keys
    at that batch's ``advance``. A raised cooldown thus keeps history
    a shorter one would already have evicted."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        watermark_delay_ms: int,
    ):
        self.spark = spark
        self.dir = state_dir
        self.delay_ms = watermark_delay_ms
        # per-batch memo of (batch_id, prior_table, prior_wm_ns): gate()
        # and advance() both need the prior snapshot, and within one
        # batch they are guaranteed to resolve the same one
        self._memo: tuple | None = None
        self._fires = FireReport(spark.sparkContext)
        os.makedirs(state_dir, exist_ok=True)

    # -- snapshot bookkeeping -----------------------------------------
    def _snap_dir(self, batch_id: int) -> str:
        return os.path.join(self.dir, f"batch_id={batch_id}")

    def _snap_file(self, batch_id: int) -> str:
        return os.path.join(self._snap_dir(batch_id), "data", "part-0.parquet")

    def _latest_before(self, batch_id: int) -> int | None:
        best = None
        for name in os.listdir(self.dir):
            if not name.startswith("batch_id="):
                continue
            n = int(name.split("=", 1)[1])
            # only COMMITTED snapshots strictly before this batch: a
            # leftover snapshot of a crashed attempt at N itself must
            # not feed N's replay
            if n < batch_id and os.path.exists(self._snap_file(n)):
                best = n if best is None or n > best else best
        return best

    def prior(self, batch_id: int) -> tuple[pa.Table | None, int]:
        """(last committed snapshot before batch_id, its watermark ns);
        the table is None when there is no snapshot or it has no keys."""
        b = self._latest_before(batch_id)
        if b is None:
            return None, 0
        table = pq.read_table(self._snap_file(b))
        wm_ns = int(table.schema.metadata[b"wm_ns"])
        table = table.replace_schema_metadata(None)
        return (table if table.num_rows else None), wm_ns

    def _prior_cached(self, batch_id: int) -> tuple[pa.Table | None, int]:
        if self._memo is not None and self._memo[0] == batch_id:
            return self._memo[1], self._memo[2]
        table, wm = self.prior(batch_id)
        self._memo = (batch_id, table, wm)
        return table, wm

    # -- the operator --------------------------------------------------
    def gate(
        self, matches: DataFrame, batch_id: int, rules: list[Rule]
    ) -> DataFrame:
        """Cooldown-suppress this batch's matches under this batch's
        ``rules``, seeded by the prior snapshot, which ``apply_cooldown``
        ships to its scan by broadcast with the snapshot watermark. The
        scan reports the batch's kept fires for ``advance``. Zero-cooldown
        rules never touch the scan (the same hot/cold Arrow split as the
        batch pipeline).

        Late-data contract (parity with the store backend, where Spark
        drops rows older than the watermark before the stateful op):
        HOT-rule matches with ts < the snapshot watermark are dropped
        by the scan; cold-rule rows are never late-filtered in either
        backend (they bypass state entirely). The snapshot watermark can
        lag the store backend's by < cooldown (it derives from KEPT
        fires), which is conservative -- it only ever drops a subset.

        Arrival-order contract: each key's scan is seeded by its last
        kept fire from the earlier batches, so a fire event-time-earlier
        than it has a negative gap and is suppressed, though
        ``oracle.oracle_matches`` keeps it (``run_micro_batch``)."""
        prior, wm_ns = self._prior_cached(batch_id)
        return apply_cooldown(
            matches, rules, prior, wm_ns=wm_ns, report=self._fires, tag=batch_id
        )

    def advance(self, gated: DataFrame, batch_id: int, rules: list[Rule]) -> None:
        """Commit snapshot N = prior keys max-merged with this batch's
        kept fires, evicted at the advanced watermark under this batch's
        ``rules`` (class docstring). Runs no Spark job.

        ``gated``: the frame ``gate`` returned, after a job has run it:
        its tasks reported the last kept fire per hot key, and the
        fires of any other batch are dropped here. The watermark
        advances from those fires' epoch event times. Cold rows never
        advance it, as on the store backend, whose ``withWatermark``
        sits on the hot match stream. Using gated (not raw) matches for
        the watermark is sound: a suppressed fire's later ts would only
        advance the watermark by < cooldown, and a SMALLER watermark is
        always conservative (delays eviction, never wrong results)."""
        cooldowns = hot_cooldowns(rules)
        prior, wm_ns = self._prior_cached(batch_id)
        fires = self._fires.take(batch_id)
        if not cooldowns and prior is None:
            return  # no keys to keep and none to evict
        snap = prior if prior is not None else FIRES_SCHEMA.empty_table()
        if fires.num_rows:
            wm_ns = max(
                wm_ns,
                pc.max(fires["last_fire_ns"]).as_py() - self.delay_ms * 1_000_000,
            )
            # greedy invariant: the last KEPT fire of a key IS its last
            # fire, so ONE max per key over the prior and the fires
            merged = pa.concat_tables([snap, fires]).group_by(
                ["conv_id", "rule_id"]
            ).aggregate([("last_fire_ns", "max")])
            snap = merged.select(
                ["conv_id", "rule_id", "last_fire_ns_max"]
            ).rename_columns(FIRES_SCHEMA.names)
        # a key whose rule has no cooldown in this batch looks up null
        # and fails the filter: it is evicted here
        cd_ms = pc.take(
            pa.array(list(cooldowns.values()), pa.int64()),
            pc.index_in(snap["rule_id"], pa.array(list(cooldowns), pa.string())),
        )
        horizon = pc.add(
            snap["last_fire_ns"],
            pc.multiply(pc.add(cd_ms, GRACE_MS), 1_000_000),
        )
        live = snap.filter(pc.greater(horizon, wm_ns))
        data = os.path.dirname(self._snap_file(batch_id))
        os.makedirs(data, exist_ok=True)
        tmp = os.path.join(data, f".part-0.tmp.{os.getpid()}")
        pq.write_table(live.replace_schema_metadata({"wm_ns": str(wm_ns)}), tmp)
        os.replace(tmp, self._snap_file(batch_id))
        self._prune(batch_id)

    def _prune(self, batch_id: int) -> None:
        for name in os.listdir(self.dir):
            if name.startswith("batch_id="):
                n = int(name.split("=", 1)[1])
                if n <= batch_id - RETENTION:
                    shutil.rmtree(
                        os.path.join(self.dir, name), ignore_errors=True
                    )
