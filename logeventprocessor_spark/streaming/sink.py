"""Exactly-once idempotent sink (SURVEY.md 2.5 T6, 2.2 K1).

The reference achieves at-least-once with a manual retry file
(ActionSender.cpp:719-731) and dedup keys (EmailMonitor.cs:214-217).
We strengthen to exactly-once with the standard Structured-Streaming
pattern: ``foreachBatch`` + a DETERMINISTIC PER-BATCH-ID write. A
replayed micro-batch (after crash/restart from checkpoint) overwrites
its own directory, so replays are no-ops; the logical table is the
union of batch directories, deduplicated by the action key
``(conv_id, turn_idx, rule_id, step_idx)`` on read (belt and braces --
the same MERGE-key contract an Iceberg ``MERGE INTO`` would enforce;
this parquet implementation is the sandbox fallback of SURVEY.md 7.1).

Each batch also writes a per-partition lineage/metrics JSON line
(rows per Spark partition, batch id, wall time) -- the north-rule
"per-partition lineage + metrics" requirement.
"""

from __future__ import annotations

import json
import os
import re
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logeventprocessor_spark.schema import ACTION_KEY


class ParquetUpsertSink:
    """Idempotent keyed sink over a directory tree:

    out_dir/
      batches/batch_id=N/*.parquet   (overwritten on replay of N)
      lineage/batch_N.json           (per-partition row counts)
    """

    def __init__(self, out_dir: str):
        self.out_dir = out_dir
        os.makedirs(os.path.join(out_dir, "batches"), exist_ok=True)
        os.makedirs(os.path.join(out_dir, "lineage"), exist_ok=True)

    def batch_dir(self, batch_id: int) -> str:
        return os.path.join(self.out_dir, "batches", f"batch_id={batch_id}")

    def write(self, df: DataFrame, batch_id: int) -> None:
        t0 = time.time()
        # one action: write the batch directory (idempotent overwrite)
        df.write.mode("overwrite").parquet(self.batch_dir(batch_id))
        # lineage from parquet FOOTERS only (one file per write task):
        # a read-back groupBy would rescan the whole batch
        import pyarrow.parquet as pq

        partitions: dict[int, int] = {}
        bd = self.batch_dir(batch_id)
        # partition id = the part-NNNNN index baked into the file name
        # (enumerate over listdir would be offset by _SUCCESS/.crc files)
        extra_rows = 0
        for name in sorted(os.listdir(bd)):
            if not name.endswith(".parquet"):
                continue
            m = re.match(r"part-(\d+)", name)
            n_rows = pq.ParquetFile(os.path.join(bd, name)).metadata.num_rows
            if m:
                partitions[int(m.group(1))] = n_rows
            else:
                # never reuse len(partitions) as a fake index -- it can
                # collide with a real part index and silently overwrite
                # that partition's count; tally separately instead
                extra_rows += n_rows
        meta = {
            "batch_id": batch_id,
            "rows": int(sum(partitions.values())) + extra_rows,
            "partitions": partitions,
            **({"unindexed_rows": extra_rows} if extra_rows else {}),
            "write_s": round(time.time() - t0, 3),
            "ts": time.time(),
        }
        with open(
            os.path.join(self.out_dir, "lineage", f"batch_{batch_id}.json"), "w"
        ) as f:
            json.dump(meta, f)

    def write_table(self, name: str, df: DataFrame, batch_id: int) -> None:
        """K4 multi-table exactly-once: a SECOND logical table (e.g.
        ``acks``, the reference's acknowledgment sends,
        ActionSender.cpp:741-764) written inside the SAME micro-batch
        under the same batch-id-idempotent contract -- a replayed batch
        overwrites both tables' batch directories, so the pair stays
        consistent."""
        d = os.path.join(self.out_dir, "tables", name, f"batch_id={batch_id}")
        df.write.mode("overwrite").parquet(d)

    def read_table(self, spark: SparkSession, name: str, key: list[str]) -> DataFrame:
        return _read_earliest(
            spark, os.path.join(self.out_dir, "tables", name), key
        )

    def read(self, spark: SparkSession) -> DataFrame:
        """The logical output table: union of batches, deduplicated by
        the action key (keep the earliest batch's row -- they are
        identical under exactly-once; the dedup is defensive)."""
        return _read_earliest(
            spark, os.path.join(self.out_dir, "batches"), ACTION_KEY
        )

    def lineage(self) -> list[dict]:
        out = []
        d = os.path.join(self.out_dir, "lineage")
        for name in sorted(os.listdir(d)):
            with open(os.path.join(d, name)) as f:
                out.append(json.load(f))
        return out


def _read_earliest(spark: SparkSession, path: str, key: list[str]) -> DataFrame:
    """The ``batch_id=N`` directories under ``path`` as one table, one
    row per ``key``: the earliest batch's."""
    from pyspark.sql import Window

    df = spark.read.option("basePath", path).parquet(path + "/batch_id=*")
    w = Window.partitionBy(*key).orderBy("batch_id")
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "batch_id")
    )
