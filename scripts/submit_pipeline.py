"""spark-submit entrypoint for the streaming CEP pipeline (the
north-rule deployment form):

    cd /root/repo && zip -qr /tmp/lep.zip logeventprocessor_spark
    spark-submit --master local[16] --py-files /tmp/lep.zip \
        scripts/submit_pipeline.py <input_dir> <out_dir> <ckpt_dir> [rules.yaml]

Runs the full match -> cooldown -> render -> exactly-once-sink query
with availableNow (drain everything pending, then stop) and prints a
one-line JSON summary.
"""

from __future__ import annotations

import json
import sys
import time

from pyspark.sql import SparkSession


def main():
    input_dir, out_dir, ckpt = sys.argv[1], sys.argv[2], sys.argv[3]
    rules_path = sys.argv[4] if len(sys.argv) > 4 else None

    spark = SparkSession.builder.appName("lep-submit").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from logeventprocessor_spark.rules import canonical_rules, load_rules_yaml
    from logeventprocessor_spark.streaming.pipeline import start_pipeline

    rules = load_rules_yaml(rules_path) if rules_path else canonical_rules()
    t0 = time.time()
    q, sink = start_pipeline(
        spark, input_dir, rules, out_dir, ckpt,
        max_files_per_trigger=None,
    )
    q.awaitTermination()
    rows = sink.read(spark).count()
    print(json.dumps({
        "rows_written": rows,
        "wall_s": round(time.time() - t0, 2),
        "batches": len(sink.lineage()),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
