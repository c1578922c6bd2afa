"""spark-submit entry point — the multi-executor invocation path of the north
rule.  Ships the engine as a zip via --py-files; everything importable from
the zip only (no repo path assumptions on executors).

    python BENCH/make_zip.py   # builds BENCH/engine.zip
    spark-submit --master local[8] --py-files BENCH/engine.zip \
        BENCH/submit_job.py <n_events> <n_batches> <work_dir>

Prints the per-batch metrics and final throughput JSON line.
"""

from __future__ import annotations

import json
import sys

from pyspark.sql import SparkSession
from pyspark.sql import types as T


def main():
    n_events = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    work_dir = sys.argv[3] if len(sys.argv) > 3 else "/tmp/submit_job_work"
    write_mode = sys.argv[4] if len(sys.argv) > 4 else "cow"
    warm_events = int(sys.argv[5]) if len(sys.argv) > 5 else 0

    spark = (
        SparkSession.builder.appName("cdc_submit_job")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", "64")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    # imports resolve from --py-files zip on driver AND executors
    from magneto_matcher_spark.schemas import CHANGE_FEED_SCHEMA, TRANSCRIPT_KEY
    from magneto_matcher_spark.sources.changefeed import (
        generate_change_feed,
        write_change_files,
    )
    from magneto_matcher_spark.sources.lake import LakeTable
    from magneto_matcher_spark.streaming.engine import CdcEngine

    import time

    schema = T.StructType([f for f in CHANGE_FEED_SCHEMA.fields if f.name != "op"])
    if warm_events > 0:
        # untimed warm-up replay (JIT / codegen steady state), like bench.py
        wfeed = generate_change_feed(
            spark, warm_events, n_convs=500, turns_per_conv=50, hot_frac=0.2
        )
        wpaths = write_change_files(wfeed, f"{work_dir}/warm", 3)
        wt = LakeTable.create(
            spark, f"{work_dir}/warm_lake", schema, key=TRANSCRIPT_KEY,
            n_buckets=32, write_mode=write_mode,
        )
        CdcEngine(wt).replay(wpaths)

    feed = generate_change_feed(
        spark, n_events, n_convs=max(50, n_events // 2000), turns_per_conv=50,
        hot_frac=0.2,
    )
    paths = write_change_files(feed, f"{work_dir}/feed", n_batches)
    table = LakeTable.create(
        spark, f"{work_dir}/lake", schema, key=TRANSCRIPT_KEY, n_buckets=32,
        write_mode=write_mode,
    )
    engine = CdcEngine(table)
    t0 = time.time()
    metrics = engine.replay(paths, concurrency=4)
    wall = time.time() - t0
    total = sum(m["events_in"] for m in metrics)
    print(
        json.dumps(
            {
                "submitted_via": "spark-submit --py-files",
                "write_mode": write_mode,
                "events": total,
                "wall_s": round(wall, 2),
                "events_per_sec": round(total / wall, 1),
                "snapshots": len(table.snapshots()),
            }
        )
    )


if __name__ == "__main__":
    main()
