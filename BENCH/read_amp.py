"""MoR read-amplification bound: time resolved reads at delta depth
{0, 5, 10, post-compact} on the same table state, proving `compact()`
restores plain-scan reads.

Each depth-d state holds the SAME logical rows (the depth-0 table replayed
through d incremental delta batches); only the physical layout differs, so
the read-time curve isolates amplification.  Min-of-3 per point (bursty VM).

Writes BENCH/READ_AMP.md.  Usage: python BENCH/read_amp.py
"""

from __future__ import annotations

import os
import sys
import tempfile
import shutil
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_ROWS = 400_000
N_CONVS = 4_000
DEPTHS = (0, 5, 10)


def timed_read(table) -> float:
    best = None
    for _ in range(3):
        t0 = time.time()
        table.read().write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    return best


def main():
    from pyspark.sql import functions as F

    from magneto_matcher_spark.schemas import CHANGE_FEED_SCHEMA, TRANSCRIPT_KEY
    from magneto_matcher_spark.session import get_spark
    from magneto_matcher_spark.sources.changefeed import generate_change_feed
    from magneto_matcher_spark.sources.lake import LakeTable
    from pyspark.sql import types as T

    spark = get_spark(app_name="read_amp", master="local[8]",
                      shuffle_partitions=16)
    schema = T.StructType(
        [f for f in CHANGE_FEED_SCHEMA.fields if f.name != "op"]
    )
    base = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
    tmp = tempfile.mkdtemp(prefix="read_amp_", dir=base)
    results = []
    try:
        feed = generate_change_feed(
            spark, N_ROWS, n_convs=N_CONVS, turns_per_conv=50, hot_frac=0.2
        ).cache()
        feed.count()
        lo, hi = feed.agg(F.min("lsn"), F.max("lsn")).first()
        for depth in DEPTHS:
            t = LakeTable.create(
                spark, f"{tmp}/lake_d{depth}", schema, key=TRANSCRIPT_KEY,
                n_buckets=32, write_mode="mor",
            )
            # depth 0: everything in one merge (then compact → pure base
            # files).  depth d: one seed merge + d incremental deltas.
            if depth == 0:
                t.merge(feed)
                t.compact()
                n_deltas = 0
            else:
                span = (hi - lo + 1 + depth) // (depth + 1)
                for i in range(depth + 1):
                    part = feed.filter(
                        (F.col("lsn") >= lo + i * span)
                        & (F.col("lsn") < lo + (i + 1) * span)
                    )
                    t.merge(part)
                n_deltas = sum(
                    1 for e in t.manifest(t.current_snapshot())
                    if e.get("kind") == "delta"
                )
            sec = timed_read(t)
            rows = t.read().count()
            results.append((f"depth {depth}", n_deltas, rows, round(sec, 3)))
            print(results[-1], flush=True)
            if depth == DEPTHS[-1]:
                t.compact()
                sec = timed_read(t)
                rows = t.read().count()
                n_deltas = sum(
                    1 for e in t.manifest(t.current_snapshot())
                    if e.get("kind") == "delta"
                )
                results.append(
                    (f"depth {depth} post-compact", n_deltas, rows,
                     round(sec, 3))
                )
                print(results[-1], flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    md = [
        "# BENCH/READ_AMP.md — MoR read amplification vs delta depth",
        "",
        f"Resolved full-table read (noop sink, min-of-3) over the same"
        f" {N_ROWS:,}-event replayed state ({N_CONVS} conversations,"
        " 32 buckets), laid out at increasing delta depth.  `compact()`"
        " folds deltas into base files: the post-compact read must return"
        " to the depth-0 (plain-scan) time — the engine's"
        " read-amplification bound (`auto_compact_ratio` keeps production"
        " tables near the top of this table).",
        "",
        "| layout | delta files | rows | read (s) |",
        "|---|---|---|---|",
    ]
    for name, nd, rows, sec in results:
        md.append(f"| {name} | {nd} | {rows:,} | {sec} |")
    md.append("")
    out = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "READ_AMP.md")
    with open(out, "w") as fh:
        fh.write("\n".join(md))
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
