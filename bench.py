"""Bench harness — one JSON line on stdout (driver contract).

Headline: end-to-end CDC MERGE replay throughput — generate a deterministic
change feed (seed 42, Zipf-skewed hot keys), split into micro-batches on disk,
replay through the full engine path (normalize → max-LSN dedup →
bucket-pruned MERGE into the Iceberg-semantics table, snapshot commit with
offsets) and report applied change-events/sec.  This is the sf-scaled local
proxy of the north rule's 10^10-event replay profile (BASELINE.md).

Also times representative operator queries from the registry at
$SPARK_GRAFT_SF_DIR.

Env:
  SPARK_GRAFT_SF_DIR   input dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     local[N] parallelism (default: the host's CPU count)
  SPARK_GRAFT_EVENTS   replay feed size (default 2_000_000)
  SPARK_GRAFT_BATCHES  micro-batch count (default 5)
  SPARK_GRAFT_BUCKETS  table bucket count (default 32 — the fixed layout)

Fixed: 64 shuffle partitions, both write modes (cow, mor), min-of-2 replay
reps with 4 MoR batches staged concurrently, min-of-2 interleaved query
sweeps, work dirs on /dev/shm when it exists.  The gated, layer-by-layer
benchmark is ``perfbench/run.py``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_QUERIES = [
    "w4_max_lsn_dedup",
    "cdc_replay_final_state",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ann_bruteforce_topk",
    "ann_ivf_topk",
    "text_quality_score",
    "text_lang_id",
    "magneto_get_matches_f4",
    "magneto_e2e_matches",
    "w_sessionize_gaps",
]

#: shuffle partitioning is part of the JOB, not the host: a constant keeps
#: the task graph identical at every parallelism level, so only the
#: executor thread count differs
SHUFFLE_PARTITIONS = 64
WRITE_MODES = ("cow", "mor")
#: min-of-2: the host's CPU is bursty (2-7x swings between byte-identical
#: runs measured), so one extra rep makes the number estimate the engine
REPLAY_REPS = 2
QUERY_REPS = 2
#: MoR batches staged concurrently (commits stay serial); no-op for CoW
REPLAY_CONCURRENCY = 4
#: RAM-backed work dir: one shared disk does not scale with threads the way
#: a cluster's I/O scales with executors
WORKDIR = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()


def prepare_feed(spark, out_dir: str, n_events: int, n_batches: int):
    """Generate the deterministic replay input: a 500k-event warm-up feed and
    the timed feed.  Feed layout and bucket count are FIXED (not
    derived from cpus) so every parallelism level replays the byte-identical
    job — only thread count and shuffle-partition count differ."""
    from magneto_matcher_spark.sources.changefeed import (
        generate_change_feed,
        write_change_files,
    )

    warm_feed = generate_change_feed(
        spark, 500_000, n_convs=500, turns_per_conv=50, hot_frac=0.2
    )
    warm_paths = write_change_files(warm_feed, f"{out_dir}/warm", 3)
    feed = generate_change_feed(
        spark,
        n_events,
        n_convs=max(200, n_events // 2000),
        turns_per_conv=50,
        seed=42,
        hot_frac=0.2,
        n_partitions=64,
    )
    paths = write_change_files(feed, f"{out_dir}/feed", n_batches)
    return warm_paths, paths


def _count_feed_events(paths) -> int:
    """Actual event count of a batch-dir list, from parquet footers."""
    import glob

    import pyarrow.parquet as pq

    n = 0
    for p in paths:
        for f in glob.glob(os.path.join(p, "*.parquet")):
            n += pq.ParquetFile(f).metadata.num_rows
    return n


def _jvm_gc_millis(spark) -> int:
    """Cumulative stop-the-world GC time of the driver/executor JVM (local
    mode: one JVM) via GarbageCollectorMXBeans — no JVM flags needed.  The
    per-run delta attributes wall time to GC directly, which wall clocks
    alone cannot separate from host-burst noise."""
    try:
        beans = (
            spark._jvm.java.lang.management.ManagementFactory
            .getGarbageCollectorMXBeans()
        )
        return sum(
            max(beans.get(i).getCollectionTime(), 0)
            for i in range(beans.size())
        )
    except Exception:  # pragma: no cover — py4j/JMX unavailable
        return 0


def run_cdc_replay(
    spark, feed_paths, n_batches: int, write_mode: str = "cow"
) -> dict:
    """Replay ``feed_paths`` = (warm-up dirs, timed dirs) into fresh tables
    ``REPLAY_REPS`` times; return the fastest rep's record."""
    from pyspark.sql import types as T

    from magneto_matcher_spark.schemas import CHANGE_FEED_SCHEMA, TRANSCRIPT_KEY
    from magneto_matcher_spark.sources.lake import LakeTable
    from magneto_matcher_spark.streaming.engine import CdcEngine

    warm_paths, paths = feed_paths
    tmp = tempfile.mkdtemp(prefix="bench_cdc_", dir=WORKDIR)
    try:
        schema = T.StructType(
            [f for f in CHANGE_FEED_SCHEMA.fields if f.name != "op"]
        )
        # events/sec from the feed ACTUALLY replayed, not the env request
        # (footer reads, driver-side, untimed)
        n_events = _count_feed_events(paths)

        # untimed warm-up: a replay big enough to drive JIT/whole-stage-codegen
        # to steady state (measured: per-batch throughput keeps rising for the
        # first ~1M processed events in a fresh JVM)
        n_buckets = int(os.environ.get("SPARK_GRAFT_BUCKETS", "32"))
        warm_table = LakeTable.create(
            spark, f"{tmp}/warm_lake", schema, key=TRANSCRIPT_KEY,
            n_buckets=n_buckets,
        )
        CdcEngine(warm_table).replay(warm_paths)

        runs = []
        best = None
        for r in range(REPLAY_REPS):
            table = LakeTable.create(
                spark, f"{tmp}/lake_{r}", schema, key=TRANSCRIPT_KEY,
                n_buckets=n_buckets, write_mode=write_mode,
            )
            engine = CdcEngine(table)
            gc0 = _jvm_gc_millis(spark)
            t0 = time.time()
            metrics = engine.replay(paths, concurrency=REPLAY_CONCURRENCY)
            dur = time.time() - t0
            runs.append(round(dur, 3))
            rec = {
                "events": n_events,
                "batches": n_batches,
                "write_mode": write_mode,
                "duration_s": round(dur, 3),
                "gc_ms": _jvm_gc_millis(spark) - gc0,
                "events_per_sec": round(n_events / dur, 1),
                "final_rows_last_rewrite": int(
                    table.summary().get("rows-written", -1)
                ),
                "per_batch_events_per_sec": [
                    round(m["events_per_sec"], 1) for m in metrics
                ],
            }
            shutil.rmtree(f"{tmp}/lake_{r}", ignore_errors=True)
            if best is None or dur < best["duration_s"]:
                best = rec
        best["rep_durations_s"] = runs
        return best
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main():
    from magneto_matcher_spark.queries import build_queries
    from magneto_matcher_spark.session import get_spark, local_cpus

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = local_cpus()
    n_events = int(os.environ.get("SPARK_GRAFT_EVENTS", "2000000"))
    n_batches = int(os.environ.get("SPARK_GRAFT_BATCHES", "5"))
    sf = sf_dir.rstrip("/").split("sf")[-1]

    # the Python workers the JVM starts import the package too, from
    # whatever the working directory is
    repo = os.path.dirname(os.path.abspath(__file__))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo, os.environ.get("PYTHONPATH")) if p
    )
    spark = get_spark(
        app_name="bench",
        master=f"local[{cpus}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={"spark.local.dir": f"{WORKDIR}/spark_local_{cpus}"},
    )

    feed_tmp = tempfile.mkdtemp(prefix="bench_feed_", dir=WORKDIR)
    try:
        feed_paths = prepare_feed(spark, feed_tmp, n_events, n_batches)
        by_mode = {
            m: run_cdc_replay(spark, feed_paths, n_batches, write_mode=m)
            for m in WRITE_MODES
        }
    finally:
        shutil.rmtree(feed_tmp, ignore_errors=True)
    # headline = the ingest-optimized path (fastest mode); per-mode numbers
    # are all in by_write_mode
    headline = max(by_mode.values(), key=lambda m: m["events_per_sec"])

    queries = build_queries()
    q_times = {}
    # min-of-N with INTERLEAVED sweeps (full sweep 1, then full sweep 2), so
    # a host burst is decorrelated from any single query's reps
    for _rep in range(QUERY_REPS):
        for name in BENCH_QUERIES:
            t0 = time.time()
            df = queries[name](spark, sf_dir)
            # noop sink, NOT count(): count() lets Catalyst prune every
            # unreferenced select expression, so the computation being
            # "benchmarked" (quality score, lang id, ...) would largely
            # never execute and the timing would be a bare scan
            df.write.format("noop").mode("overwrite").save()
            dt = round(time.time() - t0, 3)
            q_times[name] = min(q_times.get(name, dt), dt)

    out = {
        "metric": "cdc_merge_replay_events_per_sec",
        "value": headline["events_per_sec"],
        "unit": "events/sec",
        "headline": headline,
        "by_write_mode": by_mode,
        "queries": q_times,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": cpus,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
