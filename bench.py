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
  SPARK_GRAFT_CPUS     local[N] parallelism (default 32)
  SPARK_GRAFT_EVENTS   replay feed size (default 2_000_000)
  SPARK_GRAFT_BATCHES  micro-batch count (default 5)
  SPARK_GRAFT_BUCKETS  table bucket count (default 32 — the fixed layout)
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


def _feed_from_env_or_generate(spark, tmp: str, n_events: int, n_batches: int):
    """SPARK_GRAFT_FEED_DIR: pre-generated shared feed (see prepare_feed) —
    byte-identical input across parallelism levels and reps, and the (untimed
    but slow) generation isn't re-paid per JVM."""
    feed_dir = os.environ.get("SPARK_GRAFT_FEED_DIR", "")
    if feed_dir and os.path.isdir(f"{feed_dir}/feed") and os.path.isdir(
        f"{feed_dir}/warm"
    ):
        warm_paths = sorted(
            f"{feed_dir}/warm/{d}"
            for d in os.listdir(f"{feed_dir}/warm")
            if d.startswith("batch_")
        )
        paths = sorted(
            f"{feed_dir}/feed/{d}"
            for d in os.listdir(f"{feed_dir}/feed")
            if d.startswith("batch_")
        )
        return warm_paths, paths
    return prepare_feed(spark, tmp, n_events, n_batches)


def _jvm_gc_millis(spark) -> int:
    """Cumulative stop-the-world GC time of the driver/executor JVM (local
    mode: one JVM) via GarbageCollectorMXBeans — no JVM flags needed.  The
    per-run delta attributes wall time to GC directly.  Motivation: the
    large-grain 32-thread investigation (BENCH/BASELINE_BIGBATCH_COW_8X.md)
    had to FALSIFY a GC hypothesis with paired heap-size A/B runs because
    wall clocks alone can't separate GC share from host-burst noise; this
    metric makes that attribution direct next time."""
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
    spark,
    n_events: int,
    n_batches: int,
    reps: int | None = None,
    write_mode: str = "cow",
    feed_paths=None,
) -> dict:
    from pyspark.sql import types as T

    from magneto_matcher_spark.schemas import CHANGE_FEED_SCHEMA, TRANSCRIPT_KEY
    from magneto_matcher_spark.sources.changefeed import (
        generate_change_feed,
        write_change_files,
    )
    from magneto_matcher_spark.sources.lake import LakeTable
    from magneto_matcher_spark.streaming.engine import CdcEngine

    # RAM-backed work dir: on this single box the shuffle/write device is one
    # shared disk, which does NOT scale with threads the way a real cluster's
    # I/O scales with executors; tmpfs removes that artifact so the N-vs-4N
    # surrogate measures the engine, not /dev/vda (documented in
    # BENCH/BASELINE.md)
    base = os.environ.get(
        "SPARK_GRAFT_WORKDIR",
        "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir(),
    )
    tmp = tempfile.mkdtemp(prefix="bench_cdc_", dir=base)
    # default min-of-2: this VM's CPU is bursty (2-7x swings between
    # byte-identical runs measured) — one extra rep costs ~15 s and makes
    # the recorded number estimate the engine rather than a host burst
    reps = reps if reps is not None else int(os.environ.get("SPARK_GRAFT_REPS", "2"))
    try:
        schema = T.StructType(
            [f for f in CHANGE_FEED_SCHEMA.fields if f.name != "op"]
        )

        if feed_paths is not None:
            warm_paths, paths = feed_paths
        else:
            warm_paths, paths = _feed_from_env_or_generate(
                spark, tmp, n_events, n_batches
            )
        # events/sec must be computed from the feed ACTUALLY replayed, not
        # the env request — a pre-generated SPARK_GRAFT_FEED_DIR built with
        # a different event count would otherwise silently mis-scale the
        # headline.  Footer reads, driver-side, untimed.
        n_events = _count_feed_events(paths)

        # untimed warm-up: a replay big enough to drive JIT/whole-stage-codegen
        # to steady state (measured: per-batch throughput keeps rising for the
        # first ~1M processed events in a fresh JVM)
        # SPARK_GRAFT_BUCKETS: table bucket count (default 32, the FIXED
        # layout of the official scaling table).  Provisioned-layout
        # supplements size it to the parallelism level instead — real
        # deployments provision partition counts to the cluster, so holding
        # it fixed across levels understates high-N scaling for CoW, whose
        # rewrite wave is n_buckets tasks (see BASELINE_PROVISIONED_COW.md).
        n_buckets = int(os.environ.get("SPARK_GRAFT_BUCKETS", "32"))
        warm_table = LakeTable.create(
            spark, f"{tmp}/warm_lake", schema, key=TRANSCRIPT_KEY,
            n_buckets=n_buckets,
        )
        CdcEngine(warm_table).replay(warm_paths)

        # reps > 1: replay the same feed into a fresh table several times and
        # report the best — the sandbox VM's CPU is bursty (2-3x swings
        # between identical runs measured), so min-of-R is the
        # noise-robust estimator of engine throughput
        runs = []
        best = None
        for r in range(reps):
            table = LakeTable.create(
                spark, f"{tmp}/lake_{r}", schema, key=TRANSCRIPT_KEY,
                n_buckets=n_buckets, write_mode=write_mode,
            )
            engine = CdcEngine(table)
            # MoR batches stage concurrently (commits stay serial, in feed
            # order) — fills stage-barrier bubbles; no-op for CoW
            conc = int(os.environ.get("SPARK_GRAFT_CONCURRENCY", "4"))
            gc0 = _jvm_gc_millis(spark)
            t0 = time.time()
            metrics = engine.replay(paths, concurrency=conc)
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
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_events = int(os.environ.get("SPARK_GRAFT_EVENTS", "2000000"))
    n_batches = int(os.environ.get("SPARK_GRAFT_BATCHES", "5"))
    sf = sf_dir.rstrip("/").split("sf")[-1]

    from magneto_matcher_spark.queries import build_queries
    from magneto_matcher_spark.session import get_spark

    shuffle_dir = os.environ.get(
        "SPARK_GRAFT_WORKDIR",
        "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir(),
    )
    # shuffle partitioning is part of the JOB, not the cluster: every
    # parallelism level runs the identical task graph (a constant 64 shuffle
    # partitions, AQE coalescing identical); only the executor thread count
    # differs — exactly how an N vs 4N executor comparison works on a real
    # cluster.  NOT max(64, cpus): that would change the task graph above 64
    # cores and break the fixed-layout invariant.
    spark = get_spark(
        app_name="bench",
        master=f"local[{cpus}]",
        # 64 = 2 partitions per core at the top level (classic 2-3x guidance):
        # measured faster than 32 at BOTH 8 and 32 cores (straggler
        # tolerance), and part of the FIXED job layout across levels
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_SHUFFLE", "64")),
        extra_conf={"spark.local.dir": f"{shuffle_dir}/spark_local_{cpus}"},
    )

    modes = os.environ.get("SPARK_GRAFT_WRITE_MODES", "cow,mor").split(",")
    base = os.environ.get(
        "SPARK_GRAFT_WORKDIR",
        "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir(),
    )
    feed_tmp = tempfile.mkdtemp(prefix="bench_feed_", dir=base)
    try:
        feed_paths = _feed_from_env_or_generate(spark, feed_tmp, n_events, n_batches)
        by_mode = {
            m: run_cdc_replay(
                spark, n_events, n_batches, write_mode=m, feed_paths=feed_paths
            )
            for m in modes
        }
    finally:
        shutil.rmtree(feed_tmp, ignore_errors=True)
    # headline = the ingest-optimized path (fastest mode); per-mode numbers
    # are all in by_write_mode
    headline = max(by_mode.values(), key=lambda m: m["events_per_sec"])

    q_times = {}
    if os.environ.get("SPARK_GRAFT_BENCH_MODE") != "cdc_only":
        queries = build_queries()
        # min-of-N with INTERLEAVED passes (full sweep 1, then full sweep 2),
        # matching the headline's rep discipline: this VM shows documented
        # 2-7x burst swings, so single-shot per-query timings made
        # round-over-round deltas uninterpretable (r02→r03 showed 2x+
        # "regressions" on untouched queries).  Interleaving the sweeps
        # decorrelates a burst from any single query's reps.
        reps = int(os.environ.get("SPARK_GRAFT_QUERY_REPS", "2"))
        for _rep in range(reps):
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
