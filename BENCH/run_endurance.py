"""Sustained-ingest endurance: does per-batch MERGE throughput hold as the
table AGES, with the maintenance policy (auto-compact + snapshot expiry) on?

A 10^10-event replay is ~thousands of micro-batches into an ever-growing
table; the scaling runs (BASELINE.md) measure 10-batch bursts and cannot see
slow rot — delta-file pileup, snapshot-log growth, per-commit metadata cost
creeping with table age.  This run replays 50 micro-batches into one MoR
table with the production maintenance policy enabled and reports:

- per-batch events/sec over the run (first-decile vs last-decile ratio —
  the "no-rot" number; maintenance batches excluded from the ratio since
  compaction is amortized, then reported separately);
- snapshot count (must stay <= expire_keep: metadata bounded);
- live file count and delta/data split at the end (compaction bounds reads);
- final-state correctness vs a single-shot dedup of the whole feed.

Writes BENCH/ENDURANCE.md.  Usage: python BENCH/run_endurance.py
  [n_events] [n_batches]   (defaults 5_000_000, 50)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EXPIRE_KEEP = 8
AUTO_COMPACT_RATIO = 0.3


def main():
    n_events = int(sys.argv[1]) if len(sys.argv) > 1 else 5_000_000
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 50

    from pyspark.sql import types as T

    from magneto_matcher_spark.plans.apply import dedup_max_lsn, normalize_payload
    from magneto_matcher_spark.schemas import CHANGE_FEED_SCHEMA, TRANSCRIPT_KEY
    from magneto_matcher_spark.session import get_spark
    from magneto_matcher_spark.sources.changefeed import (
        generate_change_feed,
        write_change_files,
    )
    from magneto_matcher_spark.sources.lake import LakeTable
    from magneto_matcher_spark.streaming.engine import CdcEngine

    spark = get_spark(
        app_name="endurance",
        master="local[32]",
        shuffle_partitions=32,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    base = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
    work = tempfile.mkdtemp(prefix="endurance_", dir=base)
    try:
        # keyspace sized so one micro-batch touches ~8% of the table's keys
        # (the 10^10 profile: batches are small relative to table state —
        # a keyspace comparable to the batch size would legitimately
        # compact every batch and measure only compaction)
        feed = generate_change_feed(
            spark,
            n_events,
            n_convs=max(200, n_events // 200),
            turns_per_conv=50,
            seed=42,
            hot_frac=0.2,
        )
        paths = write_change_files(feed, f"{work}/feed", n_batches)

        schema = T.StructType(
            [f for f in CHANGE_FEED_SCHEMA.fields if f.name != "op"]
        )
        table = LakeTable.create(
            spark,
            f"{work}/table",
            schema,
            key=TRANSCRIPT_KEY,
            n_buckets=32,
            write_mode="mor",
        )
        engine = CdcEngine(
            table,
            auto_compact_ratio=AUTO_COMPACT_RATIO,
            expire_keep=EXPIRE_KEEP,
        )
        # warm-up outside the timed run (JIT/codegen), separate table
        warm_t = LakeTable.create(
            spark, f"{work}/warm_table", schema, key=TRANSCRIPT_KEY,
            n_buckets=32, write_mode="mor",
        )
        CdcEngine(warm_t).replay(paths[:2])

        t0 = time.time()
        metrics = engine.replay(paths)
        wall = time.time() - t0

        eps = [m["events_per_sec"] for m in metrics]
        compacted = [bool(m.get("compacted")) for m in metrics]
        decile = max(1, n_batches // 10)
        # exclude maintenance batches from the rot ratio: compaction is an
        # amortized cost, reported separately below
        head = [e for e, c in zip(eps[:decile], compacted[:decile]) if not c]
        tail = [e for e, c in zip(eps[-decile:], compacted[-decile:]) if not c]
        if not head or not tail:  # maintenance hit every decile batch:
            head, tail = eps[:decile], eps[-decile:]  # compare as-is
        head_mean = sum(head) / len(head)
        tail_mean = sum(tail) / len(tail)
        rot_ratio = tail_mean / head_mean

        snaps = len(table.snapshots())
        manifest = table.manifest(table.current_snapshot())
        kinds: dict[str, int] = {}
        for e in manifest:
            kinds[e["kind"]] = kinds.get(e["kind"], 0) + 1

        # correctness: replayed state == single-shot dedup of the whole feed
        winners = (
            dedup_max_lsn(normalize_payload(feed), key=TRANSCRIPT_KEY)
            .filter("op <> 'D'")
            .drop("op")
        )
        expect = winners.count()
        got = table.read().count()
        diff = (
            table.read()
            .select(*[f.name for f in schema.fields])
            .exceptAll(winners.select(*[f.name for f in schema.fields]))
            .count()
        )
        state_ok = got == expect and diff == 0

        out = {
            "n_events": n_events,
            "n_batches": n_batches,
            "wall_s": round(wall, 1),
            "events_per_sec_overall": round(n_events / wall, 1),
            "head_decile_eps": round(head_mean, 1),
            "tail_decile_eps": round(tail_mean, 1),
            "rot_ratio": round(rot_ratio, 3),
            "n_compactions": sum(compacted),
            "snapshots_end": snaps,
            "expire_keep": EXPIRE_KEEP,
            "live_files_by_kind": kinds,
            "state_ok": state_ok,
        }
        print(json.dumps(out), flush=True)
        assert snaps <= EXPIRE_KEEP, f"snapshot log unbounded: {snaps}"
        assert state_ok, "final state diverged from single-shot dedup"
        assert rot_ratio > 0.5, f"throughput rotted: {rot_ratio}"

        md = f"""# BENCH/ENDURANCE.md — sustained-ingest endurance (maintenance on)

One MoR table, {n_batches} micro-batches of a {n_events:,}-event Zipf feed
(max-LSN dedup, n_buckets=32), with the production maintenance policy live:
`auto_compact_ratio={AUTO_COMPACT_RATIO}` (compact when delta rows exceed
that fraction of data rows) and `expire_keep={EXPIRE_KEEP}` (snapshot log
bound + orphan GC after every commit).  local[32], tmpfs, untimed 2-batch
warm-up JVM pass.  This answers the question the 10-batch scaling bursts
cannot: does per-batch throughput hold as the table ages?

| metric | value |
|---|---|
| overall throughput | {out['events_per_sec_overall']:,.0f} events/s ({out['wall_s']} s wall) |
| first-decile batch mean | {out['head_decile_eps']:,.0f} events/s |
| last-decile batch mean | {out['tail_decile_eps']:,.0f} events/s |
| **rot ratio (last/first decile, maintenance batches excluded)** | **{out['rot_ratio']}** |
| compactions triggered | {out['n_compactions']} |
| snapshots at end (bound = {EXPIRE_KEEP}) | {out['snapshots_end']} |
| live files at end | {json.dumps(out['live_files_by_kind'])} |
| final state == single-shot dedup of the whole feed | {out['state_ok']} |

Reading: a rot ratio near 1.0 means the 10^10 extrapolation is not hiding a
table-age term — per-batch cost is O(batch) (delta append + bounded-depth
resolve), compaction amortizes (triggered {out['n_compactions']}x here, each
folding deltas back to one data file per dirty bucket), and
`expire_snapshots` holds metadata O({EXPIRE_KEEP}) instead of O(batches).
Batch-to-batch variance on this VM is the documented 2-7x burstiness, so the
decile MEANS are compared, not single batches.

Raw per-batch events/sec:
{json.dumps([round(e) for e in eps])}
(compaction batches: {json.dumps([i for i, c in enumerate(compacted) if c])})
"""
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "ENDURANCE.md"), "w") as f:
            f.write(md)
        print("wrote BENCH/ENDURANCE.md", flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
