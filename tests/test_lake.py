"""Iceberg-semantics lake layer tests (SURVEY.md §7 Phase 2)."""

import datetime
import json
import os
from collections import Counter

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from magneto_matcher_spark.plans.apply import dedup_max_lsn
from magneto_matcher_spark.schemas import CHANGE_FEED_SCHEMA, TRANSCRIPT_KEY
from magneto_matcher_spark.sources.lake import LakeTable, bucket_expr_keyhash

from tests.conftest import build_jobs

TABLE_SCHEMA = T.StructType([f for f in CHANGE_FEED_SCHEMA.fields if f.name != "op"])


def _ev(lsn, op, conv, turn, text="x", tool=None):
    return (
        lsn, op, conv, turn, "user", text, tool,
        datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=lsn),
    )


@pytest.fixture()
def table(spark, tmp_path):
    return LakeTable.create(
        spark, str(tmp_path / "t"), TABLE_SCHEMA, key=TRANSCRIPT_KEY, n_buckets=4
    )


def test_create_load_roundtrip(spark, tmp_path, table):
    t2 = LakeTable.load(spark, table.root)
    assert t2.column_names == table.column_names
    assert t2.key == TRANSCRIPT_KEY
    assert t2.read().count() == 0


def test_append_and_read(spark, table):
    df = spark.createDataFrame(
        [_ev(1, "I", "c1", 0), _ev(2, "I", "c2", 0)], CHANGE_FEED_SCHEMA
    ).drop("op")
    table.append(df)
    assert table.read().count() == 2
    assert table.summary()["rows-appended"] == "2"


def test_merge_updates_and_deletes(spark, table):
    b1 = spark.createDataFrame(
        [_ev(1, "I", "c1", 0, "a"), _ev(2, "I", "c1", 1, "b"), _ev(3, "I", "c2", 0, "c")],
        CHANGE_FEED_SCHEMA,
    )
    table.merge(dedup_max_lsn(b1))
    b2 = spark.createDataFrame(
        [_ev(4, "U", "c1", 0, "a2"), _ev(5, "D", "c1", 1, "b")], CHANGE_FEED_SCHEMA
    )
    table.merge(dedup_max_lsn(b2))
    state = {(r["conv_id"], r["turn_idx"]): r["text"] for r in table.read().collect()}
    assert state == {("c1", 0): "a2", ("c2", 0): "c"}


def test_merge_stale_lsn_is_noop(spark, table):
    b1 = spark.createDataFrame([_ev(10, "I", "c1", 0, "new")], CHANGE_FEED_SCHEMA)
    table.merge(dedup_max_lsn(b1))
    stale = spark.createDataFrame([_ev(5, "U", "c1", 0, "old")], CHANGE_FEED_SCHEMA)
    table.merge(dedup_max_lsn(stale))
    rows = table.read().collect()
    assert len(rows) == 1 and rows[0]["text"] == "new" and rows[0]["lsn"] == 10


def test_bucket_pruning_keeps_untouched_files(spark, table):
    # seed all 4 buckets with many convs
    b1 = spark.createDataFrame(
        [_ev(i, "I", f"conv{i}", 0) for i in range(40)], CHANGE_FEED_SCHEMA
    )
    table.merge(dedup_max_lsn(b1))
    # one-key batch: only that key's bucket should be rewritten
    b2 = spark.createDataFrame([_ev(100, "U", "conv7", 0, "upd")], CHANGE_FEED_SCHEMA)
    table.merge(dedup_max_lsn(b2))
    summ = table.summary()
    assert summ["buckets-rewritten"] == "1"
    assert int(summ["files-kept"]) >= 3
    assert table.read().filter(F.col("text") == "upd").count() == 1
    assert table.read().count() == 40


def test_cow_stale_redelivery_of_deleted_key_is_noop(spark, table):
    """CoW twin of the MoR tombstone test: a delete's LSN must keep beating a
    stale redelivered 'U' even though the CoW rewrite drops the row — the
    merge writes the delete winner as a tombstone file."""
    b1 = spark.createDataFrame(
        [_ev(1, "I", "c1", 0, "a"), _ev(5, "D", "c1", 1)], CHANGE_FEED_SCHEMA
    )
    table.merge(dedup_max_lsn(b1))
    stale = spark.createDataFrame([_ev(2, "U", "c1", 1, "zombie")], CHANGE_FEED_SCHEMA)
    table.merge(dedup_max_lsn(stale))
    keys = {(r["conv_id"], r["turn_idx"]) for r in table.read().collect()}
    assert keys == {("c1", 0)}  # tombstone lsn 5 beat stale lsn 2
    # genuinely newer insert resurrects
    fresh = spark.createDataFrame([_ev(9, "I", "c1", 1, "reborn")], CHANGE_FEED_SCHEMA)
    table.merge(dedup_max_lsn(fresh))
    state = {(r["conv_id"], r["turn_idx"]): r["text"] for r in table.read().collect()}
    assert state[("c1", 1)] == "reborn"


def test_time_travel(spark, table):
    b1 = spark.createDataFrame([_ev(1, "I", "c1", 0, "v1")], CHANGE_FEED_SCHEMA)
    s1 = table.merge(dedup_max_lsn(b1))
    b2 = spark.createDataFrame([_ev(2, "U", "c1", 0, "v2")], CHANGE_FEED_SCHEMA)
    table.merge(dedup_max_lsn(b2))
    assert table.read(snapshot_id=s1).collect()[0]["text"] == "v1"
    assert table.read().collect()[0]["text"] == "v2"


def test_evolve_rename_add_no_rewrite(spark, table):
    b1 = spark.createDataFrame(
        [_ev(1, "I", "c1", 0, tool="search")], CHANGE_FEED_SCHEMA
    )
    table.merge(dedup_max_lsn(b1))
    files_before = {e["path"] for e in table.manifest(table.current_snapshot())}
    table.evolve(renames={"tool": "tool_name"}, adds=[("latency_ms", "int")])
    files_after = {e["path"] for e in table.manifest(table.current_snapshot())}
    assert files_before == files_after  # no data rewrite
    row = table.read().collect()[0]
    assert row["tool_name"] == "search"
    assert row["latency_ms"] is None


def test_evolve_then_merge_mixed_schemas(spark, table):
    b1 = spark.createDataFrame(
        [_ev(1, "I", "c1", 0, tool="search")], CHANGE_FEED_SCHEMA
    )
    table.merge(dedup_max_lsn(b1))
    table.evolve(renames={"tool": "tool_name"}, adds=[("latency_ms", "int")])
    new_schema = T.StructType(
        [
            T.StructField("lsn", T.LongType()),
            T.StructField("op", T.StringType()),
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("role", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("tool_name", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("latency_ms", T.IntegerType()),
        ]
    )
    b2 = spark.createDataFrame(
        [(5, "I", "c2", 0, "user", "y", "python",
          datetime.datetime(2024, 1, 1), 120)],
        new_schema,
    )
    table.merge(dedup_max_lsn(b2))
    state = {r["conv_id"]: r for r in table.read().collect()}
    assert state["c1"]["tool_name"] == "search" and state["c1"]["latency_ms"] is None
    assert state["c2"]["tool_name"] == "python" and state["c2"]["latency_ms"] == 120


def test_evolve_rejects_bad_ops(table):
    with pytest.raises(KeyError):
        table.evolve(renames={"nope": "x"})
    with pytest.raises(ValueError):
        table.evolve(adds=[("text", "string")])


def test_evolve_promote_widens_in_place_no_rewrite(spark, table):
    """Iceberg-safe type promotion: int→long is metadata-only (field ID and
    data files untouched); old narrow files are cast up at read, and values
    beyond int32 range land after the promotion."""
    table.evolve(adds=[("latency_ms", "int")])
    narrow = T.StructType(
        list(CHANGE_FEED_SCHEMA.fields) + [T.StructField("latency_ms", T.IntegerType())]
    )
    b1 = spark.createDataFrame([_ev(1, "I", "c1", 0) + (120,)], narrow)
    table.merge(dedup_max_lsn(b1))
    files_before = {e["path"] for e in table.manifest(table.current_snapshot())}

    table.evolve(promotes={"latency_ms": "long"})
    files_after = {e["path"] for e in table.manifest(table.current_snapshot())}
    assert files_before == files_after  # no data rewrite
    assert dict(table.read().dtypes)["latency_ms"] == "bigint"
    assert table.read().collect()[0]["latency_ms"] == 120  # old file cast up
    # "long" in, canonical simpleString out
    assert table.summary()["schema-promotes"] == '{"latency_ms": "bigint"}'

    wide = T.StructType(
        list(CHANGE_FEED_SCHEMA.fields) + [T.StructField("latency_ms", T.LongType())]
    )
    b2 = spark.createDataFrame([_ev(2, "I", "c2", 0) + (1 << 40,)], wide)
    table.merge(dedup_max_lsn(b2))
    state = {r["conv_id"]: r["latency_ms"] for r in table.read().collect()}
    assert state == {"c1": 120, "c2": 1 << 40}


def test_evolve_promote_rejects_unsafe_and_protected(table):
    with pytest.raises(KeyError):
        table.evolve(promotes={"nope": "long"})
    with pytest.raises(ValueError):  # string→long is not a widening
        table.evolve(promotes={"text": "long"})
    with pytest.raises(ValueError):  # key column: keyhash is not width-stable
        table.evolve(promotes={"turn_idx": "long"})
    with pytest.raises(ValueError):  # LSN column, same reason
        table.evolve(promotes={"lsn": "double"})


def test_committed_offset_watermark(spark, table):
    assert table.committed_offset_end() == -1
    b1 = spark.createDataFrame([_ev(1, "I", "c1", 0)], CHANGE_FEED_SCHEMA)
    table.merge(dedup_max_lsn(b1), summary={"offsets.start": 0, "offsets.end": 9})
    b2 = spark.createDataFrame([_ev(11, "I", "c2", 0)], CHANGE_FEED_SCHEMA)
    table.merge(dedup_max_lsn(b2), summary={"offsets.start": 10, "offsets.end": 19})
    assert table.committed_offset_end() == 19


def test_keyhash_alignment_partition_equals_bucket(spark):
    """The invariant behind the one-exchange write: after
    repartition(n, *key), spark_partition_id() == bucket_expr_keyhash(key, n)
    for EVERY row — F.hash is the same murmur3(seed 42) HashPartitioning
    uses, so the write needs no repartition and emits 1 file per bucket."""
    from pyspark.sql import functions as F

    from magneto_matcher_spark.sources.lake import bucket_expr_keyhash

    df = spark.range(0, 5000).select(
        F.concat(F.lit("conv"), (F.col("id") % 97)).alias("conv_id"),
        (F.col("id") % 53).cast("int").alias("turn_idx"),
    )
    n = 16
    shaped = df.repartition(n, F.col("conv_id"), F.col("turn_idx")).select(
        F.spark_partition_id().alias("pid"),
        bucket_expr_keyhash(["conv_id", "turn_idx"], n).alias("bucket"),
    )
    assert shaped.filter(F.col("pid") != F.col("bucket")).count() == 0


def test_bucket_expr_deterministic(spark):
    df = spark.range(100).select(F.format_string("c%d", F.col("id")).alias("conv_id"))
    bucket = bucket_expr_keyhash(["conv_id"], 8).alias("b")
    a = df.select(bucket).collect()
    b = df.repartition(7).select(bucket).collect()
    assert sorted(r["b"] for r in a) == sorted(r["b"] for r in b)


# ---------------- merge-on-read (MoR) ----------------


@pytest.fixture()
def mor_table(spark, tmp_path):
    return LakeTable.create(
        spark, str(tmp_path / "mor"), TABLE_SCHEMA, key=TRANSCRIPT_KEY,
        n_buckets=4, write_mode="mor",
    )


def _apply_batches(t, spark):
    b1 = spark.createDataFrame(
        [_ev(1, "I", "c1", 0, "a"), _ev(2, "I", "c1", 1, "b"),
         _ev(3, "I", "c2", 0, "c")],
        CHANGE_FEED_SCHEMA,
    )
    t.merge(dedup_max_lsn(b1))
    b2 = spark.createDataFrame(
        [_ev(4, "U", "c1", 0, "a2"), _ev(5, "D", "c1", 1, "b")],
        CHANGE_FEED_SCHEMA,
    )
    t.merge(dedup_max_lsn(b2))


def test_mor_merge_semantics_match_cow(spark, table, mor_table):
    _apply_batches(table, spark)
    _apply_batches(mor_table, spark)
    cow = {(r["conv_id"], r["turn_idx"]): r["text"] for r in table.read().collect()}
    mor = {(r["conv_id"], r["turn_idx"]): r["text"] for r in mor_table.read().collect()}
    assert mor == cow == {("c1", 0): "a2", ("c2", 0): "c"}


def test_mor_writes_deltas_not_rewrites(spark, mor_table):
    _apply_batches(mor_table, spark)
    manifest = mor_table.manifest(mor_table.current_snapshot())
    kinds = {e.get("kind", "data") for e in manifest}
    assert kinds == {"delta"}
    assert mor_table.summary()["buckets-rewritten"] == "0"


def test_mor_compact_folds_deltas_and_preserves_state(spark, mor_table):
    _apply_batches(mor_table, spark)
    before = {(r["conv_id"], r["turn_idx"]): r["text"]
              for r in mor_table.read().collect()}
    mor_table.compact()
    manifest = mor_table.manifest(mor_table.current_snapshot())
    kinds = {e.get("kind", "data") for e in manifest}
    assert "delta" not in kinds  # deltas folded; tombstones retained
    after = {(r["conv_id"], r["turn_idx"]): r["text"]
             for r in mor_table.read().collect()}
    assert after == before
    # compact on a delta-free table is a no-op commit
    sid = mor_table.compact()
    assert mor_table.summary(sid).get("noop") == "True"


def test_compact_retains_tombstones_against_stale_redelivery(spark, mor_table):
    """A delete folded by compact must still beat an older redelivered 'U'
    for the same key (partially-overlapping redelivery contract)."""
    _apply_batches(mor_table, spark)  # (c1,1) deleted at lsn 5
    mor_table.compact()
    manifest = mor_table.manifest(mor_table.current_snapshot())
    tombs = [e for e in manifest if e.get("kind") == "tombstone"]
    assert sum(e["rows"] for e in tombs) == 1

    stale = spark.createDataFrame([_ev(2, "U", "c1", 1, "zombie")], CHANGE_FEED_SCHEMA)
    mor_table.merge(dedup_max_lsn(stale))
    keys = {(r["conv_id"], r["turn_idx"]) for r in mor_table.read().collect()}
    assert ("c1", 1) not in keys  # tombstone (lsn 5) beats stale U (lsn 2)

    # ...while a genuinely newer insert resurrects the key
    fresh = spark.createDataFrame([_ev(9, "I", "c1", 1, "reborn")], CHANGE_FEED_SCHEMA)
    mor_table.merge(dedup_max_lsn(fresh))
    state = {(r["conv_id"], r["turn_idx"]): r["text"]
             for r in mor_table.read().collect()}
    assert state[("c1", 1)] == "reborn"


def test_compact_tombstone_gc_horizon(spark, mor_table):
    _apply_batches(mor_table, spark)
    mor_table.compact()
    assert any(e.get("kind") == "tombstone"
               for e in mor_table.manifest(mor_table.current_snapshot()))
    # GC pass: horizon above the delete's lsn (5) drops the tombstone
    mor_table.compact(tombstone_retention_lsn=10)
    manifest = mor_table.manifest(mor_table.current_snapshot())
    assert not any(e.get("kind") == "tombstone" for e in manifest)
    assert {(r["conv_id"], r["turn_idx"]) for r in mor_table.read().collect()} == {
        ("c1", 0), ("c2", 0)
    }


def test_mor_read_prunes_clean_buckets(spark, mor_table):
    """Buckets without delta files resolve as a plain scan — no shuffle."""
    seed = spark.createDataFrame(
        [_ev(i, "I", f"conv{i}", 0) for i in range(40)], CHANGE_FEED_SCHEMA
    )
    mor_table.merge(dedup_max_lsn(seed))
    mor_table.compact()  # fold the seed deltas into data files
    upd = spark.createDataFrame([_ev(100, "U", "conv7", 0, "upd")], CHANGE_FEED_SCHEMA)
    mor_table.merge(dedup_max_lsn(upd))

    dirty = {e["bucket"] for e in mor_table.manifest(mor_table.current_snapshot())
             if e.get("kind") == "delta" and e["rows"] > 0}
    assert len(dirty) == 1
    clean = [b for b in range(4) if b not in dirty]
    plan = mor_table.read_buckets(clean)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # pruned: no dedup shuffle for clean buckets

    state = {(r["conv_id"], r["turn_idx"]): r["text"]
             for r in mor_table.read().collect()}
    assert state[("conv7", 0)] == "upd" and len(state) == 40


def test_compact_restores_plain_scan_reads(spark, mor_table):
    """Read-amplification bound: a delta-deep table resolves through a
    dedup Exchange; after compact() the full-table read is a PLAIN SCAN
    (zero Exchanges, zero delta entries) with byte-identical contents.
    ``perfbench``'s ``serve_mor`` reports the same cost as
    ``lake.delta_files_at_read`` and ``lake.read_*``."""
    for i in range(5):  # depth-5: five incremental delta batches
        b = spark.createDataFrame(
            [_ev(10 * i + j, "I" if i == 0 else "U", f"conv{j}", 0, f"t{i}")
             for j in range(8)],
            CHANGE_FEED_SCHEMA,
        )
        mor_table.merge(dedup_max_lsn(b))
    before = {(r["conv_id"], r["turn_idx"]): r["text"]
              for r in mor_table.read().collect()}
    deep_plan = (mor_table.read()._jdf.queryExecution()
                 .executedPlan().toString())
    assert "Exchange" in deep_plan  # dirty buckets need the dedup shuffle

    mor_table.compact()
    manifest = mor_table.manifest(mor_table.current_snapshot())
    assert not any(e.get("kind") == "delta" for e in manifest)
    flat_plan = (mor_table.read()._jdf.queryExecution()
                 .executedPlan().toString())
    assert "Exchange" not in flat_plan  # plain scan restored
    after = {(r["conv_id"], r["turn_idx"]): r["text"]
             for r in mor_table.read().collect()}
    assert after == before and after[("conv0", 0)] == "t4"


def test_mor_time_travel_resolves_historic_deltas(spark, mor_table):
    b1 = spark.createDataFrame([_ev(1, "I", "c1", 0, "a")], CHANGE_FEED_SCHEMA)
    s1 = mor_table.merge(dedup_max_lsn(b1))
    b2 = spark.createDataFrame([_ev(2, "U", "c1", 0, "a2")], CHANGE_FEED_SCHEMA)
    mor_table.merge(dedup_max_lsn(b2))
    assert [r["text"] for r in mor_table.read(snapshot_id=s1).collect()] == ["a"]
    assert [r["text"] for r in mor_table.read().collect()] == ["a2"]


def test_mor_evolve_maps_old_delta_files(spark, mor_table):
    b1 = spark.createDataFrame([_ev(1, "I", "c1", 0, "a", tool="grep")],
                               CHANGE_FEED_SCHEMA)
    mor_table.merge(dedup_max_lsn(b1))
    mor_table.evolve(renames={"tool": "tool_name"}, adds=[("tool_meta", "string")])
    row = mor_table.read().collect()[0]
    assert row["tool_name"] == "grep" and row["tool_meta"] is None


def test_cow_fused_merge_plan_single_exchange(spark, table):
    """The CoW merge is ONE shuffle: raw target scan (data + tombstone
    files, unresolved) ∪ batch → row_number() = 1 window selection.  No
    join, no interpreted aggregate, no pre-resolve of tombstoned buckets,
    exactly one Exchange before the bucket-repartition write."""
    b1 = spark.createDataFrame(
        [_ev(1, "I", "c1", 0), _ev(2, "I", "c2", 0), _ev(3, "D", "c2", 0)],
        CHANGE_FEED_SCHEMA,
    )
    table.merge(b1)
    assert any(e.get("kind") == "tombstone"
               for e in table.manifest(table.current_snapshot()))

    b2 = spark.createDataFrame(
        [_ev(4, "U", "c1", 0, "new"), _ev(5, "U", "c2", 0, "back")],
        CHANGE_FEED_SCHEMA,
    )
    merged = table.merged_frame(b2, touched=list(range(table.n_buckets)))
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1  # the key window shuffle, nothing else
    assert "Join" not in plan
    assert "WindowGroupLimit" in plan
    assert "SortAggregate" not in plan and "ObjectHashAggregate" not in plan

    table.merge(b2)
    state = {(r["conv_id"], r["turn_idx"]): r["text"] for r in table.read().collect()}
    assert state == {("c1", 0): "new", ("c2", 0): "back"}


def test_cow_merge_equal_lsn_keeps_target(spark, table):
    """Fused-agg tiebreak parity with the join kernel's strict s.lsn > t.lsn:
    an equal-LSN redelivery must NOT overwrite the stored row."""
    b1 = spark.createDataFrame([_ev(7, "I", "c1", 0, "orig")], CHANGE_FEED_SCHEMA)
    table.merge(b1)
    redelivery = spark.createDataFrame(
        [_ev(7, "U", "c1", 0, "tampered")], CHANGE_FEED_SCHEMA
    )
    table.merge(redelivery)
    assert [r["text"] for r in table.read().collect()] == ["orig"]


def test_one_merge_kernel_call_pattern(spark, table, monkeypatch):
    """The CoW table merge and the frame-level slice both run THE MERGE
    kernel, plans.apply.merge_into_frame — exactly once per call."""
    from magneto_matcher_spark.plans import apply as apply_mod
    from magneto_matcher_spark.schemas import TRANSCRIPTS_SCHEMA

    calls = []
    kernel = apply_mod.merge_into_frame

    def counted(*args, **kwargs):
        calls.append(1)
        return kernel(*args, **kwargs)

    monkeypatch.setattr(apply_mod, "merge_into_frame", counted)
    batches = [
        spark.createDataFrame([_ev(1, "I", "c1", 0), _ev(2, "I", "c2", 0)],
                              CHANGE_FEED_SCHEMA),
        spark.createDataFrame([_ev(3, "U", "c1", 0), _ev(4, "D", "c2", 0)],
                              CHANGE_FEED_SCHEMA),
    ]
    for i, b in enumerate(batches, start=1):
        table.merge(b)
        assert len(calls) == i
    table.merge(dedup_max_lsn(batches[0]))
    assert len(calls) == 3

    calls.clear()
    state = spark.createDataFrame([], TRANSCRIPTS_SCHEMA).withColumn(
        "lsn", F.lit(None).cast("long")
    )
    for i, b in enumerate(batches, start=1):
        state = apply_mod.apply_batch_to_frame(state, b)
        assert len(calls) == i


# ---------------- snapshot expiry + orphan GC ----------------

def test_expire_snapshots_bounds_metadata_and_deletes_orphans(spark, tmp_path):
    import os

    t = LakeTable.create(
        spark, str(tmp_path / "exp"), TABLE_SCHEMA, key=TRANSCRIPT_KEY,
        n_buckets=4, write_mode="mor",
    )
    for lsn in range(1, 6):
        b = spark.createDataFrame(
            [_ev(lsn, "U", "c1", 0, f"v{lsn}")], CHANGE_FEED_SCHEMA
        )
        t.merge(dedup_max_lsn(b), summary={"offsets.start": lsn, "offsets.end": lsn})
    assert len(t.snapshots()) == 5
    files_before = {
        os.path.join(dp, f)
        for dp, _, fs in os.walk(os.path.join(t.root, "data")) for f in fs
    }
    state_before = t.read().collect()
    wm_before = t.committed_offset_end()

    res = t.expire_snapshots(keep_last=2)
    assert res["snapshots_removed"] == 3
    assert len(t.snapshots()) == 2
    # current state unchanged, time travel to kept works, to expired raises
    assert t.read().collect() == state_before
    kept_ids = [s["snapshot_id"] for s in t.snapshots()]
    assert t.read(snapshot_id=kept_ids[0]).count() >= 0
    with pytest.raises(KeyError):
        t.read(snapshot_id=1)
    # watermark preserved even though expired snapshots carried offsets
    assert t.committed_offset_end() == wm_before
    # next snapshot id stays monotonic (no reuse of expired ids)
    b = spark.createDataFrame([_ev(9, "U", "c1", 0, "v9")], CHANGE_FEED_SCHEMA)
    sid = t.merge(dedup_max_lsn(b), summary={"offsets.start": 9, "offsets.end": 9})
    assert sid == 6
    # reload survives (segments of kept snapshots intact on disk)
    t2 = LakeTable.load(spark, t.root)
    assert {r["text"] for r in t2.read().collect()} == {"v9"}


def test_expire_snapshots_watermark_survives_offsetless_head(spark, tmp_path):
    """If the newest kept snapshot has no offsets stamp (evolve), expiry of
    the merge snapshots must not lower the exactly-once watermark."""
    t = LakeTable.create(
        spark, str(tmp_path / "exp2"), TABLE_SCHEMA, key=TRANSCRIPT_KEY,
        n_buckets=4, write_mode="mor",
    )
    for lsn in (1, 2):
        b = spark.createDataFrame([_ev(lsn, "U", "c1", lsn, "x")], CHANGE_FEED_SCHEMA)
        t.merge(dedup_max_lsn(b), summary={"offsets.start": lsn, "offsets.end": lsn})
    t.evolve(adds=[("note", "string")])
    assert t.committed_offset_end() == 2
    t.expire_snapshots(keep_last=1)  # keeps only the evolve snapshot
    assert t.committed_offset_end() == 2
    t3 = LakeTable.load(spark, t.root)
    assert t3.committed_offset_end() == 2


def test_expire_snapshots_orphan_files_deleted_live_files_kept(spark, tmp_path):
    import os

    t = LakeTable.create(
        spark, str(tmp_path / "exp3"), TABLE_SCHEMA, key=TRANSCRIPT_KEY,
        n_buckets=4, write_mode="cow",
    )
    b1 = spark.createDataFrame([_ev(1, "I", "c1", 0, "a")], CHANGE_FEED_SCHEMA)
    t.merge(dedup_max_lsn(b1))
    # CoW rewrite: snapshot 2 replaces snapshot 1's bucket files entirely
    b2 = spark.createDataFrame([_ev(2, "U", "c1", 0, "b")], CHANGE_FEED_SCHEMA)
    t.merge(dedup_max_lsn(b2))
    old_files = {e["path"] for e in t.manifest(t._snapshot_by_id(1))}
    live_files = {e["path"] for e in t.manifest(t.current_snapshot())}
    dead = old_files - live_files
    assert dead, "CoW rewrite should orphan snapshot 1's files"
    res = t.expire_snapshots(keep_last=1)
    assert res["files_deleted"] == len(dead)
    for rel in dead:
        assert not os.path.exists(os.path.join(t.root, rel))
    for rel in live_files:
        assert os.path.exists(os.path.join(t.root, rel))
    assert {r["text"] for r in t.read().collect()} == {"b"}


def test_expire_at_random_points_preserves_state_and_watermark(spark, tmp_path):
    """Property (seeded cases): expiring at ARBITRARY points during a replay
    never changes the final state, never lowers the exactly-once watermark,
    and a redelivered earlier batch still skips."""
    import random

    from magneto_matcher_spark.sources.changefeed import (
        generate_change_feed,
        write_change_files,
    )
    from magneto_matcher_spark.streaming.engine import CdcEngine

    for case, seed in enumerate([2, 13, 41]):
        rng = random.Random(seed)
        feed = generate_change_feed(
            spark, 3000, n_convs=15, turns_per_conv=8, seed=seed
        )
        paths = write_change_files(feed, str(tmp_path / f"f{case}"), 4)

        plain = LakeTable.create(
            spark, str(tmp_path / f"plain{case}"), TABLE_SCHEMA,
            key=TRANSCRIPT_KEY, n_buckets=4, write_mode="mor",
        )
        CdcEngine(plain).replay(paths)
        want = sorted(map(tuple, plain.read().collect()))
        wm = plain.committed_offset_end()

        t = LakeTable.create(
            spark, str(tmp_path / f"exp{case}"), TABLE_SCHEMA,
            key=TRANSCRIPT_KEY, n_buckets=4, write_mode="mor",
        )
        eng = CdcEngine(t)
        for p in paths:
            eng.replay([p])
            if rng.random() < 0.7:
                t.expire_snapshots(keep_last=rng.randint(1, 3))
        assert sorted(map(tuple, t.read().collect())) == want, f"seed={seed}"
        assert t.committed_offset_end() == wm, f"seed={seed}"
        m = eng.replay([rng.choice(paths)])
        assert m[0]["skipped"], f"seed={seed}: redelivery applied after expiry"


def test_compact_is_partial_only_dirty_buckets(spark, tmp_path):
    """compact() rewrites ONLY buckets holding deltas; clean buckets' files
    are carried by reference (O(dirty) maintenance, not O(table))."""
    t = LakeTable.create(
        spark, str(tmp_path / "pc"), TABLE_SCHEMA, key=TRANSCRIPT_KEY,
        n_buckets=8, write_mode="mor",
    )
    # seed many conversations → files across several buckets
    seed = spark.createDataFrame(
        [_ev(i, "I", f"c{i}", 0, f"v{i}") for i in range(1, 17)],
        CHANGE_FEED_SCHEMA,
    )
    t.merge(dedup_max_lsn(seed))
    t.compact()  # fold the seed deltas → all-data manifest
    before = {e["path"] for e in t.manifest(t.current_snapshot())
              if e.get("kind", "data") == "data"}
    # one more delta touching a single conversation (→ one bucket)
    b = spark.createDataFrame([_ev(100, "U", "c1", 0, "new")], CHANGE_FEED_SCHEMA)
    t.merge(dedup_max_lsn(b))
    sid = t.compact()
    summ = t.summary(sid)
    assert summ["buckets-compacted"] == "1"
    assert int(summ["files-kept"]) > 0
    after = {e["path"] for e in t.manifest(t.current_snapshot())
             if e.get("kind", "data") == "data"}
    # clean-bucket files are the SAME paths (reference, not rewrite)
    assert before & after, "clean buckets should be carried by reference"
    state = {(r["conv_id"], r["turn_idx"]): r["text"] for r in t.read().collect()}
    assert state[("c1", 0)] == "new" and len(state) == 16


def test_evolve_key_rename_tracks_metadata(spark, table):
    """Renaming a key/LSN column must update the table's name-keyed
    metadata (key, lsn_column) — the old behavior
    left them stale and bricked every subsequent merge/read."""
    b1 = spark.createDataFrame(
        [_ev(1, "I", "c1", 0, "a"), _ev(2, "I", "c2", 0, "b")], CHANGE_FEED_SCHEMA
    )
    table.merge(dedup_max_lsn(b1))
    table.evolve(renames={"conv_id": "conversation_id", "lsn": "log_seq"})
    assert table.key == ["conversation_id", "turn_idx"]
    assert table.lsn_col == "log_seq"
    # the table still merges and reads after the rename
    b2 = spark.createDataFrame(
        [_ev(3, "U", "c1", 0, "a2")], CHANGE_FEED_SCHEMA
    ).withColumnRenamed("conv_id", "conversation_id").withColumnRenamed(
        "lsn", "log_seq"
    )
    table.merge(
        dedup_max_lsn(b2, key=table.key, lsn_col="log_seq")
    )
    state = {
        (r["conversation_id"], r["turn_idx"]): r["text"]
        for r in table.read().collect()
    }
    assert state == {("c1", 0): "a2", ("c2", 0): "b"}
    # promotion of the renamed key is still refused under its new name
    with pytest.raises(ValueError, match="conversation_id"):
        table.evolve(promotes={"conversation_id": "long"})


def test_expire_prunes_emptied_dirs(spark, tmp_path):
    """Orphan deletion must also remove the dirs (and _SUCCESS markers) it
    empties — at one commit per micro-batch the inode count would
    otherwise grow O(commits), the footprint expiry exists to bound."""
    import os

    t = LakeTable.create(
        spark, str(tmp_path / "gc"), TABLE_SCHEMA, key=TRANSCRIPT_KEY, n_buckets=2
    )
    for i in range(4):
        b = spark.createDataFrame(
            [_ev(10 * i + 1, "U", "c1", 0, f"v{i}")], CHANGE_FEED_SCHEMA
        )
        t.merge(dedup_max_lsn(b))
    res = t.expire_snapshots(keep_last=1)
    assert res["snapshots_removed"] == 3
    data_root = os.path.join(t.root, "data")
    for dirpath, dirnames, filenames in os.walk(data_root):
        live = [f for f in filenames if not f.startswith(".") and f != "_SUCCESS"]
        assert dirnames or live, f"empty leftover dir: {dirpath}"
    # the kept snapshot still reads
    assert t.read().count() == 1


def test_evolve_rejects_colliding_renames(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "ev"), TABLE_SCHEMA, key=TRANSCRIPT_KEY, n_buckets=4
    )
    with pytest.raises(ValueError, match="collide"):
        t.evolve(renames={"tool": "text"})  # target exists
    with pytest.raises(ValueError, match="collide"):
        t.evolve(renames={"tool": "x", "text": "x"})  # two sources → one target
    with pytest.raises(ValueError, match="already exists"):
        t.evolve(adds=[("n1", "string"), ("n1", "string")])  # dup adds


def test_pre_segment_snapshot_fails_loud(spark, tmp_path):
    """A snapshot in the pre-segment format (inline ``manifest`` list, no
    ``manifest_segs``) is not supported: reading it must raise, not serve
    an empty table."""
    t = LakeTable.create(
        spark, str(tmp_path / "leg"), TABLE_SCHEMA, key=TRANSCRIPT_KEY,
        n_buckets=4, write_mode="mor",
    )
    b1 = spark.createDataFrame([_ev(1, "I", "c1", 0, "a")], CHANGE_FEED_SCHEMA)
    t.merge(dedup_max_lsn(b1))
    snap = t.current_snapshot()
    snap["manifest"] = t.manifest(snap)
    del snap["manifest_segs"]
    t._write_metadata()

    with pytest.raises(KeyError, match="manifest_segs"):
        LakeTable.load(spark, t.root).read()


def test_load_rejects_non_keyhash_transform(spark, tmp_path, table):
    """Tables laid out by any transform other than keyhash (e.g. a
    single-column ``bucket`` transform) must fail loudly at load, not be
    read or merged under the wrong bucket function."""
    meta_path = os.path.join(table.root, "metadata", f"v{table.meta['version']}.json")
    with open(meta_path) as fh:
        meta = json.load(fh)
    meta["partition_spec"] = {"transform": "bucket", "n_buckets": 4}
    with open(meta_path, "w") as fh:
        json.dump(meta, fh)
    with pytest.raises(ValueError, match="'bucket'"):
        LakeTable.load(spark, table.root)


def _keys_by_bucket(spark, n_buckets, per_bucket):
    """``per_bucket`` keys (conv_id, turn_idx) of each keyhash bucket, so
    a test can give every bucket rows of every kind."""
    rows = spark.createDataFrame(
        [(f"conv{i}", i % 3) for i in range(40 * n_buckets)],
        "conv_id string, turn_idx int",
    ).select("*", bucket_expr_keyhash(TRANSCRIPT_KEY, n_buckets).alias("b")).collect()
    keys = {b: [] for b in range(n_buckets)}
    for r in rows:
        if len(keys[r["b"]]) < per_bucket:
            keys[r["b"]].append((r["conv_id"], r["turn_idx"]))
    assert all(len(k) == per_bucket for k in keys.values())
    return keys


def _every_writer(spark, tmp_path, n_buckets, check):
    """Run every lake write path on fresh ``n_buckets`` tables — append, the
    CoW merge, the MoR merge, ``stage_delta`` and both ``compact()`` writes
    — with every bucket holding inserts, updates and deletes.  ``check(
    written, kinds)`` sees each call's new (bucket, kind) file counts."""
    keys = _keys_by_bucket(spark, n_buckets, 6)
    inserts, dups, deletes = [], [], []
    for b, ks in keys.items():
        for j, (conv, turn) in enumerate(ks):
            lsn = 10 * (b * 6 + j) + 1
            inserts.append(_ev(lsn, "I", conv, turn))
            if j < 3:
                dups.append(_ev(100_000 + lsn, "U", conv, turn, "u"))
            if j in (2, 3):
                deletes.append(_ev(200_000 + lsn, "D", conv, turn))

    def frame(rows):
        return spark.createDataFrame(rows, CHANGE_FEED_SCHEMA).repartition(3)

    def written(t, write):
        before = {e["path"] for e in t.manifest(t.current_snapshot())}
        write()
        return Counter(
            (e["bucket"], e["kind"])
            for e in t.manifest(t.current_snapshot()) if e["path"] not in before
        )

    cow = LakeTable.create(
        spark, str(tmp_path / "cow"), TABLE_SCHEMA, key=TRANSCRIPT_KEY,
        n_buckets=n_buckets,
    )
    check(written(cow, lambda: cow.append(frame(inserts).drop("op"))), {"data"})
    check(
        written(cow, lambda: cow.merge(frame(dups + deletes))), {"data", "tombstone"}
    )

    mor = LakeTable.create(
        spark, str(tmp_path / "mor"), TABLE_SCHEMA, key=TRANSCRIPT_KEY,
        n_buckets=n_buckets, write_mode="mor",
    )
    check(written(mor, lambda: mor.merge(frame(inserts + dups))), {"delta"})
    staged = mor.stage_delta(
        dedup_max_lsn(frame(dups + deletes), n_partitions=mor.n_buckets)
    )
    check(Counter((e["bucket"], e["kind"]) for e in staged), {"delta"})
    mor.commit_delta(staged)
    check(written(mor, mor.compact), {"data", "tombstone"})


@pytest.mark.parametrize("n_buckets", [4, 16])
def test_every_write_path_writes_one_file_per_bucket_and_kind(
    spark, tmp_path, n_buckets
):
    """Every write path hands the file writer a frame whose last exchange is
    ``repartition(n_buckets, *key)``, so each (bucket, kind) it writes gets
    exactly one file; a path that lost that exchange would spread a bucket's
    rows over several tasks, hence several files.  At 16 buckets on the
    session's 4 cores the writer coalesces several buckets into each task,
    which must keep every bucket in one task."""

    def one_per(counts, kinds):
        assert set(counts.values()) == {1}, counts
        assert {k for _, k in counts} == kinds, counts
        assert {b for b, _ in counts} == set(range(n_buckets)), counts

    _every_writer(spark, tmp_path, n_buckets, one_per)


def test_every_write_path_runs_at_most_one_write_task_per_core(
    spark, tmp_path, monkeypatch
):
    """Every write task deserializes the session's Hadoop configuration, a
    fixed cost per task, so a 16-bucket table on 4 cores writes in at most
    4 tasks, not one per bucket."""
    from pyspark.sql.readwriter import DataFrameWriter

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    write_tasks = []
    parquet = DataFrameWriter.parquet

    def counted(self, path, *a, **k):
        group = f"write-{os.urandom(4).hex()}"
        sc.setJobGroup(group, "lake write")
        try:
            return parquet(self, path, *a, **k)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            # the write is the group's last job; its result stage (the
            # job's last stage) is the one that runs the write tasks
            job = tracker.getJobInfo(max(tracker.getJobIdsForGroup(group)))
            write_tasks.append(tracker.getStageInfo(max(job.stageIds)).numTasks)

    monkeypatch.setattr(DataFrameWriter, "parquet", counted)
    calls = []
    _every_writer(spark, tmp_path, 16, lambda counts, kinds: calls.append(kinds))
    assert len(calls) == 5 and len(write_tasks) == 6, write_tasks  # compact: 2
    assert max(write_tasks) <= sc.defaultParallelism, write_tasks


def test_bucket_files_are_deterministic_under_coalescing(spark, tmp_path):
    """W7: the same frame written into two fresh 16-bucket tables (several
    buckets per write task on 4 cores) gives each bucket a file with the
    same rows in the same key order."""
    import pyarrow.parquet as pq

    # 37 and 5 are coprime: 185 distinct keys
    rows = [_ev(i, "I", f"conv{i % 37}", i % 5, f"t{i}") for i in range(185)]
    df = spark.createDataFrame(rows, CHANGE_FEED_SCHEMA).drop("op").repartition(5)

    def files_by_bucket(name):
        t = LakeTable.create(
            spark, str(tmp_path / name), TABLE_SCHEMA, key=TRANSCRIPT_KEY,
            n_buckets=16,
        )
        t.append(df)
        out = {}
        for e in t.manifest(t.current_snapshot()):
            assert e["bucket"] not in out, e
            out[e["bucket"]] = pq.read_table(
                os.path.join(t.root, e["path"])
            ).to_pylist()
        return out

    a, b = files_by_bucket("a"), files_by_bucket("b")
    assert a == b and len(a) == 16
    for file_rows in a.values():
        keys = [(r["conv_id"], r["turn_idx"]) for r in file_rows]
        assert keys == sorted(keys)


def test_mor_dedup_plans_window_group_limit_not_sort_aggregate(
    spark, tmp_path, mor_table, monkeypatch
):
    """Every merge-on-read dedup — the engine's staged dedup, MoR
    ``merge``, ``read()`` over dirty buckets and ``compact()`` — keeps each
    key's max-LSN row with a ``row_number() = 1`` window
    (``WindowGroupLimit``), never a ``SortAggregate``; the paths pinned to
    the bucket layout keep exactly one exchange."""
    from magneto_matcher_spark.sources.changefeed import write_change_files
    from magneto_matcher_spark.streaming.engine import CdcEngine

    def executed(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "WindowGroupLimit" in plan and "SortAggregate" not in plan, plan
        return plan

    def one_exchange(plan):
        # a cached input prints its final and its initial plan
        assert plan.split("== Initial Plan ==")[0].count("Exchange") == 1, plan

    written = []
    write = LakeTable._write_data_files

    def spy(self, df, *a, **k):
        written.append(executed(df))
        return write(self, df, *a, **k)

    monkeypatch.setattr(LakeTable, "_write_data_files", spy)

    feed = spark.createDataFrame(
        [_ev(i, "I" if i < 8 else "U", f"conv{i % 8}", 0, f"t{i}") for i in range(24)],
        CHANGE_FEED_SCHEMA,
    )
    paths = write_change_files(feed, str(tmp_path / "feed"), n_batches=2)
    CdcEngine(mor_table).replay(paths)
    assert len(written) == 2
    mor_table.merge(
        spark.createDataFrame(
            [_ev(30 + j, "U", f"conv{j}", 0, "m") for j in range(4)]
            + [_ev(40, "D", "conv5", 0)],
            CHANGE_FEED_SCHEMA,
        )
    )
    assert len(written) == 3
    for plan in written:
        one_exchange(plan)
    executed(mor_table.read())
    before = {(r["conv_id"], r["text"]) for r in mor_table.read().collect()}

    written.clear()
    mor_table.compact()
    assert len(written) == 2  # data, then tombstones
    for plan in written:
        one_exchange(plan)
    after = {(r["conv_id"], r["text"]) for r in mor_table.read().collect()}
    assert after == before and len(after) == 7


def test_read_is_planned_from_metadata_with_zero_jobs(spark, tmp_path):
    """Building ``read()`` runs no Spark job: each file group is read with
    the schema its manifest entries name (no footer inference), and the
    file index over more than 32 explicit paths is listed on the driver (no
    parallel-listing job)."""
    t = LakeTable.create(
        spark, str(tmp_path / "mor8"), TABLE_SCHEMA, key=TRANSCRIPT_KEY,
        n_buckets=8, write_mode="mor",
    )
    for i in range(6):
        b = spark.createDataFrame(
            [_ev(100 * i + j, "I" if i == 0 else "U", f"conv{j}", 0, f"t{i}")
             for j in range(64)],
            CHANGE_FEED_SCHEMA,
        )
        t.merge(dedup_max_lsn(b))
    manifest = t.manifest(t.current_snapshot())
    assert len(manifest) == 48 and {e["kind"] for e in manifest} == {"delta"}

    df, jobs = build_jobs(spark, t.read)
    assert jobs == 0
    rows = df.collect()
    assert len(rows) == 64 and {r["text"] for r in rows} == {"t5"}


def test_empty_table_plans_scan_no_rdd(spark, table):
    """The typed empty frame behind an empty table's read and its first
    merge is a LocalRelation: no ``Scan ExistingRDD`` (a parallelize and a
    Python-worker scan) in either executed plan."""
    from magneto_matcher_spark.localframe import local_df

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    assert "ExistingRDD" not in plan(table.read())
    batch = local_df(spark, [_ev(1, "I", "c1", 0), _ev(2, "U", "c2", 0)],
                     CHANGE_FEED_SCHEMA)
    touched = list(range(table.n_buckets))
    assert "ExistingRDD" not in plan(table.merged_frame(batch, touched))
    table.merge(batch)
    assert table.read().count() == 2


def test_files_are_written_in_the_table_schema_types(spark, table):
    """A frame whose column types differ from the table's (``turn_idx``
    inferred as bigint, table int) is cast on write, so the schema id a
    manifest entry records is its file's physical schema — the schema its
    read passes to Spark."""
    import pyarrow.parquet as pq

    df = spark.createDataFrame(
        [(1, "c1", 0, "user", "x", "grep", datetime.datetime(2024, 1, 1))],
        ["lsn", "conv_id", "turn_idx", "role", "text", "tool", "ts"],
    )
    assert dict(df.dtypes)["turn_idx"] == "bigint"
    table.append(df)
    (entry,) = table.manifest(table.current_snapshot())
    footer = pq.read_schema(os.path.join(table.root, entry["path"]))
    assert str(footer.field("turn_idx").type) == "int32"
    assert [(r["conv_id"], r["turn_idx"]) for r in table.read().collect()] == [("c1", 0)]
