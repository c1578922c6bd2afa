"""CDC engine tests: replay resumability, exactly-once, streaming restart,
schema-drift resolution (SURVEY.md §5.2 / north-rule pytest invariants)."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from magneto_matcher_spark.schemas import CHANGE_FEED_SCHEMA, TRANSCRIPT_KEY
from magneto_matcher_spark.sources.changefeed import (
    generate_change_feed,
    with_schema_drift,
    write_change_files,
)
from magneto_matcher_spark.sources.lake import LakeTable
from magneto_matcher_spark.streaming.engine import CdcEngine

TABLE_SCHEMA = T.StructType([f for f in CHANGE_FEED_SCHEMA.fields if f.name != "op"])


def _mk_table(spark, tmp_path, name="t", write_mode="cow"):
    return LakeTable.create(
        spark, str(tmp_path / name), TABLE_SCHEMA, key=TRANSCRIPT_KEY,
        n_buckets=8, write_mode=write_mode,
    )


def _state_dict(table):
    return {
        (r["conv_id"], r["turn_idx"]): (r["text"], r["lsn"])
        for r in table.read().collect()
    }


def _oracle(feed_rows):
    state = {}
    for r in sorted(feed_rows, key=lambda r: r["lsn"]):
        k = (r["conv_id"], r["turn_idx"])
        if r["op"] == "D":
            state.pop(k, None)
        else:
            state[k] = (r["text"], r["lsn"])
    return state


@pytest.fixture(scope="module")
def feed(spark):
    return generate_change_feed(
        spark, 3000, n_convs=25, turns_per_conv=6, seed=42, hot_frac=0.25
    ).cache()


@pytest.mark.parametrize("write_mode", ["cow", "mor"])
def test_replay_matches_oracle_and_emits_metrics(spark, tmp_path, feed, write_mode):
    """A hot-key feed (a quarter of the events on one conversation) replays
    to the sequential oracle's state in both write modes."""
    paths = write_change_files(feed, str(tmp_path / "feed"), n_batches=5)
    table = _mk_table(spark, tmp_path, write_mode=write_mode)
    metrics = CdcEngine(table).replay(paths)
    assert len(metrics) == 5
    assert all(not m["skipped"] for m in metrics)
    assert all(m["events_per_sec"] > 0 for m in metrics)
    assert sum(m["events_in"] for m in metrics) == 3000
    assert _state_dict(table) == _oracle(feed.collect())


@pytest.mark.parametrize("strategy", ["salted", "auto", "window"])
def test_removed_dedup_strategies_fail_loud(spark, tmp_path, strategy):
    """The max-LSN dedup has one form; a caller still asking for a removed
    strategy gets an error naming it instead of a silent fallback."""
    with pytest.raises(ValueError, match=f"dedup_strategy={strategy!r}"):
        CdcEngine(_mk_table(spark, tmp_path), dedup_strategy=strategy)


def test_replay_resume_skips_committed(spark, tmp_path, feed):
    paths = write_change_files(feed, str(tmp_path / "feed"), n_batches=4)
    table = _mk_table(spark, tmp_path)
    engine = CdcEngine(table)
    engine.replay(paths[:2])
    state_mid = _state_dict(table)

    # simulate restart: fresh engine over reloaded table, replay EVERYTHING
    table2 = LakeTable.load(spark, table.root)
    engine2 = CdcEngine(table2)
    metrics = engine2.replay(paths)
    assert [m["skipped"] for m in metrics] == [True, True, False, False]
    final = _state_dict(table2)
    assert final == _oracle(feed.collect())
    assert final != state_mid  # later batches actually applied


class _InjectedCrash(RuntimeError):
    pass


def _crash_nth(obj, attr, n):
    """Make obj.attr raise _InjectedCrash on its n-th invocation (instance
    patch — a reload from disk gets the clean class method back, exactly
    like a process restart)."""
    orig = getattr(obj, attr)
    calls = {"n": 0}

    def wrapper(*a, **k):
        calls["n"] += 1
        if calls["n"] == n:
            raise _InjectedCrash(f"{attr} call {n}")
        return orig(*a, **k)

    setattr(obj, attr, wrapper)


def _batch_his(spark, paths):
    return [
        int(spark.read.parquet(p).agg(F.max("lsn")).first()[0]) for p in paths
    ]


@pytest.mark.parametrize("write_mode", ["cow", "mor"])
@pytest.mark.parametrize(
    "attr,call",
    [
        # batch 2: data/delta files fully staged, commit never starts
        ("_commit", 2),
        # batch 2: mid-commit — manifest segments already swapped in, but
        # the metadata pointer (THE commit, per Iceberg semantics) is not
        ("_write_metadata", 2),
    ],
)
def test_replay_crash_at_commit_boundaries_is_exactly_once(
    spark, tmp_path, feed, write_mode, attr, call
):
    """North-rule exactly-once under crash: kill the replay before or during
    any batch's commit, then restart.  (a) The on-disk table must load and
    show ONLY fully-committed batches — the watermark sits exactly on a
    batch boundary and the visible state equals the LSN-prefix oracle
    (atomicity: data files and manifest segments written by the dead
    attempt are invisible orphans until the metadata pointer swaps).
    (b) A resumed replay of ALL batches skips the committed prefix and
    converges to the uninterrupted final state."""
    paths = write_change_files(feed, str(tmp_path / "feed"), n_batches=3)
    his = _batch_his(spark, paths)
    table = LakeTable.create(
        spark,
        str(tmp_path / "t"),
        TABLE_SCHEMA,
        key=TRANSCRIPT_KEY,
        n_buckets=8,
        write_mode=write_mode,
    )
    _crash_nth(table, attr, call)
    with pytest.raises(_InjectedCrash):
        CdcEngine(table).replay(paths)

    # (a) crash atomicity, observed through a cold restart
    table2 = LakeTable.load(spark, table.root)
    wm = table2.committed_offset_end()
    assert wm in {-1, *his}, f"watermark {wm} is not a batch boundary"
    feed_rows = feed.collect()
    assert _state_dict(table2) == _oracle([r for r in feed_rows if r["lsn"] <= wm])

    # (b) resume: committed prefix skips, tail applies, state converges
    metrics = CdcEngine(table2).replay(paths)
    n_done = sum(1 for hi in his if hi <= wm)
    assert [m["skipped"] for m in metrics] == [True] * n_done + [False] * (
        len(paths) - n_done
    )
    assert _state_dict(table2) == _oracle(feed_rows)


def test_concurrent_replay_crash_mid_commit_resumes(spark, tmp_path, feed):
    """Same contract through the concurrent-staging MoR path: batches 2-4's
    delta files are already staged (possibly all of them — staging runs
    ahead of the serial commit loop) when batch 2's commit dies.  Staged
    but uncommitted delta files must stay invisible, and the resumed
    concurrent replay must discard/re-stage without double-applying."""
    paths = write_change_files(feed, str(tmp_path / "feed"), n_batches=4)
    his = _batch_his(spark, paths)
    table = LakeTable.create(
        spark,
        str(tmp_path / "t"),
        TABLE_SCHEMA,
        key=TRANSCRIPT_KEY,
        n_buckets=8,
        write_mode="mor",
    )
    _crash_nth(table, "_write_metadata", 2)
    with pytest.raises(_InjectedCrash):
        CdcEngine(table).replay(paths, concurrency=3)

    table2 = LakeTable.load(spark, table.root)
    wm = table2.committed_offset_end()
    assert wm == his[0]  # serial LSN-ordered commits: exactly batch 1 landed
    feed_rows = feed.collect()
    assert _state_dict(table2) == _oracle([r for r in feed_rows if r["lsn"] <= wm])

    metrics = CdcEngine(table2).replay(paths, concurrency=3)
    assert [m["skipped"] for m in metrics] == [True, False, False, False]
    assert _state_dict(table2) == _oracle(feed_rows)


def test_per_turn_text_equality_stable_ordering(spark, tmp_path, feed):
    """The north rule's verification invariant, verbatim: after a full
    replay, per-turn TEXT equality vs the sequential oracle under stable
    (conv_id, turn_idx) ordering — through the real lake engine."""
    paths = write_change_files(feed, str(tmp_path / "ptfeed"), n_batches=4)
    table = _mk_table(spark, tmp_path, "pt")
    CdcEngine(table).replay(paths)

    got = [
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in table.read().orderBy("conv_id", "turn_idx").collect()
    ]
    oracle = _oracle(feed.collect())  # (conv_id, turn_idx) -> (text, lsn)
    want = [
        (cid, tix, oracle[(cid, tix)][0]) for cid, tix in sorted(oracle)
    ]
    assert got == want  # same keys, same order, same per-turn text


def test_streaming_availablenow_end_to_end(spark, tmp_path, feed):
    write_change_files(feed, str(tmp_path / "stream_in"), n_batches=3)
    table = _mk_table(spark, tmp_path)
    engine = CdcEngine(table)
    engine.run_streaming(
        str(tmp_path / "stream_in"),
        str(tmp_path / "ckpt"),
        schema=CHANGE_FEED_SCHEMA,
    )
    assert _state_dict(table) == _oracle(feed.collect())
    assert table.committed_offset_end() == 2999


@pytest.mark.parametrize("grain", [1, 3])
def test_streaming_misaligned_trigger_grain(spark, tmp_path, feed, grain):
    """maxFilesPerTrigger that cuts ACROSS batch-dir boundaries must not lose
    data: write_change_files emits contiguous-LSN files with LSN-ordered
    mtimes, so mtime-ordered admission is LSN-monotone at any grain and the
    exactly-once watermark only ever skips true redeliveries.  grain=1 is
    the worst case (every file its own micro-batch); grain=3 is coprime to
    files_per_batch (every trigger straddles a dir boundary eventually)."""
    write_change_files(
        feed, str(tmp_path / f"mis_in{grain}"), n_batches=3, files_per_batch=4
    )
    table = _mk_table(spark, tmp_path, f"mis{grain}")
    engine = CdcEngine(table)
    engine.run_streaming(
        str(tmp_path / f"mis_in{grain}"),
        str(tmp_path / f"mis_ckpt{grain}"),
        schema=CHANGE_FEED_SCHEMA,
        max_files_per_trigger=grain,
    )
    applied = [m for m in engine.metrics_log if not m.get("skipped")]
    assert sum(m["events_in"] for m in applied) == feed.count()
    assert _state_dict(table) == _oracle(feed.collect())


def test_streaming_restart_after_checkpoint(spark, tmp_path, feed):
    """availableNow drains batch 1; new files arrive; second run drains them.
    Snapshot-summary watermark + checkpoint both survive the restart."""
    in_dir = tmp_path / "stream_in2"
    feed1 = feed.filter(F.col("lsn") < 1500)
    feed2 = feed.filter(F.col("lsn") >= 1500)
    write_change_files(feed1, str(in_dir), n_batches=2)
    table = _mk_table(spark, tmp_path)
    engine = CdcEngine(table)
    engine.run_streaming(str(in_dir), str(tmp_path / "ckpt2"), schema=CHANGE_FEED_SCHEMA)
    n_snapshots_mid = len(table.snapshots())

    write_change_files(feed2, str(in_dir) + "/late", n_batches=1)
    table2 = LakeTable.load(spark, table.root)
    engine2 = CdcEngine(table2)
    engine2.run_streaming(
        str(in_dir), str(tmp_path / "ckpt2"), schema=CHANGE_FEED_SCHEMA
    )
    assert _state_dict(table2) == _oracle(feed.collect())
    assert len(table2.snapshots()) > n_snapshots_mid


def test_streaming_fresh_drain_over_two_producer_calls(spark, tmp_path, feed):
    """Backfill shape: two write_change_files calls into one tree (main +
    late sibling dir), then ONE checkpoint-less drain over the whole tree.
    The second call must stamp mtimes ABOVE the first call's (not backdate
    below them), or admission interleaves the feeds and the watermark drops
    the late-admitted lower range."""
    in_dir = tmp_path / "two_calls"
    write_change_files(
        feed.filter(F.col("lsn") < 1500), str(in_dir), n_batches=2
    )
    write_change_files(
        feed.filter(F.col("lsn") >= 1500), str(in_dir / "late"), n_batches=2
    )
    table = _mk_table(spark, tmp_path)
    engine = CdcEngine(table)
    engine.run_streaming(
        str(in_dir),
        str(tmp_path / "two_ckpt"),
        schema=CHANGE_FEED_SCHEMA,
        max_files_per_trigger=3,  # force multi-trigger admission
    )
    applied = [m for m in engine.metrics_log if not m.get("skipped")]
    assert sum(m["events_in"] for m in applied) == feed.count()
    assert _state_dict(table) == _oracle(feed.collect())


def test_streaming_live_tail_continuous(spark, tmp_path, feed):
    """Production mode: a CONTINUOUS query (no availableNow) tails the input
    dir while a producer appends feed subtrees in write order; the engine
    must apply each arrival exactly once as it lands."""
    import time as _time

    in_dir = tmp_path / "tail_in"
    in_dir.mkdir()
    table = _mk_table(spark, tmp_path, "tail")
    engine = CdcEngine(table)
    query = engine.run_streaming(
        str(in_dir),
        str(tmp_path / "tail_ckpt"),
        schema=CHANGE_FEED_SCHEMA,
        trigger_once=False,
    )
    try:
        for lo, hi, sub in ((0, 1000, "a"), (1000, 2000, "b"), (2000, 3000, "c")):
            write_change_files(
                feed.filter((F.col("lsn") >= lo) & (F.col("lsn") < hi)),
                str(in_dir / sub),
                n_batches=1,
            )
            deadline = _time.time() + 120
            while (
                table.committed_offset_end() < hi - 1
                and _time.time() < deadline
            ):
                _time.sleep(0.5)
            assert table.committed_offset_end() == hi - 1, (sub, hi)
    finally:
        query.stop()
    applied = [m for m in engine.metrics_log if not m.get("skipped")]
    assert sum(m["events_in"] for m in applied) == feed.count()
    assert _state_dict(table) == _oracle(feed.collect())


def test_streaming_fresh_drain_over_sibling_subtrees(spark, tmp_path, feed):
    """One subdir per arrival (tree/{a,b}/batch_*), written seconds apart,
    drained FRESH afterwards: the producer's monotone stamping must clear
    sibling subtrees' stamps, not just same-dir ones."""
    in_dir = tmp_path / "sib_in"
    write_change_files(
        feed.filter(F.col("lsn") < 1500), str(in_dir / "a"), n_batches=2
    )
    write_change_files(
        feed.filter(F.col("lsn") >= 1500), str(in_dir / "b"), n_batches=2
    )
    table = _mk_table(spark, tmp_path, "sib")
    engine = CdcEngine(table)
    engine.run_streaming(
        str(in_dir),
        str(tmp_path / "sib_ckpt"),
        schema=CHANGE_FEED_SCHEMA,
        max_files_per_trigger=3,
    )
    applied = [m for m in engine.metrics_log if not m.get("skipped")]
    assert sum(m["events_in"] for m in applied) == feed.count()
    assert _state_dict(table) == _oracle(feed.collect())


def test_stamp_root_carries_overhang_to_deep_siblings(spark, tmp_path, feed):
    """Cross-call monotonicity beyond the directory scan's reach: call 1
    writes into tree/x/y and (simulated here) leaves a forward mtime
    overhang LARGER than the 60 s scan clamp — a 10^7-file feed at 5 ms/file
    legitimately does.  Call 2 lands in tree/p/q, whose fixed-depth scan
    never sees tree/x/y's stamps; the explicit ``stamp_root`` protocol (a
    `.changefeed_stamp_ms` marker at the caller-owned tree root) carries the
    overhang exactly, at any nesting depth.  Contract: every call-2 mtime is
    strictly above every call-1 mtime."""
    import os
    import time

    tree = tmp_path / "deep_tree"
    dir1 = tree / "x" / "y"
    write_change_files(
        feed.filter(F.col("lsn") < 1500), str(dir1), n_batches=2,
        stamp_root=str(tree),
    )
    # simulate a huge first feed's overhang: push the stamped mtimes (and
    # the marker the producer wrote at stamp_root) ~120 s into the future,
    # past the scan clamp — what a multi-million-file call 1 leaves behind
    future_s = time.time() + 120.0
    hi1 = 0.0
    for dp, _dn, fns in os.walk(dir1):
        for i, fn in enumerate(sorted(fns)):
            if fn.endswith(".parquet"):
                t = future_s + 0.005 * i
                os.utime(os.path.join(dp, fn), (t, t))
                hi1 = max(hi1, t)
    with open(tree / ".changefeed_stamp_ms", "w") as fh:
        fh.write(str(int(hi1 * 1000)))

    dir2 = tree / "p" / "q"
    write_change_files(
        feed.filter(F.col("lsn") >= 1500), str(dir2), n_batches=2,
        stamp_root=str(tree),
    )
    lo2 = min(
        os.path.getmtime(os.path.join(dp, fn))
        for dp, _dn, fns in os.walk(dir2)
        for fn in fns
        if fn.endswith(".parquet")
    )
    assert lo2 > hi1
    # markers live ONLY in caller-owned dirs: the out_dirs and stamp_root —
    # never in implicit parents (tree/x, tree/p) another producer might own
    for d in (tree / "x", tree / "p"):
        assert not (d / ".changefeed_stamp_ms").exists()


def test_stamp_root_total_order_across_many_nested_calls(spark, tmp_path, feed):
    """The stamp_root contract, strengthened: N sequential calls into
    DIFFERENT nesting depths under one root must produce a single global
    mtime order — every file of call i stamped strictly below every file of
    call i+1 — so one glob over the root admits the whole multi-call feed
    LSN-monotonically at any trigger grain."""
    import os

    tree = tmp_path / "order_tree"
    layouts = ["a", "b/c", "d/e/f", "g"]
    spans = []
    for i, sub in enumerate(layouts):
        lo, hi = i * 700, (i + 1) * 700
        write_change_files(
            feed.filter((F.col("lsn") >= lo) & (F.col("lsn") < hi)),
            str(tree / sub), n_batches=2, stamp_root=str(tree),
        )
        mtimes = [
            os.path.getmtime(os.path.join(dp, fn))
            for dp, _dn, fns in os.walk(str(tree / sub))
            for fn in fns if fn.endswith(".parquet")
        ]
        spans.append((min(mtimes), max(mtimes)))
    for (_, hi_prev), (lo_next, _) in zip(spans, spans[1:]):
        assert lo_next > hi_prev, (spans,)


def test_drift_batch_auto_evolves(spark, tmp_path):
    """FIXTURES.md F3: renamed tool→tool_name + added tool_meta/latency_ms.
    The incoming renamed column must land in the existing `tool` column (it
    matches by cleaned name against nothing → stays an add unless resolver maps
    it); with the exact-name stub, tool_name is an ADD, and tool_meta /
    latency_ms are adds too.  Full-matcher mapping is exercised in
    test_matching once Phase 4 lands."""
    feed = generate_change_feed(spark, 400, n_convs=5, turns_per_conv=4)
    drifted = with_schema_drift(feed, from_lsn=200)
    table = _mk_table(spark, tmp_path)
    engine = CdcEngine(table)
    pre = drifted.filter(F.col("lsn") < 200).drop("tool_name", "tool_meta", "latency_ms")
    post = drifted.filter(F.col("lsn") >= 200).drop("tool")
    engine.apply_batch(pre, source_desc="pre-drift")
    engine.apply_batch(post, source_desc="post-drift")

    cols = set(table.column_names)
    assert {"tool_name", "tool_meta", "latency_ms"} <= cols
    state = table.read()
    # post-drift rows carry the new columns; pre-drift rows have them null
    assert state.filter(F.col("tool_meta").isNotNull()).count() > 0
    assert state.count() == _count_keys(drifted)


def _latency_schema(int_type):
    return T.StructType(
        list(CHANGE_FEED_SCHEMA.fields) + [T.StructField("latency_ms", int_type)]
    )


def _lat_row(lsn, conv, latency):
    import datetime

    return (
        lsn, "I", conv, 0, "user", f"t{lsn}", None,
        datetime.datetime(2024, 1, 1), latency,
    )


def test_drift_type_widening_auto_promotes(spark, tmp_path):
    """Axis-B type drift: the producer widens latency_ms int→long
    mid-stream.  The engine must promote the table (metadata-only,
    Iceberg-safe), keep old narrow files serving, accept values beyond
    int32, and cast a later narrow batch back up."""
    base = T.StructType(
        list(TABLE_SCHEMA.fields) + [T.StructField("latency_ms", T.IntegerType())]
    )
    table = LakeTable.create(
        spark, str(tmp_path / "t"), base, key=TRANSCRIPT_KEY, n_buckets=8
    )
    engine = CdcEngine(table)
    engine.apply_batch(
        spark.createDataFrame([_lat_row(1, "c1", 120)], _latency_schema(T.IntegerType())),
        source_desc="narrow",
    )
    engine.apply_batch(
        spark.createDataFrame(
            [_lat_row(2, "c2", 1 << 40)], _latency_schema(T.LongType())
        ),
        source_desc="wide",  # triggers the promotion
    )
    engine.apply_batch(
        spark.createDataFrame([_lat_row(3, "c3", 7)], _latency_schema(T.IntegerType())),
        source_desc="narrow-again",  # upcast, no further evolution
    )
    assert dict(table.read().dtypes)["latency_ms"] == "bigint"
    state = {r["conv_id"]: r["latency_ms"] for r in table.read().collect()}
    assert state == {"c1": 120, "c2": 1 << 40, "c3": 7}
    promotes = [
        s["summary"].get("schema-promotes")
        for s in table.snapshots()
        if s["summary"].get("schema-promotes") not in (None, "{}")
    ]
    assert promotes == ['{"latency_ms": "bigint"}']  # exactly one evolution


def test_drift_incompatible_type_fails_loud(spark, tmp_path):
    base = T.StructType(
        list(TABLE_SCHEMA.fields) + [T.StructField("latency_ms", T.IntegerType())]
    )
    table = LakeTable.create(
        spark, str(tmp_path / "t"), base, key=TRANSCRIPT_KEY, n_buckets=8
    )
    bad = spark.createDataFrame(
        [(1, "I", "c1", 0, "user", "t", None, None, "fast")],
        _latency_schema(T.StringType()),
    )
    with pytest.raises(ValueError, match="incompatible type drift"):
        CdcEngine(table).apply_batch(bad, source_desc="bad")


def test_concurrent_replay_serializes_on_type_drift(spark, tmp_path):
    """A name-identical but type-widened feed must NOT take the concurrent
    staging path (which bypasses drift resolution): the parquet-footer gate
    detects the type drift, the replay serializes, promotes, and converges."""
    base = T.StructType(
        list(TABLE_SCHEMA.fields) + [T.StructField("latency_ms", T.IntegerType())]
    )
    table = LakeTable.create(
        spark, str(tmp_path / "t"), base, key=TRANSCRIPT_KEY,
        n_buckets=8, write_mode="mor",
    )
    wide_feed = spark.createDataFrame(
        [_lat_row(i, f"c{i}", (1 << 40) + i) for i in range(1, 9)],
        _latency_schema(T.LongType()),
    )
    paths = write_change_files(wide_feed, str(tmp_path / "feed"), n_batches=2)
    engine = CdcEngine(table)
    assert engine._can_replay_concurrently(paths) is False
    metrics = engine.replay(paths, concurrency=3)
    assert all(not m["skipped"] for m in metrics)
    assert dict(table.read().dtypes)["latency_ms"] == "bigint"
    assert table.read().count() == 8
    assert table.read().agg(F.min("latency_ms")).first()[0] == (1 << 40) + 1


def _count_keys(feed):
    rows = feed.collect()
    state = {}
    for r in sorted(rows, key=lambda r: r["lsn"]):
        k = (r["conv_id"], r["turn_idx"])
        if r["op"] == "D":
            state.pop(k, None)
        else:
            state[k] = r
    return len(state)


def test_drift_renamed_column_is_normalized(spark, tmp_path):
    """Regression: drift resolution must run BEFORE payload normalization, so
    a renamed column's values (e.g. Tool → tool) still get null-normalized —
    previously the normalizer ran first and never saw the renamed column."""
    feed = generate_change_feed(spark, 200, n_convs=4, turns_per_conv=4)
    table = _mk_table(spark, tmp_path)
    engine = CdcEngine(table)
    engine.apply_batch(feed.filter(F.col("lsn") < 100), source_desc="b1")

    dirty = (
        feed.filter(F.col("lsn") >= 100)
        .withColumn("tool", F.lit("N/A"))  # domain-null that must normalize
        .withColumnRenamed("tool", "Tool")  # cleaned-name match → rename
    )
    engine.apply_batch(dirty, source_desc="b2-drift")
    assert set(table.column_names) == {f.name for f in TABLE_SCHEMA.fields}
    post = table.read().filter(F.col("lsn") >= 100)
    assert post.count() > 0
    assert post.filter(F.col("tool").isNotNull()).count() == 0


def test_matcher_resolver_fuzzy_rename(spark, tmp_path):
    """§3.4 full-cascade drift: `tool` → `tool_nm` is NOT a cleaned-name
    match, so only the Magneto cascade (strsim + value profile) can resolve
    it as a rename; a genuinely new column in the same batch must still
    land as an add."""
    from magneto_matcher_spark.plans.matcher import matcher_drift_resolver

    feed = generate_change_feed(spark, 300, n_convs=5, turns_per_conv=4)
    table = _mk_table(spark, tmp_path)
    engine = CdcEngine(table, drift_resolver=matcher_drift_resolver)
    engine.apply_batch(feed.filter(F.col("lsn") < 150), source_desc="b1")

    fuzzy = (
        feed.filter(F.col("lsn") >= 150)
        .withColumnRenamed("tool", "tool_nm")
        .withColumn("trace_blob", F.lit("x"))
    )
    engine.apply_batch(fuzzy, source_desc="b2-fuzzy")

    cols = set(table.column_names)
    assert "tool_nm" not in cols, "fuzzy rename must resolve onto `tool`"
    assert "tool" in cols
    assert "trace_blob" in cols, "unmatched new column must become an add"
    post = table.read().filter(F.col("lsn") >= 150)
    assert post.count() > 0
    assert post.filter(F.col("trace_blob").isNotNull()).count() == post.count()


@pytest.mark.parametrize(
    "n_batches,files_per_batch",
    [
        (3, 4),  # the common shape
        (4, 1),  # single file per batch
        (1, 8),  # one batch, many files
    ],
)
def test_change_files_wal_layout_contract(
    spark, tmp_path, feed, n_batches, files_per_batch
):
    """Producer contract the streaming file source relies on: every parquet
    file covers a contiguous LSN sub-range DISJOINT from every other file's,
    mtimes strictly increase in LSN order across the whole feed, and rerun
    cleanup only touches this writer's batch_NNNNN dirs."""
    import os

    out = tmp_path / f"wal_{n_batches}_{files_per_batch}"
    foreign = out / "batch_extra"  # NOT batch_\d{5} — must survive reruns
    foreign.mkdir(parents=True)
    (foreign / "keep.txt").write_text("foreign producer data")
    paths = write_change_files(
        feed, str(out), n_batches=n_batches, files_per_batch=files_per_batch
    )

    prev_hi, prev_mt = -1, -1.0
    for p in paths:
        for fn in sorted(
            f for f in os.listdir(p)
            if f.endswith(".parquet") and not f.startswith(".")
        ):
            fp = os.path.join(p, fn)
            lsns = [
                r["lsn"] for r in spark.read.parquet(fp).select("lsn").collect()
            ]
            assert min(lsns) > prev_hi, fp  # contiguous & disjoint in walk order
            mt = os.path.getmtime(fp)
            assert mt > prev_mt, fp  # strictly increasing mtimes
            prev_hi, prev_mt = max(lsns), mt
    assert prev_hi == 2999  # every event landed in some file
    assert (foreign / "keep.txt").read_text() == "foreign producer data"


def test_lineage_keys_progressive_disambiguation():
    """Basename AND parent-dir collisions get progressively longer suffixes;
    decoded URI and raw path forms of the same file agree."""
    from magneto_matcher_spark.streaming.engine import _lineage_keys

    keys = _lineage_keys(
        [
            "file:///x/a/date%3DA/data.parquet",
            "/x/b/date=A/data.parquet",
            "/y/b/date=A/data.parquet",
        ]
    )
    assert len(set(keys)) == 3
    # the URI form decodes to the same path family as the raw form
    assert all("date=A" in k for k in keys)
    # same file given twice (URI vs raw) may share a key — the spans merge,
    # which is correct for one physical file
    twice = _lineage_keys(["file:///x/a/data.parquet", "/x/a/data.parquet"])
    assert twice[0] == twice[1]
    # termination edge: absolute vs relative forms share every suffix
    # (os.path.join drops empty components) — the depth cap must kick in
    # and fall back to full decoded paths instead of looping forever
    edge = _lineage_keys(["/x/a.parquet", "x/a.parquet"])
    assert len(set(edge)) == 2


def test_partially_null_lsn_fails_loud(spark, tmp_path, feed):
    """A batch where SOME rows carry a null LSN must raise, not silently
    drop/corrupt those rows downstream (max_by/merge treat null as
    smallest).  Covered on both stats paths: the aggregation scan
    (apply_batch on a frame) and the parquet-footer reader (replay)."""
    dirty = feed.withColumn(
        "lsn", F.when(F.col("lsn") == 7, F.lit(None)).otherwise(F.col("lsn"))
    )
    table = _mk_table(spark, tmp_path, "nl")
    engine = CdcEngine(table)
    with pytest.raises(ValueError, match="null 'lsn'"):
        engine.apply_batch(dirty, source_desc="scan-path")

    dirty.coalesce(2).write.parquet(str(tmp_path / "nl_feed" / "batch_00000"))
    with pytest.raises(ValueError, match="null 'lsn'"):
        CdcEngine(_mk_table(spark, tmp_path, "nl2")).replay(
            [str(tmp_path / "nl_feed" / "batch_00000")]
        )


def test_key_column_type_drift_fails_loud(spark, tmp_path, feed):
    """A WIDER key/LSN column in the batch must raise, not silently wrap:
    the table cannot promote key widths (bucket-hash stability), and the
    old silent exemption let out-of-range values corrupt buckets."""
    table = _mk_table(spark, tmp_path, "kd")
    engine = CdcEngine(table)
    wide = feed.withColumn("turn_idx", F.col("turn_idx").cast("long"))
    with pytest.raises(ValueError, match="key/LSN column 'turn_idx'"):
        engine.apply_batch(wide, source_desc="wide-key")


def test_key_column_narrower_batch_upcasts(spark, tmp_path, feed):
    """A NARROWER batch LSN (int where the table registers long) is cast up
    — value- and hash-preserving — and the batch applies normally."""
    table = _mk_table(spark, tmp_path, "kn")
    engine = CdcEngine(table)
    narrow = feed.withColumn("lsn", F.col("lsn").cast("int"))
    m = engine.apply_batch(narrow, source_desc="narrow-lsn")
    assert not m["skipped"]
    assert _state_dict(table) == _oracle(feed.collect())


def test_mixed_schema_batch_dir_serializes(spark, tmp_path, feed):
    """A batch dir whose files straddle a producer-side widening (first
    file clean, later file drifted) must NOT take the concurrent fast path
    — the gate reads every footer, so the drifted tail goes through the
    promote machinery instead of bypassing it."""
    feed_rows = feed.filter(F.col("lsn") < 1000)
    clean = feed_rows.filter(F.col("lsn") < 500)
    drift = feed_rows.filter(F.col("lsn") >= 500).withColumn(
        "latency_ms", F.lit(7).cast("long")
    )
    clean = clean.withColumn("latency_ms", F.lit(3).cast("int"))
    mixed_dir = tmp_path / "mixed" / "batch_00000"
    mixed_dir.mkdir(parents=True)
    # write each half with Spark (type-exact parquet) and merge the part
    # files into ONE batch dir, clean file sorting first
    import glob as _glob
    import shutil as _shutil

    for i, (name, df) in enumerate((("clean", clean), ("drift", drift))):
        side = tmp_path / f"side_{name}"
        df.coalesce(1).write.parquet(str(side))
        src_file = _glob.glob(str(side / "part-*.parquet"))[0]
        _shutil.copy(src_file, str(mixed_dir / f"part-0000{i}-{name}.parquet"))

    schema = T.StructType(
        TABLE_SCHEMA.fields + [T.StructField("latency_ms", T.IntegerType(), True)]
    )
    table = LakeTable.create(
        spark, str(tmp_path / "mx"), schema, key=TRANSCRIPT_KEY, n_buckets=8,
        write_mode="mor",
    )
    engine = CdcEngine(table)
    assert not engine._can_replay_concurrently([str(mixed_dir)])
    engine.replay([str(mixed_dir)], concurrency=4)
    # the widened column was promoted, and the state matches the oracle
    types = {f["name"]: f["type"] for f in table.current_schema_meta["fields"]}
    assert types["latency_ms"] == "bigint"
    assert _state_dict(table) == _oracle(feed_rows.collect())


def test_metrics_sink_jsonl(spark, tmp_path, feed):
    import json

    paths = write_change_files(feed, str(tmp_path / "feed"), n_batches=2)
    table = _mk_table(spark, tmp_path)
    sink = str(tmp_path / "metrics.jsonl")
    engine = CdcEngine(table, metrics_sink=sink)
    engine.replay(paths)
    lines = [json.loads(ln) for ln in open(sink)]
    assert len(lines) == 2
    assert all("events_per_sec" in ln and "offsets_end" in ln for ln in lines)


def test_replay_empty_batch_dir_skips(spark, tmp_path, feed):
    """Regression: replaying an empty batch dir must skip, not throw at
    parquet schema inference."""
    paths = write_change_files(feed.filter(F.col("lsn") < 600), str(tmp_path / "f"), 1)
    empty = tmp_path / "empty_batch"
    empty.mkdir()
    table = _mk_table(spark, tmp_path)
    metrics = CdcEngine(table).replay([str(empty), *paths])
    assert metrics[0]["skipped"] and metrics[0]["reason"] == "empty"
    assert not metrics[1]["skipped"]


def test_footer_stats_match_scan(spark, tmp_path, feed):
    from magneto_matcher_spark.sources.changefeed import write_change_files
    from magneto_matcher_spark.streaming.engine import _footer_stats

    paths = write_change_files(feed, str(tmp_path / "fs"), 3)
    for p in paths:
        df = spark.read.parquet(p)
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.min("lsn").alias("lo"),
            F.max("lsn").alias("hi"),
        ).collect()[0]
        n, lo, hi, per_file = _footer_stats(p, "lsn")
        assert (n, lo, hi) == (row["n"], row["lo"], row["hi"])
        # per-file spans cover the batch span and nest within it
        assert min(s[0] for s in per_file.values()) == lo
        assert max(s[1] for s in per_file.values()) == hi
        assert all(lo <= s[0] <= s[1] <= hi for s in per_file.values())
    # unknown column → None (caller falls back to a scan)
    assert _footer_stats(paths[0], "nope") is None
    # empty dir → zero events
    empty = tmp_path / "empty"
    empty.mkdir()
    assert _footer_stats(str(empty), "lsn") == (0, None, None, {})


def test_replay_lineage_reproducible_after_restart(spark, tmp_path, feed):
    """North-star: snapshot summaries record per-file lineage (source →
    per-file LSN spans), and a restart-resumed replay over the same batch
    dirs reproduces the identical lineage maps."""
    import json

    from magneto_matcher_spark.sources.changefeed import write_change_files

    paths = write_change_files(feed, str(tmp_path / "lin"), 3)

    def lineages(table):
        out = {}
        for s in table.snapshots():
            summ = s.get("summary", {})
            if "source.lineage" in summ:
                lin = json.loads(summ["source.lineage"])
                out[lin["source"]] = lin
        return out

    t1 = _mk_table(spark, tmp_path, "lin_a")
    CdcEngine(t1).replay(paths)
    lin1 = lineages(t1)
    assert set(lin1) == set(paths)
    for lin in lin1.values():
        assert lin["files"], "per-file span map must be recorded"
        assert min(s[0] for s in lin["files"].values()) == lin["start"]
        assert max(s[1] for s in lin["files"].values()) == lin["end"]

    # restart: fresh table object + fresh engine over the same feed dirs
    t2 = _mk_table(spark, tmp_path, "lin_b")
    eng2 = CdcEngine(t2)
    eng2.replay(paths[:2])
    t2r = LakeTable.load(spark, t2.root)
    CdcEngine(t2r).replay(paths)  # resumes: first 2 skip, 3rd applies
    lin2 = lineages(t2r)
    assert lin2 == lin1


def test_mor_auto_compact_bounds_deltas(spark, tmp_path, feed):
    from magneto_matcher_spark.sources.changefeed import write_change_files

    schema = T.StructType([f for f in CHANGE_FEED_SCHEMA.fields if f.name != "op"])
    table = LakeTable.create(
        spark, str(tmp_path / "ac"), schema, key=TRANSCRIPT_KEY,
        n_buckets=4, write_mode="mor",
    )
    paths = write_change_files(feed, str(tmp_path / "acfeed"), 4)
    eng = CdcEngine(table, auto_compact_ratio=0.5)
    metrics = eng.replay(paths)
    assert any(m.get("compacted") for m in metrics)
    # invariant: final state equals a plain single-batch replay
    ref = LakeTable.create(
        spark, str(tmp_path / "ref"), schema, key=TRANSCRIPT_KEY, n_buckets=4
    )
    CdcEngine(ref).replay([str(p) for p in paths])
    got = {(r["conv_id"], r["turn_idx"]): r["lsn"] for r in table.read().collect()}
    want = {(r["conv_id"], r["turn_idx"]): r["lsn"] for r in ref.read().collect()}
    assert got == want
    # read amplification bounded: deltas after replay < ratio * data (+1 batch)
    snap = table.current_snapshot()
    entries = table.manifest(snap)
    deltas = sum(e["rows"] for e in entries if e.get("kind") == "delta")
    data = sum(e["rows"] for e in entries if e.get("kind", "data") == "data")
    assert data > 0


def test_mor_concurrent_replay_matches_serial(spark, tmp_path, feed):
    from magneto_matcher_spark.sources.changefeed import write_change_files

    schema = T.StructType([f for f in CHANGE_FEED_SCHEMA.fields if f.name != "op"])
    paths = write_change_files(feed, str(tmp_path / "ccfeed"), 4)

    serial = LakeTable.create(
        spark, str(tmp_path / "ser"), schema, key=TRANSCRIPT_KEY,
        n_buckets=4, write_mode="mor",
    )
    CdcEngine(serial).replay(paths)

    conc = LakeTable.create(
        spark, str(tmp_path / "conc"), schema, key=TRANSCRIPT_KEY,
        n_buckets=4, write_mode="mor",
    )
    eng = CdcEngine(conc)
    metrics = eng.replay(paths, concurrency=4)
    assert all(not m["skipped"] for m in metrics)

    a = {(r["conv_id"], r["turn_idx"]): (r["lsn"], r["text"])
         for r in serial.read().collect()}
    b = {(r["conv_id"], r["turn_idx"]): (r["lsn"], r["text"])
         for r in conc.read().collect()}
    assert a == b

    # redelivery of the last batch: staged then discarded at commit
    m2 = eng.replay([paths[-1]], concurrency=2)
    assert m2[0]["skipped"]
    b2 = {(r["conv_id"], r["turn_idx"]): (r["lsn"], r["text"])
          for r in conc.read().collect()}
    assert b2 == a

    # cow table → falls back to sequential (still correct)
    cow = LakeTable.create(
        spark, str(tmp_path / "cowcc"), schema, key=TRANSCRIPT_KEY, n_buckets=4
    )
    CdcEngine(cow).replay(paths, concurrency=4)
    c = {(r["conv_id"], r["turn_idx"]): (r["lsn"], r["text"])
         for r in cow.read().collect()}
    assert c == a


def test_auto_expire_bounds_snapshot_log(spark, tmp_path, feed):
    """expire_keep=N: the engine expires after every commit, so the snapshot
    log stays bounded during replay, redelivery still skips (watermark
    survives expiry), and the final state equals an unexpired replay."""
    from magneto_matcher_spark.sources.changefeed import write_change_files

    schema = T.StructType([f for f in CHANGE_FEED_SCHEMA.fields if f.name != "op"])
    paths = write_change_files(feed, str(tmp_path / "expfeed"), 5)

    plain = LakeTable.create(
        spark, str(tmp_path / "plain"), schema, key=TRANSCRIPT_KEY,
        n_buckets=4, write_mode="mor",
    )
    CdcEngine(plain).replay(paths)

    t = LakeTable.create(
        spark, str(tmp_path / "bounded"), schema, key=TRANSCRIPT_KEY,
        n_buckets=4, write_mode="mor",
    )
    eng = CdcEngine(t, expire_keep=2)
    eng.replay(paths)
    assert len(t.snapshots()) == 2
    # redelivery of an already-expired batch still skips
    m = eng.replay([paths[0]])
    assert m[0]["skipped"]
    a = {(r["conv_id"], r["turn_idx"]): (r["lsn"], r["text"])
         for r in plain.read().collect()}
    b = {(r["conv_id"], r["turn_idx"]): (r["lsn"], r["text"])
         for r in t.read().collect()}
    assert a == b
    # concurrent path expires too
    t2 = LakeTable.create(
        spark, str(tmp_path / "bounded2"), schema, key=TRANSCRIPT_KEY,
        n_buckets=4, write_mode="mor",
    )
    CdcEngine(t2, expire_keep=1).replay(paths, concurrency=3)
    assert len(t2.snapshots()) == 1
    c = {(r["conv_id"], r["turn_idx"]): (r["lsn"], r["text"])
         for r in t2.read().collect()}
    assert c == a


def test_spark_submit_py_files_entrypoint(tmp_path):
    """North rule: the engine runs via ``spark-submit --py-files`` with every
    import resolved from the shipped zip (no repo path on the workers).
    Builds the engine zip fresh into ``tmp_path`` (BENCH/make_zip.py),
    submits BENCH/submit_job.py in a separate JVM, and checks the final
    throughput JSON line."""
    import json
    import os
    import shutil
    import subprocess
    import sys

    spark_submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    if not os.path.exists(spark_submit):
        pytest.skip("spark-submit not available")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    engine_zip = str(tmp_path / "engine.zip")
    subprocess.run(
        [sys.executable, os.path.join(repo, "BENCH", "make_zip.py"), engine_zip],
        check=True, capture_output=True,
    )
    out = subprocess.run(
        [
            spark_submit, "--master", "local[4]",
            "--conf", "spark.ui.enabled=false",
            "--py-files", engine_zip,
            os.path.join(repo, "BENCH", "submit_job.py"),
            "20000", "2", str(tmp_path / "work"),
        ],
        capture_output=True, text=True, timeout=420,
        cwd=str(tmp_path),  # no repo cwd: imports must come from the zip
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    assert lines, out.stdout[-2000:]
    rec = json.loads(lines[-1])
    assert rec["submitted_via"] == "spark-submit --py-files"
    assert rec["events"] == 20000 and rec["events_per_sec"] > 0


def test_all_null_lsn_batch_fails_loud(spark, tmp_path):
    """A non-empty batch whose LSN column is entirely null is malformed —
    the engine must raise a clear ValueError, not TypeError from comparing
    None to the watermark."""
    t = LakeTable.create(
        spark, str(tmp_path / "nl"), TABLE_SCHEMA, key=TRANSCRIPT_KEY, n_buckets=4
    )
    nullable = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in CHANGE_FEED_SCHEMA.fields]
    )
    bad = spark.createDataFrame(
        [(None, "U", "c1", 0, "user", "x", None,
          __import__("datetime").datetime(2024, 1, 1))],
        nullable,
    )
    with pytest.raises(ValueError, match="no non-null"):
        CdcEngine(t).apply_batch(bad)


def test_compacting_batch_metrics_report_merge_not_compaction(spark, tmp_path, feed):
    """When auto-compaction fires inside a batch apply, the batch metrics
    must describe the MERGE (this batch's rows), not the compaction's
    full-rewrite numbers."""
    from magneto_matcher_spark.sources.changefeed import write_change_files

    schema = T.StructType([f for f in CHANGE_FEED_SCHEMA.fields if f.name != "op"])
    paths = write_change_files(feed, str(tmp_path / "cmfeed"), 3)
    t = LakeTable.create(
        spark, str(tmp_path / "cm"), schema, key=TRANSCRIPT_KEY,
        n_buckets=4, write_mode="mor",
    )
    eng = CdcEngine(t, auto_compact_ratio=0.01, expire_keep=1)
    metrics = eng.replay(paths)
    compacting = [m for m in metrics if m.get("compacted")]
    assert compacting, "expected at least one auto-compacting batch"
    for m in compacting:
        # merge summary: delta rows written == events surviving dedup for
        # that batch — far below the full-table rewrite row count
        assert 0 < m["rows_written"] <= m["events_in"], m


def test_write_change_files_rerun_and_empty_feed(spark, tmp_path, feed):
    """Regenerating into an existing out_dir replaces prior batch dirs (no
    ENOTEMPTY crash, no stale dirs from a larger previous run); an empty
    feed yields zero batches instead of a TypeError."""
    import os

    from magneto_matcher_spark.sources.changefeed import write_change_files

    d = str(tmp_path / "rerun")
    first = write_change_files(feed, d, 5)
    assert len(first) == 5
    second = write_change_files(feed, d, 2)  # fewer batches on rerun
    assert len(second) == 2
    leftover = [x for x in os.listdir(d) if x.startswith("batch_")]
    assert sorted(leftover) == ["batch_00000", "batch_00001"]

    empty = feed.filter("lsn < 0")
    assert write_change_files(empty, str(tmp_path / "empty"), 3) == []


def test_every_driver_emits_one_record_shape(spark, tmp_path, feed):
    """Sequential replay, concurrent MoR replay, availableNow streaming and a
    direct apply_batch all go through one stage → commit pipeline, so their
    applied records share one key set and their skipped records another;
    every record splits its duration into stage + commit."""
    paths = write_change_files(feed, str(tmp_path / "feed"), n_batches=2)
    empty = tmp_path / "empty_batch"
    empty.mkdir()

    def mk(name, mode):
        return LakeTable.create(spark, str(tmp_path / name), TABLE_SCHEMA,
                                key=TRANSCRIPT_KEY, n_buckets=4, write_mode=mode)

    by_driver = {}
    seq = CdcEngine(mk("seq", "cow"))
    by_driver["sequential"] = seq.replay([str(empty), *paths]) + seq.replay(paths[:1])

    conc = CdcEngine(mk("conc", "mor"))
    by_driver["concurrent"] = (
        conc.replay(paths, concurrency=3) + conc.replay(paths, concurrency=3)
    )

    stream = CdcEngine(mk("stream", "cow"))
    stream.run_streaming(str(tmp_path / "feed"), str(tmp_path / "ck1"),
                         schema=CHANGE_FEED_SCHEMA)
    # a fresh checkpoint redelivers everything: every batch skips
    stream.run_streaming(str(tmp_path / "feed"), str(tmp_path / "ck2"),
                         schema=CHANGE_FEED_SCHEMA)
    by_driver["streaming"] = stream.metrics_log

    direct = CdcEngine(mk("direct", "mor"))
    batch = spark.read.parquet(paths[0])
    by_driver["apply_batch"] = [
        direct.apply_batch(batch, "b0"), direct.apply_batch(batch, "b0-again")
    ]

    for name, ms in by_driver.items():
        assert {m["skipped"] for m in ms} == {False, True}, name
    for skipped in (False, True):
        shapes = {
            name: {frozenset(m) for m in ms if m["skipped"] == skipped}
            for name, ms in by_driver.items()
        }
        assert len(set().union(*shapes.values())) == 1, shapes
    for name, ms in by_driver.items():
        for m in ms:
            assert m["stage_s"] + m["commit_s"] == pytest.approx(
                m["duration_s"], abs=2e-3
            ), (name, m)


def test_stage_commit_call_pattern(spark, tmp_path, feed, monkeypatch):
    """Each applied MoR batch (sequential or concurrent) stages one delta
    write and makes one delta commit, never a merge; each applied CoW batch
    makes exactly one merge.  Normalize and (MoR) dedup run once per batch
    through the engine module's names."""
    import magneto_matcher_spark.streaming.engine as engine_mod

    calls = {}

    def count(owner, attr):
        orig = getattr(owner, attr)

        def wrapper(*a, **k):
            calls[attr] = calls.get(attr, 0) + 1
            return orig(*a, **k)

        monkeypatch.setattr(owner, attr, wrapper)

    for attr in ("stage_delta", "commit_delta", "merge"):
        count(LakeTable, attr)
    for attr in ("normalize_payload", "dedup_max_lsn"):
        count(engine_mod, attr)

    paths = write_change_files(feed, str(tmp_path / "feed"), n_batches=3)
    runs = [("mor", 1), ("mor", 3), ("cow", 1)]
    for mode, concurrency in runs:
        calls.clear()
        table = LakeTable.create(
            spark, str(tmp_path / f"{mode}{concurrency}"), TABLE_SCHEMA,
            key=TRANSCRIPT_KEY, n_buckets=4, write_mode=mode,
        )
        metrics = CdcEngine(table).replay(paths, concurrency=concurrency)
        n = sum(not m["skipped"] for m in metrics)
        assert n == 3
        mor = mode == "mor"
        want = {
            "stage_delta": n if mor else 0,
            "commit_delta": n if mor else 0,
            "merge": 0 if mor else n,
            "normalize_payload": n,
            "dedup_max_lsn": n if mor else 0,
        }
        got = {attr: calls.get(attr, 0) for attr in want}
        assert got == want, (mode, concurrency)
