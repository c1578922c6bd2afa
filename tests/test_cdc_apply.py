"""Phase-1 slice tests: normalize → max-LSN dedup → MERGE over plain frames,
compared against a sequential per-event pandas/Python oracle (SURVEY.md §5.2,
north-rule invariant M7)."""

import pytest
from pyspark.sql import functions as F

from magneto_matcher_spark.plans.apply import (
    apply_batch_to_frame,
    dedup_max_lsn,
    final_state_view,
    merge_into_frame,
    normalize_payload,
)
from magneto_matcher_spark.schemas import TRANSCRIPTS_SCHEMA, TRANSCRIPT_KEY
from magneto_matcher_spark.sources.changefeed import generate_change_feed

from tests.conftest import sequential_replay_oracle


def _empty_target(spark):
    base = spark.createDataFrame([], TRANSCRIPTS_SCHEMA)
    return base.withColumn("lsn", F.lit(None).cast("long"))


def _state_to_dict(state_df):
    rows = state_df.collect()
    return {
        (r["conv_id"], r["turn_idx"]): {
            "role": r["role"],
            "text": r["text"],
            "tool": r["tool"],
            "lsn": r["lsn"],
        }
        for r in rows
    }


def _oracle_to_dict(events):
    oracle = sequential_replay_oracle(events)
    return {
        k: {"role": v["role"], "text": v["text"], "tool": v["tool"], "lsn": v["lsn"]}
        for k, v in oracle.items()
    }


@pytest.fixture(scope="module")
def small_feed(spark):
    feed = generate_change_feed(
        spark, n_events=2000, n_convs=10, turns_per_conv=5, seed=42, hot_frac=0.3
    )
    return feed.cache()


def test_feed_deterministic_across_partitionings(spark):
    a = generate_change_feed(spark, 500, n_convs=7, turns_per_conv=4, n_partitions=1)
    b = generate_change_feed(spark, 500, n_convs=7, turns_per_conv=4, n_partitions=13)
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_feed_invariants(small_feed):
    rows = small_feed.collect()
    assert len(rows) == 2000
    assert len({r["lsn"] for r in rows}) == 2000
    first_op = {}
    for r in sorted(rows, key=lambda r: r["lsn"]):
        k = (r["conv_id"], r["turn_idx"])
        if k not in first_op:
            first_op[k] = r["op"]
    assert set(first_op.values()) == {"I"}
    # hot-key mode concentrated traffic on conv 0
    hot = sum(1 for r in rows if r["conv_id"] == "conv000000")
    assert hot > 0.25 * len(rows)


@pytest.mark.parametrize("n_partitions", [None, 4])
def test_dedup_max_lsn_matches_oracle(small_feed, n_partitions):
    winners = dedup_max_lsn(small_feed, n_partitions=n_partitions).collect()
    expected = {}
    for r in small_feed.collect():
        k = (r["conv_id"], r["turn_idx"])
        if k not in expected or r["lsn"] > expected[k]["lsn"]:
            expected[k] = r
    assert len(winners) == len(expected)
    for r in winners:
        assert r.asDict() == expected[(r["conv_id"], r["turn_idx"])].asDict()


def test_single_batch_apply_matches_sequential_oracle(spark, small_feed):
    state = apply_batch_to_frame(_empty_target(spark), small_feed)
    events = [r.asDict() for r in small_feed.collect()]
    assert _state_to_dict(state) == _oracle_to_dict(events)


@pytest.mark.parametrize("n_batches", [1, 3, 7])
def test_multi_batch_replay_equals_single_batch(spark, small_feed, n_batches):
    """North-rule M7: replay in 1 batch vs k batches yields identical state."""
    events = [r.asDict() for r in small_feed.collect()]
    expected = _oracle_to_dict(events)

    state = _empty_target(spark)
    span = (2000 + n_batches - 1) // n_batches
    for b in range(n_batches):
        batch = small_feed.filter(
            (F.col("lsn") >= b * span) & (F.col("lsn") < (b + 1) * span)
        )
        state = apply_batch_to_frame(state, batch)
        # materialize between batches like foreachBatch does
        state = spark.createDataFrame(state.collect(), state.schema)
    assert _state_to_dict(state) == expected


def test_replay_is_idempotent(spark, small_feed):
    """Re-applying an already-applied batch is a no-op (lsn guard in MERGE)."""
    state1 = apply_batch_to_frame(_empty_target(spark), small_feed)
    state1 = spark.createDataFrame(state1.collect(), state1.schema)
    state2 = apply_batch_to_frame(state1, small_feed)
    assert _state_to_dict(state2) == _state_to_dict(state1)


def test_out_of_order_delivery_within_batch(spark, small_feed):
    """LSN permutation invariance: delivery order never matters."""
    shuffled = small_feed.orderBy(F.xxhash64(F.lit(99), F.col("lsn"))).repartition(11)
    state = apply_batch_to_frame(_empty_target(spark), shuffled)
    events = [r.asDict() for r in small_feed.collect()]
    assert _state_to_dict(state) == _oracle_to_dict(events)


@pytest.mark.parametrize("keep_tombstones", [False, True])
def test_apply_plan_is_one_aggregation_no_join(spark, small_feed, keep_tombstones):
    """The frame-level MERGE is the kernel's union → max_by aggregation:
    no Join anywhere in the executed plan."""
    state = apply_batch_to_frame(_empty_target(spark), small_feed)
    state = spark.createDataFrame(state.collect(), state.schema)
    out = apply_batch_to_frame(state, small_feed, keep_tombstones=keep_tombstones)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "max_by" in plan


def test_delete_then_reinsert_across_batches(spark):
    import datetime

    def ev(lsn, op, conv, turn, text):
        return (lsn, op, conv, turn, "user", text, None,
                datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=lsn))

    from magneto_matcher_spark.schemas import CHANGE_FEED_SCHEMA

    b1 = spark.createDataFrame(
        [ev(1, "I", "c1", 0, "hello"), ev(2, "D", "c1", 0, "hello")],
        CHANGE_FEED_SCHEMA,
    )
    b2 = spark.createDataFrame([ev(3, "I", "c1", 0, "hello again")], CHANGE_FEED_SCHEMA)
    state = apply_batch_to_frame(_empty_target(spark), b1)
    assert state.count() == 0
    state = apply_batch_to_frame(state, b2)
    rows = state.collect()
    assert len(rows) == 1 and rows[0]["text"] == "hello again"


def test_normalize_payload_null_domain(spark):
    import datetime

    from magneto_matcher_spark.schemas import CHANGE_FEED_SCHEMA

    df = spark.createDataFrame(
        [(1, "I", "c1", 0, "USER ", "  hi  ", "Not Reported",
          datetime.datetime(2024, 1, 1))],
        CHANGE_FEED_SCHEMA,
    )
    row = normalize_payload(df).collect()[0]
    assert row["tool"] is None
    assert row["role"] == "user"
    assert row["text"] == "hi"


def test_final_state_view_ordering(spark, small_feed):
    state = apply_batch_to_frame(_empty_target(spark), small_feed)
    out = final_state_view(state).collect()
    keys = [(r["conv_id"], r["turn_idx"]) for r in out]
    assert keys == sorted(keys)
