"""Property-based invariants (hypothesis) — SURVEY.md §5.2.

LSN permutation invariance: any delivery order / any batch split of the same
event set yields the same final state, because the state is a pure function
of the per-key max-LSN winner.  Uses a single module-scoped Spark session and
small event universes so each example runs in milliseconds of planning.
"""

import datetime

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from magneto_matcher_spark.plans.apply import apply_batch_to_frame
from magneto_matcher_spark.schemas import CHANGE_FEED_SCHEMA, TRANSCRIPTS_SCHEMA

from pyspark.sql import functions as F

# one event = (key_idx 0..3, op) ; lsn = position in list
_events = st.lists(
    st.tuples(st.integers(0, 3), st.sampled_from(["I", "U", "D"])),
    min_size=1,
    max_size=12,
)


def _to_rows(events):
    rows = []
    for lsn, (key, op) in enumerate(events):
        rows.append(
            (
                lsn, op, f"c{key}", 0, "user", f"text-{lsn}", None,
                datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=lsn),
            )
        )
    return rows


def _oracle(rows):
    state = {}
    for r in sorted(rows, key=lambda r: r[0]):
        k = (r[2], r[3])
        if r[1] == "D":
            state.pop(k, None)
        else:
            state[k] = (r[5], r[0])
    return state


def _empty(spark):
    base = spark.createDataFrame([], TRANSCRIPTS_SCHEMA)
    return base.withColumn("lsn", F.lit(None).cast("long"))


def _final(spark, rows, n_batches, permutation_seed, keep_tombstones):
    import random

    shuffled = list(rows)
    random.Random(permutation_seed).shuffle(shuffled)
    if not keep_tombstones:
        # contract mode: batches are per-key LSN-ordered (the change feed
        # writes LSN-contiguous ranges); shuffle only WITHIN batches
        shuffled.sort(key=lambda r: r[0])
    state = _empty(spark)
    span = max(1, (len(shuffled) + n_batches - 1) // n_batches)
    for b in range(n_batches):
        chunk = shuffled[b * span : (b + 1) * span]
        if not chunk:
            continue
        if not keep_tombstones:
            chunk = list(chunk)
            random.Random(permutation_seed + b).shuffle(chunk)
        batch = spark.createDataFrame(chunk, CHANGE_FEED_SCHEMA)
        state = apply_batch_to_frame(state, batch, keep_tombstones=keep_tombstones)
        state = spark.createDataFrame(state.collect(), state.schema)
    visible = state
    if "op" in visible.columns:
        visible = visible.filter(F.col("op") != "D")
    return {
        (r["conv_id"], r["turn_idx"]): (r["text"], r["lsn"])
        for r in visible.collect()
    }


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(events=_events, seed=st.integers(0, 10_000), n_batches=st.integers(1, 4))
def test_lsn_permutation_invariance(spark, events, seed, n_batches):
    """Shuffled delivery + ARBITRARY batch split == sequential oracle.

    Batches here are arbitrary subsets (not LSN-contiguous), STRONGER than the
    generator contract, so the tombstone-retaining merge is required: without
    tombstones an older 'U' delivered after a 'D' would resurrect the key
    (the lake layer's MoR delete deltas give the same guarantee)."""
    rows = _to_rows(events)
    expected = {k: v for k, v in _oracle(rows).items()}
    got = _final(spark, rows, n_batches, seed, keep_tombstones=True)
    assert got == expected


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(events=_events, seed=st.integers(0, 10_000), n_batches=st.integers(1, 4))
def test_contract_mode_contiguous_batches(spark, events, seed, n_batches):
    """Default (tombstone-free) merge: LSN-contiguous batch splits with
    arbitrary WITHIN-batch order == sequential oracle — exactly the change
    feed's delivery contract."""
    rows = _to_rows(events)
    expected = {k: v for k, v in _oracle(rows).items()}
    got = _final(spark, rows, n_batches, seed, keep_tombstones=False)
    assert got == expected


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(events=_events, write_mode=st.sampled_from(["cow", "mor"]))
def test_bucket_transform_equivalence(spark, events, write_mode):
    """The bucket transform is LAYOUT, not semantics: replaying a feed into a
    keyhash table (one-exchange aligned writes) must produce the sequential
    oracle's resolved final state, for both write modes."""
    import tempfile
    import shutil

    from pyspark.sql import types as T

    from magneto_matcher_spark.schemas import TRANSCRIPT_KEY
    from magneto_matcher_spark.sources.lake import LakeTable

    rows = _to_rows(events)
    batch_schema = CHANGE_FEED_SCHEMA
    schema = T.StructType(
        [f for f in batch_schema.fields if f.name != "op"]
    )
    tmp = tempfile.mkdtemp(prefix="transform_eq_")
    try:
        t = LakeTable.create(
            spark, f"{tmp}/keyhash_{write_mode}", schema,
            key=TRANSCRIPT_KEY, n_buckets=4, write_mode=write_mode,
        )
        t.merge(spark.createDataFrame(rows, batch_schema))
        state = {
            (r["conv_id"], r["turn_idx"]): (r["text"], r["lsn"])
            for r in t.read().collect()
        }
        assert state == _oracle(rows)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    events=_events,
    wide_from=st.integers(0, 12),
    n_batches=st.integers(1, 4),
    write_mode=st.sampled_from(["cow", "mor"]),
)
def test_type_promotion_timing_invariance(
    spark, events, wide_from, n_batches, write_mode
):
    """Type widening is timing-invariant: whichever batch first delivers the
    widened column (int→long `hits`, values beyond int32), the final state
    equals the sequential oracle and later narrow-typed batches upcast
    cleanly.  Exercises the mixed-schema-id read path (old narrow files cast
    up per field ID) under both merge modes."""
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from magneto_matcher_spark.schemas import TRANSCRIPT_KEY
    from magneto_matcher_spark.sources.lake import LakeTable
    from magneto_matcher_spark.streaming.engine import CdcEngine

    rows = _to_rows(events)

    def hit(lsn):
        return lsn if lsn < wide_from else (1 << 40) + lsn

    base_fields = list(CHANGE_FEED_SCHEMA.fields)
    narrow_schema = T.StructType(
        base_fields + [T.StructField("hits", T.IntegerType())]
    )
    wide_schema = T.StructType(
        base_fields + [T.StructField("hits", T.LongType())]
    )
    table_schema = T.StructType(
        [f for f in base_fields if f.name != "op"]
        + [T.StructField("hits", T.IntegerType())]
    )
    root = tempfile.mkdtemp(prefix="promo_prop_")
    try:
        table = LakeTable.create(
            spark, f"{root}/t", table_schema, key=TRANSCRIPT_KEY,
            n_buckets=4, write_mode=write_mode,
        )
        engine = CdcEngine(table)
        span = max(1, (len(rows) + n_batches - 1) // n_batches)
        for b in range(n_batches):
            chunk = rows[b * span : (b + 1) * span]
            if not chunk:
                continue
            # one parquet batch has ONE physical type: the producer widens
            # the whole batch as soon as it contains any wide row
            wide = any(r[0] >= wide_from for r in chunk)
            schema = wide_schema if wide else narrow_schema
            engine.apply_batch(
                spark.createDataFrame(
                    [r + (hit(r[0]),) for r in chunk], schema
                ),
                source_desc=f"b{b}",
            )
        expected = {
            k: (text, lsn, hit(lsn))
            for k, (text, lsn) in _oracle(rows).items()
        }
        got = {
            (r["conv_id"], r["turn_idx"]): (r["text"], r["lsn"], r["hits"])
            for r in table.read().collect()
        }
        assert got == expected
        if any(r[0] >= wide_from for r in rows):
            assert dict(table.read().dtypes)["hits"] == "bigint"
    finally:
        shutil.rmtree(root, ignore_errors=True)
