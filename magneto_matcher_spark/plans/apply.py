"""The CDC batch-apply plan — the heart of the engine (SURVEY.md §3.4).

Per micro-batch: normalize payload (P8-style expressions, no per-row Python) →
max-LSN dedup per (conv_id, turn_idx) → MERGE into the current table state.

Every lake plan picks each key's winner with one window selection
(:func:`_keep_first`, ``row_number() over (partition by key order by lsn
desc) = 1``): the CoW MERGE (:func:`merge_into_frame`, which also orders by
``is_target desc`` so the stored row wins ties), the MoR stage, the MoR read
and compaction (:func:`dedup_max_lsn` over string payloads).  With the
keyhash pin (``n_partitions``) the explicit repartition IS the window's
exchange — one exchange of raw rows, each bucket in one task.  Only an
all-fixed-width dedup (registry queries) runs per-column ``max_by`` as a
``HashAggregate``, which is cheaper there.  Rejected forms (ROADMAP item
1): a hash ``max(lsn)`` joined back to the batch (slower, and the join
re-shuffles, losing one file per bucket), ``max_by`` over a struct (an
interpreted ``SortAggregate``), and a two-phase salted form (slower on a
50%-hot-key feed; it survives only as the ``w4_salted_dedup`` query).

At 100 TB: the batch is the small side; dedup is the only full shuffle of the
batch and it shrinks the batch to ≤ |keys| rows *before* the MERGE.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from magneto_matcher_spark.functions.cleaning import null_normalize_expr
from magneto_matcher_spark.schemas import TRANSCRIPT_KEY


def normalize_payload(batch: DataFrame) -> DataFrame:
    """Payload normalization, expression-only (north rule: "Arrow-vectorized
    pandas UDFs for payload normalization — no per-row Python"; pure Catalyst
    expressions are the even-faster path and used wherever the semantics fit,
    per SURVEY.md §2.2 P8).

    - domain-null strings in ``tool`` / ``role`` → NULL (P5)
    - ``text`` trailing/leading whitespace trimmed
    - key columns cast to canonical types
    """
    cols = {f.name for f in batch.schema.fields}
    out = batch
    if "tool" in cols:
        out = out.withColumn("tool", null_normalize_expr(F.col("tool")))
    if "role" in cols:
        out = out.withColumn("role", F.lower(F.trim(F.col("role"))))
    if "text" in cols:
        out = out.withColumn("text", F.trim(F.col("text")))
    if "turn_idx" in cols:
        out = out.withColumn("turn_idx", F.col("turn_idx").cast("int"))
    if "lsn" in cols:
        out = out.withColumn("lsn", F.col("lsn").cast("long"))
    return out


#: types an aggregation buffer can hold in place in an ``UnsafeRow`` (Spark's
#: ``UnsafeRow.isMutable``): a ``max_by`` over only these plans as a
#: codegen'd ``HashAggregate``; any other type forces ``SortAggregate``.
_FIXED_WIDTH = (
    T.BooleanType, T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType, T.DateType, T.TimestampType,
    T.TimestampNTZType,
)


def dedup_max_lsn(
    batch: DataFrame,
    key: list[str] | None = None,
    lsn_col: str = "lsn",
    n_partitions: int | None = None,
) -> DataFrame:
    """W4 (SURVEY.md §2.5): keep only the max-LSN event per key.

    Returns a DataFrame with the same schema as ``batch``, ≤ one row per key.

    ``n_partitions`` pins the exchange to ``repartition(n, *key)`` (which
    satisfies the dedup's distribution, so no extra exchange appears).
    With a keyhash-bucketed table and ``n = n_buckets``, the dedup shuffle
    IS the bucket layout — each bucket's rows are in exactly one task (see
    sources/lake.py bucket_expr_keyhash) and the delta/merge write skips its
    own repartition, running the dedup and the write in at most one task
    per core.

    The physical form follows the non-key column types:

    - **all fixed-width** (``_FIXED_WIDTH``): per-column ``max_by``, a
      codegen'd partial+final ``HashAggregate``.  Every ``max_by`` shares the
      one ordering column, so all columns come from the same winning row
      under the WAL contract (LSN unique per key).  On ``w4_max_lsn_dedup``
      at sf0.1 (7,500 winners) the window form took 0.37 s against 0.25 s
      (0.62 against 0.59 JVM CPU-s), hence the split.
    - **any variable-width column** (the engine's string payloads): the
      window selection :func:`_keep_first`, never the interpreted
      ``SortAggregate`` that string ``max_by`` buffers force.  Ties on the
      max LSN keep exactly one whole input row.

    Null LSNs lose in both forms: a key resolves to its max non-null-LSN
    row.  A key whose LSNs are all null gets its key with every other
    column null from ``max_by``, and one of its rows from the window (the
    engine rejects null LSNs before it dedups).
    """
    key = key or TRANSCRIPT_KEY
    if n_partitions is not None:
        batch = batch.repartition(n_partitions, *[F.col(c) for c in key])
    payload = [f for f in batch.schema.fields if f.name not in key]
    if all(isinstance(f.dataType, _FIXED_WIDTH) for f in payload):
        aggs = [
            F.max(lsn_col).alias(f.name)
            if f.name == lsn_col
            else F.max_by(F.col(f.name), F.col(lsn_col)).alias(f.name)
            for f in payload
        ]
        return batch.groupBy(*key).agg(*aggs).select(*batch.columns)
    return _keep_first(batch, key, F.col(lsn_col).desc())


def _keep_first(frame: DataFrame, key: list[str], *order: Column) -> DataFrame:
    """Each key's first row under ``order`` (descending sorts put nulls
    last): ``row_number() over (partition by key order by ...) = 1``,
    planned as ``Sort`` + ``WindowGroupLimit`` + ``Window``."""
    w = Window.partitionBy(*key).orderBy(*order)
    return (
        frame.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def merge_into_frame(
    target: DataFrame,
    batch: DataFrame,
    key: list[str] | None = None,
    lsn_col: str = "lsn",
    n_partitions: int | None = None,
) -> DataFrame:
    """J6: THE MERGE kernel — the CoW lake merge (``LakeTable.merged_frame``)
    and :func:`apply_batch_to_frame` both run it.

        MERGE INTO target t USING batch s ON <key>
        WHEN MATCHED AND s.op = 'D' AND s.lsn > t.lsn THEN DELETE
        WHEN MATCHED AND s.lsn > t.lsn THEN UPDATE SET *
        WHEN NOT MATCHED AND s.op != 'D' THEN INSERT *

    as ONE window selection: (target ∪ batch) → each key's first row by
    ``lsn desc, is_target desc`` (:func:`_keep_first`, the same selection as
    :func:`dedup_max_lsn` over string payloads).  Both sides carry
    ``target``'s columns, ``op`` included; delete winners stay in the output
    as ``op='D'`` tombstones, so a stale 'U' below a delete's LSN cannot
    resurrect the key.  The ``is_target`` tiebreak keeps the stored row on
    an equal-LSN redelivery (replay is idempotent), and the batch need not
    be deduped: the same selection is the within-batch max-LSN dedup.  Ties
    inside the batch keep one whole input row; null LSNs sort last, so a
    key whose LSNs are all null keeps the stored row.

    ``n_partitions`` pins the exchange to ``repartition(n, *key)``, which
    satisfies the window's distribution, so with ``n = n_buckets`` each
    bucket's rows are in exactly one task and the table rewrite adds no
    repartition — ONE exchange for dedup + merge + bucket layout, with the
    merge and the write in at most one task per core.  The whole selection
    then sits above that exchange (rows cross the wire un-combined);
    measured ~1.6x faster on delta writes than combining below a default
    exchange and shuffling again to the bucket layout."""
    key = key or TRANSCRIPT_KEY
    cols = target.columns
    unioned = target.withColumn("_tgt", F.lit(1)).unionByName(
        batch.select(*cols).withColumn("_tgt", F.lit(0))
    )
    if n_partitions is not None:
        unioned = unioned.repartition(n_partitions, *[F.col(c) for c in key])
    return _keep_first(
        unioned, key, F.col(lsn_col).desc(), F.col("_tgt").desc()
    ).drop("_tgt")


def apply_batch_to_frame(
    target: DataFrame,
    batch: DataFrame,
    key: list[str] | None = None,
    keep_tombstones: bool = False,
) -> DataFrame:
    """Phase-1 end-to-end slice: normalize → :func:`merge_into_frame`;
    returns the new state (an op-less ``target`` reads as all-'U').

    ``keep_tombstones=False`` (the contract path: batches arrive in per-key
    LSN order) drops deleted keys and ``op``.  ``keep_tombstones=True``
    keeps delete winners as ``op='D'`` rows (:func:`final_state_view` hides
    them), which makes the merge invariant under ANY partition of the event
    set into batches."""
    if "op" not in target.columns:
        target = target.withColumn("op", F.lit("U"))
    merged = merge_into_frame(target, normalize_payload(batch), key=key)
    if keep_tombstones:
        return merged
    return merged.filter(F.col("op") != F.lit("D")).drop("op")


def final_state_view(state: DataFrame) -> DataFrame:
    """W7: stable output ordering for equality checks — user-facing transcript
    columns ordered by (conv_id, turn_idx); tombstone rows (op='D') hidden."""
    if "op" in state.columns:
        state = state.filter(F.col("op") != F.lit("D"))
    cols = [c for c in state.columns if c not in ("op",)]
    return state.select(*cols).orderBy("conv_id", "turn_idx")
