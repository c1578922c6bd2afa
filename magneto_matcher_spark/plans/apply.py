"""The CDC batch-apply plan — the heart of the engine (SURVEY.md §3.4).

Per micro-batch: normalize payload (P8-style expressions, no per-row Python) →
max-LSN dedup per (conv_id, turn_idx) → MERGE into the current table state.

Dedup strategies (all semantically identical; tests assert equality):

- ``window``  — the literal north-star shape: ``row_number() over (partition by
  conv_id, turn_idx order by lsn desc) = 1``.  One full shuffle of every row of
  the batch; a hot conversation key lands on one task.
- ``agg``     — ``groupBy(key).agg(max_by(payload, lsn))``.  Same answer, but
  Catalyst plans it as partial + final aggregation: with a free layout the
  partial half combines hot keys map-side BELOW the exchange; with the
  keyhash pin (``n_partitions``) the explicit repartition IS the exchange
  and both halves sit above it — one exchange of raw rows, combine after
  the wire (the measured one-exchange tradeoff; see merge_into_frame's
  plan-shape note).  This is the scale-default.
- ``salted``  — the explicit two-phase version of ``agg`` for when the payload
  is too wide for map-side combine to help (wide rows blow the hash-agg memory
  budget and spill): add ``salt = pmod(xxhash64(lsn), n_salts)``, take the
  per-(key, salt) winner, then the global per-key winner.  Winner is global,
  not per-salt — max is associative, so two-phase max_by is exact.

At 100 TB: the batch is the small side; dedup is the only full shuffle of the
batch and it shrinks the batch to ≤ |keys| rows *before* the MERGE aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

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


def dedup_max_lsn(
    batch: DataFrame,
    key: list[str] | None = None,
    lsn_col: str = "lsn",
    strategy: str = "agg",
    n_salts: int = 32,
    n_partitions: int | None = None,
) -> DataFrame:
    """W4 (SURVEY.md §2.5): keep only the max-LSN event per key.

    Returns a DataFrame with the same schema as ``batch``, ≤ one row per key.

    ``n_partitions`` pins the FINAL exchange to ``repartition(n, *key)``
    (which satisfies the agg/window distribution, so no extra exchange
    appears).  With a keyhash-bucketed table and ``n = n_buckets``, the
    dedup shuffle IS the bucket layout — partition p holds exactly bucket
    p's rows (see sources/lake.py bucket_expr_keyhash) and the delta/merge
    write skips its own repartition.
    """
    key = key or TRANSCRIPT_KEY

    def pin(df: DataFrame) -> DataFrame:
        if n_partitions is None:
            return df
        return df.repartition(n_partitions, *[F.col(c) for c in key])

    if strategy == "window":
        w = Window.partitionBy(*key).orderBy(F.col(lsn_col).desc())
        return (
            pin(batch).withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    payload_cols = list(batch.columns)

    # Per-column max_by, NOT max_by(struct(payload), lsn): a struct-typed
    # aggregation buffer is immutable, which forces the whole aggregate into
    # SortAggregate (two full sorts of every batch row — measured 0.37 s vs
    # 0.26 s on a 1M-row feed); per-column buffers are scalars, so columns
    # the caller never reads (e.g. a string op) are PRUNED by Catalyst and
    # the all-primitive remainder runs as a partial+final HashAggregate.
    # Exact under the engine's WAL contract (LSN unique per key, stamp_root
    # total order): every max_by shares the one ordering column, so all
    # columns come from the same winning row; equal-LSN rows are exact
    # redeliveries (identical payloads), for which column mixing is a no-op
    # — the struct form was equally order-nondeterministic there.
    def winners(src: DataFrame, group: list[str], order_col: str) -> DataFrame:
        aggs = [
            F.max(order_col).alias(c)
            if c == order_col
            else F.max_by(F.col(c), F.col(order_col)).alias(c)
            for c in payload_cols
            if c not in group
        ]
        return src.groupBy(*group).agg(*aggs).select(*payload_cols)

    if strategy == "agg":
        return winners(pin(batch), key, lsn_col)

    if strategy == "salted":
        # phase 1: per-(key, salt) winner — salt spreads a hot key's rows over
        # n_salts reducers; phase 2: global winner per key. Exact because max
        # is associative (SURVEY.md §4 custom-work item 2).
        salted = batch.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col(lsn_col)), F.lit(n_salts))
        )
        phase1 = winners(
            salted.repartition(*[F.col(c) for c in key + ["_salt"]]),
            key + ["_salt"],
            lsn_col,
        )
        return winners(pin(phase1), key, lsn_col)

    raise ValueError(f"unknown dedup strategy: {strategy}")


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

    as ONE aggregation: (target ∪ batch) → ``max_by(row, struct(lsn,
    is_target))`` per key.  Both sides carry ``target``'s columns, ``op``
    included; delete winners stay in the output as ``op='D'`` tombstones, so
    a stale 'U' below a delete's LSN cannot resurrect the key.  The
    ``is_target`` tiebreak keeps the stored row on an equal-LSN redelivery
    (replay is idempotent), and the batch need not be deduped: the same
    aggregation is the within-batch max-LSN dedup.

    ``n_partitions`` pins the exchange to ``repartition(n, *key)``, which
    satisfies the groupBy's distribution, so with ``n = n_buckets`` the
    table rewrite adds no repartition — ONE exchange for dedup + merge +
    bucket layout.  Both aggregate halves then sit above that exchange (rows cross
    the wire un-combined); measured ~1.6x faster on delta writes than
    combining below a default exchange and shuffling again to the bucket
    layout.  Hot-key batches route to the salted dedup first."""
    key = key or TRANSCRIPT_KEY
    cols = target.columns
    unioned = target.withColumn("_tgt", F.lit(1)).unionByName(
        batch.select(*cols).withColumn("_tgt", F.lit(0))
    )
    if n_partitions is not None:
        unioned = unioned.repartition(n_partitions, *[F.col(c) for c in key])
    payload = F.struct(*[F.col(c) for c in cols])
    order = F.struct(F.col(lsn_col), F.col("_tgt"))
    return (
        unioned.groupBy(*key)
        .agg(F.max_by(payload, order).alias("_w"))
        .select([F.col(f"_w.{c}").alias(c) for c in cols])
    )


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
