"""Column profiling — A2-A6 + the two-layer type system (SURVEY.md §1.2).

Produces the ``profiles`` DataFrame (PROFILE_SCHEMA): one row per column with
physical type, semantic type, cardinality stats and representative samples.
This is the engine's working representation of "a table's schema + content"
— the input to serialization, matching, and the CDC drift resolver.

Semantic type detection ports the decision procedure of
``detect_column_type`` (reference
``algorithms/magneto/magneto/utils/utils.py:131-186``), including its quirks
(e.g. a column where ANY value parses numeric is "numerical" — rule 1):

 1. any value numeric-parsable                      → numerical
 2. 'gene' in name                                  → gene
 3. 'date' in name                                  → date
 4. distinct/total > 0.8 and not float-typed        → key
 5. zero non-null uniques                           → unknown
 6. name starts/ends with a key-ish token           → key
 7. (float/int physical type                        → numerical)
 8. >90% of uniques numeric-parsable                → binary if uniques ⊆ {0,1}
                                                      else numerical
 9. exactly 2 uniques, both in BINARY_VALUES        → binary
10. otherwise                                       → categorical

Physical types map Spark dtypes → {date, varchar, int, float} like the
Valentine layer (reference ``utils/base_table.py:49-67``).

Execution shape (scale story): one typed aggregation scan for row-level stats
+ one melted groupBy for unique-level stats and samples — two jobs total for
ALL columns, no per-column scans, no collect of data rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from magneto_matcher_spark.functions.cleaning import BINARY_VALUES
from magneto_matcher_spark.operators.sampling import melt, samples_from_counts

#: key-ish name prefixes/suffixes (reference utils/constants.py:47-67 spirit).
KEY_REPRESENTATIONS = [
    "id",
    "identifier",
    "key",
    "uuid",
    "gid",
    "sid",
    "token",
    "serial",
    "code",
    "hash",
    "primary_key",
    "foreign_key",
    "access_key",
    "unique_id",
    "slug",
    "auth_token",
    "apikey",
    "object_id",
    "record_id",
]


def physical_type(dt: T.DataType) -> str:
    """Valentine physical type (reference base_table.py:49-67)."""
    if isinstance(dt, (T.DateType, T.TimestampType, T.TimestampNTZType)):
        return "date"
    if isinstance(dt, (T.IntegerType, T.LongType, T.ShortType, T.ByteType)):
        return "int"
    if isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
        return "float"
    return "varchar"


def _is_keyish_name(name: str) -> bool:
    low = name.lower()
    return any(low.startswith(rep) or low.endswith(rep) for rep in KEY_REPRESENTATIONS)


def profile_rows_multi(
    tables: list[tuple[DataFrame, str]],
    n_samples: int = 10,
    sample_mode: str = "mixed",
    key_threshold: float = 0.8,
    numeric_threshold: float = 0.90,
) -> dict[str, list[tuple]]:
    """Profile every column of every table → {table_name: PROFILE_SCHEMA
    tuples} in ONE Spark action.

    Physical shape (the 100 TB story): each table is melted to
    (table_name, col_name, value) INCLUDING nulls and unioned; a single
    ``groupBy(table, col, value).count()`` shuffle (map-side combined, so the
    shuffle carries ≤ distinct values, not rows) feeds everything —
    row-level fractions are cnt-weighted sums over the value groups,
    unique-level stats are plain aggregates over the groups, exact distinct
    counts are free (count of non-null groups; no count_distinct Expand), and
    the sampling window runs over the same frame.  One scan per table, one
    shuffle total, one collect of ~n_columns rows.

    Value semantics are STRING-world (values cast to string before testing
    numeric/datetime parsability) — matching the reference, which profiles
    CSV-loaded string data (utils.py:131-186).
    """
    spark = tables[0][0].sparkSession

    melted_parts = []
    phys: dict[tuple[str, str], str] = {}
    spine_rows = []
    for df, name in tables:
        for c in df.columns:
            phys[(name, c)] = physical_type(df.schema[c].dataType)
            spine_rows.append((name, c))
        melted_parts.append(
            melt(df).select(F.lit(name).alias("table_name"), "col_name", "value")
        )
    melted = melted_parts[0]
    for p in melted_parts[1:]:
        melted = melted.unionByName(p)

    gc = ["table_name", "col_name"]
    counts_all = melted.groupBy(*gc, "value").agg(F.count(F.lit(1)).alias("cnt"))

    nonnull = F.col("value").isNotNull()
    parsable = F.expr("try_cast(value as double)").isNotNull()
    dt_parsable = F.expr("try_to_timestamp(value)").isNotNull()
    percol_aggs = [
        F.sum("cnt").alias("n_rows"),
        F.coalesce(F.sum(F.when(nonnull, F.col("cnt"))), F.lit(0)).alias("nn"),
        F.count(F.when(nonnull, F.lit(1))).alias("nd"),
        F.max(F.when(nonnull, parsable).cast("int")).alias("anynum"),
        (
            F.coalesce(F.sum(F.when(parsable, F.col("cnt"))), F.lit(0))
            / F.sum("cnt")
        ).alias("numfrac"),
        (
            F.coalesce(F.sum(F.when(dt_parsable, F.col("cnt"))), F.lit(0))
            / F.sum("cnt")
        ).alias("dtfrac"),
        F.avg(F.when(nonnull, parsable.cast("int"))).alias("uniq_num_frac"),
        F.max(
            F.when(
                nonnull,
                F.when(
                    parsable, ~F.col("value").cast("double").isin([0.0, 1.0])
                ).otherwise(F.lit(False)),
            ).cast("int")
        ).alias("any_non01"),
        F.min(
            F.when(nonnull, F.lower(F.trim("value")).isin(BINARY_VALUES)).cast("int")
        ).alias("all_binary_vocab"),
    ]

    if sample_mode == "mixed":
        # Fused single-chain shape (guide §2.4 — operations keyed the same
        # way share one exchange): re-key the combined counts on (table,
        # col) ONCE; the sampling windows, the per-column stats aggregation
        # and the samples aggregation are all (table, col)-clustered, so no
        # further exchange appears and no subtree is evaluated twice.  The
        # previous shape ran percol and the sampler as two consumers of
        # counts_all (separately re-aggregated, 3 exchanges + duplicated
        # scan→melt→counts subtrees).  The re-keyed exchange carries
        # distinct-value rows (already map-side combined) — tiny at any
        # scale.  Null value-groups ride along for the stats aggregates, so
        # the window orderings pin them LAST (nonnull DESC leads every
        # ordering) — non-null ranks, and therefore the picked sample set,
        # are identical to the null-filtered sampler's.
        n_partitions = spark.sparkContext.defaultParallelism
        rekeyed = counts_all.repartition(n_partitions, *[F.col(c) for c in gc])
        by_col = Window.partitionBy(*[F.col(c) for c in gc])
        n_frequent = n_samples // 2
        n_diverse = n_samples - n_frequent
        freq_order = by_col.orderBy(
            nonnull.desc(), F.col("cnt").desc(), F.col("value")
        )
        val_order = by_col.orderBy(nonnull.desc(), F.col("value"))
        total_unique = F.coalesce(
            F.sum(F.when(nonnull, F.lit(1))).over(by_col), F.lit(0)
        )
        annotated = (
            rekeyed.withColumn("_total_unique", total_unique)
            .withColumn("_fr", F.row_number().over(freq_order))
            .withColumn("_vr", F.row_number().over(val_order))
        )
        stride = F.greatest(
            F.lit(1), F.floor(F.col("_total_unique") / F.lit(n_diverse))
        )
        small = F.col("_total_unique") <= n_samples
        picked = nonnull & (
            small
            | (F.col("_fr") <= n_frequent)
            | (
                ((F.col("_vr") - 1) % stride == 0)
                & (((F.col("_vr") - 1) / stride) < n_diverse)
            )
        )
        merged_stats = annotated.groupBy(*gc).agg(
            *percol_aggs,
            F.array_sort(
                F.collect_list(F.when(picked, F.col("value")))
            ).alias("samples"),
        )
        # no spine join needed: every column of a non-empty table has a
        # counts group (all-null columns melt to a null value-group), so
        # only empty-table columns are absent — defaulted driver-side below
        # exactly as the legacy left-join's all-null row was
        merged = merged_stats.collect()
    else:
        percol = counts_all.groupBy(*gc).agg(*percol_aggs)
        samples_df = samples_from_counts(
            counts_all.filter(nonnull),
            n=n_samples,
            mode=sample_mode,
            group_cols=tuple(gc),
        )
        # spine keeps all-null / empty-table columns present in the output
        from magneto_matcher_spark.localframe import local_df

        spine = local_df(spark, spine_rows, "table_name string, col_name string")
        merged = (
            spine.join(percol, gc, "left").join(samples_df, gc, "left").collect()
        )
    by_key = {(r["table_name"], r["col_name"]): r for r in merged}
    # empty-table columns have no counts group at all (and the fused path
    # carries no spine): an all-None row reproduces the left-join default
    import collections

    _absent = collections.defaultdict(lambda: None)

    out: dict[str, list[tuple]] = {name: [] for _, name in tables}
    for df, name in tables:
        for c in df.columns:
            r = by_key.get((name, c), _absent)
            n_rows = r["n_rows"] or 0
            nn = r["nn"] or 0
            nd = r["nd"] or 0
            distinct_ratio = (nd / n_rows) if n_rows else 0.0
            null_frac = 1.0 - (nn / n_rows) if n_rows else 1.0
            sem = _semantic_type(
                name=c,
                phys=phys[(name, c)],
                any_numeric=bool(r["anynum"]),
                n_distinct=nd,
                distinct_ratio=distinct_ratio,
                uniq_num_frac=(r["uniq_num_frac"] or 0.0),
                any_non01=bool(r["any_non01"]),
                all_binary_vocab=bool(r["all_binary_vocab"]),
                key_threshold=key_threshold,
                numeric_threshold=numeric_threshold,
            )
            out[name].append(
                (
                    name,
                    c,
                    phys[(name, c)],
                    sem,
                    n_rows,
                    nd,
                    float(distinct_ratio),
                    float(null_frac),
                    float(r["numfrac"] or 0.0),
                    float(r["dtfrac"] or 0.0),
                    list(r["samples"] or []),
                )
            )
    return out


def profile_rows(
    df: DataFrame,
    table_name: str,
    n_samples: int = 10,
    sample_mode: str = "mixed",
    key_threshold: float = 0.8,
    numeric_threshold: float = 0.90,
) -> list[tuple]:
    """Single-table convenience wrapper over :func:`profile_rows_multi`."""
    return profile_rows_multi(
        [(df, table_name)],
        n_samples=n_samples,
        sample_mode=sample_mode,
        key_threshold=key_threshold,
        numeric_threshold=numeric_threshold,
    )[table_name]


def profile_table(
    df: DataFrame,
    table_name: str,
    n_samples: int = 10,
    sample_mode: str = "mixed",
    key_threshold: float = 0.8,
    numeric_threshold: float = 0.90,
) -> DataFrame:
    """Profile every column of ``df`` → PROFILE_SCHEMA DataFrame (see
    :func:`profile_rows`)."""
    rows = profile_rows(
        df,
        table_name,
        n_samples=n_samples,
        sample_mode=sample_mode,
        key_threshold=key_threshold,
        numeric_threshold=numeric_threshold,
    )
    from magneto_matcher_spark.localframe import local_df
    from magneto_matcher_spark.schemas import PROFILE_SCHEMA

    # LocalTableScan: one row per column — downstream ops (serialize, embed,
    # kNN) stay single-partition and broadcastable
    return local_df(df.sparkSession, rows, PROFILE_SCHEMA)


def _semantic_type(
    name: str,
    phys: str,
    any_numeric: bool,
    n_distinct: int,
    distinct_ratio: float,
    uniq_num_frac: float,
    any_non01: bool,
    all_binary_vocab: bool,
    key_threshold: float,
    numeric_threshold: float,
) -> str:
    if any_numeric:
        return "numerical"
    low = name.lower()
    if "gene" in low:
        return "gene"
    if "date" in low:
        return "date"
    if distinct_ratio > key_threshold and phys != "float":
        return "key"
    if n_distinct == 0:
        return "unknown"
    if _is_keyish_name(name):
        return "key"
    if phys in ("int", "float"):
        return "numerical"
    if n_distinct and uniq_num_frac > numeric_threshold:
        if n_distinct > 2 or any_non01:
            return "numerical"
        return "binary"
    if n_distinct == 2 and all_binary_vocab:
        return "binary"
    return "categorical"


def type2columns_map(profiles: DataFrame) -> DataFrame:
    """A6 (reference utils.py:189-204): sem_type → list of columns."""
    return profiles.groupBy("sem_type").agg(
        F.array_sort(F.collect_list("col_name")).alias("columns")
    )
