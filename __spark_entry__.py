"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json). Fill these in
as you implement operators from SURVEY.md §2.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: CDC replay over the sf0.001 `events` table.

    Treats `events` as a binlog — key (user_id, event_type), LSN surrogate
    event_id, op derived deterministically from the row — and applies the
    engine's normalize → max-LSN dedup → MERGE pipeline, returning the final
    table state ordered by key (FIXTURES.md F5 mapping).
    """
    from magneto_matcher_spark.plans.apply import dedup_max_lsn

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    feed = events.select(
        F.col("event_id").alias("lsn"),
        F.when(F.pmod(F.col("event_id"), F.lit(10)) < 1, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        "user_id",
        "event_type",
        "ts",
        "value",
        "props",
    )
    winners = dedup_max_lsn(feed, key=["user_id", "event_type"], lsn_col="lsn")
    return winners.filter(F.col("op") != "D").orderBy("user_id", "event_type")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 — see
    magneto_matcher_spark/queries.py for the registry."""
    from magneto_matcher_spark.queries import build_queries

    return build_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB oracles for the SQL-expressible subset of ``queries()`` — 83
    of 91 entries, including provable operating points for the MinHash-LSH /
    SimHash / IVF / embedding-LSH / ANN-LSH families; only genuinely
    hash-valued outputs (xxhash64 feature embeddings, the approximate
    general-point ANN/dedup tiers, multimodal decode) stay rows-only by
    contract."""
    from magneto_matcher_spark.queries import build_oracles

    return build_oracles()
