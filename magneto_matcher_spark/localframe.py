"""Metadata-sized DataFrame construction that planners can see through.

``spark.createDataFrame(list_of_tuples)`` builds an RDD-backed frame ("Scan
ExistingRDD"): defaultParallelism near-empty partitions, NO size statistics,
and every action pays a Python-worker round trip to re-serialize the rows.
Two such frames cross-joined plan a CartesianProduct with 32x32 = 1024 tasks
(~19 s for a 200-pair column-name join measured on this box).

Going through pandas+Arrow instead yields a LocalTableScan: single partition,
known size, broadcast-joinable, and collect() short-circuits driver-side —
the same 200-pair cross join drops to ~0.1 s.  Every metadata-sized frame in
the engine (column-name lists, profiles, candidate/match sets, fixtures)
should be built with :func:`local_df`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def local_df(spark: SparkSession, rows: list, schema) -> DataFrame:
    """Build a LocalTableScan-backed DataFrame from driver-side rows.

    ``schema``: StructType, DDL string ("a string, b int"), or a list of
    column names (types inferred by Arrow).  Handles empty ``rows``.
    """
    import pandas as pd

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)  # noqa: SLF001
    if isinstance(schema, T.StructType):
        names = schema.fieldNames()
    else:  # list of column names
        names = list(schema)
        if not rows:
            raise ValueError("empty rows need an explicit typed schema")
        schema = None

    if not rows:
        # PySpark builds an empty pandas frame as an RDD scan; an empty
        # Arrow table stays a LocalRelation
        from pyspark.sql.pandas.types import to_arrow_schema

        return spark.createDataFrame(to_arrow_schema(schema).empty_table(), schema)
    pdf = pd.DataFrame(list(rows), columns=names)
    if schema is not None:
        return spark.createDataFrame(pdf, schema=schema)
    return spark.createDataFrame(pdf)
