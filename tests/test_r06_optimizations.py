"""Focused pins for the r06 optimization round: every operator whose
INTERNALS changed for performance must still produce bit-identical results
to its previous formulation (the round contract — optimizations must not
change what any query computes).

Covered here (beyond the full-oracle gate, which hash-checks the query
surface): the numpy SimHash signature kernel vs the 64-aggregate reference
formulation, the in-array pair expansion vs a self-join, the regexp_count
text kernels vs the split-array kernels, the fused mixed-mode profiler vs
the legacy two-consumer shape, the dedup_embedding_both fixture
assumption (r05 ADVICE #2), and cdc_replay_final_state's lsn-based delete
filter (r06 ADVICE #5)."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"
SF001_DIR = os.path.join(os.path.dirname(SF_DIR), "sf0.01")


def test_simhash_signatures_match_aggregate_formulation(spark):
    """The collect_list + numpy signing kernel must equal the original
    64-codegen-sum-aggregate formulation bit for bit."""
    from magneto_matcher_spark.operators.dedup import (
        simhash_signatures,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = {r["id"]: list(r["bits"]) for r in simhash_signatures(docs).collect()}

    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda t: t != ""
    )
    ex = docs.select(F.col("doc_id").alias("id"), F.explode(toks).alias("t")).withColumn(
        "h", F.xxhash64(F.col("t"))
    )
    aggs = [
        F.sum(F.when(F.getbit(F.col("h"), F.lit(b)) == 1, 1).otherwise(-1)).alias(
            f"_b{b}"
        )
        for b in range(64)
    ]
    ref = (
        ex.groupBy("id")
        .agg(*aggs)
        .select(
            "id",
            F.array(*[(F.col(f"_b{b}") > 0).cast("int") for b in range(64)]).alias(
                "bits"
            ),
        )
    )
    want = {r["id"]: list(r["bits"]) for r in ref.collect()}
    assert got == want and len(got) > 0


def test_bucket_pairs_expr_is_all_unordered_pairs(spark):
    from magneto_matcher_spark.operators.dedup import bucket_pairs_expr

    df = spark.createDataFrame([([3, 1, 9, 4],)], "ids array<int>").select(
        F.explode(bucket_pairs_expr(F.array_sort("ids"))).alias("p")
    )
    got = {(r["p"]["a_id"], r["p"]["b_id"]) for r in df.collect()}
    ids = [3, 1, 9, 4]
    want = {(min(a, b), max(a, b)) for i, a in enumerate(ids) for b in ids[i + 1 :]}
    assert got == want  # every i<j pair, oriented a<b by value


def test_regexp_text_kernels_match_array_kernels(spark):
    """token count, stopword hit counts, non-ws char total and the composite
    quality score must equal the split-array formulations on every doc."""
    from magneto_matcher_spark.operators.textops import (
        LANG_STOPWORDS,
        quality_score_expr,
        stopword_count_rc_expr,
        token_count_rc_expr,
    )

    from tests.conftest import stopword_hits_expr, tokens_expr

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    edge = spark.createDataFrame(
        [("",), ("   ",), ("the",), ("the the the",), ("of. the, and",),
         ("x\tthe\ny",), ("athe the thea",), ("the  and   of",)],
        "text string",
    ).withColumn("doc_id", F.monotonically_increasing_id())
    for df in (docs, edge):
        toks = tokens_expr(F.col("text"))
        mism = df.select(
            (F.size(toks) == token_count_rc_expr(F.col("text"))).alias("a"),
            (
                F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
                == F.length(F.regexp_replace("text", r"\s", ""))
            ).alias("b"),
            *[
                (
                    stopword_hits_expr(tokens_expr(F.lower(F.col("text"))), c)
                    == stopword_count_rc_expr(F.lower(F.col("text")), c)
                ).alias(f"c_{c}")
                for c in sorted(LANG_STOPWORDS)
            ],
        )
        conds = [F.col(c) for c in mism.columns]
        pred = conds[0]
        for c in conds[1:]:
            pred = pred & c
        assert mism.filter(~pred).count() == 0

    # composite score vs the historical array formulation
    sw_arr = F.array(*[F.lit(w) for w in LANG_STOPWORDS["en"]])
    toks = tokens_expr(F.col("text"))
    n = F.size(toks)
    old_sw = F.when(
        n > 0,
        F.size(
            F.filter(
                tokens_expr(F.lower(F.col("text"))),
                lambda t: F.array_contains(sw_arr, t),
            )
        )
        / n,
    ).otherwise(F.lit(0.0))
    old_mwl = F.when(
        n > 0, F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t)) / n
    ).otherwise(F.lit(0.0))
    old_q = (
        F.when((n >= 5) & (n <= 5000), F.lit(1.0)).otherwise(F.lit(0.0))
        + F.when(
            F.length(F.regexp_replace("text", r"[a-zA-Z0-9\s]", ""))
            / F.length("text")
            < 0.2,
            F.lit(1.0),
        ).otherwise(F.lit(0.0))
        + F.when((old_sw >= 0.01) & (old_sw <= 0.6), F.lit(1.0)).otherwise(F.lit(0.0))
        + F.when((old_mwl >= 2.0) & (old_mwl <= 12.0), F.lit(1.0)).otherwise(
            F.lit(0.0)
        )
    ) / 4.0
    bad = (
        docs.filter(F.length("text") > 0)
        .select(
            (F.round(old_q, 6) == F.round(quality_score_expr(F.col("text")), 6)).alias(
                "ok"
            )
        )
        .filter(~F.col("ok"))
        .count()
    )
    assert bad == 0


def test_fused_profiler_matches_legacy_two_pass(spark):
    """profile_rows_multi's fused mixed-mode chain must reproduce the legacy
    percol + samples_from_counts outputs (stats AND sample arrays) on a
    null-heavy frame."""
    from magneto_matcher_spark.functions.cleaning import BINARY_VALUES
    from magneto_matcher_spark.localframe import local_df
    from magneto_matcher_spark.operators.profile import profile_rows_multi
    from magneto_matcher_spark.operators.sampling import melt, samples_from_counts

    rows = [
        (i, None if i % 3 == 0 else f"v{i % 17}", float(i % 5), None)
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "id int, s string, f double, allnull string")
    got = {
        t[1]: (t[4], t[5], round(t[8], 10), round(t[9], 10), t[10])
        for t in profile_rows_multi([(df, "t")])["t"]
    }

    melted = melt(df).select(F.lit("t").alias("table_name"), "col_name", "value")
    gc = ["table_name", "col_name"]
    counts_all = melted.groupBy(*gc, "value").agg(F.count(F.lit(1)).alias("cnt"))
    nonnull = F.col("value").isNotNull()
    parsable = F.expr("try_cast(value as double)").isNotNull()
    dt_parsable = F.expr("try_to_timestamp(value)").isNotNull()
    percol = counts_all.groupBy(*gc).agg(
        F.sum("cnt").alias("n_rows"),
        F.count(F.when(nonnull, F.lit(1))).alias("nd"),
        (
            F.coalesce(F.sum(F.when(parsable, F.col("cnt"))), F.lit(0)) / F.sum("cnt")
        ).alias("numfrac"),
        (
            F.coalesce(F.sum(F.when(dt_parsable, F.col("cnt"))), F.lit(0))
            / F.sum("cnt")
        ).alias("dtfrac"),
    )
    samples_df = samples_from_counts(
        counts_all.filter(nonnull), n=10, mode="mixed", group_cols=tuple(gc)
    )
    spine = local_df(
        spark,
        [("t", c) for c in df.columns],
        "table_name string, col_name string",
    )
    legacy = {
        r["col_name"]: (
            r["n_rows"],
            r["nd"],
            round(r["numfrac"] or 0.0, 10),
            round(r["dtfrac"] or 0.0, 10),
            list(r["samples"] or []),
        )
        for r in spine.join(percol, gc, "left").join(samples_df, gc, "left").collect()
    }
    assert got == legacy


def test_embeddings_fixture_has_no_nontwin_high_cosine_pairs(spark):
    """r05 ADVICE #2: dedup_embedding_both's guaranteed-candidate argument
    only covers scaled-twin pairs; assert the base fixture (vec_id < 150)
    has no DISTINCT-vector pair with cosine >= 0.99, so the LSH tier's
    probabilistic recall can never be load-bearing for the oracle."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").filter(
        F.col("vec_id") < 150
    )
    m = np.array(
        [r["embedding"] for r in emb.select("embedding").collect()], dtype=np.float64
    )
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    sims = (m / norms) @ (m / norms).T
    np.fill_diagonal(sims, 0.0)
    assert sims.max() < 0.99, f"fixture has a non-twin pair at {sims.max():.6f}"


def test_cdc_replay_final_state_equals_op_filtered_dedup(spark):
    """r06 ADVICE #5: cdc_replay_final_state drops delete winners by
    ``lsn % 10 != 0``, relying on _events_feed deriving op='D' from exactly
    that rule.  Pin it to the stated semantics (max-LSN winner per key,
    ``op='D'`` winners vanish) so a change to the feed's op rule fails here
    instead of silently diverging."""
    from magneto_matcher_spark.plans.apply import dedup_max_lsn
    from magneto_matcher_spark.queries import _events_feed, cdc_replay_final_state

    cols = ["user_id", "event_type", "lsn", "value"]
    winners = dedup_max_lsn(
        _events_feed(spark, SF001_DIR), key=["user_id", "event_type"]
    )
    assert winners.filter(F.col("op") == "D").count() > 0  # the filter bites
    want = winners.filter(F.col("op") != "D").select(*cols).collect()
    got = cdc_replay_final_state(spark, SF001_DIR).select(*cols).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


@pytest.mark.parametrize("name", ["w4_max_lsn_dedup", "cdc_replay_final_state"])
def test_registry_dedup_queries_plan_hash_aggregate(spark, name):
    """The registry's max-LSN dedups drop the unused string ``op`` before
    ``dedup_max_lsn``, so every non-key column is fixed-width and the dedup
    is a partial+final HashAggregate, not the window form."""
    from magneto_matcher_spark.queries import build_queries

    df = build_queries()[name](spark, SF001_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in plan, plan
    assert "Window" not in plan and "SortAggregate" not in plan, plan
