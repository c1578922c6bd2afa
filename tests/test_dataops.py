"""Training-data pipeline operators: dedup family, text analysis, multimodal
plumbing (SURVEY build brief — first-class alongside §2)."""


import pytest
from pyspark.sql import functions as F

from magneto_matcher_spark.operators.dedup import (
    dedup_keep_canonical,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from magneto_matcher_spark.operators.multimodal import (
    decode_media,
    resize_features,
    sample_frames,
    synthesize_media,
)
from magneto_matcher_spark.operators.textops import (
    fingerprint_expr,
    lang_id,
    quality_score_expr,
)

from tests.conftest import token_count_expr

DOCS = "/root/testdata/sf0.001/documents.parquet"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(DOCS).cache()


def _mini_docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),       # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),       # near dup of 1
        (4, "completely different text about spark engines here"),
        (5, "el gato y la casa de la abuela con los perros"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(spark):
    df = _mini_docs(spark)
    kept = sorted(r["doc_id"] for r in exact_dedup(df).collect())
    assert kept == [1, 3, 4, 5]


def test_ngram_jaccard_pairs(spark):
    df = _mini_docs(spark)
    pairs = {(r["a_id"], r["b_id"]): r["jaccard"] for r in
             ngram_jaccard_pairs(df, threshold=0.5).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and 0.5 < pairs[(1, 3)] < 1.0
    assert not any(4 in p or 5 in p for p in pairs)


def test_minhash_lsh_finds_near_dups(spark):
    df = _mini_docs(spark)
    pairs = {(r["a_id"], r["b_id"]) for r in
             minhash_lsh_pairs(df, k=32, bands=16, threshold=0.5).collect()}
    assert (1, 2) in pairs
    assert (1, 3) in pairs or (2, 3) in pairs


def test_minhash_deterministic_across_partitionings(spark, docs):
    d = docs.filter(F.col("doc_id") < 300)
    a = sorted(map(tuple, minhash_lsh_pairs(d, threshold=0.4).collect()))
    b = sorted(map(tuple, minhash_lsh_pairs(d.repartition(7), threshold=0.4).collect()))
    assert a == b


def test_minhash_fullrecall_banding_equals_exact(spark, docs):
    """The dedup_minhash_lsh_verified driver contract, pinned locally: at the
    full-recall banding point (bands=k → one min-hash per band; deterministic
    miss probability per true pair ≤ 0.4^32 ≈ 2e-13) the verified LSH output
    must EQUAL the exact all-pairs Jaccard set — a banding/bucket-join
    regression breaks this here before the driver ever sees it."""
    d = docs.filter(F.col("doc_id") < 200)
    lsh = {(r["a_id"], r["b_id"], round(r["jaccard"], 9)) for r in
           minhash_lsh_pairs(d, k=32, bands=32, threshold=0.6).collect()}
    exact = {(r["a_id"], r["b_id"], round(r["jaccard"], 9)) for r in
             ngram_jaccard_pairs(d, threshold=0.6).collect()}
    assert lsh == exact
    assert len(exact) > 0  # the fixture must exercise the contract


def test_simhash_pairs(spark):
    df = _mini_docs(spark)
    # doc 3 differs from 1/2 by one token of nine → hamming 4 on these texts
    pairs = {(r["a_id"], r["b_id"]): r["hamming"] for r in
             simhash_pairs(df, max_hamming=4).collect()}
    assert pairs.get((1, 2)) == 0
    assert (1, 3) in pairs and (2, 3) in pairs
    assert not any(4 in p or 5 in p for p in pairs)


def test_dedup_keep_canonical(spark):
    df = _mini_docs(spark)
    pairs = ngram_jaccard_pairs(df, threshold=0.5)
    kept = sorted(r["doc_id"] for r in dedup_keep_canonical(df, pairs).collect())
    assert kept == [1, 4, 5]


def test_token_count(spark):
    df = spark.createDataFrame([("a b  c",), ("",), ("  x ",)], ["text"])
    out = [r["n"] for r in df.select(token_count_expr(F.col("text")).alias("n")).collect()]
    assert out == [3, 0, 1]


def test_quality_score_bounds(spark, docs):
    out = docs.select(quality_score_expr(F.col("text")).alias("q"))
    mn, mx = out.agg(F.min("q"), F.max("q")).collect()[0]
    assert 0.0 <= mn <= mx <= 1.0


def test_lang_id_known_texts(spark):
    rows = [
        (1, "the cat is on the mat and this is fine"),
        (2, "el gato esta en la casa de los perros"),
        (3, "le chat est dans les maisons pour une nuit"),
        (4, "der hund ist nicht mit der katze auf dem sofa"),
        (5, "xyzzy plugh quux"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r["lang_pred"] for r in lang_id(df).collect()}
    assert out == {1: "en", 2: "es", 3: "fr", 4: "de", 5: "und"}


def test_tfidf_char_ngrams_surfaces_shared_prefix(spark):
    from magneto_matcher_spark.operators.textops import tfidf_char_ngrams

    names = ["gdc_patient_id", "gdc_age_at_diagnosis", "gdc_tumor_stage", "gdc_gender"]
    df = spark.createDataFrame([(x,) for x in names], ["name"])
    rows = tfidf_char_ngrams(df, "name", threshold=0.3).collect()
    top4 = [r["ngram"] for r in rows if r["n"] == 4][:3]
    assert "gdc_" in top4
    # ordered by score desc within each n
    for n in (3, 4):
        scores = [r["score"] for r in rows if r["n"] == n]
        assert scores == sorted(scores, reverse=True)


def test_fingerprint_deterministic_and_discriminative(spark):
    df = spark.createDataFrame([("abc",), ("abd",), ("abc",)], ["text"])
    out = [r["f"] for r in df.select(fingerprint_expr(F.col("text")).alias("f")).collect()]
    assert out[0] == out[2] and out[0] != out[1]
    assert all(0 <= f < 1_000_000_007 for f in out)


# ---------------- multimodal plumbing ----------------

def test_multimodal_decode_roundtrip(spark, docs):
    media = synthesize_media(docs.limit(30))
    decoded = decode_media(media, n_features=16)
    rows = decoded.collect()
    assert len(rows) == 30
    for r in rows:
        assert r["width"] == r["media_id"] % 64 + 1
        assert r["height"] == r["media_id"] % 48 + 1
        assert len(r["features"]) == 16
        assert all(0.0 <= f <= 1.0 for f in r["features"])


def test_multimodal_decode_rejects_unknown_payload(spark):
    import pyspark

    media = spark.createDataFrame(
        [(1, "image", bytearray(b"JPEG...."), None)],
        "media_id long, kind string, payload binary, meta map<string,string>",
    )
    with pytest.raises(Exception) as exc_info:
        decode_media(media).collect()
    assert "NotImplementedError" in str(exc_info.value) or "decode" in str(exc_info.value)


def test_resize_features(spark, docs):
    media = synthesize_media(docs.limit(5))
    decoded = decode_media(media, n_features=16)
    resized = resize_features(decoded, out_dim=4)
    rows = resized.collect()
    assert all(len(r["features"]) == 4 for r in rows)


def test_sample_frames_halves_video_payload(spark, docs):
    media = synthesize_media(docs.limit(30)).cache()
    sampled = sample_frames(media, every_n=2)
    joined = (
        media.select("media_id", "kind", F.length("payload").alias("before"))
        .join(
            sampled.select("media_id", F.length("payload").alias("after")),
            "media_id",
        )
        .collect()
    )
    for r in joined:
        if r["kind"] == "video":
            assert r["after"] < r["before"]
        else:
            assert r["after"] == r["before"]


def test_local_df_localtablescan_and_types(spark):
    """local_df must produce LocalTableScan-backed frames (broadcastable, no
    RDD-scan CartesianProducts) for every shape the engine uses."""
    import pytest as _pytest

    from magneto_matcher_spark.localframe import local_df

    df = local_df(
        spark,
        [("a", 1.0, 3, ["x", "y"]), ("b", None, None, [])],
        "c1 string, c2 double, c3 int, c4 array<string>",
    )
    assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()
    rows = {r["c1"]: r for r in df.collect()}
    assert rows["a"]["c4"] == ["x", "y"] and rows["b"]["c2"] is None
    assert local_df(spark, [], "a string, b int").count() == 0
    # names-only (inferred) frames are LocalTableScan too
    nf = local_df(spark, [("x",), ("y",)], ["name"])
    assert "LocalTableScan" in nf._jdf.queryExecution().executedPlan().toString()
    with _pytest.raises(ValueError):
        local_df(spark, [], ["name"])


# ---------------- round-3 operator hardening ----------------

def test_dotted_column_names_survive_clean_and_melt(spark):
    """Columns with dots (legal from CSV/JSON headers) must not be parsed as
    struct paths by clean_df or the profiling melt."""
    from magneto_matcher_spark.functions.cleaning import clean_df
    from magneto_matcher_spark.operators.sampling import melt

    df = spark.createDataFrame(
        [("Not Reported", 1.0), ("ok", 2.0)], ["price.usd", "qty.n"]
    )
    out = clean_df(df).collect()
    assert out[0]["price.usd"] is None and out[1]["price.usd"] == "ok"
    m = melt(df).collect()
    assert {r["col_name"] for r in m} == {"price.usd", "qty.n"}


def test_minhash_bands_must_divide_k(spark):
    import pytest as _pytest

    from magneto_matcher_spark.operators.dedup import minhash_lsh_pairs

    df = spark.createDataFrame([(1, "a b c d e")], ["doc_id", "text"])
    with _pytest.raises(ValueError, match="evenly divide"):
        minhash_lsh_pairs(df, k=4, bands=8)
    with _pytest.raises(ValueError, match="evenly divide"):
        minhash_lsh_pairs(df, k=30, bands=8)


def test_embedding_neardup_symmetric_recovery(spark):
    """A near-dup pair discovered only from the HIGHER id's kNN list must
    still be emitted (canonicalized), not dropped by a one-sided filter."""
    import numpy as np

    from magneto_matcher_spark.operators.dedup import embedding_neardup_pairs

    # docs 1,2,3 mutually close; doc 9 close ONLY to 3.  With k=2, doc 3's
    # list fills with {1,2}; doc 9's list contains 3 — the pair (3,9) is
    # discovered from the higher id side only.
    base = np.array([1.0, 0.0, 0.0])
    rows = [
        (1, [1.0, 0.001, 0.0]),
        (2, [1.0, 0.002, 0.0]),
        (3, [1.0, 0.003, 0.0]),
        (9, [1.0, 0.004, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = {
        (r["a_id"], r["b_id"])
        for r in embedding_neardup_pairs(
            emb, threshold=0.999, k=2, method="bruteforce"
        ).collect()
    }
    assert (3, 9) in pairs, pairs
    _ = base


def test_llm_rerank_falls_back_on_unparseable_scorer(spark):
    """Exhausted parse retries keep the ORIGINAL candidates instead of
    silently dropping the column's matches."""
    from magneto_matcher_spark.operators.rerank import llm_rerank

    cands = spark.createDataFrame(
        [("colA", "t1", 0.9), ("colA", "t2", 0.7)],
        ["src_col", "tgt_col", "score"],
    )
    broken = lambda src, samples, cands: "not parseable at all"  # noqa: E731
    out = {(r["src_col"], r["tgt_col"]): r["score"]
           for r in llm_rerank(cands, scorer=broken, max_attempts=2).collect()}
    assert out == {("colA", "t1"): 0.9, ("colA", "t2"): 0.7}
