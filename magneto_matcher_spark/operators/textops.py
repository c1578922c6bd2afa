"""Text-analysis operators for large-scale training-data pipelines:
language ID, quality scoring, token counting, document fingerprinting.

All pure Catalyst expressions (whole-stage codegen, no Python in the hot
path), designed for the ``documents`` table shape
(doc_id:long, text:string, lang:string, source:string, n_chars:long) and
oracle-checkable in DuckDB with the same arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny per-language function-word vocabularies for the n-gram/stopword
# language-ID heuristic (public knowledge; intentionally small + disjoint)
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "this"],
    "es": ["el", "la", "de", "que", "los", "las", "una", "por", "con", "para"],
    "fr": ["le", "la", "les", "des", "est", "dans", "pour", "que", "une", "sur"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "von"],
}

_FP_MOD = 1_000_000_007
_FP_BASE = 31
_FP_WINDOW = 8


def widen_narrow_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the cluster parallelism when the input scan
    is narrower (guide §2.5 input skew / §6 small files): the test tables are
    single small parquet files with one row group, so every per-row text
    kernel otherwise runs on ONE core at any scale factor (measured: the
    sf1.0-sized quality scan is 3.8 s on the 2-split file vs 1.3 s
    repartitioned to 32).  At real scale the input already has ≥
    defaultParallelism splits and this no-ops — no shuffle is added on the
    100 TB path.  Only worth it above a compute-heavy kernel: the shuffle
    moves the text bytes once, so cheap aggregations over a narrow scan
    (e.g. the w4 dedup) should NOT widen (measured slower)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def token_count_rc_expr(text: Column) -> Column:
    """Whitespace token count as ONE codegen'd regexp pass —
    ``regexp_count(text, '\\S+')`` ≡ the size of the whitespace split with
    empty tokens filtered (tokens are exactly the maximal non-whitespace
    runs), without materializing the token array."""
    return F.regexp_count(text, F.lit(r"\S+"))


def punct_ratio_expr(text: Column) -> Column:
    n_punct = F.length(F.regexp_replace(text, r"[a-zA-Z0-9\s]", ""))
    return F.when(F.length(text) > 0, n_punct / F.length(text)).otherwise(F.lit(0.0))


def stopword_count_rc_expr(lowered_text: Column, lang: str) -> Column:
    """Stopword-hit count as ONE codegen'd regexp pass over the LOWERED text:
    each stopword counts when it occupies a whole whitespace-delimited token
    (lookbehind start-or-``\\s``, lookahead ``\\s``-or-end), which is exactly
    ``size(filter(tokens, t -> t in stopwords))`` — token matches are
    disjoint, so non-overlapping ``regexp_count`` finds every one.  Replaces
    an interpreted per-token ``filter``+``array_contains`` pass over a
    materialized split array."""
    words = LANG_STOPWORDS[lang]
    assert all(w.isalpha() for w in words)  # pattern-safety for the join
    pat = r"(?:(?<=\s)|^)(?:" + "|".join(words) + r")(?:(?=\s)|$)"
    return F.regexp_count(lowered_text, F.lit(pat))


def quality_score_expr(text: Column) -> Column:
    """Composite document quality in [0,1]: length band + low punctuation +
    healthy stopword ratio + sane mean word length (heuistics in the spirit of
    C4/Gopher-style quality filters, deterministic and SQL-expressible).

    Physical shape (r06): four codegen'd regexp passes per row — token
    count (``\\S+`` runs), punctuation count, stopword count, non-whitespace
    char count (= Σ token lengths, since tokens are the non-whitespace
    runs) — with NO materialized token array and no interpreted
    higher-order functions (the previous shape's per-token
    ``filter``/``aggregate`` lambdas run interpreted outside whole-stage
    codegen).  Identical integer counts feed identical double arithmetic,
    so scores are bit-equal to the array form (oracle-pinned)."""
    n = token_count_rc_expr(text)
    len_ok = F.when((n >= 5) & (n <= 5000), F.lit(1.0)).otherwise(F.lit(0.0))
    punct_ok = F.when(punct_ratio_expr(text) < 0.2, F.lit(1.0)).otherwise(F.lit(0.0))
    sw = stopword_count_rc_expr(F.lower(text), "en") / n
    sw_ok = F.when((sw >= 0.01) & (sw <= 0.6), F.lit(1.0)).otherwise(F.lit(0.0))
    mwl = F.length(F.regexp_replace(text, r"\s", "")) / n
    mwl_ok = F.when((mwl >= 2.0) & (mwl <= 12.0), F.lit(1.0)).otherwise(F.lit(0.0))
    return (len_ok + punct_ok + sw_ok + mwl_ok) / 4.0


def lang_id(df: DataFrame, text_col: str = "text", out_col: str = "lang_pred") -> DataFrame:
    """Language ID: argmax of per-language stopword hits, 'und' when all zero.
    Deterministic tie-break: first language (alphabetical) wins ties with a
    strictly-greater update rule.

    One codegen'd ``regexp_count`` pass per language over the lowered text
    (see :func:`stopword_count_rc_expr`) — no token array, no interpreted
    per-token filters; counts are identical to the split-and-filter form."""
    codes = sorted(LANG_STOPWORDS)
    low = "_lang_id_low"
    scored = df.withColumn(low, F.lower(F.col(text_col)))
    for code in codes:
        scored = scored.withColumn(
            f"_s_{code}", stopword_count_rc_expr(F.col(low), code)
        )
    scored = scored.drop(low)
    pick: Column = F.lit("und")
    best_v: Column = F.lit(0)
    for code in codes:
        s = F.col(f"_s_{code}")
        new_pick = F.when(s > best_v, F.lit(code)).otherwise(pick)
        best_v = F.when(s > best_v, s).otherwise(best_v)
        pick = new_pick
    return scored.withColumn(out_col, pick).drop(*[f"_s_{c}" for c in codes])


def tfidf_char_ngrams(
    df: DataFrame,
    text_col: str,
    n_lo: int = 3,
    n_hi: int = 8,
    threshold: float = 0.3,
) -> DataFrame:
    """A7 — TF-IDF-scored common char n-grams (reference ``common_ngrams``,
    utils/utils.py:47-67: per n ∈ [3,8], sklearn TfidfVectorizer(char, (n,n)),
    sum per-document L2-normalized scores over the corpus, keep n-grams with
    total score > threshold, rank descending).

    sklearn is unavailable; this reproduces its math — smooth idf
    ``ln((1+N)/(1+df)) + 1``, per-document L2 normalization — with
    explode + window + hash aggregates.  Output: (n, ngram, score) ordered
    within each n by score desc.
    """
    from pyspark.sql import Window

    docs = df.select(F.col(text_col).alias("s")).filter(
        F.col("s").isNotNull()
    ).withColumn("_doc", F.monotonically_increasing_id())
    # Corpus size N feeds only the idf constant; a broadcast 1-row aggregate
    # keeps the operator a single Spark action (no eager .count() job).
    n_total = docs.agg(F.count(F.lit(1)).cast("double").alias("_N"))

    per_n = []
    for n in range(n_lo, n_hi + 1):
        grams = docs.select(
            "_doc",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.greatest(F.length("s") - n + 1, F.lit(0))),
                    lambda i: F.col("s").substr(i, F.lit(n)),
                )
            ).alias("ngram"),
        ).filter(F.length("ngram") == n)
        tf = grams.groupBy("_doc", "ngram").agg(F.count(F.lit(1)).alias("tf"))
        dfreq = tf.groupBy("ngram").agg(F.count(F.lit(1)).alias("df"))
        w = (
            tf.join(dfreq, "ngram")
            .join(F.broadcast(n_total))
            .withColumn(
                "w",
                F.col("tf")
                * (F.log((F.lit(1.0) + F.col("_N")) / (F.lit(1.0) + F.col("df"))) + 1.0),
            )
            .drop("_N")
        )
        norm = Window.partitionBy("_doc")
        w = w.withColumn("wn", F.col("w") / F.sqrt(F.sum(F.col("w") ** 2).over(norm)))
        scored = (
            w.groupBy("ngram")
            .agg(F.sum("wn").alias("score"))
            .filter(F.col("score") > threshold)
            .select(F.lit(n).alias("n"), "ngram", "score")
        )
        per_n.append(scored)
    out = per_n[0]
    for p in per_n[1:]:
        out = out.unionByName(p)
    return out.orderBy("n", F.desc("score"), "ngram")


#: 31^(i mod 8) weight table, small enough that Σ ascii·w · len stays << 2^63
_FP_POWS = [(_FP_BASE**i) for i in range(_FP_WINDOW)]


def fingerprint_expr(text: Column) -> Column:
    """Deterministic document fingerprint: position-weighted polynomial hash
    ``(Σ_i ascii(char_i) · 31^(i mod 8)) mod 1e9+7`` over the printable-ASCII
    projection of the text — rolling-hash style but reduce-free, so the
    identical arithmetic runs in Spark and DuckDB (max per-term 127·31^7 ≈
    3.5e12; safe in int64 up to ~2.6e6 chars).

    Non-ASCII is stripped BEFORE hashing on both engines: Spark's ``split``
    tokenizes by UTF-16 code units (an astral-plane char becomes two unpaired
    surrogates) while DuckDB iterates Unicode code points, and ``ascii()``
    disagrees between the two beyond 0x7F — restricting the hash to
    0x20-0x7E makes the positions and char codes engine-independent."""
    ascii_text = F.regexp_replace(text, r"[^\x20-\x7E]", "")
    chars = F.split(ascii_text, "")
    pow_arr = F.array(*[F.lit(p).cast("long") for p in _FP_POWS])
    weighted = F.transform(
        chars,
        lambda ch, i: F.coalesce(F.ascii(ch), F.lit(0)).cast("long")
        * F.element_at(pow_arr, (i % _FP_WINDOW) + 1),
    )
    total = F.aggregate(weighted, F.lit(0).cast("long"), lambda acc, x: acc + x)
    return F.pmod(total, F.lit(_FP_MOD).cast("long"))
