"""Embedding / similarity operators — E1-E4 (SURVEY.md §2.8) + the engine's
brute-force kNN kernel (reused by the ANN queries over
``embeddings.parquet``).

E1 (text → vector): the reference encodes serialized columns with a
SentenceTransformer (embedding_matcher.py:52-75).  No model weights are
reachable in this sandbox, so the default provider is a deterministic hashed
char-n-gram TF vector (the A7 n-gram idea, n=3..8, crc32-hashed into a fixed
dim, log-TF weighted, L2-normalized) computed in a pure-numpy pandas UDF —
Arrow-batched, partition-independent, reproducible.  The provider is
pluggable: a real SentenceTransformer drops into ``embed_text`` unchanged
when available.

E2 (cosine top-k): the reference does ``normalize → matmul → topk`` on torch
tensors (utils/embedding_utils.py:4-16).  Spark-first shape: broadcast the
smaller matrix as numpy, ``mapInPandas`` over the larger side computes the
block matmul and per-row top-k — each row sees the whole broadcast corpus, so
the result is EXACT brute-force kNN, distributed over the big side with zero
shuffle (the only shuffle is the optional final ordering).

At 100 TB scale the corpus no longer fits a broadcast; two approximate
paths shuffle both sides once on a locality key instead: ``knn_topk_lsh``
(random-hyperplane SimHash buckets, data-oblivious, multi-table for recall)
and ``knn_topk_ivf`` (inverted-file cells from a seeded k-means coarse
quantizer trained on a bounded sample — learned cells, so clustered corpora
get higher recall per candidate; the corpus assignment is the persistable
index).
"""

from __future__ import annotations

import zlib
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_DIM = 256


# --------------------------------------------------------------------------
# E1: deterministic hashed n-gram embedding provider
# --------------------------------------------------------------------------

def _hashed_ngram_vector(text: str, dim: int, n_lo: int = 3, n_hi: int = 8) -> np.ndarray:
    vec = np.zeros(dim, dtype=np.float64)
    if text:
        t = text.lower()
        for n in range(n_lo, n_hi + 1):
            if len(t) < n:
                break
            for i in range(len(t) - n + 1):
                g = t[i : i + n]
                vec[zlib.crc32(g.encode("utf-8")) % dim] += 1.0
    vec = np.log1p(vec)
    norm = np.linalg.norm(vec)
    if norm > 0:
        vec /= norm
    return vec.astype(np.float32)


def embed_text(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "embedding",
    dim: int = DEFAULT_DIM,
) -> DataFrame:
    """E1: add an ``array<float>`` embedding column (hashed n-gram provider)."""

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def _embed(texts: pd.Series) -> pd.Series:
        return texts.map(lambda s: _hashed_ngram_vector(s or "", dim).tolist())

    return df.withColumn(out_col, _embed(F.col(text_col)))


# --------------------------------------------------------------------------
# E2: exact brute-force cosine kNN (broadcast corpus + mapInPandas matmul)
# --------------------------------------------------------------------------

def knn_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    normalize: bool = True,
) -> DataFrame:
    """E2: exact top-k cosine neighbours of every query row.

    The corpus (smaller side) is collected to the driver ONCE, L2-normalized,
    and broadcast; ``mapInPandas`` over the query side computes the block
    matmul per Arrow batch and keeps the per-row top-k with ``argpartition``.
    Output: (query_id, neighbor_id, score) — exact, deterministic (ties broken
    by neighbor id).
    """
    spark = queries.sparkSession
    # Arrow toPandas, not collect(): avoids per-row pickling of the vector
    # arrays on the driver (same order; measured ~1.6x on a 20k × 256 corpus)
    corpus_pdf = corpus.select(corpus_id, corpus_vec).toPandas()
    # np.array(tolist()), not to_numpy(): string ids must become a '<U'
    # array (lexsort-able), not dtype=object as pandas would hand back
    ids = np.array(corpus_pdf[corpus_id].tolist())
    mat = np.array(corpus_pdf[corpus_vec].tolist(), dtype=np.float64)
    if normalize and mat.size:
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        mat = mat / norms
    bc = spark.sparkContext.broadcast((ids, mat))
    kk = min(k, len(ids))

    out_schema = T.StructType(
        [
            queries.schema[query_id],
            T.StructField("neighbor_id", corpus.schema[corpus_id].dataType, True),
            T.StructField("score", T.DoubleType(), True),
        ]
    )

    def _score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c_ids, c_mat = bc.value
        for pdf in batches:
            if pdf.empty or not len(c_ids):
                continue
            q = np.array(pdf[query_vec].tolist(), dtype=np.float64)
            if normalize:
                qn = np.linalg.norm(q, axis=1, keepdims=True)
                qn[qn == 0] = 1.0
                q = q / qn
            sims = q @ c_mat.T  # (batch, corpus)
            # top-k with deterministic tie-break by (−score, id)
            idx = np.argpartition(-sims, kk - 1, axis=1)[:, :kk]
            rows = []
            for r in range(sims.shape[0]):
                cand = idx[r]
                order = np.lexsort((c_ids[cand], -sims[r, cand]))
                for j in cand[order]:
                    rows.append((pdf[query_id].iloc[r], c_ids[j], float(sims[r, j])))
            yield pd.DataFrame(rows, columns=[query_id, "neighbor_id", "score"])

    return queries.select(query_id, query_vec).mapInPandas(_score, out_schema)


# --------------------------------------------------------------------------
# scale path: SimHash-bucketed approximate kNN (no broadcast of the corpus)
# --------------------------------------------------------------------------

def simhash_buckets_udf(dim: int, n_bits: int, n_tables: int, seed: int = 42):
    """Random-hyperplane SimHash of an array<float> column → array of
    ``n_tables`` bucket ids (one independent hyperplane set per table).
    Hyperplanes are generated ONCE here (seeded, so deterministic) and
    shipped in the UDF closure — the previous shape regenerated the
    (n_tables·dim·n_bits) tensor inside the UDF body, paying the
    standard_normal draw again for every Arrow batch (guide §4.5)."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_tables, dim, n_bits))
    weights = (1 << np.arange(n_bits)).astype(np.int64)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def _sig(vecs: pd.Series) -> pd.Series:
        m = np.array(vecs.tolist(), dtype=np.float64)
        per_table = []
        for t in range(n_tables):
            bits = (m @ planes[t]) > 0
            per_table.append((bits @ weights).astype(np.int64) + (t << n_bits))
        stacked = np.stack(per_table, axis=1).astype(np.int32)
        return pd.Series([row.tolist() for row in stacked])

    return _sig


def cosine_pairs_udf():
    """Row-wise cosine of two array<float/double> columns as ONE
    Arrow-batched numpy kernel: dot/(‖q‖·‖c‖), 0.0 when either norm is 0
    or either vector is null — the same rule as the SQL-expressible
    ``aggregate``/``zip_with`` form, which runs as interpreted non-codegen
    HOFs costing ~dim interpreted ops per candidate pair; this crosses the
    Arrow boundary once per batch and does the arithmetic in BLAS.  Not
    bit-identical to that form: it upcasts to float64 before multiplying
    (the expression form multiplies array<float> elements in float32) and
    sums in a different order, so scores can differ in the last bits."""

    @F.pandas_udf(T.DoubleType())
    def _cos(qs: pd.Series, cs: pd.Series) -> pd.Series:
        out = np.zeros(len(qs))
        ok = (qs.notna() & cs.notna()).to_numpy()
        if ok.any():
            q = np.array(qs[ok].tolist(), dtype=np.float64)
            c = np.array(cs[ok].tolist(), dtype=np.float64)
            dot = np.einsum("ij,ij->i", q, c)
            denom = np.linalg.norm(q, axis=1) * np.linalg.norm(c, axis=1)
            out[ok] = np.where(denom > 0, dot / np.where(denom > 0, denom, 1.0), 0.0)
        return pd.Series(out)

    return _cos


def knn_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    dim: int,
    n_bits: int = 4,
    n_tables: int = 12,
    query_id: str = "vec_id",
    vec_col: str = "embedding",
    corpus_id: str = "vec_id",
) -> DataFrame:
    """Approximate kNN: multi-table SimHash-bucket join, exact cosine within
    buckets, per-query top-k over the deduped candidate union.

    Shuffles both sides once on the bucket key; never broadcasts the corpus —
    the 1000-executor path for corpora too large for a driver collect.
    Recall < 1.0 by construction: raise ``n_tables`` (more candidate unions →
    higher recall, more work) or lower ``n_bits`` (bigger buckets) to trade
    speed for recall."""
    sig = simhash_buckets_udf(dim, n_bits, n_tables)
    q = (
        queries.select(F.col(query_id).alias("q_id"), F.col(vec_col).alias("q_vec"))
        .withColumn("bucket", F.explode(sig(F.col("q_vec"))))
    )
    c = (
        corpus.select(F.col(corpus_id).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
        .withColumn("bucket", F.explode(sig(F.col("c_vec"))))
    )
    cand = (
        q.join(c, "bucket")
        .select("q_id", "q_vec", "neighbor_id", "c_vec")
        .dropDuplicates(["q_id", "neighbor_id"])
    )
    scored = cand.select(
        "q_id",
        "neighbor_id",
        cosine_pairs_udf()(F.col("q_vec"), F.col("c_vec")).alias("score"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
        .withColumnRenamed("q_id", query_id)
    )


# --------------------------------------------------------------------------
# scale path 2: IVF (inverted-file) approximate kNN — learned cells
# --------------------------------------------------------------------------

def train_ivf_centroids(
    corpus: DataFrame,
    n_cells: int,
    vec_col: str = "embedding",
    sample_cap: int = 20_000,
    iters: int = 10,
    seed: int = 42,
) -> np.ndarray:
    """Seeded Lloyd's k-means over a bounded corpus sample → L2-normalized
    centroid matrix (n_cells, dim).  The sample collect is capped at
    ``sample_cap`` rows — O(sample) driver work regardless of corpus size
    (at 100 TB you train the coarse quantizer on a sample by construction;
    the full corpus is only ever ASSIGNED, never collected).

    No full-corpus action anywhere (r06): a ``limit(cap+1)`` probe-collect
    replaces the eager ``corpus.count()`` (an O(corpus-lineage) job whose
    only purpose was the sample fraction); when the corpus fits the cap the
    probe IS the sample (same rows, same order as the previous full
    collect), and oversized corpora take a deterministic hash-ordered
    top-``cap`` instead of a fraction sample."""
    # Arrow toPandas, not collect(): the row-based collect pays per-row
    # pickling for 20k × dim float arrays (~0.33 s vs 0.20 s measured);
    # row order is identical (both drain partitions in order), so the
    # seeded init picks the same sample rows.
    pdf = corpus.select(vec_col).limit(sample_cap + 1).toPandas()
    if len(pdf) > sample_cap:
        pdf = (
            corpus.select(vec_col)
            .orderBy(F.xxhash64(F.col(vec_col)))
            .limit(sample_cap)
            .toPandas()
        )
    m = np.array(pdf[vec_col].tolist(), dtype=np.float64)
    if m.size == 0:
        # empty corpus (or empty seeded sample): no cells to learn — callers
        # (knn_topk_ivf) treat a zero-row centroid matrix as "no results",
        # mirroring the empty-corpus guard on the LSH path.
        return np.zeros((0, 0), dtype=np.float64)
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    m = m / norms
    rng = np.random.default_rng(seed)
    cents = m[rng.choice(len(m), size=min(n_cells, len(m)), replace=False)]
    for _ in range(iters):
        assign = np.argmax(m @ cents.T, axis=1)
        for c in range(len(cents)):
            members = m[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
        cn = np.linalg.norm(cents, axis=1, keepdims=True)
        cn[cn == 0] = 1.0
        cents = cents / cn
    return cents


def knn_topk_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    n_cells: int = 16,
    n_probe: int = 8,
    query_id: str = "vec_id",
    vec_col: str = "embedding",
    corpus_id: str = "vec_id",
    centroids: np.ndarray | None = None,
    max_broadcast_queries: int = 100_000,
) -> DataFrame:
    """Approximate kNN via inverted-file cells: assign every corpus vector to
    its nearest centroid, probe each query's ``n_probe`` nearest cells, exact
    cosine within the probed cells, per-query top-k.

    Two physical shapes, picked by a bounded probe of the QUERY side (guide
    §3.1 — broadcast the side that fits, chosen manually because the Python
    scoring is opaque to Catalyst):

    - **query side ≤ ``max_broadcast_queries``** (the common retrieval
      shape): the normalized query matrix + per-query probe sets are
      broadcast and ONE ``mapInPandas`` over the corpus assigns cells,
      GEMMs each batch against all queries and emits only the
      probed-cell candidates — the corpus is never shuffled and each
      corpus vector crosses the Arrow boundary once (the join form
      duplicated q_vec/c_vec per candidate PAIR and paid a corpus
      exchange + three separate Python evals).  The only exchange left
      is the candidate-sized top-k window.
    - **larger query sides** fall back to the cell-key join (both sides
      exchange once on the cell id — the shape that needs no driver
      collect of either side).

    Candidate sets are identical by construction (same centroid math, same
    argmax/argpartition), and scores follow ``knn_topk``'s exact sequence
    (normalize each side, float64 GEMM) — the brute-force-oracle-verified
    arithmetic.  The centroid matrix is tiny (n_cells × dim); at scale the
    corpus assignment is computed once and persisted as the index."""
    spark = queries.sparkSession
    if centroids is None:
        centroids = train_ivf_centroids(corpus, n_cells, vec_col=vec_col)
    if len(centroids) == 0:
        # empty corpus: return an empty top-k frame with the documented
        # schema, like knn_topk / knn_topk_lsh do.
        return spark.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField(query_id, queries.schema[query_id].dataType),
                    T.StructField("neighbor_id", corpus.schema[corpus_id].dataType),
                    T.StructField("score", T.DoubleType()),
                ]
            ),
        )
    bc = spark.sparkContext.broadcast(centroids)
    probe = min(n_probe, len(centroids))

    def _normalized(m: np.ndarray) -> np.ndarray:
        norms = np.linalg.norm(m, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        return m / norms

    q_pdf = queries.select(query_id, vec_col).limit(
        max_broadcast_queries + 1
    ).toPandas()
    if len(q_pdf) <= max_broadcast_queries:
        if len(q_pdf) == 0:
            return spark.createDataFrame(
                [],
                T.StructType(
                    [
                        T.StructField(query_id, queries.schema[query_id].dataType),
                        T.StructField(
                            "neighbor_id", corpus.schema[corpus_id].dataType
                        ),
                        T.StructField("score", T.DoubleType()),
                    ]
                ),
            )
        q_ids = np.array(q_pdf[query_id].tolist())
        qn = _normalized(np.array(q_pdf[vec_col].tolist(), dtype=np.float64))
        q_sims = qn @ centroids.T
        probe_idx = np.argpartition(-q_sims, probe - 1, axis=1)[:, :probe]
        # (n_cells, n_q) membership: cell c probed by query j
        member = np.zeros((len(centroids), len(q_ids)), dtype=bool)
        for j in range(len(q_ids)):
            member[probe_idx[j], j] = True
        bq = spark.sparkContext.broadcast((q_ids, qn, member))

        out_schema = T.StructType(
            [
                T.StructField("q_id", queries.schema[query_id].dataType),
                T.StructField("neighbor_id", corpus.schema[corpus_id].dataType),
                T.StructField("score", T.DoubleType()),
            ]
        )

        def _score(batches):
            cents = bc.value
            ids_q, qmat, memb = bq.value
            for pdf in batches:
                if pdf.empty:
                    continue
                cm = np.array(pdf[vec_col].tolist(), dtype=np.float64)
                cn = _normalized(cm)
                cell = np.argmax(cn @ cents.T, axis=1)
                sims = cn @ qmat.T  # (batch, n_q)
                mask = memb[cell]  # (batch, n_q)
                rows, cols = np.nonzero(mask)
                c_ids = pdf[corpus_id].to_numpy()
                yield pd.DataFrame(
                    {
                        "q_id": ids_q[cols],
                        "neighbor_id": c_ids[rows],
                        "score": sims[rows, cols],
                    }
                )

        scored = corpus.select(corpus_id, vec_col).mapInPandas(_score, out_schema)
    else:

        @F.pandas_udf(T.IntegerType())
        def _cell(vecs: pd.Series) -> pd.Series:
            cents = bc.value
            m = np.array(vecs.tolist(), dtype=np.float64)
            return pd.Series(
                np.argmax(_normalized(m) @ cents.T, axis=1).astype(np.int32)
            )

        @F.pandas_udf(T.ArrayType(T.IntegerType()))
        def _probe_cells(vecs: pd.Series) -> pd.Series:
            cents = bc.value
            m = np.array(vecs.tolist(), dtype=np.float64)
            sims = _normalized(m) @ cents.T
            idx = np.argpartition(-sims, probe - 1, axis=1)[:, :probe].astype(
                np.int32
            )
            return pd.Series([row.tolist() for row in idx])

        c = corpus.select(
            F.col(corpus_id).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
        ).withColumn("cell", _cell(F.col("c_vec")))
        q = queries.select(
            F.col(query_id).alias("q_id"), F.col(vec_col).alias("q_vec")
        ).withColumn("cell", F.explode(_probe_cells(F.col("q_vec"))))
        scored = q.join(c, "cell").select(
            "q_id",
            "neighbor_id",
            cosine_pairs_udf()(F.col("q_vec"), F.col("c_vec")).alias("score"),
        )

    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
        .withColumnRenamed("q_id", query_id)
    )


# --------------------------------------------------------------------------
# E3: score normalization
# --------------------------------------------------------------------------

def normalize_scores(
    candidates: DataFrame, partition_col: str = "src_col", score_col: str = "score"
) -> DataFrame:
    """E3 (retriever.py:132-142): per-source min-max rescale; constant → 1.0."""
    w = Window.partitionBy(partition_col)
    mn, mx = F.min(score_col).over(w), F.max(score_col).over(w)
    return candidates.withColumn(
        score_col,
        F.when(mx == mn, F.lit(1.0)).otherwise((F.col(score_col) - mn) / (mx - mn)),
    )
