"""The Magneto matching cascade, Spark-first (SURVEY.md §3.1).

Reference lifecycle (magneto/magneto.py:189-272): clean both tables → strategy
cascade (strsim → embedding → equal, later strategies OVERWRITE earlier scores
for the same pair) → per-source-column top-k → optional BP / LLM rerank.

Spark lifecycle: profiling is the data-scale work and runs distributed (both
tables in ONE fused ``profile_rows_multi`` action); the candidate cascade runs
over |src_cols|x|tgt_cols| pairs — metadata-sized — so ``get_matches``
computes it on the driver in numpy/Python (zero Spark jobs).  The Spark-first
operators (``equal_candidates``, ``embedding_candidates``,
``strsim_candidates``, J5 ``cascade_dedup`` = ``row_number() over (partition
by src_col, tgt_col order by priority desc) = 1``, W1 ``topk_matches``) are the
DataFrame form of the same cascade; tests pin the driver cascade to them.

Default parameters mirror the reference (magneto.py:29-43):
``include_strsim_matches=False, include_embedding_matches=True,
include_equal_matches=True, topk=20, embedding_threshold=0.1,
encoding_mode=header_values_verbose, sampling_mode=mixed, sampling_size=10``.
The snapshot's live ``get_matches`` path runs with both rerankers off
(magneto.py:252-271 are commented out); the rerank stages implement the
documented spec and are exercised behind flags (SURVEY.md §7 hardest-item 5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from magneto_matcher_spark.functions.cleaning import (
    clean_df,
    remove_invalid_characters_expr,
)
from magneto_matcher_spark.localframe import local_df
from magneto_matcher_spark.operators.embedding import (
    _hashed_ngram_vector, dot_rows, embed_text, knn_topk, l2_normalize, topk_rows,
)
from magneto_matcher_spark.operators.profile import profile_rows_multi
from magneto_matcher_spark.operators.serialize import serialize_profiles
from magneto_matcher_spark.schemas import MATCHES_SCHEMA
from pyspark.sql import types as _T

#: get_matches' OUTPUT shape — the MATCHES columns plus the winning strategy;
#: degenerate paths must return this, not CANDIDATES_SCHEMA, so consumers
#: (drift resolver's rank filter, benchrunner metrics) see the same columns
#: whether or not any candidates existed
MATCHES_OUT_SCHEMA = _T.StructType(
    [*MATCHES_SCHEMA.fields, _T.StructField("strategy", _T.StringType(), False)]
)

DEFAULT_PARAMS = {
    "encoding_mode": "header_values_verbose",
    "sampling_mode": "mixed",
    "sampling_size": 10,
    "topk": 20,
    "include_strsim_matches": False,
    # "fuzzy" = the reference's difflib/alignment UDF pair; "levenshtein" =
    # the pure-Catalyst SQL-expressible twin (oracle-verifiable end-to-end)
    "strsim_flavor": "fuzzy",
    "include_embedding_matches": True,
    "embedding_threshold": 0.1,
    "include_equal_matches": True,
    "use_bp_reranker": False,
    "use_llm_reranker": False,
    "embedding_dim": 256,
    # apply_strategies_in_order (reference magneto.py:168-187): an explicit
    # strategy order, e.g. ["equal", "embedding", "strsim"] — strategies run
    # in list order and LATER strategies overwrite earlier scores for the
    # same pair (list position becomes the J5 priority); strategies absent
    # from the list are skipped (the reference's skip = -1).  None keeps the
    # include_* flags with the fixed default order strsim→embedding→equal.
    "strategy_order": None,
}

#: default J5 priorities — the reference's fixed cascade order
#: strsim → embedding → equal (magneto.py:237-244), later overwrites earlier
DEFAULT_PRIORITIES = {"strsim": 1, "embedding": 2, "equal": 3}


def equal_candidates(
    spark, source_cols: list[str], target_cols: list[str], priority: int = 3
) -> DataFrame:
    """J1: equal cleaned-name match, score 1.0 (magneto.py:87-105).

    Cleaning is P11 — ``remove_invalid_characters(col.strip().lower())`` (note:
    no camel split, unlike P3).  Broadcast inner equi-join on the cleaned key.
    """
    # LocalTableScan frames (localframe.py): broadcast-joinable metadata
    src = local_df(spark, [(c,) for c in source_cols], "src_col string")
    tgt = local_df(spark, [(c,) for c in target_cols], "tgt_col string")
    clean = lambda c: remove_invalid_characters_expr(F.lower(F.trim(c)))  # noqa: E731
    s = src.select("src_col", clean(F.col("src_col")).alias("k"))
    t = tgt.select("tgt_col", clean(F.col("tgt_col")).alias("k"))
    return (
        s.join(F.broadcast(t), "k")
        .select(
            "src_col",
            "tgt_col",
            F.lit(1.0).alias("score"),
            F.lit("equal").alias("strategy"),
            F.lit(priority).alias("priority"),
        )
    )


def embedding_candidates(
    src_profiles: DataFrame,
    tgt_profiles: DataFrame,
    params: dict,
    priority: int = 2,
) -> DataFrame:
    """J3/E1-E4: serialize profiles → embed → exact cosine top-k → threshold
    (embedding_matcher.py:77-108)."""
    mode = params["encoding_mode"]
    src_text = serialize_profiles(src_profiles, mode=mode)
    tgt_text = serialize_profiles(tgt_profiles, mode=mode)
    dim = params["embedding_dim"]
    src_emb = embed_text(src_text, "text", "embedding", dim=dim)
    tgt_emb = embed_text(tgt_text, "text", "embedding", dim=dim)

    # no tgt count needed: knn_topk caps k at the collected corpus size
    k = params["topk"]
    knn = knn_topk(
        src_emb.select(F.col("col_name").alias("src_col"), "embedding"),
        tgt_emb.select(F.col("col_name").alias("tgt_col"), "embedding"),
        k=k,
        query_id="src_col",
        corpus_id="tgt_col",
    )
    return knn.filter(F.col("score") >= params["embedding_threshold"]).select(
        "src_col",
        F.col("neighbor_id").alias("tgt_col"),
        F.col("score").cast("double").alias("score"),
        F.lit("embedding").alias("strategy"),
        F.lit(priority).alias("priority"),
    )


# --------------------------------------------------------------------------
# driver-local cascade (metadata-sized pair spaces; parity-pinned to the
# DataFrame operators)
# --------------------------------------------------------------------------

def _clean_equal_key(name: str) -> str:
    """Python twin of equal_candidates' P11 key cleaning — Java-regex ASCII
    whitespace + Spark trim (space-only) semantics, so the driver cascade
    and equal_candidates agree on names containing exotic whitespace."""
    import re

    from magneto_matcher_spark.functions.cleaning import _JAVA_WS

    return re.sub(
        r"[^a-zA-Z0-9" + _JAVA_WS + "]", " ", name.strip(" ").lower()
    )


def _equal_pairs(
    source_cols: list[str], target_cols: list[str], priority: int = 3
) -> list[tuple]:
    by_key: dict[str, list[str]] = {}
    for t in target_cols:
        by_key.setdefault(_clean_equal_key(t), []).append(t)
    return [
        (s, t, 1.0, "equal", priority)
        for s in source_cols
        for t in by_key.get(_clean_equal_key(s), [])
    ]


def _strsim_pairs(
    source_cols: list[str],
    target_cols: list[str],
    alignment_threshold: float = 0.95,
    fuzzy_threshold: float = 0.6,
    priority: int = 1,
    flavor: str = "fuzzy",
) -> list[tuple]:
    from magneto_matcher_spark.operators.strsim import (
        alignment_score_consecutive,
        common_prefix,
        fuzzy_ratio,
        levenshtein_ratio,
    )

    ps = common_prefix(list(source_cols))
    pt = common_prefix(list(target_cols))
    out = []
    for s in source_cols:
        ss = s.replace(ps, "") if ps else s
        for t in target_cols:
            tt = t.replace(pt, "") if pt else t
            if flavor == "levenshtein":
                lv = levenshtein_ratio(ss.lower(), tt.lower())
                score = lv if lv >= fuzzy_threshold else None
            else:
                fz = fuzzy_ratio(ss, tt)
                if fz >= fuzzy_threshold:
                    score = fz
                else:
                    a = alignment_score_consecutive(ss, tt)
                    score = a if a >= alignment_threshold else None
            if score is not None:
                out.append((s, t, float(score), "strsim", priority))
    return out


def _embedding_pairs(
    src_prof_rows: list, tgt_prof_rows: list, params: dict, priority: int = 2
) -> list[tuple]:
    """Numpy twin of embedding_candidates → knn_topk: serialize → hashed
    n-gram embed → ``l2_normalize`` → ``dot_rows`` → ``topk_rows``, the
    kernel and sequence of operators/embedding.py:knn_topk."""
    import numpy as np

    from magneto_matcher_spark.operators.serialize import serialize_text

    mode, dim = params["encoding_mode"], params["embedding_dim"]

    def embed(rows):
        texts = [serialize_text(mode, r[1], r[3], r[10]) for r in rows]
        # float32 first (embed_text stores array<float>), then f64
        return l2_normalize(np.array(
            [_hashed_ngram_vector(t or "", dim) for t in texts], dtype=np.float64
        ))

    if not src_prof_rows or not tgt_prof_rows:
        return []
    c_ids = np.array([r[1] for r in tgt_prof_rows])
    sims = dot_rows(embed(src_prof_rows), embed(tgt_prof_rows))
    top = topk_rows(sims, c_ids, params["topk"])
    out = []
    threshold = params["embedding_threshold"]
    for r, src in enumerate([row[1] for row in src_prof_rows]):
        for j in top[r]:
            score = float(sims[r, j])
            if score >= threshold:
                out.append((src, str(c_ids[j]), score, "embedding", priority))
    return out


def _driver_cascade(parts: list[list[tuple]], k: int) -> list[tuple]:
    """J5 dict-overwrite (max priority wins per pair) + W1 per-source top-k —
    the driver twin of cascade_dedup + topk_matches."""
    best: dict[tuple, tuple] = {}
    for part in parts:
        for row in part:
            key = (row[0], row[1])
            if key not in best or row[4] > best[key][4]:
                best[key] = row
    by_src: dict[str, list[tuple]] = {}
    for row in best.values():
        by_src.setdefault(row[0], []).append(row)
    out = []
    for src in sorted(by_src):
        ranked = sorted(by_src[src], key=lambda r: (-r[2], r[1]))
        out += [(*row, rank) for rank, row in enumerate(ranked[:k], start=1)]
    return out


def cascade_dedup(candidates: DataFrame) -> DataFrame:
    """J5: later-strategy-wins for the same (src, tgt) pair — the reference's
    dict overwrite (magneto.py:68-69,84-85,104-105) as a max-priority dedup."""
    w = Window.partitionBy("src_col", "tgt_col").orderBy(F.col("priority").desc())
    return (
        candidates.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def topk_matches(candidates: DataFrame, k: int) -> DataFrame:
    """W1: per-source-column top-k by score, ties broken by tgt_col
    (magneto.py:107-121 + determinism tie-break per SURVEY §2.5)."""
    w = Window.partitionBy("src_col").orderBy(F.col("score").desc(), F.col("tgt_col"))
    return (
        candidates.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def get_matches(
    source_df: DataFrame,
    target_df: DataFrame,
    src_table: str = "source",
    tgt_table: str = "target",
    clean: bool = True,
    profiles: tuple[DataFrame, DataFrame] | None = None,
    **overrides,
) -> DataFrame:
    """Entry point 1 (§3.1): full cascade → MATCHES rows.

    ``profiles`` short-circuits re-profiling when the caller (e.g. the CDC
    drift resolver) already has them.  ``overrides`` are ``DEFAULT_PARAMS``
    keys; any other key raises ``ValueError``.
    """
    unknown = sorted(set(overrides) - set(DEFAULT_PARAMS))
    if unknown:
        raise ValueError(f"unknown get_matches parameters: {unknown}")
    params = {**DEFAULT_PARAMS, **overrides}
    spark = source_df.sparkSession

    order = params.get("strategy_order")
    if order:
        unknown = set(order) - set(DEFAULT_PRIORITIES)
        if unknown:
            raise ValueError(f"unknown strategies in strategy_order: {unknown}")
        params = {
            **params,
            "include_strsim_matches": "strsim" in order,
            "include_embedding_matches": "embedding" in order,
            "include_equal_matches": "equal" in order,
        }
        params["_priorities"] = {st: i + 1 for i, st in enumerate(order)}
    else:
        params["_priorities"] = dict(DEFAULT_PRIORITIES)

    if not source_df.columns or not target_df.columns:  # P12 empty guard
        return local_df(spark, [], MATCHES_OUT_SCHEMA)

    if clean:
        source_df = clean_df(source_df)
        target_df = clean_df(target_df)

    matches, src_samples = _get_matches_driver(
        source_df, target_df, params, profiles
    )
    if matches is None:
        return local_df(spark, [], MATCHES_OUT_SCHEMA)

    if params["use_bp_reranker"]:
        from magneto_matcher_spark.operators.rerank import bp_rerank

        matches = topk_matches(
            bp_rerank(matches.select("src_col", "tgt_col", "score")).select(
                "src_col", "tgt_col", "score",
                F.lit("bp").alias("strategy"), F.lit(5).alias("priority"),
            ),
            params["topk"],
        )
    if params["use_llm_reranker"]:
        from magneto_matcher_spark.operators.rerank import llm_rerank

        if src_samples is None:
            # prompt needs the source columns' representative values
            # (reference magneto.py:142-147)
            rows = profile_rows_multi(
                [(source_df, "__src__")],
                n_samples=params["sampling_size"],
                sample_mode=params["sampling_mode"],
            )["__src__"]
            src_samples = {r[1]: list(r[10]) for r in rows}
        matches = topk_matches(
            llm_rerank(
                matches.select("src_col", "tgt_col", "score"),
                samples=src_samples,
            ),
            params["topk"],
        )

    return matches.select(
        F.lit(src_table).alias("src_table"),
        "src_col",
        F.lit(tgt_table).alias("tgt_table"),
        "tgt_col",
        F.col("score").cast("double").alias("score"),
        F.col("rank").cast("int").alias("rank"),
        "strategy",
    )


def _get_matches_driver(source_df, target_df, params, profiles):
    """Driver-local cascade over collected profiles — zero Spark jobs for the
    candidate math; only the (distributed) profiling remains, and both
    tables profile in ONE fused ``profile_rows_multi`` action (a single
    unioned melt pass), so the matcher pays one profile latency, not two."""
    spark = source_df.sparkSession
    pri = params["_priorities"]
    src_samples = None
    parts: list[list[tuple]] = []
    if params["include_strsim_matches"]:
        parts.append(_strsim_pairs(source_df.columns, target_df.columns,
                                   priority=pri["strsim"],
                                   flavor=params["strsim_flavor"]))
    if params["include_embedding_matches"]:
        if profiles is not None:
            src_rows = [tuple(r) for r in profiles[0].collect()]
            tgt_rows = [tuple(r) for r in profiles[1].collect()]
        else:
            # both tables in ONE melt pass / ONE Spark action
            both = profile_rows_multi(
                [(source_df, "__src__"), (target_df, "__tgt__")],
                n_samples=params["sampling_size"],
                sample_mode=params["sampling_mode"],
            )
            src_rows, tgt_rows = both["__src__"], both["__tgt__"]
        src_samples = {r[1]: list(r[10]) for r in src_rows}
        parts.append(
            _embedding_pairs(src_rows, tgt_rows, params,
                             priority=pri["embedding"])
        )
    if params["include_equal_matches"]:
        parts.append(_equal_pairs(source_df.columns, target_df.columns,
                                  priority=pri["equal"]))
    if not parts:
        return None, None
    ranked = _driver_cascade(parts, params["topk"])
    matches = local_df(
        spark,
        [(r[0], r[1], float(r[2]), r[3], int(r[4]), int(r[5])) for r in ranked],
        "src_col string, tgt_col string, score double, strategy string, "
        "priority int, rank int",
    )
    return matches, src_samples


def matcher_drift_resolver(batch: DataFrame, table) -> tuple[dict, list]:
    """Phase-4 CDC drift resolver (SURVEY.md §3.4): run the full cascade
    between the batch's unknown columns and the table columns missing from the
    batch; accept rank-1 matches above a floor as renames, everything else is
    an add.  Plugs into ``CdcEngine(drift_resolver=...)``."""
    system = {"op"}
    incoming = [c for c in batch.columns if c not in system]
    current = set(table.column_names)
    unknown = [c for c in incoming if c not in current]
    missing = [c for c in current if c not in set(incoming)]
    if not unknown:
        return {}, []

    renames: dict[str, str] = {}
    if missing:
        # profile a bounded slice — drift resolution needs representative
        # values, not the whole batch/table (at 100 TB a full profile scan
        # per drift event would dwarf the merge itself)
        matches = get_matches(
            batch.select(*unknown).limit(50_000),
            table.read().select(*missing).limit(50_000),
            clean=False,
            topk=1,
        )
        taken: set[str] = set()
        # (src, tgt) tie-breaks after score: equal-strategy hits all score
        # exactly 1.0, and a score-only order would leave the greedy
        # assignment to collection order — divergent schemas from identical
        # input would violate the engine's determinism contract
        ranked = matches.filter(F.col("rank") == 1).orderBy(
            F.col("score").desc(), "src_col", "tgt_col"
        )
        for r in ranked.collect():
            if r["score"] >= 0.5 and r["tgt_col"] not in taken and r["src_col"] not in renames:
                renames[r["src_col"]] = r["tgt_col"]
                taken.add(r["tgt_col"])

    type_of = {f.name: f.dataType.simpleString() for f in batch.schema.fields}
    adds = [(c, type_of[c]) for c in unknown if c not in renames]
    return renames, adds
