"""Seeded benchmark inputs, generated without Spark.

The change feeds follow ``bench.py``'s shape (Zipf hot conversation taking
``hot_frac`` of events, ``max(200, n // 2000)`` conversations of 50 turns,
first event per key 'I', later ones ~10% 'D') but are generated here with
NumPy, so an edit to ``sources/changefeed.py`` cannot change a workload.
The query-suite tables follow the schemas and the measured shape of the sf0.1
test data (``events``, ``documents``, ``embeddings``).  Every generated input
has a content checksum (an order-independent DuckDB hash sum) that is
recorded and checked again after the run.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_EPOCH_US = 1_704_067_200 * 1_000_000  # 2024-01-01 UTC
ROLES = ["user", "assistant", "tool"]
TOOLS = ["search", "python", "browser"]
FEED_SCHEMA = pa.schema(
    [
        ("lsn", pa.int64()),
        ("op", pa.string()),
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)
FEED_HASH = "hash(lsn, op, conv_id, turn_idx, role, text, tool, epoch_us(ts))"
STATE_HASH = "hash(lsn, conv_id, turn_idx, role, text, tool, epoch_us(ts))"


def make_feed(
    seed: int, n_events: int, lsn_base: int = 0, n_convs: int | None = None,
    hot_frac: float = 0.2, turns_per_conv: int = 50,
) -> pa.Table:
    rng = np.random.default_rng(seed)
    n_convs = n_convs or max(200, n_events // 2000)
    lsn = np.arange(lsn_base, lsn_base + n_events, dtype=np.int64)
    conv = np.where(
        rng.random(n_events) < hot_frac, 0, rng.integers(0, n_convs, n_events)
    )
    turn = rng.integers(0, turns_per_conv, n_events).astype(np.int32)
    key = conv * turns_per_conv + turn
    first = np.zeros(n_events, dtype=bool)
    first[np.unique(key, return_index=True)[1]] = True
    op = np.where(first, "I", np.where(rng.random(n_events) < 0.1, "D", "U"))
    tool_pick = rng.integers(0, 4, n_events)
    conv_id = [f"conv{c:06d}" for c in conv]
    return pa.table(
        {
            "lsn": lsn,
            "op": op.tolist(),
            "conv_id": conv_id,
            "turn_idx": turn,
            "role": [ROLES[t % 3] for t in turn],
            "text": [
                f"turn {t} of {c} rev{n}" for t, c, n in zip(turn, conv_id, lsn)
            ],
            "tool": [TOOLS[p - 1] if p else None for p in tool_pick],
            "ts": pa.array(BASE_EPOCH_US + lsn * 1_000_000, pa.int64()).cast(
                pa.timestamp("us", tz="UTC")
            ),
        },
        schema=FEED_SCHEMA,
    )


def write_batches(
    feed: pa.Table, out_dir: str, n_batches: int, files_per_batch: int = 4
) -> list[str]:
    """Contiguous LSN ranges, one ``batch_NNNNN`` directory each, every batch
    split into contiguous files (the on-disk shape ``CdcEngine.replay`` reads)."""
    n = feed.num_rows
    paths = []
    for b in range(n_batches):
        lo, hi = n * b // n_batches, n * (b + 1) // n_batches
        path = os.path.join(out_dir, f"batch_{b:05d}")
        os.makedirs(path)
        for f in range(files_per_batch):
            a = lo + (hi - lo) * f // files_per_batch
            z = lo + (hi - lo) * (f + 1) // files_per_batch
            pq.write_table(feed.slice(a, z - a), f"{path}/part-{f:05d}.parquet")
        paths.append(path)
    return paths


def checksum(con: duckdb.DuckDBPyConnection, relation: str, expr: str) -> str:
    """Row count and order-independent hash sum of ``relation``."""
    n, h = con.execute(f"SELECT count(*), sum({expr}) FROM {relation}").fetchone()
    return f"{n}:{h or 0}"


def parquet_glob(paths: list[str]) -> str:
    files = ", ".join(f"'{p}/*.parquet'" for p in paths)
    return f"read_parquet([{files}])"


def reference_state(con: duckdb.DuckDBPyConnection, paths: list[str]) -> str:
    """Max-LSN replay of the feed in DuckDB: the winner per key survives
    unless it is a delete."""
    return checksum(
        con,
        f"""(SELECT * FROM (
              SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                                           ORDER BY lsn DESC) AS rn
              FROM {parquet_glob(paths)}) WHERE rn = 1 AND op <> 'D')""",
        STATE_HASH,
    )


# --------------------------------------------------------------------------
# query-suite tables
# --------------------------------------------------------------------------

# The shape of the sf0.1 test tables bench.py's suite ran on, as measured
# from them (the figures are in METRICS.md): a 30-word vocabulary drawn
# uniformly, 10-100 words per document, a language label that is independent
# of the text, 5% of documents a copy of another with " dup" appended and
# 0.16% a verbatim copy, and unit-norm isotropic (clusterless) embeddings
# whose label is independent of the vector.
_WORDS = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data join "
    "vector customer a the"
).split()
_LANGS, _LANG_P = ["en", "de", "es", "fr", "zh"], [0.4, 0.15, 0.15, 0.15, 0.15]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
NEAR_DUP_FRAC, EXACT_DUP_FRAC = 0.05, 0.0016


def suite_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """``events``/``documents``/``embeddings`` at ``scale`` (1.0 = the
    sf0.1 test data's row counts: 100k events, 5k documents, 2k vectors)."""
    rng = np.random.default_rng(seed)
    n_ev = int(100_000 * scale)
    gaps = rng.exponential(30 * 86400 / max(n_ev, 1), n_ev)
    ts_us = 1_704_067_200 * 1_000_000 + (np.cumsum(gaps) * 1e6).astype(np.int64)
    events = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(ts_us, pa.int64()).cast(pa.timestamp("us")),
            "user_id": rng.integers(0, 1500, n_ev).astype(np.int64),
            "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )

    n_docs = int(5_000 * scale)
    texts = [
        " ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), n_words))
        for n_words in rng.integers(10, 101, n_docs)
    ]
    kind = rng.random(n_docs)
    other = rng.permutation(n_docs)  # each document is copied at most once
    texts = [
        texts[o] + " dup" if k < NEAR_DUP_FRAC
        else texts[o] if k < NEAR_DUP_FRAC + EXACT_DUP_FRAC
        else t
        for t, k, o in zip(texts, kind, other)
    ]
    documents = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": [_LANGS[i] for i in rng.choice(len(_LANGS), n_docs, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )

    n_vec, dim = int(2_000 * scale), 64
    vecs = rng.standard_normal((n_vec, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_vec).astype(np.int32),
        }
    )
    return {"events": events, "documents": documents, "embeddings": embeddings}


def write_suite(tables: dict[str, pa.Table], out_dir: str) -> dict[str, str]:
    """Write each table as ``<name>.parquet`` (the layout the registry's
    ``sf_dir`` argument expects); return each file's content checksum."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    sums = {}
    for name, table in tables.items():
        path = f"{out_dir}/{name}.parquet"
        pq.write_table(table, path)
        sums[name] = suite_checksum(con, path)
    con.close()
    return sums


def suite_checksum(con: duckdb.DuckDBPyConnection, path: str) -> str:
    cols = [f.name for f in pq.read_schema(path)]
    expr = "hash(" + ", ".join(f"{c}::VARCHAR" for c in cols) + ")"
    return checksum(con, f"read_parquet('{path}')", expr)
