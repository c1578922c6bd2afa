"""The one similarity kernel (operators/embedding.py: ``l2_normalize``,
``fixed_dot``/``dot_rows``, ``topk_rows``): its tie rule, the score bits every
kNN path shares, and bit-identical output under every OpenBLAS kernel."""

from __future__ import annotations

import json
import os
import pickle
import subprocess
import sys

import numpy as np

from magneto_matcher_spark.operators.embedding import (
    knn_topk,
    knn_topk_ivf,
    knn_topk_lsh,
    topk_rows,
)
from tests.test_r06_optimizations import SF_DIR

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_kth_place_follows_id_tie_rule(spark):
    """Every column tied with the k-th score competes on id: with six
    corpus vectors tied below four exact matches, k=6 takes ids 1 and 2."""
    e1, e2 = [1.0, 0.0, 0.0, 0.0], [1.0, 1.0, 0.0, 0.0]
    corpus = spark.createDataFrame(
        [(i, e1 if i in (0, 7, 8, 9) else e2) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    query = spark.createDataFrame([(100, e1)], "vec_id long, embedding array<double>")
    got = [r["neighbor_id"] for r in knn_topk(query, corpus, k=6).collect()]
    assert got == [0, 7, 8, 9, 1, 2]
    # IVF probe cells: ties go to the lowest cell
    sims = np.array([[0.5, 0.9, 0.5, 0.5, 0.1]])
    assert topk_rows(sims, np.arange(5), 3).tolist() == [[1, 0, 2]]


def test_every_knn_path_scores_the_same_bits(spark):
    """LSH, IVF broadcast and IVF cell-join score every pair they share with
    ``knn_topk`` to the same bits, and both IVF shapes return the same rows."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(300).cache()
    q = emb.limit(20).cache()
    dim = len(emb.first()["embedding"])

    def scores(df):
        return {(r["vec_id"], r["neighbor_id"]): r["score"] for r in df.collect()}

    exact = scores(knn_topk(q, emb, k=10))
    lsh = scores(knn_topk_lsh(q, emb, k=10, dim=dim))
    ivf_bc = knn_topk_ivf(q, emb, k=10).orderBy("vec_id", "neighbor_id").collect()
    ivf_join = knn_topk_ivf(q, emb, k=10, max_broadcast_queries=0).orderBy(
        "vec_id", "neighbor_id"
    ).collect()
    assert ivf_bc == ivf_join
    ivf = {(r["vec_id"], r["neighbor_id"]): r["score"] for r in ivf_bc}
    for approx in (lsh, ivf):
        shared = exact.keys() & approx.keys()
        assert len(shared) >= 0.8 * len(exact)
        assert {p: approx[p] for p in shared} == {p: exact[p] for p in shared}


_CHILD = r"""
import ctypes, hashlib, json, pickle, sys
sys.path.insert(0, sys.argv[1])
import numpy as np
from numpy.core._multiarray_umath import __cpu_features__
from magneto_matcher_spark.operators.embedding import dot_rows, l2_normalize, topk_rows
from magneto_matcher_spark.plans.matcher import _embedding_pairs

def openblas_core():
    libs = [ln.split()[-1] for ln in open("/proc/self/maps") if "openblas" in ln]
    for name in ("openblas_get_corename64_", "openblas_get_corename"):
        f = getattr(ctypes.CDLL(libs[0]), name, None) if libs else None
        if f is not None:
            f.argtypes, f.restype = [], ctypes.c_char_p
            return f().decode()

with open(sys.argv[2], "rb") as fh:
    args, kwargs = pickle.load(fh)
pairs = _embedding_pairs(*args, **kwargs)
rng = np.random.default_rng(7)
m = l2_normalize(rng.standard_normal((2000, 256)))
sims = dot_rows(m, l2_normalize(rng.standard_normal((16, 256))))
h = hashlib.sha256(repr(pairs).encode() + sims.tobytes())
h.update(np.argmax(sims, axis=1).tobytes() + topk_rows(sims, np.arange(16), 8).tobytes())
print(json.dumps({"core": openblas_core(), "avx512f": __cpu_features__["AVX512F"],
                  "n_pairs": len(pairs), "hash": h.hexdigest()}))
"""


def test_f4_scores_identical_under_every_blas_kernel(spark, tmp_path, monkeypatch):
    """f4's embedding pairs and the IVF training shape (2000×16×256) hash
    the same under every OpenBLAS kernel this CPU can run, and with numpy's
    AVX-512 loops disabled; f4's fingerprint equals the benchmark's pin."""
    from magneto_matcher_spark.plans import matcher
    from magneto_matcher_spark.queries import magneto_get_matches_f4
    from perfbench.run import fingerprint

    seen = []
    embedding_pairs = matcher._embedding_pairs

    def record(*args, **kwargs):
        seen.append((args, kwargs))
        return embedding_pairs(*args, **kwargs)

    monkeypatch.setattr(matcher, "_embedding_pairs", record)
    f4 = fingerprint(magneto_get_matches_f4(spark, SF_DIR).toPandas())
    with open(os.path.join(ROOT, "perfbench", "pinned.json")) as fh:
        assert f4 == json.load(fh)["rows_only"]["magneto_get_matches_f4"]
    rows = tmp_path / "f4_rows.pkl"
    rows.write_bytes(pickle.dumps(seen[0]))

    import numpy.core._multiarray_umath as npu

    flags = set()
    with open("/proc/cpuinfo") as fh:
        for line in fh:
            if line.startswith("flags"):
                flags = set(line.split(":", 1)[1].split())
                break
    envs = [{"OPENBLAS_CORETYPE": "Prescott"}]
    if "avx2" in flags:
        envs.append({"OPENBLAS_CORETYPE": "Haswell"})
    if "avx512f" in flags:
        envs.append({"OPENBLAS_CORETYPE": "SkylakeX"})
        avx512 = [f for f in npu.__cpu_dispatch__
                  if f.startswith("AVX512") and npu.__cpu_features__.get(f)]
        envs.append({"OPENBLAS_CORETYPE": "SkylakeX",
                     "NPY_DISABLE_CPU_FEATURES": ",".join(avx512)})
    out = []
    for extra in envs:
        proc = subprocess.run(
            [sys.executable, "-c", _CHILD, ROOT, str(rows)],
            env={**os.environ, **extra}, capture_output=True, text=True,
            timeout=300,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        got = json.loads(proc.stdout.strip().splitlines()[-1])
        if got["core"] is not None:
            assert got["core"].lower() == extra["OPENBLAS_CORETYPE"].lower()
        if "NPY_DISABLE_CPU_FEATURES" in extra:
            assert not got["avx512f"]
        out.append(got)
    assert out[0]["n_pairs"] > 0
    assert len({o["hash"] for o in out}) == 1, out
