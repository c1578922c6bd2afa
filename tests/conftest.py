import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from magneto_matcher_spark.operators.textops import LANG_STOPWORDS  # noqa: E402
from magneto_matcher_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="mms_tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "8g"},
    )
    yield s


def build_jobs(spark, build):
    """``build()``'s result and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"build-{os.urandom(4).hex()}"
    sc.setJobGroup(group, "jobs run while building a frame")
    try:
        df = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return df, len(sc.statusTracker().getJobIdsForGroup(group))


def sequential_replay_oracle(events):
    """Pure-Python oracle: apply change events one-by-one in LSN order.

    events: list of dicts with lsn/op/conv_id/turn_idx/payload columns.
    Returns {(conv_id, turn_idx): row_dict} of the final state.
    """
    state = {}
    for ev in sorted(events, key=lambda e: e["lsn"]):
        k = (ev["conv_id"], ev["turn_idx"])
        if ev["op"] == "D":
            state.pop(k, None)
        else:
            state[k] = {c: v for c, v in ev.items() if c != "op"}
    return state


# ---- array-form reference kernels --------------------------------------
# The split-array and higher-order-function formulations that the package's
# regexp / numpy kernels replaced; tests pin the package kernels to them.

def tokens_expr(text):
    """Whitespace tokenization with empty-token filtering."""
    return F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != "")


def token_count_expr(text):
    """Whitespace token count."""
    return F.size(tokens_expr(text))


def stopword_hits_expr(toks, lang):
    """Count of tokens in ``toks`` that are ``lang`` stopwords (the tokens
    must already be lowered) — the array form of
    ``textops.stopword_count_rc_expr``."""
    sw = F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))


def cosine_expr(a, b):
    """SQL-expressible cosine of two array<float/double> columns (0.0 when
    either norm is 0 or either side is null) — the DuckDB-oracle form of
    ``embedding.cosine_pairs_udf``."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))
