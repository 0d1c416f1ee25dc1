"""SQ8 scalar quantization (operators/similarity.py sq8_stats /
sq8_encode / sq8_topk): code-range bounds, constant-dimension
handling, integer-exact encode vs a numpy replay, ranking monotone in
the dequantized dot product, and partitioning invariance."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from crawlers_spark.operators.similarity import (
    QUANT_SCALE,
    SQ8_UDF_MAX_QUERIES,
    sq8_encode,
    sq8_stats,
    sq8_topk,
)

N, D = 40, 6
RNG = np.random.default_rng(7)
VECS = RNG.normal(size=(N, D)).astype(np.float32)
VECS[:, 3] = 0.25  # constant dimension → span 0 → code 0 everywhere


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [(i, [float(x) for x in VECS[i]]) for i in range(N)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _np_quant():
    return np.round(VECS.astype(np.float64) * QUANT_SCALE).astype(np.int64)


def test_encode_matches_numpy(spark, corpus):
    stats = sq8_stats(corpus, n_dims=D)
    got = {
        r["neighbor_id"]: r["codes"]
        for r in sq8_encode(corpus, stats, n_dims=D).collect()
    }
    q = _np_quant()
    mn, mx = q.min(axis=0), q.max(axis=0)
    span = mx - mn
    for i in range(N):
        for d in range(D):
            want = 0 if span[d] == 0 else ((q[i, d] - mn[d]) * 255) // span[d]
            assert got[i][d] == want, (i, d)
            assert 0 <= got[i][d] <= 255


def test_topk_matches_numpy_ranking(spark, corpus):
    q = _np_quant()
    mn, span = q.min(axis=0), q.max(axis=0) - q.min(axis=0)
    codes = np.where(span == 0, 0, ((q - mn) * 255) // np.where(span == 0, 1, span))
    deq = 255 * mn + codes * span
    out = sq8_topk(
        corpus.where(F.col("vec_id") < 3), corpus, n_dims=D, k=4
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for qi in range(3):
        scores = q[qi] @ deq.T
        order = sorted(
            (int(j) for j in range(N) if j != qi),
            key=lambda j: (-scores[j], j),
        )[:4]
        got = [r["neighbor_id"] for r in sorted(by_q[qi], key=lambda r: r["rank"])]
        assert got == order
        for r in by_q[qi]:
            assert r["score_sq8"] == int(scores[r["neighbor_id"]])


def test_partitioning_invariance(spark, corpus):
    qs = corpus.where(F.col("vec_id") < 5)
    a = sorted(map(tuple, sq8_topk(qs, corpus, n_dims=D, k=3).collect()))
    b = sorted(
        map(tuple, sq8_topk(qs, corpus.repartition(9), n_dims=D, k=3).collect())
    )
    assert a == b


def test_udf_path_parity(spark, corpus):
    qs = corpus.where(F.col("vec_id") < 4)
    expr = sorted(map(tuple, sq8_topk(qs, corpus, n_dims=D, k=5).collect()))
    udf = sorted(
        map(tuple, sq8_topk(qs, corpus, n_dims=D, k=5, use_udf=True).collect())
    )
    assert expr == udf


def test_udf_path_bounds_query_collect(spark, corpus):
    qs = spark.range(SQ8_UDF_MAX_QUERIES + 1).select(
        F.col("id").alias("vec_id"),
        F.array_repeat(F.lit(0.5).cast("float"), D).alias("embedding"),
    )
    with pytest.raises(ValueError, match="SQ8_UDF_MAX_QUERIES=4096.*use_udf=False"):
        sq8_topk(qs, corpus, n_dims=D, k=3, use_udf=True)
