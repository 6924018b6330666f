"""BLAS-batched ANN kernels == the JVM expression forms, row-for-row on
the sf0.01 fixture: same quantized cosines (the float64 matmul is exact
below 2^53), same argmax/probe tie-breaks, same top-k. Plus the
auto-nprobe selector's contract on the clustered fixture.
"""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from dint_spark.ops.similarity import (QUERY_MOD, _assign_cells, _emb_q,
                                       _ivf_rerank, _probe_cells,
                                       ann_cosine_topk, assign_cells_blas,
                                       exact_topk_blas, ivf_auto_nprobe,
                                       ivf_seed_centroids, probe_cells_blas)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="module")
def eqs(spark):
    return _emb_q(spark, SF_DIR).cache()


@pytest.fixture(scope="module")
def cents(spark, eqs):
    return ivf_seed_centroids(eqs).cache()


def test_assign_blas_matches_jvm(spark, eqs, cents):
    jvm = {r["vec_id"]: r["cell"] for r in _assign_cells(
        eqs, F.broadcast(cents), "vec_id", "eq", "n2").collect()}
    blas = {r["vec_id"]: r["cell"] for r in
            assign_cells_blas(eqs, cents).collect()}
    assert jvm == blas


def test_probe_blas_matches_jvm(spark, eqs, cents):
    qs = eqs.where(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), F.col("eq").alias("q_eq"),
        F.col("n2").alias("q_n2"))
    n = 4
    jvm = {(r["query_id"], r["cell"]) for r in _probe_cells(
        qs, F.broadcast(cents), "query_id", "q_eq", "q_n2",
        ["query_id"], n).collect()}
    blas_rows = probe_cells_blas(qs, cents, n).collect()
    blas = {(r["query_id"], r["cell"]) for r in blas_rows}
    assert jvm == blas
    # pr is a valid 1..n dense rank per query
    per_q: dict[int, list[int]] = {}
    for r in blas_rows:
        per_q.setdefault(r["query_id"], []).append(r["pr"])
    assert all(sorted(v) == list(range(1, n + 1)) for v in per_q.values())


def test_exact_blas_matches_cosine_topk(spark, eqs):
    want = ann_cosine_topk(spark, SF_DIR).toPandas().sort_values(
        ["query_id", "rank"]).reset_index(drop=True)
    got = exact_topk_blas(eqs).toPandas().sort_values(
        ["query_id", "rank"]).reset_index(drop=True)
    assert list(got.columns) == list(want.columns)
    assert (got.values == want.values).all()


def test_ivf_rerank_blas_pipeline_matches_jvm(spark, eqs, cents):
    from dint_spark.ops.similarity import _ivf_search

    want = _ivf_search(eqs, F.broadcast(cents)).toPandas().sort_values(
        ["query_id", "rank"]).reset_index(drop=True)
    qs = eqs.where(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), F.col("eq").alias("q_eq"),
        F.col("n2").alias("q_n2"))
    assigned = assign_cells_blas(eqs, cents)
    probes = probe_cells_blas(qs, cents, 4)
    got = _ivf_rerank(assigned, probes).toPandas().sort_values(
        ["query_id", "rank"]).reset_index(drop=True)
    assert (got.values == want.values).all()


def test_auto_nprobe_on_clustered_fixture(spark, tmp_path):
    from test_ivf_trained import _write_clustered_embeddings

    sf = _write_clustered_embeddings(spark, tmp_path)
    eqs = _emb_q(spark, sf).cache()
    from dint_spark.ops.similarity import ivf_train_centroids

    cents = ivf_train_centroids(eqs, iters=1)
    chosen, curve = ivf_auto_nprobe(spark, eqs, cents,
                                    target_recall=0.8, max_nprobe=16)
    # curve is monotone non-decreasing in nprobe and the selector stops
    # at the first point meeting the target
    recalls = [c["recall_mean"] for c in curve]
    assert all(b >= a - 1e-9 for a, b in zip(recalls, recalls[1:]))
    assert chosen is not None and recalls[-1] >= 0.8
    assert curve[-1]["nprobe"] == chosen
    for c in curve[:-1]:
        assert c["recall_mean"] < 0.8


def test_kmeans_par_blas_rounds_match_jvm(spark, tmp_path):
    """The BLAS min-distance pass is int-identical to the JVM
    crossJoin+max form (same quantized cosine algebra), and the blas
    k-means|| init is deterministic across runs."""
    from test_ivf_trained import _write_clustered_embeddings

    from dint_spark.ops.similarity import (_emb_q, _scored_cents,
                                           ivf_init_kmeans_par)

    sf = _write_clustered_embeddings(spark, tmp_path)
    eqs = _emb_q(spark, sf).cache()
    # d2 parity on one candidate set (the seed row, like round 1)
    rows = (eqs.orderBy("vec_id").limit(3)
            .select(F.col("vec_id").alias("cent_id"),
                    F.col("eq").alias("c_eq"),
                    F.col("n2").alias("c_n2")).collect())
    cdf = spark.createDataFrame(
        [(int(r["cent_id"]), [int(x) for x in r["c_eq"]], int(r["c_n2"]))
         for r in rows], "cent_id long, c_eq array<long>, c_n2 long")
    jvm = {r["vec_id"]: 1000000 - r["mx"] for r in
           _scored_cents(eqs, F.broadcast(cdf), "eq", "n2")
           .groupBy("vec_id").agg(F.max("__cos_q").alias("mx")).collect()}
    import dint_spark.ops.similarity as S
    import numpy as np

    C = np.stack([np.array(r["c_eq"], dtype=np.float64) for r in rows])
    cn2 = np.array([float(r["c_n2"]) for r in rows])
    pdf = eqs.select("vec_id", "eq", "n2").toPandas()
    V = np.stack(pdf["eq"].to_numpy()).astype(np.float64)
    n2 = pdf["n2"].to_numpy().astype(np.float64)
    cq = np.floor((V @ C.T) / np.sqrt(n2[:, None] * cn2[None, :])
                  * 1000000.0)
    blas = dict(zip(pdf["vec_id"], (1000000 - cq.max(axis=1)).astype(int)))
    assert jvm == blas

    a = ivf_init_kmeans_par(eqs, 40, blas=True).toPandas().sort_values(
        "cent_id").reset_index(drop=True)
    b = ivf_init_kmeans_par(eqs, 40, blas=True).toPandas().sort_values(
        "cent_id").reset_index(drop=True)
    assert len(a) == 40 and a.equals(b)


def test_exact_blas_tie_heavy_matches_lexsort(spark):
    """Quantized-cosine ties at the k-th value: every batch cuts its tied
    rows by vec_id, so the global (cos_q desc, vec_id asc) cut equals a
    full lexsort. Rows arrive in descending vec_id order, so a batch cut that
    kept an arbitrary k of the tied rows would lose the smallest ids."""
    import pandas as pd

    from dint_spark.ops.similarity import TOPK

    dirs = np.array([[3, 0], [0, 3], [2, 2]], dtype=np.int64)
    n = 12 * QUERY_MOD
    vid = np.arange(n, dtype=np.int64)[::-1]
    V = dirs[vid % 3]
    n2 = (V * V).sum(axis=1)
    pdf = pd.DataFrame({"vec_id": vid, "eq": list(V), "n2": n2})
    eqs = spark.createDataFrame(pdf, "vec_id long, eq array<long>, n2 long")
    got = exact_topk_blas(eqs).toPandas().sort_values(["query_id", "rank"])
    want = []
    for q in np.flatnonzero(vid % QUERY_MOD == 0):
        cq = np.floor((V @ V[q]) / np.sqrt(n2 * n2[q]) * 1000000.0)
        top = np.lexsort((vid, -cq))[:TOPK]
        want += [(vid[q], r + 1, vid[j], cq[j]) for r, j in enumerate(top)]
    want = pd.DataFrame(want, columns=["query_id", "rank", "vec_id", "cos_q"]
                        ).sort_values(["query_id", "rank"])
    assert (got.values == want.values).all()
