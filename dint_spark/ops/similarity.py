"""Similarity search over the embeddings table (array<float> column).

  ann_cosine_topk   brute-force cosine top-10 for each query vector — the
                    exactness baseline. Integer-quantized components make
                    dot products exact int64 arithmetic, so ranking is
                    bit-identical across engines.
  ann_filtered_topk ES filtered kNN: a label predicate restricts the
                    corpus BEFORE top-k selection (pushed parquet
                    filter), so neighbors always satisfy it and k fills
                    from the filtered set.
  ann_lsh_topk      random-hyperplane LSH (16 md5-derived sign planes ->
                    16-bit bucket), multi-probe radius 3 on bucket Hamming
                    distance, exact cosine re-rank of candidates — the
                    scale path: candidates come from bucket blocking, not
                    an all-pairs scan.
  ann_ivf_topk      inverted-file (IVF) partitioning: vectors binned by
                    nearest centroid (deterministic coarse quantizer,
                    broadcast map-side assignment), queries probe the
                    NPROBE nearest cells, exact cosine re-rank — the
                    second scale path, complementary to LSH (cells adapt
                    to the data distribution).

Queries are the vectors with vec_id % 50 == 0 (deterministic, sf-scaled).

Scale design: the query side is tiny and broadcast; the corpus side stays
partitioned. Top-k per query = k rows back per query (TakeOrderedAndProject
semantics via window rank over candidate sets, never a global sort of the
corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dint_spark.ops.common import hash60, q6, sql_hash60, sql_q6

TOPK = 10
QUERY_MOD = 50
EMB_SCALE = 1 << 20
NUM_PLANES = 16
PROBE_HAMMING = 3
DIM = 64


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def _emb_q(spark: SparkSession, sf_dir: str,
           extra_cols: tuple = ()) -> DataFrame:
    e = _embeddings(spark, sf_dir)
    eq = F.transform(
        "embedding", lambda x: F.floor(x.cast("double") * EMB_SCALE).cast("long")
    )
    return e.select(
        "vec_id",
        *extra_cols,
        eq.alias("eq"),
        F.aggregate(
            eq, F.lit(0).cast("long"), lambda acc, x: acc + x * x
        ).alias("n2"),
    )


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


_EMBQ_SQL = f"""
dims AS (SELECT unnest(generate_series(1, {DIM})) AS d),
eq AS (
  SELECT vec_id, d.d,
         floor(embedding[d.d]::DOUBLE * {EMB_SCALE})::BIGINT AS c
  FROM embeddings, dims d
),
n2 AS (SELECT vec_id, sum(c * c)::BIGINT AS n2 FROM eq GROUP BY 1)
"""


# ---------------------------------------------------------------------------
# ann_cosine_topk (brute force)
# ---------------------------------------------------------------------------

def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    eqs = _emb_q(spark, sf_dir)
    qs = eqs.where(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("eq").alias("q_eq"),
        F.col("n2").alias("q_n2"),
    )
    pairs = F.broadcast(qs).crossJoin(eqs).select(
        "query_id",
        "vec_id",
        _dot(F.col("q_eq"), F.col("eq")).alias("dot"),
        "q_n2",
        "n2",
    )
    cos = F.col("dot") / F.sqrt(
        F.col("q_n2").cast("double") * F.col("n2").cast("double")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_q"), F.asc("vec_id")
    )
    return (
        pairs.withColumn("cos_q", q6(cos))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOPK)
        .select("query_id", F.col("rank").cast("int").alias("rank"),
                "vec_id", "cos_q")
    )


ANN_COSINE_SQL = f"""
WITH {_EMBQ_SQL.strip()},
qids AS (SELECT vec_id AS query_id FROM embeddings WHERE vec_id % {QUERY_MOD} = 0),
dots AS (
  SELECT q.query_id, y.vec_id, sum(x.c * y.c)::BIGINT AS dot
  FROM qids q
  JOIN eq x ON x.vec_id = q.query_id
  JOIN eq y ON y.d = x.d
  GROUP BY 1, 2
),
scored AS (
  SELECT d.query_id, d.vec_id,
         {sql_q6('d.dot / sqrt(nq.n2::DOUBLE * nv.n2::DOUBLE)')} AS cos_q
  FROM dots d
  JOIN n2 nq ON nq.vec_id = d.query_id
  JOIN n2 nv ON nv.vec_id = d.vec_id
)
SELECT query_id, rank, vec_id, cos_q FROM (
  SELECT query_id, vec_id, cos_q,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_q DESC, vec_id ASC)::INT AS rank
  FROM scored
) r WHERE rank <= {TOPK}
ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------------
# ann_lsh_topk (random-hyperplane LSH buckets + exact re-rank)
# ---------------------------------------------------------------------------

def plane_signs() -> list[tuple[int, int, int]]:
    """(plane, dim, sign) hyperplane components, sign = +1 iff
    H('pl{p}_{d}') is even with H = first-60-bits-of-md5 — computed
    driver-side (a 16x64 constant) so the bucket plan needs no crossJoin;
    bit-identical to the SQL oracle's md5 derivation."""
    import hashlib

    out = []
    for p in range(NUM_PLANES):
        for d in range(DIM):
            h = int(hashlib.md5(f"pl{p}_{d}".encode()).hexdigest()[:15], 16)
            out.append((p, d, 1 - 2 * (h % 2)))
    return out


def _lsh_buckets(spark: SparkSession, eqs: DataFrame) -> DataFrame:
    """16-bit hyperplane-sign bucket per vector. Plane signs are md5-derived
    (+1 if H('pl{p}_{d}') is even), identical in the SQL oracle."""
    pd_ = spark.createDataFrame(plane_signs(), ["p", "d", "sign"]).select(
        F.col("p").cast("int"), F.col("d").cast("int"),
        F.col("sign").cast("int"))
    comps = eqs.select(
        "vec_id", F.posexplode("eq").alias("d", "c")
    )
    contrib = comps.join(F.broadcast(pd_), "d").groupBy("vec_id", "p").agg(
        F.sum(F.col("sign") * F.col("c")).alias("s")
    )
    return contrib.groupBy("vec_id").agg(
        F.sum(
            F.when(F.col("s") > 0, F.expr("CAST(shiftleft(1L, p) AS BIGINT)"))
            .otherwise(F.lit(0))
        ).cast("long").alias("bucket")
    )


def probe_masks(bits: int, radius: int) -> list[tuple[int, int]]:
    """All (mask, popcount) with popcount <= radius over `bits` bits — the
    multi-probe set: {b XOR mask} enumerates EXACTLY the Hamming-<=radius
    ball around bucket b (C(16,<=3) = 697 probes)."""
    return [(m, bin(m).count("1")) for m in range(1 << bits)
            if bin(m).count("1") <= radius]


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH top-k: each query explodes into its 697 probe buckets
    (the exact Hamming-<=3 ball of its 16-bit code) and equi-joins the
    bucketed corpus on `bucket` — a broadcast HASH join touching only
    colliding vectors, never a crossJoin scan of the corpus per query
    (round-1 plan; output is identical by construction since the probe set
    IS the Hamming ball). Exact cosine re-ranks the candidates."""
    eqs = _emb_q(spark, sf_dir).cache()
    buckets = _lsh_buckets(spark, eqs)
    ev = eqs.join(buckets, "vec_id")
    qs = ev.where(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("eq").alias("q_eq"),
        F.col("n2").alias("q_n2"),
        F.col("bucket").alias("q_bucket"),
    )
    mask_lits = F.array(*[F.lit(m) for m, _ in probe_masks(NUM_PLANES,
                                                           PROBE_HAMMING)])
    probes = (
        # explode the literal probe-mask array: a Generate node, not a join —
        # the whole candidate plan stays BroadcastHashJoin-only
        qs.withColumn("mask", F.explode(mask_lits))
        .withColumn("bucket", F.col("q_bucket").bitwiseXOR(F.col("mask")))
        .withColumn("bham", F.bit_count(F.col("mask")).cast("long"))
        .drop("mask", "q_bucket")
    )
    # each (query, vector) pair matches at most ONE probe row (the mask is
    # the XOR of the two buckets), so no dedup is needed
    cand = ev.join(F.broadcast(probes), "bucket")
    cos = F.col("dot") / F.sqrt(
        F.col("q_n2").cast("double") * F.col("n2").cast("double")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_q"), F.asc("vec_id"))
    return (
        cand.withColumn("dot", _dot(F.col("q_eq"), F.col("eq")))
        .withColumn("cos_q", q6(cos))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOPK)
        .select("query_id", F.col("rank").cast("int").alias("rank"),
                "vec_id", "cos_q", "bham")
    )


# the bucket derivation, shared with dedup_embedding's oracle (references
# the eq/dims CTEs of _EMBQ_SQL)
LSH_BUCKETS_SQL = f"""
planes AS (SELECT unnest(generate_series(0, {NUM_PLANES - 1})) AS p),
pdims AS (
  SELECT p.p, dm.d,
         1 - 2 * ({sql_hash60("'pl' || p.p || '_' || (dm.d - 1)")} % 2) AS sign
  FROM planes p, dims dm
),
contrib AS (
  SELECT e.vec_id, pd.p, sum(pd.sign * e.c)::BIGINT AS s
  FROM eq e JOIN pdims pd ON pd.d = e.d
  GROUP BY 1, 2
),
buckets AS (
  SELECT vec_id,
         sum(CASE WHEN s > 0 THEN (1::BIGINT << p) ELSE 0 END)::BIGINT AS bucket
  FROM contrib GROUP BY 1
)
"""

ANN_LSH_SQL = f"""
WITH {_EMBQ_SQL.strip()},
{LSH_BUCKETS_SQL.strip()},
qids AS (
  SELECT b.vec_id AS query_id, b.bucket AS q_bucket
  FROM buckets b WHERE b.vec_id % {QUERY_MOD} = 0
),
cand AS (
  SELECT q.query_id, b.vec_id,
         bit_count(xor(q.q_bucket, b.bucket))::BIGINT AS bham
  FROM qids q, buckets b
  WHERE bit_count(xor(q.q_bucket, b.bucket)) <= {PROBE_HAMMING}
),
dots AS (
  SELECT c.query_id, c.vec_id, c.bham, sum(x.c * y.c)::BIGINT AS dot
  FROM cand c
  JOIN eq x ON x.vec_id = c.query_id
  JOIN eq y ON y.vec_id = c.vec_id AND y.d = x.d
  GROUP BY 1, 2, 3
),
scored AS (
  SELECT d.query_id, d.vec_id, d.bham,
         {sql_q6('d.dot / sqrt(nq.n2::DOUBLE * nv.n2::DOUBLE)')} AS cos_q
  FROM dots d
  JOIN n2 nq ON nq.vec_id = d.query_id
  JOIN n2 nv ON nv.vec_id = d.vec_id
)
SELECT query_id, rank, vec_id, cos_q, bham FROM (
  SELECT query_id, vec_id, cos_q, bham,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_q DESC, vec_id ASC)::INT AS rank
  FROM scored
) r WHERE rank <= {TOPK}
ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------------
# ann_ivf_topk (inverted-file partitioning + exact re-rank)
# ---------------------------------------------------------------------------

CENT_MOD = 37  # coprime with QUERY_MOD; nlist scales with the corpus
NPROBE = 4


def _cos_q_cent(n2_col: str):
    """Quantized cosine of a vector row against the joined centroid row."""
    return q6(F.col("__dot") / F.sqrt(
        F.col(n2_col).cast("double") * F.col("c_n2").cast("double")))


def _scored_cents(df: DataFrame, cents, vec_col: str, n2_col: str):
    """Broadcast nested loop against the tiny centroid table: O(nlist)
    map-side work per vector, NO shuffle — the IVF assignment contract."""
    return (
        df.crossJoin(cents)
        .withColumn("__dot", _dot(F.col(vec_col), F.col("c_eq")))
        .withColumn("__cos_q", _cos_q_cent(n2_col))
    )


def _assign_cells(df: DataFrame, cents, id_col: str, vec_col: str,
                  n2_col: str) -> DataFrame:
    """Nearest-centroid assignment as a map-side-combinable argmax.

    The round-2 form ranked the n x nlist scored rows with a
    Window.partitionBy(id).row_number — window functions have no partial
    aggregation, so ALL n x nlist rows entered the exchange (at n=10^10,
    nlist~sqrt(n), that shuffle dwarfs the data). max_by IS partially
    aggregable: each task reduces its scored rows to one per vector before
    the shuffle, so the exchange carries ~n rows regardless of nlist
    (round-2 VERDICT item 2). Tie-break identical to the window form:
    highest __cos_q, then lowest cent_id (via the negated id in the
    ordering struct). vec/n2 are constant within a group, so first() is
    value-deterministic."""
    scored = _scored_cents(df, cents, vec_col, n2_col)
    best = F.max_by(
        "cent_id",
        F.struct(F.col("__cos_q").alias("c"),
                 (-F.col("cent_id")).alias("nid")),
    ).alias("cell")
    return (
        scored.groupBy(id_col)
        .agg(best, F.first(vec_col).alias(vec_col),
             F.first(n2_col).alias(n2_col))
        .select(id_col, vec_col, n2_col, "cell")
    )


def _probe_cells(df: DataFrame, cents, id_col: str, vec_col: str,
                 n2_col: str, keep: list, n: int) -> DataFrame:
    """Top-n nearest cells per QUERY vector (one row per (query, cell)).
    Queries are a 1/QUERY_MOD sliver of the corpus, so the window over
    queries x nlist rows is tiny here; the corpus-side assignment must
    use _assign_cells instead."""
    w = Window.partitionBy(id_col).orderBy(F.desc("__cos_q"), F.asc("cent_id"))
    return (
        _scored_cents(df, cents, vec_col, n2_col)
        .withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") <= n)
        .select(*keep, F.col("cent_id").alias("cell"))
    )


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k: corpus vectors are partitioned into inverted lists by
    nearest centroid; each query probes only its NPROBE nearest cells and
    exact cosine re-ranks the candidates.

    Centroids are chosen deterministically (vec_id % CENT_MOD == 1 — a
    data-driven coarse quantizer without an iterative trainer, so the SQL
    oracle can reproduce the structure exactly; swapping in k-means
    centroids changes only the centroid table). Assignment is a broadcast
    of the tiny centroid table against the partitioned corpus — O(nlist)
    map-side work per vector, NO shuffle, which is the IVF build contract
    at any scale; the only shuffled data is the per-cell candidate join.
    At 100 TB: nlist ~ sqrt(N) centroids broadcast once, each corpus
    partition writes its cell assignments locally, queries touch
    NPROBE/nlist of the corpus.
    """
    eqs = _emb_q(spark, sf_dir).cache()
    cents = F.broadcast(
        eqs.where(F.col("vec_id") % CENT_MOD == 1).select(
            F.col("vec_id").alias("cent_id"),
            F.col("eq").alias("c_eq"),
            F.col("n2").alias("c_n2"),
        )
    )

    return _ivf_search(eqs, cents)


def _ivf_search(eqs: DataFrame, cents, nprobe: int = NPROBE) -> DataFrame:
    """IVF probe + exact re-rank against a (cent_id, c_eq, c_n2) centroid
    table (broadcast): map-side cell assignment, NPROBE probe cells per
    query, exact quantized-cosine re-rank of candidates."""
    assigned = _assign_cells(eqs, cents, "vec_id", "eq", "n2")
    qs = eqs.where(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("eq").alias("q_eq"),
        F.col("n2").alias("q_n2"),
    )
    probes = _probe_cells(qs, cents, "query_id", "q_eq", "q_n2",
                          ["query_id", "q_eq", "q_n2"], nprobe)
    return _ivf_rerank(assigned, probes, k=TOPK)


def _ivf_rerank(assigned: DataFrame, probes: DataFrame,
                k: int = TOPK) -> DataFrame:
    """Exact quantized-cosine re-rank of the probed cells' candidates —
    the shared tail of every IVF search variant. ``assigned``:
    (vec_id, eq, n2, cell); ``probes``: (query_id, q_eq, q_n2, cell)."""
    cand = assigned.join(
        F.broadcast(probes.select("query_id", "q_eq", "q_n2", "cell")),
        "cell")
    cos = F.col("dot") / F.sqrt(
        F.col("q_n2").cast("double") * F.col("n2").cast("double")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_q"), F.asc("vec_id"))
    return (
        cand.withColumn("dot", _dot(F.col("q_eq"), F.col("eq")))
        .withColumn("cos_q", q6(cos))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("int").alias("rank"),
                "vec_id", "cos_q")
    )


# ---------------------------------------------------------------------------
# BLAS-batched kernels: the 10^6+-vector path. The JVM expression forms
# above evaluate O(DIM) per (vector, centroid) ROW — right for
# gate-scale nlist, but at n=10^6, nlist~10^3 the crossJoin explodes to
# 10^9 rows of per-row array folds. These variants keep the SAME plan
# shape (broadcast centroids, partitioned corpus, no shuffle before the
# argmax) but evaluate each Arrow batch as ONE float64 matmul
# (B x DIM) @ (DIM x nlist) — exact, because every eq component is
# |x| <= 2^20, so dots (<= 64 * 2^40 ~ 7e13) and all partial sums stay
# below 2^53: the float64 matmul result equals the int64 dot bit-for-bit,
# and cos/q6 replay the JVM ops IEEE-identically (equality-pinned in
# tests/test_ann_blas.py).
# ---------------------------------------------------------------------------

def _collect_cents(cents: DataFrame):
    """Centroid table -> (ids asc, C float64 matrix, sqrt-ready n2)."""
    import numpy as np

    pdf = cents.select("cent_id", "c_eq", "c_n2").toPandas()
    pdf = pdf.sort_values("cent_id").reset_index(drop=True)
    ids = pdf["cent_id"].to_numpy().astype(np.int64)
    C = np.stack(pdf["c_eq"].to_numpy()).astype(np.float64)
    cn2 = pdf["c_n2"].to_numpy().astype(np.float64)
    return ids, C, cn2


def assign_cells_blas(eqs: DataFrame, cents: DataFrame) -> DataFrame:
    """_assign_cells, one matmul per Arrow batch. Tie-break parity: the
    centroid matrix is cent_id-ascending and np.argmax takes the FIRST
    max, which is exactly max_by(struct(cos_q, -cent_id)) — highest
    quantized cosine, then lowest cent_id."""
    import numpy as np
    import pandas as pd

    spark = eqs.sparkSession
    ids, C, cn2 = _collect_cents(cents)
    bc = spark.sparkContext.broadcast((ids, C.T.copy(), cn2))

    def run(batches):
        cid, CT, cn = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["eq"].to_numpy()).astype(np.float64)
            n2 = pdf["n2"].to_numpy().astype(np.float64)
            cos = (V @ CT) / np.sqrt(n2[:, None] * cn[None, :])
            cq = np.floor(cos * 1000000.0)
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].to_numpy(),
                "eq": pdf["eq"],
                "n2": pdf["n2"],
                "cell": cid[np.argmax(cq, axis=1)],
            })

    return eqs.select("vec_id", "eq", "n2").mapInPandas(
        run, "vec_id long, eq array<long>, n2 long, cell long")


def probe_cells_blas(qs: DataFrame, cents: DataFrame, n: int) -> DataFrame:
    """_probe_cells with the probe rank kept (``pr`` 1..n): top-n cells
    per query by (cos_q desc, cent_id asc). One matmul for the whole
    (tiny) query side."""
    import numpy as np
    import pandas as pd

    ids, C, cn2 = _collect_cents(cents)
    qpdf = qs.select("query_id", "q_eq", "q_n2").toPandas()
    if not len(qpdf):
        return qs.sparkSession.createDataFrame(
            [], "query_id long, q_eq array<long>, q_n2 long, "
                "cell long, pr int")
    Q = np.stack(qpdf["q_eq"].to_numpy()).astype(np.float64)
    qn2 = qpdf["q_n2"].to_numpy().astype(np.float64)
    cq = np.floor((Q @ C.T) / np.sqrt(qn2[:, None] * cn2[None, :])
                  * 1000000.0)
    rows = []
    n = min(n, len(ids))
    for i in range(len(qpdf)):
        order = np.lexsort((ids, -cq[i]))[:n]
        for pr, j in enumerate(order, 1):
            rows.append((int(qpdf["query_id"].iloc[i]),
                         [int(x) for x in qpdf["q_eq"].iloc[i]],
                         int(qpdf["q_n2"].iloc[i]), int(ids[j]), pr))
    return qs.sparkSession.createDataFrame(
        rows, "query_id long, q_eq array<long>, q_n2 long, "
              "cell long, pr int")


def exact_topk_blas(eqs: DataFrame, query_mod: int = QUERY_MOD,
                    k: int = TOPK) -> DataFrame:
    """Brute-force cosine top-k for the sampled queries, matmul-batched:
    each corpus Arrow batch emits only its batch-local top-k per query,
    then one window pass takes the global top-k — |queries| x k rows per
    batch leave the workers, never the n x |queries| score matrix."""
    import numpy as np
    import pandas as pd

    spark = eqs.sparkSession
    qpdf = eqs.where(F.col("vec_id") % query_mod == 0).select(
        "vec_id", "eq", "n2").toPandas()
    Q = np.stack(qpdf["eq"].to_numpy()).astype(np.float64)
    qn2 = qpdf["n2"].to_numpy().astype(np.float64)
    qids = qpdf["vec_id"].to_numpy().astype(np.int64)
    bc = spark.sparkContext.broadcast((qids, Q.T.copy(), qn2))

    def run(batches):
        qi, QT, qn = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["eq"].to_numpy()).astype(np.float64)
            n2 = pdf["n2"].to_numpy().astype(np.float64)
            vid = pdf["vec_id"].to_numpy().astype(np.int64)
            cq = np.floor((V @ QT) / np.sqrt(n2[:, None] * qn[None, :])
                          * 1000000.0).astype(np.int64)
            kk = min(k, len(vid))
            out_q, out_v, out_c = [], [], []
            for j in range(len(qi)):  # per query: batch-local top-k
                col = cq[:, j]
                # the batch's top-kk under the global order (cos_q desc,
                # vec_id asc): rows tied with the kk-th value are cut by
                # vec_id, as the window does, not by partition order
                kth = np.partition(col, len(col) - kk)[len(col) - kk]
                above = np.flatnonzero(col > kth)
                tied = np.flatnonzero(col == kth)
                tied = tied[np.argsort(vid[tied])[:kk - len(above)]]
                sel = np.concatenate([above, tied])
                out_q.append(np.full(len(sel), qi[j], dtype=np.int64))
                out_v.append(vid[sel])
                out_c.append(col[sel])
            yield pd.DataFrame({
                "query_id": np.concatenate(out_q),
                "vec_id": np.concatenate(out_v),
                "cos_q": np.concatenate(out_c),
            })

    part = eqs.select("vec_id", "eq", "n2").mapInPandas(
        run, "query_id long, vec_id long, cos_q long")
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_q"), F.asc("vec_id"))
    return (part.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", F.col("rank").cast("int").alias("rank"),
                    "vec_id", "cos_q"))


def ivf_auto_nprobe(spark: SparkSession, eqs: DataFrame, cents: DataFrame,
                    target_recall: float = 0.9, query_mod: int = QUERY_MOD,
                    k: int = TOPK, max_nprobe: int = 32):
    """Pick the smallest nprobe whose recall@k against the exact
    brute-force baseline meets ``target_recall`` on the deterministic
    query sample. ONE assignment pass and ONE max_nprobe probe pass are
    paid; each candidate nprobe is evaluated by filtering the kept probe
    rank — no re-assignment per point on the curve. Returns
    (chosen_nprobe_or_None, curve) where curve rows are
    {nprobe, recall_mean, recall_p10}."""
    import numpy as np

    exact = exact_topk_blas(eqs, query_mod=query_mod, k=k).toPandas()
    truth = exact.groupby("query_id")["vec_id"].apply(set)
    assigned = assign_cells_blas(eqs, cents).cache()
    qs = eqs.where(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("query_id"), F.col("eq").alias("q_eq"),
        F.col("n2").alias("q_n2"))
    probes = probe_cells_blas(qs, cents, max_nprobe).cache()
    curve, chosen = [], None
    p = 1
    while p <= max_nprobe:
        got = _ivf_rerank(assigned, probes.where(F.col("pr") <= p),
                          k=k).toPandas()
        ap = got.groupby("query_id")["vec_id"].apply(set)
        per_q = np.array([
            len(ap.get(qid, set()) & t) / min(k, len(t))
            for qid, t in truth.items()])
        row = {"nprobe": p, "recall_mean": round(float(per_q.mean()), 4),
               "recall_p10": round(float(np.percentile(per_q, 10)), 4)}
        curve.append(row)
        if chosen is None and row["recall_mean"] >= target_recall:
            chosen = p
            break
        p *= 2
    assigned.unpersist()
    probes.unpersist()
    return chosen, curve


def ivf_init_kmeans_par(eqs: DataFrame, nlist: int, rounds: int = 3,
                        oversample: float = 2.0,
                        lloyd_iters: int = 5,
                        blas: bool = False) -> DataFrame:
    """Deterministic k-means|| (scalable k-means++, Bahmani et al.
    VLDB'12) initialization for the IVF coarse quantizer — the
    10^9-vector init path: instead of nlist SEQUENTIAL k-means++ draws
    (nlist cluster-wide round trips), each of ``rounds`` passes samples
    ~oversample*nlist candidates IN PARALLEL with probability
    proportional to each vector's distance to the current candidate
    set; the ~rounds*oversample*nlist surviving candidates, weighted by
    how many vectors they attract, then reduce to exactly ``nlist``
    centroids with weighted k-means++ + Lloyd DRIVER-SIDE (the
    candidate set is tiny by construction — never the corpus).

    Determinism (the oracle-less gate contract): the paper's uniform
    variate is xxhash64(vec_id)/2^31 — data-determined, so the same
    corpus always yields the same candidates — and the driver-side
    reduction runs a fixed-seed generator over cent_id-sorted inputs.
    Distance is quantized cosine distance (1e6 - cos_q), the same
    metric the downstream assignment uses.

    Scale shape per round: one broadcast nested loop over the candidate
    set (map-side), one partially-aggregated max per vector (the
    _assign_cells exchange bound: ~n slim rows), one scalar sum, one
    collect of ~oversample*nlist candidate rows. No window, never an
    n x nlist shuffle, nothing corpus-sized on the driver.
    """
    import numpy as np

    spark = eqs.sparkSession
    Q = 1_000_000

    def _cdf(rs):
        return spark.createDataFrame(
            [(int(r["cent_id"]), list(r["c_eq"]), int(r["c_n2"]))
             for r in rs],
            "cent_id long, c_eq array<long>, c_n2 long")

    rows = (eqs.orderBy("vec_id").limit(1)
            .select(F.col("vec_id").alias("cent_id"),
                    F.col("eq").alias("c_eq"),
                    F.col("n2").alias("c_n2")).collect())
    ell = float(oversample) * nlist

    def _mind_blas(cand_rows):
        """The per-round min-distance pass as one matmul per Arrow batch
        (``blas=True``): same quantized cosines as assign_cells_blas, so
        d2 is int-identical to the JVM crossJoin+max form — but with NO
        crossJoin rows and NO groupBy exchange (each batch emits its own
        (vec_id, d2) directly), which is what survives n x candidates ~
        10^9 scored pairs."""
        import pandas as pd

        CT = np.array([[int(x) for x in r["c_eq"]] for r in cand_rows],
                      dtype=np.float64).T.copy()
        cn2 = np.array([float(r["c_n2"]) for r in cand_rows])
        bc = spark.sparkContext.broadcast((CT, cn2))

        def run(batches):
            ct, cn = bc.value
            for pdf in batches:
                if not len(pdf):
                    continue
                V = np.stack(pdf["eq"].to_numpy()).astype(np.float64)
                n2v = pdf["n2"].to_numpy().astype(np.float64)
                cq = np.floor((V @ ct) / np.sqrt(n2v[:, None] * cn[None, :])
                              * 1000000.0)
                yield pd.DataFrame({
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "d2": (Q - cq.max(axis=1)).astype(np.int64),
                    "eq": pdf["eq"],
                    "n2": pdf["n2"],
                })

        return eqs.select("vec_id", "eq", "n2").mapInPandas(
            run, "vec_id long, d2 long, eq array<long>, n2 long")

    for _ in range(rounds):
        if blas:
            mind = _mind_blas(rows)
        else:
            mind = (_scored_cents(eqs, F.broadcast(_cdf(rows)), "eq", "n2")
                    .groupBy("vec_id")
                    .agg((F.lit(Q) - F.max("__cos_q")).alias("d2"),
                         F.first("eq").alias("eq"),
                         F.first("n2").alias("n2")))
        tot = mind.agg(
            F.sum(F.col("d2").cast("double")).alias("s")).collect()[0]["s"]
        if not tot:
            break  # every vector coincides with a candidate
        u = (F.pmod(F.xxhash64(F.col("vec_id")), F.lit(1 << 31))
             .cast("double") / float(1 << 31))
        picked = (mind.where(u < F.lit(ell) * F.col("d2").cast("double")
                             / F.lit(float(tot)))
                  .select(F.col("vec_id").alias("cent_id"),
                          F.col("eq").alias("c_eq"),
                          F.col("n2").alias("c_n2")).collect())
        seen = {int(r["cent_id"]) for r in rows}
        rows += sorted((r for r in picked
                        if int(r["cent_id"]) not in seen),
                       key=lambda r: int(r["cent_id"]))
    # ---- weights: how many vectors each candidate attracts ----------------
    rows = sorted(rows, key=lambda r: int(r["cent_id"]))
    wrows = ((assign_cells_blas(eqs, _cdf(rows)) if blas else
              _assign_cells(eqs, F.broadcast(_cdf(rows)),
                            "vec_id", "eq", "n2"))
             .groupBy("cell").count().collect())
    wmap = {int(r["cell"]): int(r["count"]) for r in wrows}
    C = np.array([[int(x) for x in r["c_eq"]] for r in rows],
                 dtype=np.float64)
    w = np.array([wmap.get(int(r["cent_id"]), 0) for r in rows],
                 dtype=np.float64)
    keep = w > 0
    C, w = C[keep], w[keep]
    if len(C) <= nlist:
        return _cdf([r for r, kp in zip(rows, keep) if kp] or rows)
    # ---- driver-side weighted k-means++ then weighted Lloyd ---------------
    rng = np.random.default_rng(0)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    centers = [int(np.argmax(w))]
    d2 = 1.0 - Cn @ Cn[centers[0]]
    while len(centers) < nlist:
        p = w * np.maximum(d2, 0.0)
        s = p.sum()
        if s <= 0:
            extra = [int(i) for i in np.argsort(-w)
                     if int(i) not in set(centers)]
            centers += extra[: nlist - len(centers)]
            break
        nxt = int(rng.choice(len(C), p=p / s))
        if nxt not in centers:
            centers.append(nxt)
        d2 = np.minimum(d2, 1.0 - Cn @ Cn[nxt])
    M = C[np.asarray(centers[:nlist])].copy()
    for _ in range(lloyd_iters):
        Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        a = np.argmax(Cn @ Mn.T, axis=1)
        for j in range(len(M)):
            sel = a == j
            if w[sel].sum() > 0:
                M[j] = (C[sel] * w[sel, None]).sum(0) / w[sel].sum()
    M = np.floor(M).astype(np.int64)
    return _cdf([
        {"cent_id": j, "c_eq": [int(x) for x in M[j]],
         "c_n2": int((M[j].astype(np.float64) ** 2).sum())}
        for j in range(len(M))])


def ivf_seed_centroids(eqs: DataFrame, cent_mod: int = CENT_MOD,
                       init: str = "mod",
                       nlist: int | None = None,
                       blas: bool = False) -> DataFrame:
    """The coarse quantizer's INITIAL centroid table: ``init="mod"`` is
    the deterministic modulo seed (nlist ~ n/cent_mod rows, zero extra
    passes); ``init="kmeans_par"`` runs the k-means|| parallel sampler
    (ivf_init_kmeans_par) at the same nlist — the 10^9-vector init that
    replaces nlist sequential k-means++ draws with a few
    whole-corpus-parallel rounds."""
    if init == "kmeans_par":
        # an explicit nlist matters when eqs is itself a modulo SAMPLE:
        # vec_id % cent_mod == 1 can be unsatisfiable on a sample whose
        # own modulus shares a factor with cent_mod (nlist would quietly
        # collapse to 1)
        if nlist is None:
            nlist = max(1, eqs.where(
                F.col("vec_id") % cent_mod == 1).count())
        return ivf_init_kmeans_par(eqs, nlist, blas=blas)
    return eqs.where(F.col("vec_id") % cent_mod == 1).select(
        F.col("vec_id").alias("cent_id"),
        F.col("eq").alias("c_eq"),
        F.col("n2").alias("c_n2"),
    )


def ivf_train_centroids(eqs: DataFrame, iters: int = 2,
                        cent_mod: int = CENT_MOD,
                        init: str = "mod",
                        assign: str = "jvm",
                        nlist: int | None = None) -> DataFrame:
    """Lloyd (k-means) refinement of the IVF coarse quantizer.

    Starts from deterministic seeds (``init``: modulo sample, or the
    k-means|| parallel-sampling init — ivf_seed_centroids) and runs
    ``iters`` rounds
    of (assign -> per-cell mean). Every shape is already proven in this
    file at scale: assignment is the broadcast-score + map-side max_by
    argmax of _assign_cells (ONE shuffle of n rows per round), and the
    mean is DIM parallel avg aggregates of the same groupBy (map-side
    combined; one shuffle of ~n slim rows carrying the vector) — never an
    n x nlist window or an n x DIM explode. New centroids are re-quantized
    to int64 so every downstream dot product stays exact integer
    arithmetic (the cross-engine determinism contract of this module).
    Empty cells drop out; cell ids keep their seed vec_id.

    Per round the centroid table is collected to the driver (nlist x DIM
    longs — by construction nlist ~ sqrt(n) rows of 0.5 KB; at nlist
    beyond driver memory, swap the collect for a parquet checkpoint) so
    each round's plan starts fresh instead of stacking iterations.

    At 10^9+ vectors, sample eqs (deterministic vec_id mod) before
    training — Lloyd on a 1% sample converges to near-identical cells;
    assignment of the full corpus stays exact either way.
    """
    spark = eqs.sparkSession
    cents = ivf_seed_centroids(eqs, cent_mod=cent_mod, init=init,
                               nlist=nlist, blas=(assign == "blas"))
    avgs = [F.avg(F.element_at("eq", d + 1)).alias(f"m{d}")
            for d in range(DIM)]
    new_eq = F.array(*[F.floor(F.col(f"m{d}")).cast("long")
                       for d in range(DIM)])
    for _ in range(iters):
        # assign="blas": argmax-identical matmul batches (assign_cells_blas)
        # — the form that holds at n x nlist ~ 10^9 scored pairs, where
        # the per-row JVM array fold is the bottleneck
        assigned = (assign_cells_blas(eqs, cents) if assign == "blas"
                    else _assign_cells(eqs, F.broadcast(cents),
                                       "vec_id", "eq", "n2"))
        means = assigned.groupBy("cell").agg(*avgs)
        nxt = means.select(
            F.col("cell").alias("cent_id"), new_eq.alias("c_eq")
        ).withColumn(
            "c_n2",
            F.aggregate("c_eq", F.lit(0).cast("long"),
                        lambda acc, x: acc + x * x),
        )
        cents = spark.createDataFrame(
            [(int(r["cent_id"]), list(r["c_eq"]), int(r["c_n2"]))
             for r in nxt.collect()],
            "cent_id long, c_eq array<long>, c_n2 long",
        )
    return cents


def ann_ivf_trained_topk(spark: SparkSession, sf_dir: str,
                         iters: int = 2, init: str = "mod") -> DataFrame:
    """ann_ivf_topk with k-means-refined centroids (ivf_train_centroids).

    Same probe/re-rank plan as ann_ivf_topk; only the centroid table
    changes. No SQL oracle: Lloyd iterations are iterative/stateful (the
    driver records the weaker rows-only check); correctness is pinned by
    tests/test_ivf_trained.py (recall vs the exact brute-force oracle
    strictly above the static-quantizer floor on a clustered fixture, and
    determinism across runs)."""
    eqs = _emb_q(spark, sf_dir).cache()
    cents = F.broadcast(ivf_train_centroids(eqs, iters=iters, init=init))
    return _ivf_search(eqs, cents)


ANN_IVF_SQL = f"""
WITH {_EMBQ_SQL.strip()},
cents AS (SELECT vec_id AS cent_id FROM embeddings
          WHERE vec_id % {CENT_MOD} = 1),
cdots AS (
  SELECT x.vec_id, c.cent_id, sum(x.c * y.c)::BIGINT AS dot
  FROM eq x
  JOIN cents c ON true
  JOIN eq y ON y.vec_id = c.cent_id AND y.d = x.d
  GROUP BY 1, 2
),
cscore AS (
  SELECT d.vec_id, d.cent_id,
         {sql_q6('d.dot / sqrt(nv.n2::DOUBLE * nc.n2::DOUBLE)')} AS cos_q
  FROM cdots d
  JOIN n2 nv ON nv.vec_id = d.vec_id
  JOIN n2 nc ON nc.vec_id = d.cent_id
),
ranked AS (
  SELECT vec_id, cent_id,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cos_q DESC, cent_id ASC) AS r
  FROM cscore
),
assigned AS (SELECT vec_id, cent_id AS cell FROM ranked WHERE r = 1),
probes AS (
  SELECT vec_id AS query_id, cent_id AS cell FROM ranked
  WHERE vec_id % {QUERY_MOD} = 0 AND r <= {NPROBE}
),
cand AS (
  SELECT p.query_id, a.vec_id FROM probes p JOIN assigned a USING (cell)
),
dots AS (
  SELECT c.query_id, c.vec_id, sum(x.c * y.c)::BIGINT AS dot
  FROM cand c
  JOIN eq x ON x.vec_id = c.query_id
  JOIN eq y ON y.vec_id = c.vec_id AND y.d = x.d
  GROUP BY 1, 2
),
scored AS (
  SELECT d.query_id, d.vec_id,
         {sql_q6('d.dot / sqrt(nq.n2::DOUBLE * nv.n2::DOUBLE)')} AS cos_q
  FROM dots d
  JOIN n2 nq ON nq.vec_id = d.query_id
  JOIN n2 nv ON nv.vec_id = d.vec_id
)
SELECT query_id, rank, vec_id, cos_q FROM (
  SELECT query_id, vec_id, cos_q,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_q DESC, vec_id ASC)::INT AS rank
  FROM scored
) r WHERE rank <= {TOPK}
ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------------
# ann_filtered_topk (ES filtered kNN: predicate BEFORE k selection)
# ---------------------------------------------------------------------------

FILTER_MOD = 3  # corpus predicate: label % 3 == 0 (~1/3 selectivity)


def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search (the ES `knn.filter` semantic): the label
    predicate restricts the CORPUS side before top-k selection, so every
    returned neighbor satisfies it and k is filled from the filtered set
    (post-filtering an unfiltered top-k would under-fill — the exact
    trap ES's pre-filter kNN exists to avoid).

    Scale shape: the predicate is a pushed parquet filter on the corpus
    scan (row-group pruning on label), the query side broadcasts, and
    ranking is the same per-query window over candidate rows as
    ann_cosine_topk. The same pre-filter composes with the LSH/IVF
    bucket paths at crawl scale (filter the candidate join's corpus
    side) — this entry pins the exactness contract."""
    base = _emb_q(spark, sf_dir, extra_cols=("label",))
    qs = base.where(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("eq").alias("q_eq"),
        F.col("n2").alias("q_n2"))
    corpus = base.where(F.col("label") % FILTER_MOD == 0)
    pairs = F.broadcast(qs).crossJoin(corpus).select(
        "query_id", "vec_id",
        _dot(F.col("q_eq"), F.col("eq")).alias("dot"),
        "q_n2", "n2")
    cos = F.col("dot") / F.sqrt(
        F.col("q_n2").cast("double") * F.col("n2").cast("double"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_q"), F.asc("vec_id"))
    return (pairs.withColumn("cos_q", q6(cos))
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= TOPK)
            .select("query_id", F.col("rank").cast("int").alias("rank"),
                    "vec_id", "cos_q"))


ANN_FILTERED_SQL = f"""
WITH {_EMBQ_SQL.strip()},
qids AS (SELECT vec_id AS query_id FROM embeddings WHERE vec_id % {QUERY_MOD} = 0),
flt AS (SELECT vec_id FROM embeddings WHERE label % {FILTER_MOD} = 0),
dots AS (
  SELECT q.query_id, y.vec_id, sum(x.c * y.c)::BIGINT AS dot
  FROM qids q
  JOIN eq x ON x.vec_id = q.query_id
  JOIN eq y ON y.d = x.d
  JOIN flt f ON f.vec_id = y.vec_id
  GROUP BY 1, 2
),
scored AS (
  SELECT d.query_id, d.vec_id,
         {sql_q6('d.dot / sqrt(nq.n2::DOUBLE * nv.n2::DOUBLE)')} AS cos_q
  FROM dots d
  JOIN n2 nq ON nq.vec_id = d.query_id
  JOIN n2 nv ON nv.vec_id = d.vec_id
)
SELECT query_id, rank, vec_id, cos_q FROM (
  SELECT query_id, vec_id, cos_q,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_q DESC, vec_id ASC)::INT AS rank
  FROM scored
) r WHERE rank <= {TOPK}
ORDER BY query_id, rank
"""


SPARK_QUERIES = {
    "ann_cosine_topk": ann_cosine_topk,
    "ann_filtered_topk": ann_filtered_topk,
    "ann_lsh_topk": ann_lsh_topk,
    "ann_ivf_topk": ann_ivf_topk,
    # no ORACLE_SQLS entry (iterative k-means is not SQL-expressible):
    # the driver records the rows-only check; value correctness is pinned
    # by tests/test_ivf_trained.py
    "ann_ivf_trained_topk": ann_ivf_trained_topk,
}

ORACLE_SQLS = {
    "ann_cosine_topk": ANN_COSINE_SQL,
    "ann_filtered_topk": ANN_FILTERED_SQL,
    "ann_lsh_topk": ANN_LSH_SQL,
    "ann_ivf_topk": ANN_IVF_SQL,
}
