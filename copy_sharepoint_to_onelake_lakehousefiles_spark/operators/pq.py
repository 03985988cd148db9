"""Product Quantization ANN (Jégou et al. 2011) — the billion-scale
similarity-search path: 64-dim vectors become M=8 one-byte codes (one
16-centroid codebook per 8-dim subspace), queries scan the code table with
ADC (asymmetric distance computation = M table lookups per candidate), and
a small shortlist is re-ranked exactly.

Spark-first shape:
- All M codebooks train TOGETHER: subvectors explode to (vec_id, sub_id,
  subvec) and one Lloyd iteration is ONE join + ONE aggregation keyed by
  (sub_id, cid) — 8 independent k-means runs share every shuffle.
- The trained codebook is M·K tiny rows → broadcast everywhere.
- ADC is an equi-join of the code table against the per-query distance
  table on (sub_id, cid), then a sum over M — no vector math touches the
  corpus at query time; at 100 TB the scan reads 8 bytes per vector
  instead of 256.
- The ADC shortlist (top SHORTLIST per query) is re-ranked with exact L2
  on the original vectors — the standard recall repair.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..registry import query, session_memo, track_persist
from ..tables import load

M_SUB = 8      # subspaces
D_SUB = 8      # dims per subspace (M_SUB * D_SUB = 64)
K_CB = 16      # centroids per subspace (4-bit codes)
N_QUERIES = 10
TOP_K = 5
SHORTLIST = 50
LLOYD_ITERS = 3

_D2 = (
    "aggregate(zip_with(subvec, centroid, (x, y) -> (x - y) * (x - y)), "
    "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
)


def _subvectors(df: DataFrame) -> DataFrame:
    """(vec_id, embedding) → (vec_id, sub_id, subvec: array<double>)."""
    subs = F.expr(
        f"transform(sequence(0, {M_SUB - 1}), m -> struct(m AS sub_id, "
        f"slice(CAST(embedding AS ARRAY<DOUBLE>), m * {D_SUB} + 1, {D_SUB}) AS subvec))"
    )
    return df.select("vec_id", F.explode(subs).alias("s")).select(
        "vec_id", "s.sub_id", "s.subvec"
    )


def _assign(sv: DataFrame, cb: DataFrame) -> DataFrame:
    """Nearest centroid per (vec_id, sub_id) against broadcast codebook."""
    j = sv.join(F.broadcast(cb), "sub_id")
    d2 = F.expr(_D2)
    best = F.min_by(F.struct("cid", "centroid"), F.struct(d2, F.col("cid")))
    return (
        j.groupBy("vec_id", "sub_id", "subvec")
        .agg(best.alias("b"), F.min(F.struct(d2, F.col("cid"))).alias("_"))
        .select("vec_id", "sub_id", "subvec", F.col("b.cid").alias("cid"))
    )


def train_codebooks(emb: DataFrame, iters: int = LLOYD_ITERS) -> DataFrame:
    """Lloyd iterations over ALL subspaces at once → (sub_id, cid, centroid).
    Deterministic init: the K_CB lowest vec_ids seed every subspace."""
    sv = _subvectors(emb).persist()
    cb = (
        sv.where(F.col("vec_id") < K_CB)
        .select("sub_id", F.col("vec_id").cast("int").alias("cid"), F.col("subvec").alias("centroid"))
    )
    for _ in range(iters):
        assigned = _assign(sv, cb)
        # centroid = elementwise mean: posexplode → per-position avg → rebuild
        pos = assigned.select(
            "sub_id", "cid", F.posexplode("subvec").alias("pos", "val")
        )
        means = pos.groupBy("sub_id", "cid", "pos").agg(F.avg("val").alias("m"))
        cb = (
            means.groupBy("sub_id", "cid")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select(
                "sub_id", "cid", F.expr("transform(pm, x -> x.m)").alias("centroid")
            )
        )
    cb = track_persist(cb)
    cb.count()
    sv.unpersist()
    return cb


def encode(emb: DataFrame, cb: DataFrame) -> DataFrame:
    """(vec_id, sub_id, cid) PQ code table — 8 half-byte codes per vector."""
    return _assign(_subvectors(emb), cb).select("vec_id", "sub_id", "cid")


@session_memo
def exact_l2_memo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exact_l2_topk over the standard embeddings fixture, memoized and
    track_persist'ed per (session, sf_dir) — q114 and q164 both rank
    against this same truth (the cosine twin lives in
    similarity.exact_topk_memo)."""
    return track_persist(exact_l2_topk(load(spark, sf_dir, "embeddings")))


def exact_l2_topk(emb: DataFrame, k: int = TOP_K) -> DataFrame:
    """Exact L2² top-k for the query vectors — brute force, broadcast query
    side, same fold order as the DuckDB oracle (list_sum over (x-y)²)."""
    q = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").cast("array<double>").alias("q_emb")
    )
    c = emb.select(
        F.col("vec_id").alias("n_id"), F.col("embedding").cast("array<double>").alias("n_emb")
    )
    d2 = F.expr(
        "aggregate(zip_with(q_emb, n_emb, (x, y) -> (x - y) * (x - y)), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    pairs = c.join(F.broadcast(q), F.col("q_id") != F.col("n_id")).select(
        "q_id", "n_id", F.round(d2, 6).alias("l2sq")
    )
    w = W.partitionBy("q_id").orderBy(F.col("l2sq").asc(), F.col("n_id"))
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("q_id", "n_id", "l2sq", F.col("rk").cast("bigint").alias("rk"))
    )


def pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ANN: train codebooks, encode the corpus, ADC-score the code table
    for the first 10 query vectors, exact-L2 re-rank the top-50 shortlist,
    return top-5."""
    emb = load(spark, sf_dir, "embeddings")
    cb = train_codebooks(emb)
    codes = track_persist(encode(emb, cb))

    q = emb.where(F.col("vec_id") < N_QUERIES)
    # per-query distance table: (q_id, sub_id, cid, d2) — M*K rows per query
    dtab = (
        _subvectors(q)
        .withColumnRenamed("vec_id", "q_id")
        .join(F.broadcast(cb), "sub_id")
        .select("q_id", "sub_id", "cid", F.expr(_D2).alias("d2"))
    )
    adc = (
        codes.withColumnRenamed("vec_id", "n_id")
        .join(F.broadcast(dtab), ["sub_id", "cid"])
        .where(F.col("q_id") != F.col("n_id"))
        .groupBy("q_id", "n_id")
        .agg(F.sum("d2").alias("adc2"))
    )
    ws = W.partitionBy("q_id").orderBy(F.col("adc2").asc(), F.col("n_id"))
    short = adc.withColumn("srk", F.row_number().over(ws)).where(F.col("srk") <= SHORTLIST)

    # exact re-rank of the shortlist only
    qv = q.select(F.col("vec_id").alias("q_id"), F.col("embedding").cast("array<double>").alias("q_emb"))
    nv = emb.select(F.col("vec_id").alias("n_id"), F.col("embedding").cast("array<double>").alias("n_emb"))
    exact_d2 = F.expr(
        "aggregate(zip_with(q_emb, n_emb, (x, y) -> (x - y) * (x - y)), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    rer = (
        short.join(F.broadcast(qv), "q_id")
        .join(nv, "n_id")
        .select("q_id", "n_id", F.round(exact_d2, 6).alias("l2sq"))
    )
    wf = W.partitionBy("q_id").orderBy(F.col("l2sq").asc(), F.col("n_id"))
    return (
        rer.withColumn("rk", F.row_number().over(wf))
        .where(F.col("rk") <= TOP_K)
        .select("q_id", "n_id", "l2sq", F.col("rk").cast("bigint").alias("rk"))
    )


def ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composite ANN (the standard billion-scale layout, FAISS
    IVFPQ): a coarse k-means quantizer routes vectors to cells, PQ encodes
    the RESIDUAL (x − centroid) inside each cell, queries probe their
    N_PROBE nearest cells and ADC-scan only those cells' code tables, and a
    small shortlist is re-ranked exactly.

    Spark-first shape: both halves already exist — the coarse quantizer is
    similarity._ivf_centroids (driver sees only N_CELLS centroid rows), PQ
    training/encoding reuses train_codebooks/encode over residual vectors.
    The ADC join keys on (cell, sub_id, cid), so a 100 TB corpus scans
    8 bytes/vector and ONLY within probed cells — candidate volume is
    corpus × N_PROBE / N_CELLS, the IVF restriction falling out of the
    equi-join."""
    from .similarity import (
        N_PROBE,
        _cells_ranked_expr,
        _nearest_cell_expr,
        ivf_centroids_memo,
    )

    emb = load(spark, sf_dir, "embeddings")
    cents = ivf_centroids_memo(spark, sf_dir)
    centroids = [c for _, c in cents]
    cent_df = spark.createDataFrame(
        [(cid, c) for cid, c in enumerate(centroids)], "cell int, cent array<double>"
    )

    corpus = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    ).select("vec_id", "emb", _nearest_cell_expr(centroids, "emb").alias("cell"))
    residuals = corpus.join(F.broadcast(cent_df), "cell").select(
        "vec_id",
        "cell",
        F.expr("zip_with(emb, cent, (x, y) -> x - y)").alias("embedding"),
    )
    cb = train_codebooks(residuals)
    cells = residuals.select("vec_id", "cell")
    codes = track_persist(encode(residuals, cb).join(cells, "vec_id"))

    q = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").cast("array<double>").alias("q_emb"),
    )
    probed = q.select(
        "q_id", "q_emb", F.explode(_cells_ranked_expr(centroids, N_PROBE, "q_emb")).alias("cell")
    )
    qres = probed.join(F.broadcast(cent_df), "cell").select(
        "q_id", "cell", F.expr("zip_with(q_emb, cent, (x, y) -> x - y)").alias("residual")
    )
    subs = F.expr(
        f"transform(sequence(0, {M_SUB - 1}), m -> struct(m AS sub_id, "
        f"slice(residual, m * {D_SUB} + 1, {D_SUB}) AS subvec))"
    )
    # per-(query, probed cell) distance table: M*K rows each, broadcast
    dtab = (
        qres.select("q_id", "cell", F.explode(subs).alias("s"))
        .select("q_id", "cell", "s.sub_id", "s.subvec")
        .join(F.broadcast(cb), "sub_id")
        .select("q_id", "cell", "sub_id", "cid", F.expr(_D2).alias("d2"))
    )
    adc = (
        codes.withColumnRenamed("vec_id", "n_id")
        .join(F.broadcast(dtab), ["cell", "sub_id", "cid"])
        .where(F.col("q_id") != F.col("n_id"))
        .groupBy("q_id", "n_id")
        .agg(F.sum("d2").alias("adc2"))
    )
    ws = W.partitionBy("q_id").orderBy(F.col("adc2").asc(), F.col("n_id"))
    short = adc.withColumn("srk", F.row_number().over(ws)).where(F.col("srk") <= SHORTLIST)

    qv = q.select("q_id", "q_emb")
    nv = emb.select(
        F.col("vec_id").alias("n_id"), F.col("embedding").cast("array<double>").alias("n_emb")
    )
    exact_d2 = F.expr(
        "aggregate(zip_with(q_emb, n_emb, (x, y) -> (x - y) * (x - y)), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    rer = (
        short.join(F.broadcast(qv), "q_id")
        .join(nv, "n_id")
        .select("q_id", "n_id", F.round(exact_d2, 6).alias("l2sq"))
    )
    wf = W.partitionBy("q_id").orderBy(F.col("l2sq").asc(), F.col("n_id"))
    return (
        rer.withColumn("rk", F.row_number().over(wf))
        .where(F.col("rk") <= TOP_K)
        .select("q_id", "n_id", "l2sq", F.col("rk").cast("bigint").alias("rk"))
    )


@query(
    "q114_pq_ann_topk",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_emb FROM embeddings WHERE vec_id < {N_QUERIES}
),
c AS (
  SELECT vec_id AS n_id, embedding::DOUBLE[] AS n_emb FROM embeddings
),
scored AS (
  SELECT q_id, n_id,
         round(list_sum(list_transform(list_zip(q_emb, n_emb),
                                       x -> (x[1] - x[2]) * (x[1] - x[2]))), 6) AS l2sq
  FROM q JOIN c ON q_id <> n_id
),
topk AS (
  SELECT q_id, n_id, l2sq, rk FROM (
    SELECT q_id, n_id, l2sq,
           row_number() OVER (PARTITION BY q_id ORDER BY l2sq ASC, n_id) AS rk
    FROM scored
  )
  WHERE rk <= {TOP_K}
)
SELECT q_id, n_id, l2sq, rk, 1 AS pq_recall_ok, 1 AS pq_global_recall_ok FROM topk
""",
)
def q114_pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ANN promoted to a full oracle (r4, derived-bound-flag pattern):
    hashed output = exact L2² top-k (DuckDB recomputes the brute-force
    answer with the same left-to-right fold) + `pq_recall_ok` (per-query
    recall@5 of the ADC+re-rank answer ≥ 20%) + `pq_global_recall_ok`
    (global ≥ 60%), computed from the real PQ pipeline in the same query.

    Margins: measured deterministic per-query minimum is 2/5 and global is
    74-78% at sf0.001/sf0.01 — one hit/query and ≥7 hits of global headroom.
    tests/test_pq.py keeps the raw ≥0.6 recall check."""
    from .similarity import _recall_flags

    exact = exact_l2_memo(spark, sf_dir)
    ann = pq_topk(spark, sf_dir)
    return _recall_flags(
        exact, ann, ("pq_recall_ok", 20), ("pq_global_recall_ok", 60)
    ).orderBy("q_id", "rk")


@query(
    "q164_ivfpq_ann_topk",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_emb FROM embeddings WHERE vec_id < {N_QUERIES}
),
c AS (
  SELECT vec_id AS n_id, embedding::DOUBLE[] AS n_emb FROM embeddings
),
scored AS (
  SELECT q_id, n_id,
         round(list_sum(list_transform(list_zip(q_emb, n_emb),
                                       x -> (x[1] - x[2]) * (x[1] - x[2]))), 6) AS l2sq
  FROM q JOIN c ON q_id <> n_id
),
topk AS (
  SELECT q_id, n_id, l2sq, rk FROM (
    SELECT q_id, n_id, l2sq,
           row_number() OVER (PARTITION BY q_id ORDER BY l2sq ASC, n_id) AS rk
    FROM scored
  )
  WHERE rk <= {TOP_K}
)
SELECT q_id, n_id, l2sq, rk, 1 AS ivfpq_recall_ok, 1 AS ivfpq_global_recall_ok FROM topk
""",
)
def q164_ivfpq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composite ANN (VERDICT r4 #6) under the derived-bound-flag
    oracle: hashed output = exact L2² top-k (DuckDB recomputes it with the
    same fold) + `ivfpq_recall_ok` (per-query recall@5 ≥ 40%) +
    `ivfpq_global_recall_ok` (global ≥ 60%), both computed from the real
    IVF-PQ pipeline in the same query.

    Margins: measured deterministic per-query minimum is 3/5 (60%) and
    global is 80-88% at sf0.001/sf0.01 — residual encoding beats flat PQ
    (q114: 74-78%) while ADC-scanning only N_PROBE/N_CELLS of the corpus.
    tests/test_pq.py keeps the raw recall check."""
    from .similarity import _recall_flags

    exact = exact_l2_memo(spark, sf_dir)
    ann = ivfpq_topk(spark, sf_dir)
    return _recall_flags(
        exact, ann, ("ivfpq_recall_ok", 40), ("ivfpq_global_recall_ok", 60)
    ).orderBy("q_id", "rk")
