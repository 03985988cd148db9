"""Similarity search over the ``embeddings`` table (north-star ANN tier).

Two paths, per SURVEY.md §7:
- Exact brute-force top-k for a bounded query set: broadcast the queries,
  compute cosine with built-in higher-order functions (zip_with/aggregate —
  JVM-side, no Python), rank per query. Oracle-checkable in DuckDB.
- Scale path: random-hyperplane LSH bucketing (signs of projections onto R
  fixed planes) → candidates share a bucket → exact cosine only on
  candidates. IVF-style: the bucket key is the "cell". Rows-only check;
  tests measure recall against brute force.

Float discipline: embeddings are float32; both engines cast to DOUBLE before
the dot product and both accumulate in array order, so rounded cosines match
bit-for-bit at 6dp.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..registry import query, session_memo, track_persist
from ..tables import load

TOP_K = 5
N_QUERIES = 10  # vec_id < 10 are the query vectors
N_PLANES = 6    # bits per LSH table
N_TABLES = 8    # independent hash tables (multi-table LSH: candidates = union)


def _dot(a: str, b: str):
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _norm(a: str):
    return F.sqrt(F.expr(f"aggregate({a}, CAST(0 AS DOUBLE), (acc, v) -> acc + v * v)"))


def cosine_topk(queries: DataFrame, corpus: DataFrame, k: int = TOP_K) -> DataFrame:
    """Exact top-k cosine neighbours of each query vector.

    queries/corpus: (vec_id, embedding array<float>). The query side is
    broadcast (bounded); the corpus streams — one pass, no shuffle of the
    corpus except the final per-query top-k (tiny).

    Norms are precomputed ONCE PER VECTOR below the join (r12): the
    per-pair projection used to re-derive both norms for every (q, n)
    pair, tripling the higher-order-function work in the O(|corpus|·|q|)
    stage. sqrt(aggregate(...)) on the same doubles is bit-identical
    wherever it is evaluated, so the 6dp cosine (and the oracle hash) is
    unchanged."""
    q = queries.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").cast("array<double>").alias("q_emb")
    ).withColumn("q_nrm", _norm("q_emb"))
    c = corpus.select(
        F.col("vec_id").alias("n_id"), F.col("embedding").cast("array<double>").alias("n_emb")
    ).withColumn("n_nrm", _norm("n_emb"))
    pairs = c.join(F.broadcast(q), F.col("q_id") != F.col("n_id"))
    cos = _dot("q_emb", "n_emb") / (F.col("q_nrm") * F.col("n_nrm"))
    scored = pairs.select("q_id", "n_id", F.round(cos, 6).alias("cosine"))
    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("q_id", "n_id", "cosine", F.col("rk").cast("bigint").alias("rk"))
    )


@session_memo
def exact_topk_memo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standard exact cosine top-k (N_QUERIES queries, TOP_K) memoized
    per (session, sf_dir) and track_persist'ed: q30/q31/q51/q107 all rank
    their ANN answers against this same truth, so in a gate or bench session
    it is computed ONCE instead of per-query (VERDICT r4 #5 — the ANN
    tier's repeated fixed cost). Generational cache aging may unpersist it
    later; the plan then lazily recomputes — correctness never depends on
    the persist."""
    emb = load(spark, sf_dir, "embeddings")
    return track_persist(cosine_topk(emb.where(F.col("vec_id") < N_QUERIES), emb, TOP_K))


# Shared oracle CTE: exact top-k cosine neighbours (DuckDB recomputes the
# whole exact answer; ANN queries append literal-1 recall flags to it).
_EXACT_COSINE_TOPK = f"""
WITH q AS (
  SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_emb FROM embeddings WHERE vec_id < {{n_queries}}
),
c AS (
  SELECT vec_id AS n_id, embedding::DOUBLE[] AS n_emb FROM embeddings
),
scored AS (
  SELECT q_id, n_id,
         round(list_dot_product(q_emb, n_emb)
               / (sqrt(list_dot_product(q_emb, q_emb)) * sqrt(list_dot_product(n_emb, n_emb))),
               6) AS cosine
  FROM q JOIN c ON q_id <> n_id
),
topk AS (
  SELECT q_id, n_id, cosine, rk FROM (
    SELECT q_id, n_id, cosine,
           row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rk
    FROM scored
  )
  WHERE rk <= {{k}}
)
"""


@query(
    "q30_cosine_topk",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_emb FROM embeddings WHERE vec_id < {N_QUERIES}
),
c AS (
  SELECT vec_id AS n_id, embedding::DOUBLE[] AS n_emb FROM embeddings
),
scored AS (
  SELECT q_id, n_id,
         round(list_dot_product(q_emb, n_emb)
               / (sqrt(list_dot_product(q_emb, q_emb)) * sqrt(list_dot_product(n_emb, n_emb))),
               6) AS cosine
  FROM q JOIN c ON q_id <> n_id
)
SELECT q_id, n_id, cosine, rk FROM (
  SELECT q_id, n_id, cosine,
         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rk
  FROM scored
)
WHERE rk <= {TOP_K}
""",
)
def q30_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact ANN baseline: top-5 cosine neighbours for the first
    10 vectors against the full corpus."""
    return exact_topk_memo(spark, sf_dir)


def _recall_flags(
    exact: DataFrame,
    ann: DataFrame,
    per_q: tuple[str, int] | None,
    global_: tuple[str, int],
) -> DataFrame:
    """Join integer recall flags for a deterministic ANN result onto the
    exact top-k (the derived-bound-flag pattern that promoted q38/q63/q99).

    The hashed output stays fully oracle-recomputable: the exact top-k rows
    plus int flags asserting "ANN recall ≥ threshold"; the DuckDB oracle
    recomputes the exact top-k and emits literal 1 for each flag. Because
    every ANN path here is deterministic (LCG hyperplanes, lowest-vec_id
    k-means seeds), measured recall at a given fixture IS the gate value;
    thresholds sit below it with explicit margin so only a real regression
    or a fixture regeneration can flip a flag. All comparisons are exact
    integer arithmetic (hits·100 ≥ n·threshold) — no doubles in the output.

    r12: ``ids`` (the ANN answer's ≤ n_queries·k id pairs) is persisted —
    the `marked` subtree feeds the output rows AND the per-query/global
    recall aggregates, so without the cache the ENTIRE ANN pipeline
    (bucketing, candidate join, re-rank) re-executed once per consumer:
    2-3 times per query across q31/q51/q107/q114/q164 (guide §7.2's
    duplicated-subtree smell — repeated join/ArrowEvalPython subtrees in
    the executed plans).
    """
    ids = track_persist(
        ann.select("q_id", "n_id")
        .dropDuplicates(["q_id", "n_id"])
        .withColumn("__hit", F.lit(1))
    )
    marked = exact.join(F.broadcast(ids), ["q_id", "n_id"], "left").withColumn(
        "__hit", F.coalesce("__hit", F.lit(0))
    )
    out = marked
    if per_q is not None:
        name, thr = per_q
        pq = (
            marked.groupBy("q_id")
            .agg(F.sum("__hit").alias("__hits"), F.count(F.lit(1)).alias("__n"))
            .select(
                "q_id",
                (F.col("__hits") * 100 >= F.col("__n") * thr).cast("int").alias(name),
            )
        )
        out = out.join(F.broadcast(pq), "q_id")
    gname, gthr = global_
    g = (
        marked.agg(F.sum("__hit").alias("__h"), F.count(F.lit(1)).alias("__n"))
        .select((F.col("__h") * 100 >= F.col("__n") * gthr).cast("int").alias(gname))
    )
    out = out.crossJoin(F.broadcast(g))  # 1-row aggregate broadcast (allowlisted shape)
    return out.drop("__hit")


def hyperplane_bucket(df: DataFrame, planes: list[list[float]], emb_col: str = "embedding"):
    """Sign-of-projection LSH bucket key: bit i = (embedding · plane_i) >= 0."""
    bits = []
    for i, plane in enumerate(planes):
        d = F.expr(
            f"aggregate(zip_with(CAST({emb_col} AS ARRAY<DOUBLE>), "
            f"array({', '.join(f'CAST({float(x)} AS DOUBLE)' for x in plane)}), "
            f"(x, y) -> x * y), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        bits.append(F.when(d >= 0, F.lit(1 << i)).otherwise(F.lit(0)))
    return sum(bits).alias("bucket")


def _deterministic_planes(dim: int = 64, n: int = N_PLANES, seed: int = 1234567) -> list[list[float]]:
    """Fixed pseudo-random hyperplanes (LCG — deterministic across runs and
    engines; no numpy RNG state involved)."""
    planes = []
    state = seed
    for _ in range(n):
        row = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) % (1 << 31)
            row.append((state / float(1 << 31)) * 2.0 - 1.0)
        planes.append(row)
    return planes


def _multi_table_buckets(df: DataFrame) -> DataFrame:
    """(vec_id, embedding) → one row per (table_id, bucket) — the exploded
    multi-table LSH index. Hashing is one pass; the explode is ×N_TABLES.

    The 48 projections are ONE numpy matmul per Arrow batch inside a
    pandas_udf: higher-order-function dot products don't enter whole-stage
    codegen (interpreted, boxed — measured ~0.7s WARM for 2000×48×64 at
    sf0.1, plus ~1.7s one-time JIT), while (batch × 64) @ (64 × 48) is
    microseconds. This is the sanctioned vectorized-UDF case: the builtin
    path is structurally slower, not just unoptimized."""
    from pyspark.sql.functions import pandas_udf

    all_planes = []
    for t in range(N_TABLES):
        all_planes.extend(_deterministic_planes(seed=1234567 + 7919 * t))
    planes_t = np.asarray(all_planes, dtype=np.float64).T  # (dim, tables*planes)
    weights = (2 ** np.arange(N_PLANES - 1, -1, -1)).astype(np.int64)

    @pandas_udf("array<int>")
    def _buckets(emb: pd.Series) -> pd.Series:
        m = np.stack(emb.to_numpy()).astype(np.float64)  # (n, dim)
        signs = (m @ planes_t) >= 0  # (n, tables*planes)
        b = signs.reshape(len(m), N_TABLES, N_PLANES) @ weights  # (n, tables)
        return pd.Series(list(b.astype(np.int32)))

    return (
        df.withColumn("__b", _buckets("embedding"))
        .select("vec_id", F.posexplode("__b").alias("table_id", "bucket"))
    )


def lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via multi-table random-hyperplane LSH: 8 independent
    tables of 6 projection signs each; candidates = union of same-bucket
    matches across tables; exact cosine re-ranks candidates only.

    Scale: the corpus is hashed once (one pass), the index is an equi-join on
    (table_id, bucket) — 100 TB of vectors shuffles only within cells, and
    candidate count per query is corpus_fraction ≈ N_TABLES / 2^N_PLANES.
    The bucket index and the candidate dedup carry IDS ONLY (16 bytes/row,
    the q26 band-join shape); embeddings re-attach to the deduped candidate
    pairs by id — the explode and the dedup shuffle never duplicate the
    vectors ×N_TABLES."""
    emb = load(spark, sf_dir, "embeddings")
    hashed = track_persist(_multi_table_buckets(emb))  # (vec_id, table_id, bucket)
    q = hashed.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), "table_id", "bucket"
    )
    c = hashed.select(F.col("vec_id").alias("n_id"), "table_id", "bucket")
    cand_ids = (
        q.join(c, ["table_id", "bucket"])
        .where(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id")
        .dropDuplicates(["q_id", "n_id"])
    )
    n_emb = emb.select(
        F.col("vec_id").alias("n_id"),
        F.col("embedding").cast("array<double>").alias("n_emb"),
    ).withColumn("n_nrm", _norm("n_emb"))
    q_emb = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").cast("array<double>").alias("q_emb"),
    ).withColumn("q_nrm", _norm("q_emb"))
    cand = cand_ids.join(n_emb, "n_id").join(F.broadcast(q_emb), "q_id")
    # norms precomputed once per vector below the joins (see cosine_topk)
    cos = _dot("q_emb", "n_emb") / (F.col("q_nrm") * F.col("n_nrm"))
    scored = cand.select("q_id", "n_id", F.round(cos, 6).alias("cosine"))
    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TOP_K)
        .select("q_id", "n_id", "cosine", "rk")
    )


@query(
    "q31_ann_lsh_topk",
    oracle=_EXACT_COSINE_TOPK.format(n_queries=N_QUERIES, k=TOP_K)
    + """
SELECT q_id, n_id, cosine, rk, 1 AS lsh_recall_ok FROM topk
""",
)
def q31_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table hyperplane LSH ANN, promoted to a full oracle (r4) via the
    derived-bound-flag pattern: the hashed output is the EXACT top-k (which
    DuckDB recomputes) plus `lsh_recall_ok` = "global recall@5 of the LSH
    answer ≥ 20%", computed from the real LSH result inside the same query.

    Threshold margin: measured deterministic global recall is 36% (18/50) at
    both sf0.001 and sf0.01 against a ~12.5% candidate fraction (≈3× lift
    over random); per-query recall dips to 0 on individual queries (uniform
    64-dim data has weak neighbourhood structure), so only the global bound
    is asserted. tests/test_similarity.py still measures raw recall."""
    exact = exact_topk_memo(spark, sf_dir)
    ann = lsh_topk(spark, sf_dir)
    return _recall_flags(exact, ann, None, ("lsh_recall_ok", 20)).orderBy("q_id", "rk")


@query(
    "q32_embedding_neardup",
    oracle="""
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
       round(list_dot_product(a.emb, b.emb)
             / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))),
             6) AS cosine
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_dot_product(a.emb, b.emb)
      / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))) > 0.35
""",
)
def q32_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked by label (the blocking
    key stands in for an LSH bucket: candidates only within a block, never a
    full cross join)."""
    emb = load(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("emb")
    ).withColumn("nrm", _norm("emb"))
    a = e.alias("a")
    b = e.alias("b")
    pairs = a.join(
        b, (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id"))
    ).select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        F.col("a.label").alias("label"),
        F.col("a.emb").alias("ea"),
        F.col("b.emb").alias("eb"),
        F.col("a.nrm").alias("na"),
        F.col("b.nrm").alias("nb"),
    )
    # norms precomputed once per vector below the join (see cosine_topk)
    cos = _dot("ea", "eb") / (F.col("na") * F.col("nb"))
    return pairs.where(cos > 0.35).select(
        "vec_a", "vec_b", "label", F.round(cos, 6).alias("cosine")
    )


N_CELLS = 16
KMEANS_ITERS = 3
N_PROBE = 2


def _ivf_centroids(emb: DataFrame) -> list[tuple[int, list[float]]]:
    """Deterministic mini k-means for IVF cells, run AS DATAFRAME JOBS:
    init = the N_CELLS lowest vec_ids; each Lloyd iteration is one
    assign(broadcast centroids)+groupBy(avg) round. Centroid count is tiny,
    so only the (small) centroid table ever reaches the driver — the corpus
    is never collected.

    Scale: this is the standard IVF build — O(iters) passes over the corpus,
    each a broadcast join + hash agg; 100 TB just means more partitions."""
    dim_arr = F.col("embedding").cast("array<double>")
    cents = [
        (int(r["vec_id"]), [float(x) for x in r["emb"]])
        for r in emb.orderBy("vec_id")
        .limit(N_CELLS)
        .select("vec_id", dim_arr.alias("emb"))
        .collect()  # bounded: N_CELLS seed rows
    ]
    corpus = emb.select("vec_id", dim_arr.alias("emb"))
    dim = len(cents[0][1])
    for _ in range(KMEANS_ITERS):
        assigned = corpus.select(
            "vec_id", "emb", _nearest_cell_expr([c for _, c in cents]).alias("cell")
        )
        new = (
            assigned.where(F.col("cell") >= 0)
            .select(
                "cell", *[F.element_at("emb", i + 1).alias(f"d{i}") for i in range(dim)]
            )
            .groupBy("cell")
            .agg(*[F.avg(f"d{i}").alias(f"d{i}") for i in range(dim)])
            .collect()  # bounded: one row per cell (N_CELLS)
        )
        cents = [(int(r["cell"]), [float(r[f"d{i}"]) for i in range(dim)]) for r in new]
        cents.sort()
    return cents


def _nearest_cell_expr(centroids: list[list[float]], emb_col: str = "emb"):
    """Argmin over squared L2 distance to each centroid.

    r13: the old fold evaluated the distance aggregate TWICE per centroid
    (once in the CASE condition, once in the THEN branch — HOFs are
    interpreted and excluded from subexpression elimination, so that was
    2× the unavoidable work in every assignment pass). Now each distance
    is computed once into a (d, cid) struct and `array_min` takes the
    lexicographic minimum — smallest d, ties to the lowest cid, exactly
    the old fold's first-strictly-smaller-wins order (verified
    bit-identical centroids at sf0.1). Literal centroids are kept
    deliberately: a one-row broadcast centroid table and a flat
    array-literal + slice() form were both MEASURED SLOWER (see
    OPTIMIZATION_r13.md) — the per-iteration broadcast/slice overhead
    exceeds the literal-tree analysis cost at any warmth.

    A NULL embedding, one whose length differs from the centroids' or one
    holding a NULL element gets a NULL distance to every centroid (zip_with
    pads the shorter side with NULL), and such a row gets cell -1 ("no
    cell"), so it joins no probe and never skews a centroid."""
    return F.expr(
        f"""
        array_min(transform({_centroid_dists_sql(centroids, emb_col)},
          (d, i) -> struct(d, IF(d IS NULL, -1, i) AS cid))).cid
        """
    )


def _centroid_dists_sql(centroids: list[list[float]], emb_col: str) -> str:
    """SQL for the array of squared L2 distances from `emb_col` to each
    centroid, indexed by cell id; every entry is NULL for a NULL or
    malformed embedding."""
    cents = ", ".join(
        f"array({', '.join(f'CAST({x} AS DOUBLE)' for x in c)})" for c in centroids
    )
    return f"""transform(array({cents}),
          c -> aggregate(zip_with({emb_col}, c, (x, y) -> (x - y) * (x - y)),
                         CAST(0 AS DOUBLE), (a, v) -> a + v))"""


@session_memo
def ivf_centroids_memo(spark: SparkSession, sf_dir: str) -> list[tuple[int, list[float]]]:
    """`_ivf_centroids` over the standard embeddings fixture, memoized per
    (session, sf_dir) — the exact_topk_memo pattern. q51 (IVF) and q164
    (IVF-PQ) both run the SAME deterministic 3-iteration Lloyd build over
    the same table; before r13 each ran its own (≈14 s cold / 4 s warm at
    sf0.1 — the largest duplicated subtree left in the ANN tier, guide
    §7.2). The memo holds only the N_CELLS×dim centroid list (driver-side
    metadata, ~8 KB) and dies with the session — never a cross-run
    result cache."""
    return _ivf_centroids(load(spark, sf_dir, "embeddings"))


def _cells_ranked_expr(centroids: list[list[float]], n: int, emb_col: str = "emb"):
    """Array of the n nearest cell ids (for multi-probe queries); empty for
    a NULL or malformed query embedding."""
    return F.expr(
        f"""
        slice(transform(
          array_sort(filter(
            transform({_centroid_dists_sql(centroids, emb_col)},
              (d, i) -> named_struct('d', d, 'cid', i)),
            s -> s.d IS NOT NULL)),
          s -> s.cid), 1, {n})
        """
    )


def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN: k-means cells built iteratively with
    DataFrame jobs, corpus assigned to its nearest cell, queries probe their
    2 nearest cells, exact cosine re-ranks within probed cells.

    The candidate join is an equi-join on cell id (like the LSH variant),
    but cells adapt to the data distribution — better recall/candidate ratio
    on clustered corpora than data-oblivious hyperplanes."""
    emb = load(spark, sf_dir, "embeddings")
    cents = ivf_centroids_memo(spark, sf_dir)
    centroids = [c for _, c in cents]
    corpus = emb.select(
        F.col("vec_id").alias("n_id"), F.col("embedding").cast("array<double>").alias("emb")
    ).select(
        "n_id",
        F.col("emb").alias("n_emb"),
        _nearest_cell_expr(centroids, "emb").alias("cell"),
        _norm("emb").alias("n_nrm"),
    )
    queries = (
        emb.where(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").cast("array<double>").alias("q_emb"),
        )
        .select(
            "q_id",
            "q_emb",
            F.explode(_cells_ranked_expr(centroids, N_PROBE, "q_emb")).alias("cell"),
            _norm("q_emb").alias("q_nrm"),
        )
    )
    cand = queries.join(corpus, "cell").where(F.col("q_id") != F.col("n_id")).dropDuplicates(
        ["q_id", "n_id"]
    )
    # norms precomputed once per vector below the join (see cosine_topk)
    cos = _dot("q_emb", "n_emb") / (F.col("q_nrm") * F.col("n_nrm"))
    scored = cand.select("q_id", "n_id", F.round(cos, 6).alias("cosine"))
    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TOP_K)
        .select("q_id", "n_id", "cosine", "rk")
    )


@query(
    "q51_ann_ivf_topk",
    oracle=_EXACT_COSINE_TOPK.format(n_queries=N_QUERIES, k=TOP_K)
    + """
SELECT q_id, n_id, cosine, rk, 1 AS ivf_recall_ok, 1 AS ivf_global_recall_ok FROM topk
""",
)
def q51_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN promoted to a full oracle (r4, derived-bound-flag pattern):
    hashed output = exact top-k (DuckDB recomputes) + `ivf_recall_ok`
    (per-query recall@5 ≥ 40%) + `ivf_global_recall_ok` (global ≥ 70%),
    both computed from the real IVF answer in the same query.

    Margins: measured deterministic per-query minimum is 3/5 (60%) and
    global is 80-88% at sf0.001/sf0.01, so the asserted bounds keep ≥1
    hit/query and ≥5 hits of headroom against fixture drift."""
    exact = exact_topk_memo(spark, sf_dir)
    ann = ivf_topk(spark, sf_dir)
    return _recall_flags(
        exact, ann, ("ivf_recall_ok", 40), ("ivf_global_recall_ok", 70)
    ).orderBy("q_id", "rk")


Q8_BITS = 127  # int8 quantization range


def quantize_int8(df: DataFrame, emb_col: str = "embedding") -> DataFrame:
    """Append per-vector symmetric int8 quantization: `q8` (array<int> in
    [-127, 127]) + `scale` (max|v| / 127). 4× smaller than float32 and 8×
    smaller than the double intermediates — at 100 TB of embeddings the scan
    is memory-bandwidth-bound, so this is the standard first compression
    step (FAISS SQ8). Dot products then use INTEGER multiply-adds and one
    final scale_a·scale_b correction."""
    mx = F.expr(
        f"aggregate({emb_col}, CAST(0 AS DOUBLE), (acc, v) -> greatest(acc, abs(CAST(v AS DOUBLE))))"
    )
    return df.withColumn("scale", (mx / Q8_BITS)).withColumn(
        "q8",
        F.expr(
            f"transform({emb_col}, v -> CAST(round(CAST(v AS DOUBLE) / scale) AS INT))"
        ),
    )


def quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k cosine over INT8-quantized embeddings: integer dot
    products rescaled by the per-vector scales, same broadcast-query plan as
    q30 (quantization error on 64-dim unit-ish vectors is ~1e-3)."""
    emb = load(spark, sf_dir, "embeddings")
    qz = quantize_int8(emb)
    # int8 self-dot norms precomputed once per vector below the join (the
    # q30/r12 pattern): the per-pair projection only does the integer dot
    q = qz.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("q8").alias("q_q8"),
        F.col("scale").alias("q_scale"),
        F.expr(
            "sqrt(aggregate(q8, CAST(0 AS BIGINT), (acc, v) -> acc + CAST(v AS BIGINT) * v))"
        ).alias("q_nrm"),
    )
    c = qz.select(
        F.col("vec_id").alias("n_id"),
        F.col("q8").alias("n_q8"),
        F.col("scale").alias("n_scale"),
        F.expr(
            "sqrt(aggregate(q8, CAST(0 AS BIGINT), (acc, v) -> acc + CAST(v AS BIGINT) * v))"
        ).alias("n_nrm"),
    )
    pairs = c.join(F.broadcast(q), F.col("q_id") != F.col("n_id"))
    # integer dot + int self-dots, floats only in the final correction
    idot = F.expr(
        "aggregate(zip_with(q_q8, n_q8, (x, y) -> CAST(x AS BIGINT) * y), CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    cos = idot / (F.col("q_nrm") * F.col("n_nrm"))
    scored = pairs.select("q_id", "n_id", F.round(cos, 6).alias("cosine_q8"))
    w = W.partitionBy("q_id").orderBy(F.col("cosine_q8").desc(), F.col("n_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TOP_K)
        .select("q_id", "n_id", "cosine_q8", F.col("rk").cast("bigint").alias("rk"))
    )


@query(
    "q107_quantized_cosine_topk",
    oracle=_EXACT_COSINE_TOPK.format(n_queries=N_QUERIES, k=TOP_K)
    + """
SELECT q_id, n_id, cosine, rk, 1 AS q8_recall_ok, 1 AS q8_global_recall_ok FROM topk
""",
)
def q107_quantized_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 (scalar-quantized) ANN promoted to a full oracle (r4,
    derived-bound-flag pattern): hashed output = exact full-precision top-k
    (DuckDB recomputes) + `q8_recall_ok` (per-query recall@5 of the
    int8-ranked answer ≥ 60%) + `q8_global_recall_ok` (global ≥ 90%).

    Margins: measured deterministic per-query minimum is 4/5 and global is
    49/50 (98%) at both sf0.001 and sf0.01 — one hit/query and 4 hits of
    global headroom. tests/test_similarity_q8.py keeps the raw ≥0.9 check."""
    exact = exact_topk_memo(spark, sf_dir)
    ann = quantized_topk(spark, sf_dir)
    return _recall_flags(
        exact, ann, ("q8_recall_ok", 60), ("q8_global_recall_ok", 90)
    ).orderBy("q_id", "rk")


SEMDEDUP_TAU = 0.30  # exact decimal: round(cos, 6) >= τ is engine-consistent


def _semdedup_planes() -> list[list[float]]:
    return _deterministic_planes(dim=64, n=N_PLANES, seed=1234567)


def _duck_plane_array(plane: list[float]) -> str:
    return "[" + ", ".join(f"CAST({float(x)} AS DOUBLE)" for x in plane) + "]"


def _semdedup_oracle() -> str:
    planes = _semdedup_planes()
    bucket_terms = " + ".join(
        f"(CASE WHEN list_dot_product(emb, {_duck_plane_array(p)}) >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return f"""
WITH RECURSIVE e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
),
b AS (
  SELECT vec_id, emb, {bucket_terms} AS bucket FROM e
),
pair AS (
  SELECT a.vec_id AS va, b2.vec_id AS vb
  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
  WHERE round(list_dot_product(a.emb, b2.emb)
              / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b2.emb, b2.emb))),
              6) >= {SEMDEDUP_TAU}
),
sym AS (
  SELECT va AS a, vb AS b FROM pair UNION SELECT vb, va FROM pair
),
reach AS (
  SELECT a, b FROM sym
  UNION SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
),
comp AS (
  SELECT a AS vec_id, least(a, min(b)) AS component FROM reach GROUP BY a
)
SELECT CAST(component AS BIGINT)  AS cluster_rep,
       CAST(count(*) AS BIGINT)   AS cluster_size,
       CAST(sum(vec_id) AS BIGINT) AS id_sum
FROM comp
GROUP BY component
"""


@query("q141_semdedup_clusters", oracle=_semdedup_oracle())
def q141_semdedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped SEMANTIC deduplication, fully oracle-backed: bucket
    embeddings with the deterministic hyperplane LSH (integer sign bits — no
    k-means float drift), take within-bucket pairs whose 6dp-rounded cosine
    clears an exact-decimal threshold, run connected components over the
    edges, and emit one row per dedup cluster (representative = min id,
    size, member id-sum). The keep-one-per-cluster decision a semantic
    dedup pass feeds back into the corpus IS this output.

    Scale: candidate generation is a bucket equi-join (never all-pairs
    across buckets); CC is the q56 iterative kernel (per-round keyed
    shuffle). The oracle recomputes buckets from the same plane constants,
    the same rounded cosines, and a recursive-CTE transitive closure —
    bit-exact because every decision input is integer or 6dp-rounded."""
    from .dedup import connected_components

    emb = load(spark, sf_dir, "embeddings")
    planes = _semdedup_planes()
    b = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("emb"),
        hyperplane_bucket(emb, planes, emb_col="embedding"),
        # norm precomputed once per vector below the self-join (the
        # q30/r12 pattern) — same sqrt(aggregate) on the same doubles,
        # bit-identical 6dp cosine
        F.sqrt(
            F.expr("aggregate(CAST(embedding AS ARRAY<DOUBLE>), CAST(0 AS DOUBLE), (acc, v) -> acc + v * v)")
        ).alias("nrm"),
    )
    a = b.alias("a")
    b2 = b.alias("b2")
    cos = F.round(
        F.expr(
            "aggregate(zip_with(a.emb, b2.emb, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        / (F.col("a.nrm") * F.col("b2.nrm")),
        6,
    )
    edges = (
        a.join(
            b2,
            (F.col("a.bucket") == F.col("b2.bucket"))
            & (F.col("a.vec_id") < F.col("b2.vec_id")),
        )
        .select(F.col("a.vec_id").alias("va"), F.col("b2.vec_id").alias("vb"), cos.alias("cos"))
        .where(F.col("cos") >= F.lit(SEMDEDUP_TAU))
        .select("va", "vb")
    )
    cc = connected_components(edges, "va", "vb")
    return (
        cc.groupBy(F.col("component").cast("bigint").alias("cluster_rep"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cluster_size"),
            F.sum("node").cast("bigint").alias("id_sum"),
        )
    )


_Q188_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS q_id, label AS q_label, embedding::DOUBLE[] AS q_emb
  FROM embeddings WHERE vec_id < {N_QUERIES}
),
c AS (
  SELECT vec_id AS n_id, label AS n_label, embedding::DOUBLE[] AS n_emb
  FROM embeddings
),
scored AS (
  SELECT q_id, q_label, n_id, n_label,
         round(list_dot_product(q_emb, n_emb)
               / (sqrt(list_dot_product(q_emb, q_emb))
                  * sqrt(list_dot_product(n_emb, n_emb))),
               6) AS cosine
  FROM q JOIN c ON q_label <> n_label
)
SELECT q_id, CAST(q_label AS BIGINT) AS q_label, n_id,
       CAST(n_label AS BIGINT) AS n_label, cosine, rk
FROM (
  SELECT q_id, q_label, n_id, n_label, cosine,
         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rk
  FROM scored
)
WHERE rk <= {TOP_K}
"""


@query("q188_hard_negative_mining", oracle=_Q188_ORACLE)
def q188_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD-NEGATIVE MINING for contrastive training (r8): for each query
    vector, the top-k most-similar vectors with a DIFFERENT label — the
    near-misses a retrieval model most needs as negatives (the standard
    dense-retriever training-data op; easy negatives teach nothing). The
    label-exclusion predicate rides the broadcast join, so the corpus
    pass is identical to q30's exact brute force with a narrower join;
    ranking reuses the 6dp cosine discipline that makes Spark and DuckDB
    agree bit-for-bit.

    Scale: query side broadcast (bounded); one corpus pass; only the
    tiny per-query top-k shuffles. At real scale the corpus pass swaps
    to the IVF/LSH candidate route (q31/q164) with the same label
    filter — the mining contract is unchanged."""
    emb = load(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").cast("long").alias("q_label"),
        F.col("embedding").cast("array<double>").alias("q_emb"),
    ).withColumn("q_nrm", _norm("q_emb"))
    c = emb.select(
        F.col("vec_id").alias("n_id"),
        F.col("label").cast("long").alias("n_label"),
        F.col("embedding").cast("array<double>").alias("n_emb"),
    ).withColumn("n_nrm", _norm("n_emb"))
    pairs = c.join(F.broadcast(q), F.col("q_label") != F.col("n_label"))
    # norms precomputed once per vector below the join (see cosine_topk)
    cos = _dot("q_emb", "n_emb") / (F.col("q_nrm") * F.col("n_nrm"))
    scored = pairs.select(
        "q_id", "q_label", "n_id", "n_label", F.round(cos, 6).alias("cosine")
    )
    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TOP_K)
        .select(
            "q_id", "q_label", "n_id", "n_label", "cosine",
            F.col("rk").cast("bigint").alias("rk"),
        )
    )
