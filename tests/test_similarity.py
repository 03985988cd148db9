"""Similarity tier: exact top-k sanity + LSH recall vs brute force."""

from pyspark.sql import functions as F

from copy_sharepoint_to_onelake_lakehousefiles_spark.operators import similarity as S
from copy_sharepoint_to_onelake_lakehousefiles_spark.tables import load


def test_topk_shape_and_self_exclusion(spark, sf_dir):
    rows = S.q30_cosine_topk(spark, sf_dir).collect()
    per_q = {}
    for r in rows:
        assert r["q_id"] != r["n_id"]
        assert -1.0001 <= r["cosine"] <= 1.0001
        per_q.setdefault(r["q_id"], []).append(r["rk"])
    assert set(per_q) == set(range(S.N_QUERIES))
    for ranks in per_q.values():
        assert sorted(ranks) == list(range(1, S.TOP_K + 1))


def test_topk_matches_numpy_bruteforce(spark, sf_dir):
    import numpy as np

    emb = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
           for r in load(spark, sf_dir, "embeddings").collect()}
    got = {}
    for r in S.q30_cosine_topk(spark, sf_dir).collect():
        got.setdefault(r["q_id"], []).append((r["rk"], r["n_id"]))
    for q in range(S.N_QUERIES):
        qa = emb[q]
        sims = {
            n: float(qa @ v / (np.linalg.norm(qa) * np.linalg.norm(v)))
            for n, v in emb.items()
            if n != q
        }
        want = [n for n, _ in sorted(sims.items(), key=lambda kv: (-round(kv[1], 6), kv[0]))][
            : S.TOP_K
        ]
        assert [n for _, n in sorted(got[q])] == want


def test_lsh_recall_vs_bruteforce(spark, sf_dir):
    exact = {}
    for r in S.q30_cosine_topk(spark, sf_dir).collect():
        exact.setdefault(r["q_id"], set()).add(r["n_id"])
    approx = {}
    for r in S.lsh_topk(spark, sf_dir).collect():
        approx.setdefault(r["q_id"], set()).add(r["n_id"])
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    total = sum(len(v) for v in exact.values())
    # single-probe 8-plane LSH on 64-dim random data: modest but real recall
    assert hits / total >= 0.2


def test_blocked_neardup_within_label_only(spark, sf_dir):
    labels = {r["vec_id"]: r["label"] for r in load(spark, sf_dir, "embeddings").collect()}
    for r in S.q32_embedding_neardup(spark, sf_dir).collect():
        assert labels[r["vec_a"]] == labels[r["vec_b"]] == r["label"]


def test_pandas_udf_cosine_matches_expression(spark, sf_dir):
    from pyspark.sql import functions as F2

    from copy_sharepoint_to_onelake_lakehousefiles_spark.functions.vectors import (
        cosine,
        cosine_pandas_udf,
    )

    e = load(spark, sf_dir, "embeddings").limit(50)
    a = e.select(F2.col("vec_id").alias("ia"), F2.col("embedding").cast("array<double>").alias("ea"))
    b = e.select(F2.col("vec_id").alias("ib"), F2.col("embedding").cast("array<double>").alias("eb"))
    pairs = a.join(b, F2.col("ia") < F2.col("ib")).limit(500)
    cos_udf = cosine_pandas_udf()
    both = pairs.select(
        "ia", "ib",
        F2.round(cosine("ea", "eb"), 8).alias("expr_cos"),
        F2.round(cos_udf("ea", "eb"), 8).alias("udf_cos"),
    ).collect()
    assert both
    for r in both:
        assert abs(r["expr_cos"] - r["udf_cos"]) < 1e-6


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    exact = {}
    for r in S.q30_cosine_topk(spark, sf_dir).collect():
        exact.setdefault(r["q_id"], set()).add(r["n_id"])
    approx = {}
    for r in S.ivf_topk(spark, sf_dir).collect():
        approx.setdefault(r["q_id"], set()).add(r["n_id"])
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    total = sum(len(v) for v in exact.values())
    # 16 cells / probe 2 on 64-dim uniform data: coarse but real recall
    assert hits / total >= 0.2


def test_ann_recall_flags_assert_true(spark, sf_dir):
    """The r4 oracle-promotion contract: every recall flag in the hashed
    output is 1 (the DuckDB oracle emits literal 1 — a 0 here means the
    deterministic ANN recall fell below its asserted bound)."""
    cases = (
        (S.q31_ann_lsh_topk, ["lsh_recall_ok"]),
        (S.q51_ann_ivf_topk, ["ivf_recall_ok", "ivf_global_recall_ok"]),
        (S.q107_quantized_cosine_topk, ["q8_recall_ok", "q8_global_recall_ok"]),
    )
    for fn, flags in cases:
        rows = fn(spark, sf_dir).collect()
        assert rows
        for r in rows:
            for f in flags:
                assert r[f] == 1, (fn.__name__, f, r)


# wrong length, or a NULL element: a NULL distance to every centroid
MALFORMED = [(5, [0.5]), (6, [0.1, 0.2, 0.3]), (7, [0.9, None]), (8, [None, None])]


def test_null_embedding_gets_no_cell(spark):
    cents = [[0.0, 0.0], [1.0, 1.0], [0.0, 1.0]]
    df = spark.createDataFrame(
        [(0, [0.1, 0.2]), (1, [0.9, 0.8]), (2, None), (3, [0.0, 0.9]), (4, [0.5, 0.5])]
        + MALFORMED,
        "vec_id long, emb array<double>",
    )
    got = dict(df.select("vec_id", S._nearest_cell_expr(cents).alias("cell")).collect())
    # row 4 is equidistant from all three: ties go to the lowest cell id;
    # malformed rows get no cell rather than the lowest one
    assert got == {0: 0, 1: 1, 2: -1, 3: 2, 4: 0, 5: -1, 6: -1, 7: -1, 8: -1}


def test_null_or_malformed_query_probes_no_cell(spark):
    cents = [[0.0, 0.0], [1.0, 1.0], [0.0, 1.0]]
    df = spark.createDataFrame(
        [(0, [0.1, 0.2]), (1, [0.9, 0.8]), (2, None)] + MALFORMED,
        "vec_id long, emb array<double>",
    )
    got = dict(df.select("vec_id", S._cells_ranked_expr(cents, 2).alias("cells")).collect())
    assert got == {0: [0, 2], 1: [1, 2], 2: [], 5: [], 6: [], 7: [], 8: []}


def test_null_embedding_leaves_centroids_unchanged(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    null_row = spark.createDataFrame([(10**6, None, 0)], emb.schema)
    assert S._ivf_centroids(emb.unionByName(null_row)) == S._ivf_centroids(emb)
