"""Plan-shape pins for the round-12 optimization changes.

Each test pins the STRUCTURE an optimization claimed (OPTIMIZATION_r12.md),
so a refactor can't silently reintroduce the removed work:
- q27's candidate generator is join-free (posting-list groupBy, not a
  postings self-join that broadcast the corpus-sized table);
- the exact-cosine kernel divides by norms computed once per vector below
  the join (not per pair);
- _recall_flags caches the ANN answer ids so the ANN pipeline is not a
  duplicated subtree.
"""

from pyspark.sql import functions as F


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q27_candidates_are_join_free(spark, sf_dir):
    from copy_sharepoint_to_onelake_lakehousefiles_spark.operators import dedup

    df = dedup.q27_ngram_jaccard_pairs(spark, sf_dir)
    plan = _executed_plan(df)
    for node in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert node not in plan, f"q27 candidate generation regained a join: {node}"
    # the posting-list shape: a collect_list aggregation feeds the pair explode
    assert "collect_list" in plan


def test_cosine_kernel_norms_precomputed_below_join(spark, sf_dir):
    from copy_sharepoint_to_onelake_lakehousefiles_spark.operators import similarity as S
    from copy_sharepoint_to_onelake_lakehousefiles_spark.tables import load

    emb = load(spark, sf_dir, "embeddings")
    df = S.cosine_topk(emb.where(F.col("vec_id") < S.N_QUERIES), emb, S.TOP_K)
    plan = _executed_plan(df)
    cosine_lines = [l for l in plan.splitlines() if "AS cosine" in l]
    assert cosine_lines, "expected a projection producing the cosine column"
    for line in cosine_lines:
        assert "SQRT(" not in line, (
            "per-pair cosine projection recomputes a norm — norms must be "
            "projected once per vector below the join (r12 §1)"
        )


def test_recall_flags_cache_ann_ids(spark, sf_dir):
    from copy_sharepoint_to_onelake_lakehousefiles_spark.operators import similarity as S

    df = S.q31_ann_lsh_topk(spark, sf_dir)
    plan = _executed_plan(df)
    assert "__hit" in plan
    assert "InMemoryTableScan" in plan, (
        "_recall_flags must persist the ANN answer ids — without the cache "
        "the ANN pipeline re-executes once per recall aggregate (r12 §6)"
    )
