"""Skew-mitigation primitives (100 TB posture: a single hot key must not pin
a single reducer).

Two tools, both pure DataFrame:

- `salted_aggregate` — two-phase aggregation: hash-partial on (key, salt),
  then final on key. Spark's partial aggregation already does this for
  algebraic aggs; the explicit form is for aggregates that Spark computes in
  a single exchange (e.g. collect-style) or to cap per-reducer input.
- `salted_join` — replicate the SMALL side ×S, salt each BIG row with its
  position in its task mod S: the hot key's rows spread over S reducers,
  even when they are identical. AQE's skew-join split
  handles moderate skew automatically; explicit salting is the tool when one
  key alone exceeds a task's memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# join types a salted join can express: the SMALL side is replicated
# x n_salts, so only big-side-preserving joins are legal — a right/full
# outer would emit each UNMATCHED small row once per salt replica.
_SALT_LEGAL = {
    "inner",
    "left",
    "leftouter",
    "left_outer",
    "leftsemi",
    "left_semi",
    "leftanti",
    "left_anti",
}


def _with_row_salt(df: DataFrame, n_salts: int) -> DataFrame:
    """`_salt` = the row's position in its task mod n_salts. Unlike a hash
    of the row, it differs between identical rows; unlike an unseeded
    random draw, a retried task over the same input recomputes it."""
    return df.withColumn("_salt", F.pmod(F.monotonically_increasing_id(), F.lit(n_salts)))


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join `big ⋈ small` on `key`, spreading each of big's keys over
    `n_salts` reducers. Result is identical to `big.join(small, key, how)`.

    `how` must preserve (at most) the BIG side: the small side is
    replicated once per salt, so a join type that emits unmatched SMALL
    rows (right/full outer) would duplicate them x n_salts — refused."""
    if how.lower().replace(" ", "") not in _SALT_LEGAL:
        raise ValueError(
            f"salted_join cannot express how={how!r}: the small side is"
            " replicated per salt, so only big-side-preserving joins"
            " (inner/left/left_semi/left_anti) keep plain-join semantics"
        )
    salted_big = _with_row_salt(big, n_salts)
    exploded_small = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    out = salted_big.join(exploded_small, [key, "_salt"], how)
    return out.drop("_salt")


def salted_aggregate(
    df: DataFrame,
    key: str,
    agg_col: str,
    n_salts: int = 8,
) -> DataFrame:
    """SUM(agg_col) GROUP BY key in two phases: (key, salt) partial → key
    final. Identical result to a direct groupBy; per-reducer input in phase 1
    is bounded by |key partition| / n_salts."""
    partial = (
        df.withColumn("_salt", F.pmod(F.xxhash64(*df.columns), F.lit(n_salts)))
        .groupBy(key, "_salt")
        .agg(F.sum(agg_col).alias("_psum"), F.count(F.lit(1)).alias("_pcnt"))
    )
    return partial.groupBy(key).agg(
        F.sum("_psum").alias(f"sum_{agg_col}"),
        F.sum("_pcnt").alias("n_rows"),
    )


from pyspark.sql import SparkSession  # noqa: E402

from ..registry import query  # noqa: E402
from ..tables import load  # noqa: E402


@query(
    "q59_salted_aggregate",
    oracle="""
SELECT l_returnflag,
       round(sum(l_quantity), 2) AS sum_l_quantity,
       count(*)                  AS n_rows
FROM lineitem
GROUP BY l_returnflag
""",
)
def q59_salted_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation, oracle-checked identical to the plain
    GROUP BY — proof that the skew-mitigation path changes the shuffle
    layout, not the answer."""
    li = load(spark, sf_dir, "lineitem")
    out = salted_aggregate(li, "l_returnflag", "l_quantity", n_salts=8)
    return out.select(
        "l_returnflag",
        F.round("sum_l_quantity", 2).alias("sum_l_quantity"),
        "n_rows",
    )
