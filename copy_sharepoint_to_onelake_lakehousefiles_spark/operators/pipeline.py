"""Training-data pipeline operators (north-star tier beyond the reference):
chunking, chunk-level dedup, split decontamination, vocabulary building,
n-gram statistics, masking, repetition scoring, stratified sampling, date
spines, and embedding hygiene.

Everything is built-in column expressions (split / slice / sequence /
higher-order lambdas / window functions) — JVM codegen end-to-end, no Python
in the hot path — and every query has an exact DuckDB oracle twin.

Scale notes per query are in the docstrings; the common theme: per-document
work stays array-local (no explode until the data is minimal), cross-corpus
steps are equi-joins or single hash aggregations on bounded keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load
from .dedup import _DUCK_SHINGLES, _shingled

CHUNK_TOKENS = 32
CHUNK_STRIDE = 24  # 8-token overlap between consecutive chunks


def chunked(d: DataFrame) -> DataFrame:
    """documents → (doc_id, chunk_idx, n_chunk_tokens, chunk_text): fixed-size
    token windows (CHUNK_TOKENS) with stride CHUNK_STRIDE. The k-th chunk
    starts at token k*stride+1; the tail chunk may be short but is never
    empty. Array-local: tokenization and window math happen inside one row
    before the explode, so the shuffle carries only final chunks."""
    t = d.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
    k = t.select(
        "doc_id",
        "toks",
        F.explode(
            F.expr(
                f"sequence(0, (greatest(size(toks) - {CHUNK_TOKENS}, 0) + {CHUNK_STRIDE - 1}) "
                f"div {CHUNK_STRIDE})"
            )
        ).alias("chunk_idx"),
    )
    chunk = F.expr(f"slice(toks, chunk_idx * {CHUNK_STRIDE} + 1, {CHUNK_TOKENS})")
    return k.select(
        "doc_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.size(chunk).cast("bigint").alias("n_chunk_tokens"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
    )


_DUCK_CHUNKS = f"""
  WITH __t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
  chunks AS (
    SELECT doc_id, chunk_idx,
           len(toks[chunk_idx*{CHUNK_STRIDE}+1 : chunk_idx*{CHUNK_STRIDE}+{CHUNK_TOKENS}]) AS n_chunk_tokens,
           array_to_string(toks[chunk_idx*{CHUNK_STRIDE}+1 : chunk_idx*{CHUNK_STRIDE}+{CHUNK_TOKENS}], ' ') AS chunk_text
    FROM (SELECT doc_id, toks,
                 unnest(generate_series(0, (greatest(len(toks) - {CHUNK_TOKENS}, 0) + {CHUNK_STRIDE - 1})
                        // {CHUNK_STRIDE})) AS chunk_idx
          FROM __t)
  )
"""


@query(
    "q70_document_chunks",
    oracle=f"""
{_DUCK_CHUNKS}
SELECT doc_id, chunk_idx, n_chunk_tokens,
       substr(chunk_text, 1, 24) AS chunk_prefix,
       md5(chunk_text)           AS chunk_hash
FROM chunks
WHERE doc_id < 300
""",
)
def q70_document_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size overlapping token chunking — the unit-of-training-example
    operator every LLM pipeline starts with. 100 TB: embarrassingly parallel
    (per-row), no shuffle at all until a downstream op groups chunks."""
    d = load(spark, sf_dir, "documents")
    return chunked(d.where(F.col("doc_id") < 300)).select(
        "doc_id",
        "chunk_idx",
        "n_chunk_tokens",
        F.substring("chunk_text", 1, 24).alias("chunk_prefix"),
        F.md5("chunk_text").alias("chunk_hash"),
    )


@query(
    "q71_chunk_novelty",
    oracle=f"""
{_DUCK_CHUNKS},
h AS (SELECT doc_id, md5(chunk_text) AS h FROM chunks),
dup AS (
  SELECT h FROM h GROUP BY h HAVING count(DISTINCT doc_id) >= 2
)
SELECT doc_id,
       count(*)                                        AS n_chunks,
       count(*) FILTER (WHERE dup.h IS NOT NULL)       AS n_dup_chunks,
       round(CAST(count(*) FILTER (WHERE dup.h IS NOT NULL) AS DOUBLE)
             / count(*), 4)                            AS dup_ratio
FROM h LEFT JOIN dup USING (h)
GROUP BY doc_id
HAVING count(*) FILTER (WHERE dup.h IS NOT NULL) > 0
""",
)
def q71_chunk_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level duplicate-content ratio per document (the RefinedWeb-style
    'how much of this doc exists elsewhere' signal). A chunk is duplicated if
    its hash occurs in ≥2 distinct documents. Scale: one hash aggregation
    over chunk hashes (bounded key = 128-bit digest, uniform — no skew), one
    equi-join back; nothing quadratic."""
    d = load(spark, sf_dir, "documents")
    h = chunked(d).select("doc_id", F.md5("chunk_text").alias("h"))
    dup = (
        h.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("h", F.lit(1).alias("is_dup"))
    )
    j = h.join(dup, "h", "left")
    return (
        j.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("is_dup").isNotNull(), 1).otherwise(0)).alias("n_dup_chunks"),
        )
        .where(F.col("n_dup_chunks") > 0)
        .select(
            "doc_id",
            "n_chunks",
            "n_dup_chunks",
            F.round(F.col("n_dup_chunks").cast("double") / F.col("n_chunks"), 4).alias(
                "dup_ratio"
            ),
        )
    )


_BUCKET_DUCK = "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10"


def _bucket_col():
    return (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 10
    )


@query(
    "q72_split_contamination",
    oracle=f"""
WITH sh AS (
  SELECT doc_id, {_BUCKET_DUCK} AS bucket, unnest({_DUCK_SHINGLES}) AS shingle
  FROM documents
  WHERE len(string_split(text, ' ')) >= 5
),
train AS (SELECT DISTINCT shingle FROM sh WHERE bucket <= 7),
test AS (SELECT doc_id, shingle FROM sh WHERE bucket = 9)
SELECT t.doc_id,
       count(DISTINCT t.shingle)                                   AS n_shingles,
       count(DISTINCT t.shingle) FILTER (WHERE tr.shingle IS NOT NULL) AS n_shared,
       CASE WHEN count(*) FILTER (WHERE tr.shingle IS NOT NULL) > 0
            THEN 1 ELSE 0 END                                      AS contaminated
FROM test t LEFT JOIN train tr ON t.shingle = tr.shingle
GROUP BY t.doc_id
""",
)
def q72_split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train→test decontamination check: for every test-split document, how
    many of its word-5-gram shingles also appear anywhere in the train split
    (the standard n-gram-overlap contamination test used before training).
    Scale: the train shingle set is a DISTINCT hash agg (uniform digest keys);
    the probe is one equi-join — the same shape as an inverted-index lookup.
    Splits reuse q55's deterministic md5 bucketing, so membership is stable
    across engines and re-runs."""
    d = load(spark, sf_dir, "documents")
    sh = _shingled(d).select(
        "doc_id", _bucket_col().alias("bucket"), F.explode("shingles").alias("shingle")
    )
    train = sh.where(F.col("bucket") <= 7).select("shingle").distinct()
    test = sh.where(F.col("bucket") == 9).select("doc_id", "shingle")
    j = test.join(train.withColumn("hit", F.lit(1)), "shingle", "left")
    return j.groupBy("doc_id").agg(
        F.countDistinct("shingle").alias("n_shingles"),
        F.countDistinct(F.when(F.col("hit").isNotNull(), F.col("shingle"))).alias("n_shared"),
        F.max(F.when(F.col("hit").isNotNull(), 1).otherwise(0)).cast("int").alias("contaminated"),
    )


@query(
    "q73_vocabulary",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
counts AS (
  SELECT token, count(*) AS n_occurrences, count(DISTINCT doc_id) AS doc_freq
  FROM tok GROUP BY token
)
SELECT row_number() OVER (ORDER BY n_occurrences DESC, token) AS vocab_id,
       token, n_occurrences, doc_freq
FROM counts
""",
)
def q73_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary building: token → stable contiguous id, ordered by corpus
    frequency (ties broken lexically). The heavy step is the distributed
    token count (map-side-combined hash agg); the id assignment uses the
    two-pass partition-offset ranking from
    :func:`..operators.ranking.global_row_number` — a 100 TB web corpus has
    10^8+ distinct tokens, so even the post-aggregation table is too big
    for a single-partition row_number sort."""
    from .ranking import global_row_number

    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("token"))
    counts = tok.groupBy("token").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.countDistinct("doc_id").alias("doc_freq"),
    )
    ranked = global_row_number(
        counts, [F.col("n_occurrences").desc(), F.col("token")], rank_name="vocab_id"
    )
    return ranked.select("vocab_id", "token", "n_occurrences", "doc_freq")


@query(
    "q74_bigram_counts",
    oracle="""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
bg AS (
  SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bigram
  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i FROM t)
)
SELECT bigram, count(*) AS n_occurrences, count(DISTINCT doc_id) AS doc_freq
FROM bg
GROUP BY bigram
HAVING count(*) >= 20
""",
)
def q74_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-occurrence (adjacent-bigram) statistics — the building block for
    collocation mining and tokenizer-merge candidates (BPE's first step is
    exactly 'count adjacent pairs'). Bigram construction is array-local
    (transform over an index sequence, no self-join); the count is one hash
    agg keyed by bigram."""
    d = load(spark, sf_dir, "documents")
    t = d.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
    bg = t.select(
        "doc_id",
        F.explode(
            F.expr(
                # step 1: sequence(1, 0) descends; (1, 0, 1) is empty
                "transform(sequence(1, size(toks) - 1, 1), "
                "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
            )
        ).alias("bigram"),
    )
    return (
        bg.groupBy("bigram")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .where(F.col("n_occurrences") >= 20)
    )


@query(
    "q75_masked_events",
    oracle="""
SELECT event_id,
       regexp_replace(props, '[0-9]+', '#', 'g')     AS masked_props,
       len(regexp_extract_all(props, '[0-9]+'))      AS n_masked,
       regexp_replace(event_type, '[aeiou]', '*', 'g') AS masked_kind
FROM events
WHERE event_id < 300
""",
)
def q75_masked_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern masking / redaction (the PII-scrub shape: replace every match
    of a pattern, count what was masked). Pure regexp column expressions —
    at 100 TB this is a map-only pass with full codegen, no shuffle."""
    e = load(spark, sf_dir, "events")
    return e.where(F.col("event_id") < 300).select(
        "event_id",
        F.regexp_replace("props", "[0-9]+", "#").alias("masked_props"),
        F.expr("size(regexp_extract_all(props, '[0-9]+', 0))")
        .cast("bigint")
        .alias("n_masked"),
        F.regexp_replace("event_type", "[aeiou]", "*").alias("masked_kind"),
    )


@query(
    "q76_repetition_scores",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
tc AS (
  SELECT doc_id, token, count(*) AS cnt FROM tok GROUP BY doc_id, token
),
agg AS (
  SELECT doc_id,
         CAST(sum(cnt) AS BIGINT) AS n_tokens,
         CAST(max(cnt) AS BIGINT) AS top_cnt
  FROM tc GROUP BY doc_id
),
top AS (
  SELECT a.doc_id, a.n_tokens, a.top_cnt, min(t.token) AS top_token
  FROM agg a JOIN tc t ON t.doc_id = a.doc_id AND t.cnt = a.top_cnt
  GROUP BY a.doc_id, a.n_tokens, a.top_cnt
),
bg AS (
  SELECT doc_id,
         len(toks) - 1                                         AS n_bigrams,
         len(list_distinct(list_transform(
             generate_series(1, len(toks) - 1),
             i -> toks[i] || ' ' || toks[i+1])))               AS n_distinct_bigrams
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
)
SELECT t.doc_id,
       t.n_tokens,
       t.top_token,
       CAST((t.top_cnt * 20000 + t.n_tokens) // (t.n_tokens * 2) AS BIGINT)
                                                                     AS top_share_x10k,
       CAST((b.n_distinct_bigrams * 20000 + b.n_bigrams) // (b.n_bigrams * 2) AS BIGINT)
                                                                     AS bigram_diversity_x10k,
       CASE WHEN t.top_cnt * 5 > t.n_tokens
              OR b.n_distinct_bigrams * 5 < b.n_bigrams * 3
            THEN 1 ELSE 0 END                                        AS repetitive
FROM top t JOIN bg b ON t.doc_id = b.doc_id
WHERE t.doc_id < 300
""",
)
def q76_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition / boilerplate scoring: top-token share and distinct-bigram
    diversity (a cheap compression-ratio proxy), flagged against thresholds —
    the Gopher/C4-style quality filters. Bigram diversity is array-local; the
    token counts are a two-level hash agg keyed by (doc_id, token) — no skew
    (doc_id leads the key).

    Hash-proof contract (two rounds of driver-only divergence taught this):
    NO doubles and NO engine-specific constructs anywhere in the output —
    the 4-decimal shares are emitted as BIGINT scaled integers (x10k,
    half-up integer division on exact counts), the repetitive flag as exact
    rational comparisons, and the argmax token as an explicit
    "min(token) among cnt = max(cnt)" join, identical in both dialects
    (struct-max orderings and HUGEINT division are where engines diverge)."""
    d = load(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    tok = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("token"))
    tc = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("cnt"))
    agg = tc.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_tokens"),
        F.max("cnt").alias("top_cnt"),
    )
    top = (
        tc.join(agg, "doc_id")
        .where(F.col("cnt") == F.col("top_cnt"))
        .groupBy("doc_id", "n_tokens", "top_cnt")
        .agg(F.min("token").alias("top_token"))
    )
    bg = d.select(
        "doc_id",
        (F.size(F.split(F.col("text"), " ")) - 1).cast("bigint").alias("n_bigrams"),
        F.expr(
            "size(array_distinct(transform(sequence(1, size(split(text, ' ')) - 1, 1), "
            "i -> concat(element_at(split(text, ' '), i), ' ', "
            "element_at(split(text, ' '), i + 1)))))"
        )
        .cast("bigint")
        .alias("n_distinct_bigrams"),
    )
    top_share4 = F.expr("(top_cnt * 20000 + n_tokens) div (n_tokens * 2)")
    diversity4 = F.expr("(n_distinct_bigrams * 20000 + n_bigrams) div (n_bigrams * 2)")
    repetitive = F.expr(
        "top_cnt * 5 > n_tokens OR n_distinct_bigrams * 5 < n_bigrams * 3"
    )
    return top.join(bg, "doc_id").select(
        "doc_id",
        "n_tokens",
        "top_token",
        top_share4.cast("bigint").alias("top_share_x10k"),
        diversity4.cast("bigint").alias("bigram_diversity_x10k"),
        F.when(repetitive, 1).otherwise(0).cast("int").alias("repetitive"),
    )


@query(
    "q77_grouped_correlation",
    oracle="""
SELECT l_returnflag,
       count(*)                                        AS n,
       round(corr(l_quantity, l_extendedprice), 4)     AS corr_qty_price,
       round(covar_samp(l_quantity, l_discount), 6)    AS covar_qty_disc,
       round(stddev_samp(l_extendedprice), 2)          AS sd_price
FROM lineitem
GROUP BY l_returnflag
""",
)
def q77_grouped_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped statistical moments (corr / covariance / stddev) — dataset
    profiling before training. Single-pass distributed moment aggregation
    (Welford-style partial+final merge, Catalyst built-ins)."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_discount"), 6).alias("covar_qty_disc"),
        F.round(F.stddev_samp("l_extendedprice"), 2).alias("sd_price"),
    )


@query(
    "q78_event_date_spine",
    oracle="""
WITH bounds AS (
  SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1 FROM events
),
spine AS (
  SELECT k.event_type, CAST(unnest(generate_series(b.d0, b.d1, INTERVAL 1 day)) AS DATE) AS day
  FROM (SELECT DISTINCT event_type FROM events) k, bounds b
),
daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n_events,
         round(sum(value), 2) AS revenue
  FROM events GROUP BY event_type, CAST(ts AS DATE)
)
SELECT s.event_type, s.day,
       COALESCE(d.n_events, 0)    AS n_events,
       COALESCE(d.revenue, 0.0)   AS revenue
FROM spine s LEFT JOIN daily d ON s.event_type = d.event_type AND s.day = d.day
""",
)
def q78_event_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-spine gap filling: dense (event_type × day) grid via sequence(), left
    join of sparse daily aggregates, zeros for missing days — the
    time-series regularization step before windowed training features.
    Scale: the spine is |event types| × |days| (tiny, broadcast); the daily agg is
    the only shuffle over the fact table."""
    e = load(spark, sf_dir, "events")
    bounds = e.agg(
        F.min(F.col("ts").cast("date")).alias("d0"), F.max(F.col("ts").cast("date")).alias("d1")
    )
    kinds = e.select("event_type").distinct()
    spine = kinds.crossJoin(F.broadcast(bounds)).select(
        "event_type", F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day")
    )
    daily = e.groupBy("event_type", F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("revenue")
    )
    return spine.join(daily, ["event_type", "day"], "left").select(
        "event_type",
        "day",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
    )


@query(
    "q79_balanced_sample",
    oracle="""
WITH sized AS (
  SELECT lang, count(*) AS n FROM documents GROUP BY lang
),
target AS (SELECT min(n) AS m FROM sized),
ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents
)
SELECT doc_id, lang, rk
FROM ranked, target
WHERE rk <= target.m
""",
)
def q79_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic class-balanced downsampling: rank documents within each
    language by a stable pseudo-random key (md5 of the id) and keep the
    smallest class's count from every class. Unlike sampleBy()/rand(), the
    selection is a pure function of the data — reproducible across engines,
    retries, and repartitioning. Scale: one window per class partition
    (parallel across classes; within-class sort is the cost — for huge
    classes switch to the bucket<threshold approximate form of q55)."""
    d = load(spark, sf_dir, "documents")
    target = d.groupBy("lang").count().agg(F.min("count").alias("m"))
    w = W.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    ranked = d.select("doc_id", "lang", F.row_number().over(w).cast("bigint").alias("rk"))
    return ranked.crossJoin(F.broadcast(target)).where(F.col("rk") <= F.col("m")).select(
        "doc_id", "lang", "rk"
    )


@query(
    "q80_embedding_norm_stats",
    oracle="""
SELECT label,
       count(*)                                                       AS n,
       round(avg(l2), 4)                                              AS avg_norm,
       round(min(l2), 4)                                              AS min_norm,
       round(max(l2), 4)                                              AS max_norm,
       count(*) FILTER (WHERE l2 < 0.5 OR l2 > 2.0)                   AS n_outliers
FROM (
  SELECT label,
         sqrt(list_aggregate(list_transform(embedding::DOUBLE[], x -> x * x), 'sum')) AS l2
  FROM embeddings
)
GROUP BY label
""",
)
def q80_embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding hygiene: per-label L2-norm distribution and out-of-range
    counts (degenerate/exploding vectors are the first thing to filter
    before ANN indexing or contrastive training). Norms are computed
    array-locally (aggregate lambda over the vector, double precision on
    both engines); the per-label rollup is a plain hash agg."""
    emb = load(spark, sf_dir, "embeddings")
    l2 = F.sqrt(
        F.expr(
            "aggregate(cast(embedding AS array<double>), cast(0 AS double), "
            "(acc, x) -> acc + x * x)"
        )
    )
    normed = emb.select("label", l2.alias("l2"))
    return normed.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("l2"), 4).alias("avg_norm"),
        F.round(F.min("l2"), 4).alias("min_norm"),
        F.round(F.max("l2"), 4).alias("max_norm"),
        F.sum(F.when((F.col("l2") < 0.5) | (F.col("l2") > 2.0), 1).otherwise(0)).alias(
            "n_outliers"
        ),
    )


@query(
    "q96_interpolated_hourly",
    oracle="""
WITH bounds AS (
  SELECT date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1 FROM events
),
spine AS (
  SELECT k.event_type, unnest(generate_series(b.h0, b.h1, INTERVAL 1 hour)) AS hour
  FROM (SELECT DISTINCT event_type FROM events) k, bounds b
),
hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(round(avg(value) * 1000000) AS BIGINT) AS v6
  FROM events GROUP BY event_type, date_trunc('hour', ts)
),
g AS (
  SELECT s.event_type, s.hour, h.v6 FROM spine s
  LEFT JOIN hourly h ON s.event_type = h.event_type AND s.hour = h.hour
),
ctx AS (
  SELECT event_type, hour, v6,
    last_value(v6 IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY hour
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv6,
    last_value(CASE WHEN v6 IS NOT NULL THEN hour END IGNORE NULLS)
      OVER (PARTITION BY event_type ORDER BY hour
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
    first_value(v6 IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY hour
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv6,
    first_value(CASE WHEN v6 IS NOT NULL THEN hour END IGNORE NULLS)
      OVER (PARTITION BY event_type ORDER BY hour
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
  FROM g
),
terms AS (
  SELECT event_type, hour, v6, pv6, nv6,
    CAST(epoch(hour) - epoch(pd) AS BIGINT) // 3600 AS a,
    CAST(epoch(nd) - epoch(pd) AS BIGINT) // 3600 AS b
  FROM ctx
)
SELECT event_type, hour,
  (CASE
    WHEN v6 IS NOT NULL THEN (v6 + 50) // 100
    WHEN pv6 IS NULL THEN (nv6 + 50) // 100
    WHEN nv6 IS NULL THEN (pv6 + 50) // 100
    ELSE (pv6 * (b - a) + nv6 * a + (b * 100) // 2) // (b * 100)
  END) / 10000.0 AS value_interp,
  (v6 IS NOT NULL) AS observed
FROM terms
""",
)
def q96_interpolated_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series LINEAR INTERPOLATION over an hourly grid: where q78
    zero-fills daily gaps, this estimates missing hours from the neighboring
    observed hours (prev + slope * elapsed-fraction), edge gaps taking the
    nearest observation -- the resampling step before feeding regular series
    to a model. (Hourly, not daily: the fixture's daily grid is fully dense,
    so days would never exercise the interpolation branch.)

    Numeric determinism: the interpolation runs in SCALED INTEGER arithmetic
    (micro-units, half-up integer division) because float round() semantics
    differ between engines at exact .5 boundaries (Spark rounds the shortest
    decimal repr, DuckDB the binary value) -- linear interpolation on a
    regular grid lands on such boundaries constantly (frac = 1/2). Only the
    final /10000.0 produces a double, identically on both sides.

    Scale: the spine join is the only fact-table shuffle; the prev/next
    context is two window passes over the dense grid, which is
    |event types| x |hours| -- bounded by the calendar, not event volume."""
    e = load(spark, sf_dir, "events")
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    spine = (
        e.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type", F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("hour")
        )
    )
    hourly = e.groupBy("event_type", F.date_trunc("hour", F.col("ts")).alias("hour")).agg(
        F.round(F.avg("value") * 1000000).cast("bigint").alias("v6")
    )
    g = spine.join(hourly, ["event_type", "hour"], "left")
    wp = W.partitionBy("event_type").orderBy("hour").rowsBetween(W.unboundedPreceding, 0)
    wn = W.partitionBy("event_type").orderBy("hour").rowsBetween(0, W.unboundedFollowing)
    obs_hour = F.when(F.col("v6").isNotNull(), F.col("hour"))
    ctx = g.select(
        "event_type",
        "hour",
        "v6",
        F.last("v6", ignorenulls=True).over(wp).alias("pv6"),
        F.last(obs_hour, ignorenulls=True).over(wp).alias("pd"),
        F.first("v6", ignorenulls=True).over(wn).alias("nv6"),
        F.first(obs_hour, ignorenulls=True).over(wn).alias("nd"),
    )
    terms = ctx.select(
        "event_type",
        "hour",
        "v6",
        "pv6",
        "nv6",
        F.expr("(unix_timestamp(hour) - unix_timestamp(pd)) div 3600").alias("a"),
        F.expr("(unix_timestamp(nd) - unix_timestamp(pd)) div 3600").alias("b"),
    )
    e4 = F.expr(
        "CASE WHEN v6 IS NOT NULL THEN (v6 + 50) div 100 "
        "WHEN pv6 IS NULL THEN (nv6 + 50) div 100 "
        "WHEN nv6 IS NULL THEN (pv6 + 50) div 100 "
        "ELSE (pv6 * (b - a) + nv6 * a + (b * 100) div 2) div (b * 100) END"
    )
    return terms.select(
        "event_type",
        "hour",
        (e4 / 10000.0).alias("value_interp"),
        F.col("v6").isNotNull().alias("observed"),
    )


@query(
    "q116_temporal_split",
    oracle="""
SELECT CASE WHEN ts < TIMESTAMP '2024-01-22 00:00:00' THEN 'train'
            WHEN ts < TIMESTAMP '2024-01-27 00:00:00' THEN 'val'
            ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT)                 AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT)  AS n_users,
       CAST(min(event_id) AS BIGINT)            AS first_event,
       CAST(max(event_id) AS BIGINT)            AS last_event
FROM events
GROUP BY 1
""",
)
def q116_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPORAL train/val/test split: boundaries are timestamps, not hashes —
    the split that prevents future leakage for time-dependent models (q55's
    deterministic hash split is the iid counterpart). The per-split stats
    are the audit a pipeline stores next to the cut."""
    e = load(spark, sf_dir, "events")
    split = (
        F.when(F.col("ts") < F.lit("2024-01-22 00:00:00").cast("timestamp"), "train")
        .when(F.col("ts") < F.lit("2024-01-27 00:00:00").cast("timestamp"), "val")
        .otherwise("test")
    )
    return e.groupBy(split.alias("split")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.min("event_id").cast("bigint").alias("first_event"),
        F.max("event_id").cast("bigint").alias("last_event"),
    )


SEQ_CAPACITY = 512  # tokens per packed training sequence


@query(
    "q122_sequence_packing",
    oracle=f"""
WITH d AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tok FROM documents
),
c AS (
  SELECT doc_id, n_tok,
         coalesce(sum(n_tok) OVER (ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0) AS cum_before
  FROM d
)
SELECT CAST(cum_before // {SEQ_CAPACITY} AS BIGINT) AS seq_id,
       CAST(count(*) AS BIGINT)      AS n_docs,
       CAST(sum(n_tok) AS BIGINT)    AS total_tokens,
       min(doc_id)                   AS first_doc,
       max(doc_id)                   AS last_doc
FROM c
GROUP BY 1
""",
)
def q122_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENCE PACKING (concat-and-chunk): documents are concatenated in
    doc_id order and cut into fixed-capacity token windows — the standard
    way pretraining data becomes fixed-length examples (each doc's sequence
    = its cumulative token offset div capacity). Emits per-sequence packing
    stats (doc count, token fill, doc span) — the audit table behind
    fill-ratio tuning.

    Scale: the only global step is the prefix sum of token counts, computed
    with the two-pass partition-offset scan (operators/ranking.py
    global_running_sum) — NO single-partition window; everything after is
    a keyed hash aggregation on seq_id. The oracle is the same cumsum in
    windowed SQL."""
    from .ranking import global_running_sum

    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tok")
    )
    c = global_running_sum(d, ["doc_id"], "n_tok", sum_name="cum")
    return (
        c.withColumn("seq_id", F.expr(f"(cum - n_tok) div {SEQ_CAPACITY}").cast("bigint"))
        .groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


N_BINS = 16


@query(
    "q124_equidepth_binning",
    oracle=f"""
WITH r AS (
  SELECT o_totalprice,
         row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rk,
         count(*) OVER () AS n
  FROM orders
)
SELECT CAST((rk - 1) * {N_BINS} // n AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT)   AS n_orders,
       round(min(o_totalprice), 2) AS lo,
       round(max(o_totalprice), 2) AS hi
FROM r GROUP BY 1
""",
)
def q124_equidepth_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT equi-depth feature binning (quantile bucketing for model
    features): bin = (rank-1)·k div n over the global price order — every
    bin gets ⌈n/k⌉ or ⌊n/k⌋ rows exactly, unlike approxQuantile buckets.
    Emits the per-bin audit (count + value bounds) a feature store keeps.

    Scale: the global rank is the two-pass partition-offset ranking
    (operators/ranking.py — no single-partition sort); n is a 1-row
    broadcast."""
    from .ranking import global_row_number

    o = load(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    ranked = global_row_number(o, ["o_totalprice", "o_orderkey"], rank_name="rk")
    n1 = ranked.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return (
        ranked.crossJoin(F.broadcast(n1))
        .withColumn("bin", F.expr(f"(rk - 1) * {N_BINS} div n").cast("bigint"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


@query(
    "q126_mixture_resample",
    oracle="""
WITH w AS (
  SELECT doc_id, source,
         (CAST(substr(source, 4) AS INT) % 4) + 1 AS wt,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000 AS bucket
  FROM documents
),
agg AS (SELECT source, any_value(wt) AS wt, count(*) AS n_s FROM w GROUP BY source),
tot AS (SELECT CAST(sum(n_s) AS BIGINT) AS n_total, CAST(sum(wt) AS BIGINT) AS w_total FROM agg),
sel AS (
  SELECT w.source, a.n_s,
         count(*) FILTER (
           WHERE w.bucket * t.w_total * a.n_s < (t.n_total // 2) * a.wt * 10000
         ) AS n_selected
  FROM w JOIN agg a ON w.source = a.source, tot t
  GROUP BY w.source, a.n_s
)
SELECT source,
       CAST(n_s AS BIGINT)        AS n_docs,
       CAST(n_selected AS BIGINT) AS n_selected,
       CAST(n_selected * 10000 // n_s AS BIGINT) AS achieved_x10k
FROM sel
""",
)
def q126_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic WEIGHTED MIXTURE resampling: each source gets a target
    share of the output corpus proportional to its weight (here derived
    from the source id; in production a config), and documents are
    accepted by md5-bucket against the per-source rate — the
    domain-reweighting step (DoReMi-style fixed weights) that turns raw
    crawl proportions into a training mixture. Acceptance is an exact
    integer cross-multiplication (bucket·W·n_s < N_target·w_s·10⁴): no
    floats, no RNG state, stable under re-runs and across engines — and
    rates > 1 saturate naturally (a source smaller than its quota is taken
    whole).

    Scale: one hash-agg for per-source counts (broadcast back — sources
    are few), one stateless filter pass; resampling never shuffles the
    corpus itself."""
    d = load(spark, sf_dir, "documents").select("doc_id", "source")
    w = d.select(
        "doc_id",
        "source",
        (F.expr("CAST(substr(source, 4) AS INT) % 4") + 1).alias("wt"),
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("bigint")
            % 10000
        ).alias("bucket"),
    )
    agg = w.groupBy("source").agg(
        F.first("wt").alias("wt"), F.count(F.lit(1)).alias("n_s")
    )
    tot = agg.agg(
        F.sum("n_s").cast("bigint").alias("n_total"),
        F.sum("wt").cast("bigint").alias("w_total"),
    )
    accept = F.col("bucket") * F.col("w_total") * F.col("n_s") < (
        F.expr("n_total div 2") * F.col("wt") * 10000
    )
    return (
        w.drop("wt")  # per-source wt re-attaches from the broadcast agg
        .join(F.broadcast(agg), "source")
        .crossJoin(F.broadcast(tot))
        .groupBy("source", "n_s")
        .agg(F.sum(F.when(accept, 1).otherwise(0)).cast("bigint").alias("n_selected"))
        .select(
            "source",
            F.col("n_s").cast("bigint").alias("n_docs"),
            "n_selected",
            F.expr("n_selected * 10000 div n_s").cast("bigint").alias("achieved_x10k"),
        )
    )


@query(
    "q168_training_pipeline_capstone",
    oracle=f"""
WITH base AS (
  SELECT doc_id, text FROM documents
),
keep1 AS (  -- exact dedup, keep-first (lowest doc_id per content digest)
  SELECT min(doc_id) AS doc_id FROM base GROUP BY md5(text)
),
d1 AS (
  SELECT b.doc_id, b.text FROM base b JOIN keep1 k USING (doc_id)
),
g AS (  -- word 8-grams (only docs long enough to have any)
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, len(string_split(text,' ')) - 7),
           i -> array_to_string(string_split(text,' ')[i:i+7], ' '))) AS grams
  FROM d1 WHERE len(string_split(text, ' ')) >= 8
),
ev AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 17 = 0),
contaminated AS (
  SELECT DISTINCT t.doc_id
  FROM (SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 17 != 0) t
  JOIN ev USING (gram)
),
d2 AS (  -- drop the eval split itself and everything contaminated by it
  SELECT doc_id, text FROM d1
  WHERE doc_id % 17 != 0
    AND doc_id NOT IN (SELECT doc_id FROM contaminated)
),
q AS (  -- Gopher/C4-style quality rule (the q21 contract)
  SELECT doc_id, n_tokens FROM (
    SELECT doc_id,
           len(toks) AS n_tokens,
           CAST(len(list_filter(toks,
                 t -> t IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS DOUBLE)
             / len(toks) AS stopword_ratio,
           CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS distinct_ratio
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM d2)
  )
  WHERE n_tokens >= 10 AND stopword_ratio < 0.5 AND distinct_ratio > 0.2
),
funnel AS (
  SELECT (SELECT count(*) FROM base)  AS n_input,
         (SELECT count(*) FROM d1)    AS n_after_dedup,
         (SELECT count(*) FROM d2)    AS n_after_decon,
         (SELECT count(*) FROM q)     AS n_after_quality
),
c AS (
  SELECT doc_id, n_tokens,
         coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING), 0) AS cum_before
  FROM q
)
SELECT CAST(cum_before // 512 AS BIGINT) AS seq_id,
       CAST(count(*) AS BIGINT)      AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       min(doc_id)                   AS first_doc,
       max(doc_id)                   AS last_doc,
       CAST(any_value(n_input) AS BIGINT)         AS n_input,
       CAST(any_value(n_after_dedup) AS BIGINT)   AS n_after_dedup,
       CAST(any_value(n_after_decon) AS BIGINT)   AS n_after_decon,
       CAST(any_value(n_after_quality) AS BIGINT) AS n_after_quality
FROM c, funnel
GROUP BY 1
""",
)
def q168_training_pipeline_capstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE preprocessing pipeline as one composed query — the reason
    this engine exists: exact dedup (keep-first per content digest) →
    benchmark decontamination (drop the doc_id%17 eval split and any train
    doc sharing a word 8-gram with it, q151's kernel) → Gopher/C4 quality
    gate (q21's rule) → fixed-capacity sequence packing (q122's
    distributed prefix sum). Emits the packed-sequence audit rows plus the
    funnel counts a curation run reports at every stage.

    Scale posture is inherited from the component operators: dedup is one
    keyed shuffle on an 8-byte-ish digest; the eval-gram set broadcasts
    (train side never shuffles for decontamination); quality is
    array-local; packing's only global step is the two-pass
    partition-offset prefix sum. The funnel is a 1-row broadcast."""
    from .ranking import global_running_sum

    base = load(spark, sf_dir, "documents").select("doc_id", "text")
    keep1 = base.groupBy(F.md5("text").alias("__dg")).agg(
        F.min("doc_id").alias("doc_id")
    )
    d1 = base.join(keep1.select("doc_id"), "doc_id")

    toks = F.split(F.col("text"), " ")
    g = (
        d1.select("doc_id", toks.alias("toks"))
        .where(F.size("toks") >= 8)
        .select(
            "doc_id",
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, greatest(size(toks) - 7, 0), 1), "
                    "i -> concat_ws(' ', slice(toks, i, 8)))"
                )
            ).alias("grams"),
        )
    )
    ev = (
        g.where(F.col("doc_id") % 17 == 0)
        .select(F.explode("grams").alias("gram"))
        .distinct()
    )
    contaminated = (
        g.where(F.col("doc_id") % 17 != 0)
        .select("doc_id", F.explode("grams").alias("gram"))
        .join(F.broadcast(ev), "gram", "left_semi")
        .select("doc_id")
        .distinct()
    )
    d2 = d1.where(F.col("doc_id") % 17 != 0).join(
        contaminated, "doc_id", "left_anti"
    )

    n_tokens = F.size("toks")
    stopword_ratio = (
        F.size(
            F.expr("filter(toks, t -> t IN ('the', 'a', 'of', 'and', 'to', 'in'))")
        ).cast("double")
        / n_tokens
    )
    distinct_ratio = F.size(F.array_distinct("toks")).cast("double") / n_tokens
    q = (
        d2.select("doc_id", toks.alias("toks"))
        .where(
            (n_tokens >= 10) & (stopword_ratio < 0.5) & (distinct_ratio > 0.2)
        )
        .select("doc_id", n_tokens.cast("bigint").alias("n_tok"))
    )

    funnel = (
        base.agg(F.count(F.lit(1)).cast("bigint").alias("n_input"))
        .crossJoin(d1.agg(F.count(F.lit(1)).cast("bigint").alias("n_after_dedup")))
        .crossJoin(d2.agg(F.count(F.lit(1)).cast("bigint").alias("n_after_decon")))
        .crossJoin(q.agg(F.count(F.lit(1)).cast("bigint").alias("n_after_quality")))
    )

    c = global_running_sum(q, ["doc_id"], "n_tok", sum_name="cum")
    return (
        c.withColumn("seq_id", F.expr("(cum - n_tok) div 512").cast("bigint"))
        .groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .crossJoin(F.broadcast(funnel))  # 1-row funnel audit broadcast
    )


# --------------------------------------------------- rendezvous sharding

N_SHARDS = 8


def _hrw_hash(doc_col, shard_col):
    """Per-(doc, shard) 60-bit rendezvous weight both engines compute
    identically: md5 over 'doc#shard' (the cross-engine md5 idiom)."""
    return F.conv(
        F.substring(
            F.md5(F.concat_ws("#", doc_col.cast("string"), shard_col.cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")


def rendezvous_assign(df: DataFrame, key: str, n_shards: int) -> DataFrame:
    """Highest-random-weight (rendezvous) shard assignment: each key goes
    to the shard whose (key, shard) hash is largest — fully deterministic,
    coordination-free, and MINIMALLY DISRUPTIVE under resizing (growing to
    n+1 shards moves only the keys whose new shard wins, ≈ 1/(n+1) of
    them; consistent hashing's property without the ring). One explode +
    one argmax aggregation — no shuffle beyond the keyed groupBy."""
    e = df.select(
        key, F.explode(F.sequence(F.lit(0), F.lit(n_shards - 1))).alias("s")
    )
    scored = e.select(key, "s", _hrw_hash(F.col(key), F.col("s")).alias("h"))
    return scored.groupBy(key).agg(
        F.max(F.struct("h", "s")).getField("s").alias("shard")
    )


_Q190_ORACLE = f"""
WITH shards AS (SELECT unnest(range({N_SHARDS + 1})) AS s),
scored AS (
  SELECT d.doc_id, s.s,
         ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '#' ||
                             CAST(s.s AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM documents d, shards s
),
a8 AS (
  SELECT doc_id, arg_max(s, h) AS shard FROM scored WHERE s < {N_SHARDS}
  GROUP BY doc_id
),
a9 AS (
  SELECT doc_id, arg_max(s, h) AS shard FROM scored GROUP BY doc_id
)
SELECT CAST(a9.shard AS BIGINT) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs_9,
       CAST(sum(CASE WHEN a8.shard = a9.shard THEN 1 ELSE 0 END) AS BIGINT)
         AS n_stayed,
       CAST(sum(CASE WHEN a8.shard <> a9.shard THEN 1 ELSE 0 END) AS BIGINT)
         AS n_moved_in
FROM a9 JOIN a8 USING (doc_id)
GROUP BY a9.shard
"""


@query("q190_rendezvous_sharding", oracle=_Q190_ORACLE)
def q190_rendezvous_sharding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RENDEZVOUS (highest-random-weight) SHARDING with a resize diff
    (r8 — Thaler & Ravishankar 1996, the public algorithm behind
    coordination-free data placement): every document is assigned to the
    shard maximizing an integer (doc, shard) hash, for 8 shards and again
    for 9; per new shard the query reports how many documents stayed vs
    moved in. HRW's defining property — growing the fleet moves ONLY the
    keys the new shard wins (≈ 1/9 here), nothing reshuffles between old
    shards — falls out of the per-row argmax and is pinned by the oracle:
    under 9 shards a mover's new shard can ONLY be shard 8, so any
    n_moved_in > 0 on shards 0-7 hash-mismatches. All arithmetic is
    integer (the cross-engine md5 idiom), so DuckDB recomputes the
    assignment exactly.

    Scale: one explode(×n_shards) + one keyed argmax per key — map-side
    combinable, no driver state, no ring metadata; resizing a 1000-node
    ingest fleet re-routes 1/(n+1) of keys with zero coordination."""
    d = load(spark, sf_dir, "documents")
    a8 = rendezvous_assign(d, "doc_id", N_SHARDS).withColumnRenamed(
        "shard", "shard8"
    )
    a9 = rendezvous_assign(d, "doc_id", N_SHARDS + 1)
    return (
        a9.join(a8, "doc_id")
        .groupBy(F.col("shard").cast("long").alias("shard"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs_9"),
            F.sum(F.when(F.col("shard8") == F.col("shard"), 1).otherwise(0))
            .cast("long")
            .alias("n_stayed"),
            F.sum(F.when(F.col("shard8") != F.col("shard"), 1).otherwise(0))
            .cast("long")
            .alias("n_moved_in"),
        )
    )
