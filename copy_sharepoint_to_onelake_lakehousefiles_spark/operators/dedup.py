"""Near-duplicate detection (north-star dedup tier): MinHash+LSH, SimHash,
and inverted-index n-gram Jaccard.

Design for 100 TB:
- Never O(n²). Candidates come from an equi-join on a *bucket key* (LSH band
  or shared shingle), so the shuffle is keyed and skew is bounded by bucket
  size; exact Jaccard is computed only on candidates.
- Hashing uses md5 (uniform, engine-independent) so the MinHash / banding
  queries are DuckDB-oracle-checkable. The signature is ONE-PERMUTATION
  HASHING with rotation densification (Li/Owen/Zhang 2012, Shrivastava 2017):
  one md5 per distinct shingle yields a 32-bit word; the n min-hashes are the
  bin-wise minima (bin = word mod n) computed in a single array-local fold,
  with empty bins borrowing the next non-empty bin's value. n min-hashes for
  the price of ONE hash pass — ~6× cheaper than an n-seed family, same
  banding behavior (verified ≥0.9 recall on true j≥0.7 pairs in
  tests/test_dedup.py).
- Shingles stay RAW word-5-gram strings at rest (md5 only where a uniform
  word is required); JOIN KEYS are their xxhash64 bigints — 8 bytes through
  every postings/band shuffle instead of ~30-byte strings (r6; a 2⁻⁶⁴
  collision only adds a candidate the exact verify rejects).
- The corpus vocabulary is tiny (31 words), so token-SET similarity
  saturates; all shingling is on word 5-gram *sequences*.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..registry import query, session_memo, track_persist
from ..tables import load

N_MINHASH = 12  # signature length
N_BANDS = 6     # bands of 2 rows each → catches jaccard ≳ 0.5
ROWS_PER_BAND = N_MINHASH // N_BANDS
SHINGLE_WORDS = 5
# LSH buckets wider than this are near-certain duplicate CLUSTERS (a
# pathological corpus: millions of near-identical docs sharing a band key);
# pairwise candidate generation inside one is O(k²) — the standing LSH skew
# risk at 100 TB. Above the cap a bucket emits STAR pairs (every member vs
# the bucket-min doc) instead: O(k) candidates with the same connected
# components downstream. Gate corpora never get near it (measured max bucket
# = 4 at sf0.1), so oracle parity is untouched.
HOT_BUCKET_CAP = 1024
# r7 (VERDICT r6 #6): when a cheap probe says the corpus is dominated by
# EXACT copies (approx_count_distinct(text)/count below this), q26 routes
# through exact-hash pre-dedup first: LSH runs on one representative per
# distinct text and pairs expand back through KEYED joins — no collect_list
# buffer ever sees the flood, so task memory stays bounded at any
# duplication depth (the old docstring residual at ~100M copies is gone).
# Output is IDENTICAL to the direct path: exact copies share signatures, so
# (a, b) collides in a band iff (rep_a, rep_b) does, and jaccard(a, b) =
# jaccard(rep_a, rep_b).
FLOOD_PREDEDUP_RATIO = 0.5
# Corpora below this many rows skip the probe entirely: the direct route's
# star cap is already memory-safe there (collect_list buffer = 8 B × bucket
# width ≤ 40 MB even if EVERY row floods one bucket), and the probe job
# would be pure overhead on the common path. Row count comes from parquet
# FOOTERS (driver-side metadata read, no Spark job). Tests lower this to
# force the probe.
PROBE_MIN_ROWS = 5_000_000


def _parquet_num_rows(path: str) -> int:
    """Total row count from parquet footer metadata only (file or
    directory of part files) — the zero-cost driver-side probe gate."""
    import os

    import pyarrow.parquet as pq

    if os.path.isdir(path):
        return sum(
            pq.ParquetFile(os.path.join(dp, n)).metadata.num_rows
            for dp, _dn, names in os.walk(path)
            for n in names
            if n.endswith(".parquet")
        )
    return pq.ParquetFile(path).metadata.num_rows


def _shingled(d: DataFrame) -> DataFrame:
    """documents → (doc_id, shingles: array<string> of distinct RAW word-5-grams).

    Raw strings, not digests: set identity / joins / Jaccard only need
    equality, and skipping a per-position md5 keeps shingling pure string
    slicing (hashing happens once per *distinct* shingle, in the signature)."""
    d = d.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
    return d.where(F.size("toks") >= SHINGLE_WORDS).select(
        "doc_id",
        # explicit step 1: sequence(1, 0) auto-DESCENDS to [1, 0] in Spark,
        # and Catalyst may evaluate this projection before the size filter
        # (project/filter reordering), so the expression must be total for
        # short docs — sequence(1, 0, 1) is empty (caught by the
        # hypothesis corpus property test, round 3)
        F.array_distinct(
            F.expr(
                f"transform(sequence(1, size(toks) - {SHINGLE_WORDS - 1}, 1), "
                f"i -> concat_ws(' ', slice(toks, i, {SHINGLE_WORDS})))"
            )
        ).alias("shingles"),
    )


def _oph_rotation(bm_col: str = "bm", n: int = N_MINHASH, one_based: bool = False) -> str:
    """SQL expr: n bin-minima (nullable) → densified signature array.

    Rotation densification: an empty bin i takes the value of the next
    non-empty bin (i+1, i+2, …); a doc with ≥1 shingle always has ≥1 non-empty
    bin, but a distinct per-bin sentinel guards the degenerate case. The
    coalesce chain indexes a precomputed n-element array — O(n²) cheap array
    reads, zero extra passes over the shingles."""
    off = 1 if one_based else 0
    parts = []
    for i in range(n):
        chain = ", ".join(f"{bm_col}[{(i + k) % n + off}]" for k in range(n))
        parts.append(f"coalesce({chain}, cast({(1 << 32) + i} as bigint))")
    return f"array({', '.join(parts)})" if not one_based else f"[{', '.join(parts)}]"


def _oph_bin_minima(shingles_col: str = "shingles", n: int = N_MINHASH) -> str:
    """SQL expr: shingles → n nullable bin-minima, in ONE array-local pass:
    md5 each distinct shingle once → leading 32 bits as a word → fold the
    words into bin-wise minima (bin = word mod n). No shuffle, no per-seed
    re-hash; ~6× cheaper than an n-seed md5 family (measured 0.44s vs 2.42s
    for the signature stage at sf0.1)."""
    ws = (
        f"transform({shingles_col}, "
        "s -> cast(conv(substring(md5(s), 1, 8), 16, 10) AS BIGINT))"
    )
    return (
        f"aggregate({ws}, array_repeat(cast(null as bigint), {n}), "
        f"(acc, w) -> transform(acc, (x, i) -> "
        f"if(w % {n} = i, least(coalesce(x, w), w), x)))"
    )


def with_minhash_signature(
    df: DataFrame, shingles_col: str = "shingles", n: int = N_MINHASH, out: str = "sig"
) -> DataFrame:
    """Append column `out`: the n-element one-permutation minhash signature.
    Two selects so the fold's bin-minima materialize ONCE before the (cheap,
    array-indexing-only) rotation densification reads them n² times."""
    bm = f"__bm_{out}"
    return (
        df.withColumn(bm, F.expr(_oph_bin_minima(shingles_col, n)))
        .withColumn(out, F.expr(_oph_rotation(bm, n)))
        .drop(bm)
    )


def band_candidate_pairs(
    bands: DataFrame, cap: int = HOT_BUCKET_CAP
) -> DataFrame:
    """(doc_id, bkey) band rows → distinct candidate (doc_a, doc_b) pairs,
    with the LSH hot-bucket quadratic BOUNDED: buckets gather into one
    id-array per bkey (ONE keyed shuffle — no self-join), then pairs
    generate ARRAY-LOCALLY: buckets of width ≤ cap emit all pairs (exact
    LSH semantics); wider buckets emit STAR pairs only — every member
    against the bucket-min doc_id, O(k) pairs instead of O(k²). Members of
    an over-full bucket are near-certain duplicates, so the star keeps the
    duplicate CLUSTER connected (same components under q56's
    connected-components) while a duplicate-flood corpus (100k copies of
    one document) stays linear. Residual bound: the aggregation buffer is
    O(bucket width × 8 B) in one task. EXACT-copy floods never reach this
    buffer at all — q26's probe routes heavy duplication through
    ``_lsh_pairs_flood_route`` (exact-hash pre-dedup, keyed joins only)
    first, so the only buckets that can still grow here are NEAR-dup (not
    byte-identical) clusters, which the star cap bounds."""
    buckets = bands.groupBy("bkey").agg(
        F.collect_list("doc_id").alias("ids"),
        # the star hub, computed ONCE per bucket — referencing array_min
        # inside the lambda would re-scan the array per element (O(k²)
        # scans on a flood bucket, the exact quadratic this guards)
        F.min("doc_id").alias("hub"),
    )
    pairwise = (
        # i is 0-based; slice() is 1-based → elements strictly after ids[i]
        "flatten(transform(ids, (a, i) -> "
        "transform(slice(ids, i + 2, size(ids)), b -> "
        "struct(least(a, b) AS doc_a, greatest(a, b) AS doc_b))))"
    )
    star = (
        "transform(filter(ids, x -> x != hub), b -> "
        "struct(hub AS doc_a, b AS doc_b))"
    )
    pairs = buckets.select(
        F.explode(
            F.when(F.size("ids") <= F.lit(cap), F.expr(pairwise)).otherwise(
                F.expr(star)
            )
        ).alias("p")
    )
    return pairs.select("p.doc_a", "p.doc_b").dropDuplicates(["doc_a", "doc_b"])


_DUCK_SHINGLES = (
    "list_distinct(list_transform(generate_series(1, len(string_split(text,' ')) - 4), "
    "i -> array_to_string(string_split(text,' ')[i:i+4], ' ')))"
)


_DUCK_WS = "list_transform(shingles, s -> ('0x' || substring(md5(s), 1, 8))::BIGINT)"


def _duck_bin_minima(n: int = N_MINHASH) -> str:
    """DuckDB twin of _oph_bin_minima over a staged `ws` column (hex parse via
    ('0x'||…)::BIGINT); n list_min/list_filter passes instead of a fold —
    equivalent minima."""
    parts = ", ".join(
        f"list_min(list_filter(ws, w -> w % {n} = {i}))" for i in range(n)
    )
    return f"[{parts}]"


def _duck_bands() -> str:
    branches = []
    for b in range(N_BANDS):
        lo = b * ROWS_PER_BAND + 1
        hi = lo + ROWS_PER_BAND - 1
        branches.append(
            f"SELECT doc_id, shingles, {b} AS band_id, "
            f"array_to_string(sig[{lo}:{hi}], '|') AS band_key FROM sig"
        )
    return "\n  UNION ALL ".join(branches)


@query(
    "q26_minhash_lsh_pairs",
    oracle=f"""
WITH sh AS (
  SELECT doc_id, {_DUCK_SHINGLES} AS shingles
  FROM documents
  WHERE len(string_split(text, ' ')) >= {SHINGLE_WORDS}
),
wst AS (
  SELECT doc_id, shingles, {_DUCK_WS} AS ws FROM sh
),
bmt AS (
  SELECT doc_id, shingles, {_duck_bin_minima()} AS bm FROM wst
),
sig AS (
  SELECT doc_id, shingles, {_oph_rotation("bm", one_based=True)} AS sig FROM bmt
),
bands AS (
  {_duck_bands()}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.shingles AS sh_a, b.shingles AS sh_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       ((len(list_intersect(sh_a, sh_b)) * 20000
         + (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))))
        // ((len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))) * 2))
       / 10000.0 AS jaccard
FROM cand
WHERE len(list_intersect(sh_a, sh_b)) * 2
      >= len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))
""",
)
def q26_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding near-dup pairs, verified with exact Jaccard on
    the candidates only.

    Pipeline: shingle → 12 min-hashes → 6 bands × 2 rows → equi-join on
    (band_id, band_key) → exact Jaccard ≥ 0.5 on candidates. The band join is
    the only shuffle over the corpus; candidate verification touches only
    colliding pairs (not n²).

    r7 flood guard (VERDICT r6 #6): one cheap aggregate probes
    approx_count_distinct(text)/count; heavy exact duplication routes
    through ``_lsh_pairs_flood_route`` (pre-dedup by sha2(text), LSH on
    representatives, keyed-join expansion) — output-identical, task
    memory bounded at ANY duplication depth. Gate corpora are ~all
    distinct and stay on the direct route, so oracle parity (and the
    bench plan) is untouched."""
    import os as _os

    d = load(spark, sf_dir, "documents")
    # Persist the shingle table: it feeds the signature AND the two
    # re-attach joins (at 100 TB: write it to the lake once instead).
    sh = track_persist(_shingled(d))
    # Probe gate: parquet-footer row count (free, driver-side). Small
    # corpora go straight to the direct route — its star cap already
    # bounds them — so the common path pays ZERO probe overhead.
    if _parquet_num_rows(_os.path.join(sf_dir, "documents.parquet")) >= PROBE_MIN_ROWS:
        # 10% seeded sample of the text column only: must not force the
        # shingle cache eagerly (that serializes the pipeline into two
        # jobs) and must not pay a full second documents pass at 100 TB.
        # A sample that under-counts duplication merely keeps the
        # (always-correct) direct route.
        probe = (
            d.sample(0.1, seed=7)
            .agg(
                F.approx_count_distinct(F.xxhash64("text")).alias("nd"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()[0]  # bounded: one row — two longs
        )
        if probe["n"] and probe["nd"] / probe["n"] < FLOOD_PREDEDUP_RATIO:
            return _lsh_pairs_flood_route(d, sh)
    return _lsh_scored_pairs(sh)


def _lsh_scored_pairs(sh: DataFrame) -> DataFrame:
    """(doc_id, shingles) → LSH-banded candidates verified with the exact
    scaled-integer jaccard — the shared kernel of q26's two routes."""
    cand_ids = band_candidate_pairs(band_rows(sh))
    return verified_jaccard_pairs(cand_ids, sh)


def band_rows(sh: DataFrame) -> DataFrame:
    """(doc_id, shingles) → exploded (doc_id, bkey) band rows.

    Band rows carry ONLY (doc_id, bkey) — an 8-byte xxhash64 bigint over
    (band_id, band rows), NOT a concat_ws string (the q153 slimming: 4×
    lighter through the shuffle). Folding band_id into the hash keeps the
    six bands' key spaces disjoint without a second join column. A 2⁻⁶⁴
    cross-content collision only ADDS a candidate pair, which the exact
    Jaccard verification then filters — output-identical. The candidate
    join must never shuffle/broadcast the shingle payload (75 MB at
    sf0.1, unbounded at 100 TB); shingles re-attach by doc_id afterwards.
    Also the ROW FORMAT of the persisted incremental index (NearDupIndex)."""
    sig = with_minhash_signature(sh).select("doc_id", "sig")
    band_keys = F.array(
        *[
            F.xxhash64(
                F.lit(b),
                *[F.col("sig").getItem(b * ROWS_PER_BAND + i) for i in range(ROWS_PER_BAND)],
            )
            for b in range(N_BANDS)
        ]
    )
    return sig.select("doc_id", F.explode(band_keys).alias("bkey"))


def verified_jaccard_pairs(cand_ids: DataFrame, sh: DataFrame) -> DataFrame:
    """(doc_a, doc_b) candidates + a (doc_id, shingles) side → pairs passing
    exact Jaccard ≥ 0.5. Shingles attach by TWO keyed doc_id joins (the
    candidate join never shuffles shingle payloads)."""
    cand = (
        cand_ids.join(sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")), "doc_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("bigint")
    union = F.size("sh_a").cast("bigint") + F.size("sh_b").cast("bigint") - inter
    # scaled-integer half-up 4-decimal jaccard + exact rational threshold:
    # i/u rounds at .00005 boundaries (e.g. 3/32) where Spark and DuckDB
    # float round() disagree — the q76/q110 determinism pattern
    return (
        cand.where(inter * 2 >= union)
        .select(
            "doc_a",
            "doc_b",
            (F.floor((inter * 20000 + union) / (union * 2)) / 10000.0).alias("jaccard"),
        )
    )


def _lsh_pairs_flood_route(
    d: DataFrame, sh: DataFrame, cap: int = HOT_BUCKET_CAP
) -> DataFrame:
    """q26 under heavy EXACT duplication: pre-dedup by sha2(text), run LSH
    on one representative per distinct text, then expand back. Every stage
    is a keyed shuffle or keyed join — NO per-bucket array buffer touches
    the flood, so task memory is bounded at any duplication depth (1M-copy
    smoke in tests/test_scale_smoke.py).

    Output-identical to the direct route: exact copies share shingle sets
    and therefore signatures, so (a, b) is a band candidate iff
    (rep_a, rep_b) is, with the same jaccard. Within-group pairs are
    jaccard-1.0 by construction: groups ≤ cap emit all pairs (what direct
    banding would), larger groups emit rep-star pairs (what the direct
    route's HOT_BUCKET_CAP would)."""
    keyed = (
        d.select("doc_id", F.sha2("text", 256).alias("h"))
        .join(sh.select("doc_id"), "doc_id")  # same >=5-word population
    )
    stats = keyed.groupBy("h").agg(
        F.count(F.lit(1)).alias("cnt"), F.min("doc_id").alias("rep")
    )
    keyed = track_persist(keyed.join(stats, "h"))  # doc_id, h, cnt, rep
    small = keyed.where(F.col("cnt") <= F.lit(cap))
    within = (
        small.select("h", F.col("doc_id").alias("doc_a"))
        .join(small.select("h", F.col("doc_id").alias("doc_b")), "h")
        .where(F.col("doc_a") < F.col("doc_b"))
        .drop("h")
    )
    star = keyed.where(
        (F.col("cnt") > F.lit(cap)) & (F.col("doc_id") != F.col("rep"))
    ).select(F.col("rep").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    dup_pairs = within.unionByName(star).select(
        "doc_a", "doc_b", F.lit(1.0).alias("jaccard")
    )
    reps_sh = sh.join(stats.select(F.col("rep").alias("doc_id")), "doc_id")
    rep_scored = _lsh_scored_pairs(reps_sh)
    members = keyed.select("rep", "doc_id")
    expanded = (
        rep_scored.join(
            members.select(F.col("rep").alias("doc_a"), F.col("doc_id").alias("ma")),
            "doc_a",
        )
        .join(
            members.select(F.col("rep").alias("doc_b"), F.col("doc_id").alias("mb")),
            "doc_b",
        )
        .select(
            F.least("ma", "mb").alias("doc_a"),
            F.greatest("ma", "mb").alias("doc_b"),
            "jaccard",
        )
    )
    return dup_pairs.unionByName(expanded)


def _jaccard_pairs(d: DataFrame, threshold: float) -> DataFrame:
    """Shared inverted-index exact-Jaccard kernel: explode shingles →
    group postings by the shingle's xxhash64 — an 8-byte bigint through the
    postings shuffle instead of the ~30-byte 5-gram string (the q153/q26
    slimming; a 2⁻⁶⁴ collision could only nudge one pair's shared count,
    far below the gate's observable granularity) → per-pair shared count →
    Jaccard ≥ threshold. Returns (doc_a, doc_b, jaccard).

    r12: candidate pairs come from ONE keyed shuffle (groupBy shingle_h →
    collect_list → array-local ordered pairs), the band_candidate_pairs
    shape, instead of the previous postings SELF-JOIN — which shuffled and
    sorted the (persisted) postings table twice and paid a third exchange
    for the pair aggregation. Same co-occurrence multiset → identical
    shared counts → identical output. The per-key aggregation buffer is
    O(postings length × 16 B); the pair fan-out is O(k²) per ubiquitous
    shingle in BOTH designs (inherent to exact inverted-index Jaccard) —
    at 100 TB cap postings length with a document-frequency cut first."""
    sh = _shingled(d).select(
        "doc_id",
        F.size("shingles").alias("n_sh"),
        F.explode(
            F.expr("transform(shingles, s -> xxhash64(s))")
        ).alias("shingle_h"),
    )
    postings = sh.groupBy("shingle_h").agg(
        F.collect_list(F.struct("doc_id", "n_sh")).alias("docs")
    )
    ordered_pairs = (
        # i is 0-based; slice() is 1-based → elements strictly after docs[i];
        # doc_ids within one posting list are distinct (shingles are
        # array_distinct per doc), so least/greatest ordering is total
        "flatten(transform(docs, (a, i) -> "
        "transform(slice(docs, i + 2, size(docs)), b -> "
        "struct(if(a.doc_id < b.doc_id, a, b) AS da, "
        "if(a.doc_id < b.doc_id, b, a) AS db))))"
    )
    pair = (
        postings.select(F.explode(F.expr(ordered_pairs)).alias("p"))
        # ADVICE r12 #1: one doc can appear twice in a posting list iff two
        # of its distinct shingles collide under xxhash64 (~2⁻⁶⁴); the old
        # self-join's a.doc_id < b.doc_id excluded the degenerate (a, a)
        # pair structurally — restore that invariant with a cheap guard
        .where(F.col("p.da.doc_id") != F.col("p.db.doc_id"))
        .groupBy(
            F.col("p.da.doc_id").alias("doc_a"), F.col("p.db.doc_id").alias("doc_b")
        )
        .agg(
            F.count(F.lit(1)).alias("shared"),
            F.first(F.col("p.da.n_sh")).alias("na"),
            F.first(F.col("p.db.n_sh")).alias("nb"),
        )
    )
    union = (F.col("na") + F.col("nb") - F.col("shared")).cast("bigint")
    shared = F.col("shared").cast("bigint")
    # threshold as an exact rational (num/den) — float jaccard >= 0.3 can
    # flip on 1-ulp division differences between engines
    from fractions import Fraction

    frac = Fraction(threshold).limit_denominator(1000)
    jacc4 = F.floor((shared * 20000 + union) / (union * 2)) / 10000.0
    return pair.where(shared * frac.denominator >= union * frac.numerator).select(
        "doc_a", "doc_b", jacc4.alias("jaccard")
    )


@query(
    "q27_ngram_jaccard_pairs",
    oracle=f"""
WITH sh AS (
  SELECT doc_id, unnest({_DUCK_SHINGLES}) AS shingle, len({_DUCK_SHINGLES}) AS n_sh
  FROM documents
  WHERE len(string_split(text, ' ')) >= {SHINGLE_WORDS}
),
pair AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         count(*) AS shared, any_value(a.n_sh) AS na, any_value(b.n_sh) AS nb
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       ((shared * 20000 + (na + nb - shared)) // ((na + nb - shared) * 2))
       / 10000.0 AS jaccard
FROM pair
WHERE shared * 10 >= (na + nb - shared) * 3
""",
)
def q27_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard via inverted index: explode shingles → equi-join
    on shingle → count shared per pair → Jaccard from set sizes. No crossJoin
    anywhere; the shingle join IS the candidate generator. (At 100 TB, cap
    postings-list length for ubiquitous shingles — document-frequency cut.)"""
    d = load(spark, sf_dir, "documents")
    pairs = _jaccard_pairs(d, threshold=0.3)
    return pairs.select("doc_a", "doc_b", "jaccard")


@query(
    "q28_simhash_buckets",
    oracle=f"""
WITH sh AS (
  SELECT doc_id, {_DUCK_SHINGLES} AS shingles
  FROM documents
  WHERE len(string_split(text, ' ')) >= {SHINGLE_WORDS}
),
hx AS (
  SELECT doc_id,
         list_transform(shingles,
                        s -> ('0x' || substring(md5(s), 1, 15))::BIGINT) AS hashes,
         len(shingles) AS n
  FROM sh
),
bits AS (
  SELECT doc_id, n, i,
         len(list_filter(hashes, h -> ((h >> i) & 1) = 1)) AS ones
  FROM hx, unnest(generate_series(0, 59)) AS t(i)
),
fp AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN 2 * ones > n THEN ((1::BIGINT) << i) ELSE 0 END)
              AS BIGINT) AS simhash
  FROM bits GROUP BY doc_id
),
bands AS (
  SELECT doc_id, simhash, pos, (simhash >> (pos * 15)) & 32767 AS val
  FROM fp, unnest([0, 1, 2, 3]) AS t(pos)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sh_a, b.simhash AS sh_b
  FROM bands a
  JOIN bands b ON a.pos = b.pos AND a.val = b.val AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(sh_a, sh_b)) <= 12
""",
)
def q28_simhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash near-dup candidates. Oracle-backed as of round 2: the
    whole pipeline (md5 60-bit hashes, per-bit majority, 15-bit banding,
    Hamming filter) has an exact DuckDB twin via ('0x'||hex)::BIGINT parsing
    and integer bit ops; tests/test_dedup.py additionally verifies
    Hamming-distance properties against a Python reference implementation.

    SimHash: per shingle, md5 → 60 bits; per bit, majority vote across the
    document's shingles = fingerprint bit. Near-dups = fingerprints sharing a
    15-bit chunk at the same position (banding again — equi-join, no n²).

    The bit-majority is computed ARRAY-LOCALLY per document (hash each
    shingle to a long once, then ONE fold accumulates all 60 bit-counts and
    a second array-local pass packs majority bits into the fingerprint) — no
    explode, so nothing shuffles until the tiny (doc_id, simhash) table.
    A single compact fold, not 60 per-bit filter passes: the generated code
    stays small (the 60-branch form cost ~5s of one-time JIT per session)."""
    d = load(spark, sf_dir, "documents")
    hashed = _shingled(d).select(
        "doc_id",
        F.expr(
            "transform(shingles, s -> cast(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT))"
        ).alias("hashes"),
        F.size("shingles").alias("n"),
    )
    fp = hashed.select(
        "doc_id",
        F.expr(
            # r12: shiftright(h, i) % 2 instead of (h div 2^i) % 2 — h is
            # non-negative (60 bits of md5), so the bit extracted is
            # identical, without a 64-bit integer division per (hash, bit)
            "aggregate("
            "  transform("
            "    aggregate(hashes, array_repeat(0, 60),"
            "      (acc, h) -> transform(acc, (c, i) ->"
            "        c + cast(shiftright(h, i) % 2 as int))),"
            "    (c, i) -> if(2*c > n, shiftleft(cast(1 as bigint), i), cast(0 as bigint))),"
            "  cast(0 as bigint), (a, b) -> a + b)"
        ).alias("simhash"),
    )
    fp = track_persist(fp)  # both sides of the band self-join read this once
    # Candidate pairs: share any 15-bit chunk value at the same position.
    # ONE exploded (pos, val) band join — a single keyed shuffle — instead of
    # 4 chunk-wise self-joins + unions (same candidates, 1/4 the exchanges).
    bands = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("pos"),
                        F.shiftright("simhash", c * 15)
                        .bitwiseAND(F.lit((1 << 15) - 1))
                        .alias("val"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "simhash", F.col("b.pos").alias("pos"), F.col("b.val").alias("val"))
    a = bands.alias("a")
    b = bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.pos") == F.col("b.pos"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming")
    return (
        pairs.select("doc_a", "doc_b", hamming)
        .where(F.col("hamming") <= 12)
        .orderBy("doc_a", "doc_b")
    )


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iters: int = 20
) -> DataFrame:
    """Min-label propagation connected components over an undirected edge
    list → (node, component) where component = min node id reachable.

    Iterative DataFrame algorithm (SURVEY §7: recursion lives in a bounded
    driver loop): each round joins labels across edges and takes the min;
    stops at fixpoint. Rounds needed = graph diameter (near-dup clusters are
    shallow); each round is one shuffle keyed on node id — at 100 TB this is
    the standard large-graph CC pattern (large-star/small-star simplified).
    """
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
    )
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .persist()
    )
    for _ in range(max_iters):
        neighbor_min = (
            sym.join(labels, sym.b == labels.node)
            .groupBy(F.col("a").alias("node2"))
            .agg(F.min("component").alias("nbr_component"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.node == F.col("node2"), "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("nbr_component", F.col("component"))
                ).alias("component"),
            )
            .persist()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    return track_persist(labels)


@query(
    "q56_neardup_clusters",
    oracle=f"""
WITH RECURSIVE sh AS (
  SELECT doc_id, unnest({_DUCK_SHINGLES}) AS shingle, len({_DUCK_SHINGLES}) AS n_sh
  FROM documents
  WHERE len(string_split(text, ' ')) >= {SHINGLE_WORDS}
),
pair AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         count(*) AS shared, any_value(a.n_sh) AS na, any_value(b.n_sh) AS nb
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
edges AS (
  SELECT doc_a, doc_b FROM pair
  WHERE CAST(shared AS DOUBLE) / (na + nb - shared) >= 0.3
),
sym AS (
  SELECT doc_a AS a, doc_b AS b FROM edges
  UNION SELECT doc_b, doc_a FROM edges
),
reach AS (
  SELECT a, b FROM sym
  UNION SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
)
SELECT a AS doc_id, least(a, min(b)) AS component
FROM reach
GROUP BY a
""",
)
def q56_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: exact-Jaccard pairs (q27's inverted index)
    fed into iterative connected components — the step that turns pairwise
    near-dup hits into dedup groups (keep one survivor per component). The
    oracle computes the same components with a recursive-CTE transitive
    closure."""
    d = load(spark, sf_dir, "documents")
    edges = _jaccard_pairs(d, threshold=0.3).select("doc_a", "doc_b")
    return connected_components(edges, "doc_a", "doc_b").select(
        F.col("node").alias("doc_id"), "component"
    )


@query(
    "q91_editdist_neardup_pairs",
    oracle=f"""
WITH sh AS (
  SELECT doc_id, unnest({_DUCK_SHINGLES}) AS shingle
  FROM documents
  WHERE len(string_split(text, ' ')) >= {SHINGLE_WORDS}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
txt AS (SELECT doc_id, text FROM documents)
SELECT doc_a, doc_b, CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS edit_dist
FROM cand JOIN txt ta ON ta.doc_id = doc_a JOIN txt tb ON tb.doc_id = doc_b
WHERE levenshtein(ta.text, tb.text) <= 20
""",
)
def q91_editdist_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy dedup: shingle-blocked candidates verified with
    levenshtein ≤ 20 on the full text — the classic blocking + expensive-verify
    shape for record linkage (generalizes the reference's exact-path identity
    checks to fuzzy identity).

    Scale: levenshtein is O(len²) per pair, so it runs ONLY on blocked
    candidates (shared word-5-gram), never n²; texts re-attach by doc_id after
    the id-only candidate join, so the candidate shuffle carries no payload."""
    d = load(spark, sf_dir, "documents")
    sh = _shingled(d).select("doc_id", F.explode("shingles").alias("shingle"))
    # 8-byte xxhash64 postings keys (the q153/q26 slimming): the blocking
    # join only needs equality, and a false collision just adds a candidate
    # that the levenshtein verify then rejects
    sh = sh.select("doc_id", F.xxhash64("shingle").alias("shingle_h"))
    a, b = sh.alias("a"), sh.alias("b")
    cand = (
        a.join(b, (F.col("a.shingle_h") == F.col("b.shingle_h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    txt = d.select("doc_id", "text")
    dist = F.levenshtein("ta", "tb").cast("bigint")
    return (
        cand.join(txt.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("ta")), "doc_a")
        .join(txt.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("tb")), "doc_b")
        .select("doc_a", "doc_b", dist.alias("edit_dist"))
        .where(F.col("edit_dist") <= 20)
    )


@query(
    "q66_ml_minhash_lsh",
    oracle=f"""
WITH sh AS (
  SELECT doc_id, unnest({_DUCK_SHINGLES}) AS shingle, len({_DUCK_SHINGLES}) AS n_sh
  FROM documents
  WHERE len(string_split(text, ' ')) >= {SHINGLE_WORDS}
),
pair AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         count(*) AS shared, any_value(a.n_sh) AS na, any_value(b.n_sh) AS nb
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       ((shared * 20000 + (na + nb - shared)) // ((na + nb - shared) * 2))
       / 10000.0 AS jaccard,
       1 AS ml_recall_ge_90, 1 AS ml_extra_le_10pct
FROM pair
WHERE shared * 2 >= (na + nb - shared)
""",
)
def q66_ml_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pyspark.ml MinHashLSH (HashingTF sparse shingle vectors →
    approxSimilarityJoin) agreement-checked against the exact inverted-index
    Jaccard truth. Promoted from rows-only to the hash tier via the
    derived-flag pattern (_recall_flags, VERDICT r4 #2): the OUTPUT rows are
    the exact Jaccard-≥0.5 pairs (fully SQL-recomputable, same kernel as
    q27), and two integer flags assert the ml pipeline's agreement —
    recall ≥ 90% of the exact pairs and ≤ 10% spurious extras. ml hashes are
    seed-dependent engine internals, but the AGREEMENT is deterministic at
    a fixture (measured 100%/0 at both gate SFs), so margin only breaks on
    a real regression. The oracle recomputes the exact pairs and emits
    literal 1 flags.

    Scale: approxSimilarityJoin is the same band-join idea under the hood;
    HashingTF keeps the feature space fixed-width (2^18) so vector size is
    independent of corpus vocabulary; the agreement join touches pair rows
    only."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    d = load(spark, sf_dir, "documents")
    sh = _shingled(d)  # (doc_id, shingles: array<string>)
    tf = HashingTF(inputCol="shingles", outputCol="features", numFeatures=1 << 18, binary=True)
    feats = tf.transform(sh)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=6, seed=42)
    model = lsh.fit(feats)
    ml = (
        model.approxSimilarityJoin(feats, feats, threshold=0.5, distCol="jaccard_dist")
        .where(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
        )
    )
    exact = _jaccard_pairs(d, threshold=0.5).select("doc_a", "doc_b", "jaccard")
    # ONE full-outer join computes hits, exact count, and spurious extras in
    # a single pass, so approxSimilarityJoin materializes exactly once (the
    # eager .count() variant ran the LSH join twice — ADVICE r5 #3)
    both = exact.select("doc_a", "doc_b").withColumn("__e", F.lit(1)).join(
        ml.withColumn("__m", F.lit(1)), ["doc_a", "doc_b"], "full_outer"
    )
    flags = both.agg(
        F.sum(F.when(F.col("__e").isNotNull() & F.col("__m").isNotNull(), 1).otherwise(0)).alias("__h"),
        F.sum(F.when(F.col("__e").isNotNull(), 1).otherwise(0)).alias("__n"),
        F.sum(F.when(F.col("__e").isNull(), 1).otherwise(0)).alias("__x"),
    ).select(
        (F.col("__h") * 100 >= F.col("__n") * 90).cast("int").alias("ml_recall_ge_90"),
        (F.col("__x") * 100 <= F.col("__n") * 10).cast("int").alias("ml_extra_le_10pct"),
    )
    # 1-row aggregate broadcast (allowlisted crossJoin shape, cf _recall_flags)
    return exact.crossJoin(F.broadcast(flags))


@query(
    "q123_containment_pairs",
    oracle=f"""
WITH sh AS (
  SELECT doc_id, unnest({_DUCK_SHINGLES}) AS shingle, len({_DUCK_SHINGLES}) AS n_sh
  FROM documents
  WHERE len(string_split(text, ' ')) >= {SHINGLE_WORDS}
),
pair AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         count(*) AS shared, any_value(a.n_sh) AS na, any_value(b.n_sh) AS nb
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       CAST((shared * 20000 + na) // (na * 2) AS BIGINT) AS cont_a_in_b_x10k,
       CAST((shared * 20000 + nb) // (nb * 2) AS BIGINT) AS cont_b_in_a_x10k
FROM pair
WHERE shared * 10 >= least(na, nb) * 6
""",
)
def q123_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTAINMENT near-dup pairs: |A∩B| / |A| per direction — the
    asymmetric companion to Jaccard (q27) that catches PARTIAL copies
    (a quote, a template wrapper, a doc embedded in a larger one), which
    symmetric Jaccard misses when the containing document is much larger.
    Pairs survive when either direction's containment ≥ 0.6, tested as an
    exact rational (shared·10 ≥ min(n)·6); scores are BIGINT x10k
    scaled integers (the q76 hash-proof contract).

    Scale: identical shape to q27 — the shingle equi-join IS the candidate
    generator (inverted index), one hash aggregation per pair; nothing
    quadratic in the corpus."""
    d = load(spark, sf_dir, "documents")
    sh = _shingled(d).select(
        "doc_id", F.size("shingles").alias("n_sh"), F.explode("shingles").alias("shingle")
    )
    # xxhash64 bigint postings keys through the shuffle (see _jaccard_pairs)
    sh = track_persist(
        sh.select("doc_id", "n_sh", F.xxhash64("shingle").alias("shingle_h"))
    )
    a, b = sh.alias("a"), sh.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.shingle_h") == F.col("b.shingle_h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("shared"),
            F.first("a.n_sh").cast("bigint").alias("na"),
            F.first("b.n_sh").cast("bigint").alias("nb"),
        )
    )
    return pair.where(
        F.col("shared") * 10 >= F.least("na", "nb") * 6
    ).select(
        "doc_a",
        "doc_b",
        F.expr("(shared * 20000 + na) div (na * 2)").cast("bigint").alias("cont_a_in_b_x10k"),
        F.expr("(shared * 20000 + nb) div (nb * 2)").cast("bigint").alias("cont_b_in_a_x10k"),
    )


# --------------------------------------------------------------------------
# Cross-run incremental near-dup (VERDICT r9 ask #4): a PERSISTED LSH index.


class NearDupIndex:
    """Cross-run incremental near-dup dedup over a PERSISTED LSH index: the
    corpus's band rows (doc_id, bkey — q26's exact banding) and shingle
    sets live as two Delta tables under ``root``; each new batch shuffles
    ONLY ITSELF against them.

    100 TB posture per batch: O(batch) shingling/signing (the corpus is
    never re-shingled, never re-signed — its bands were computed in the
    run that ingested it), one equi-join of the batch's bands against the
    index on the 8-byte bkey (Spark broadcasts the small batch side; the
    index streams through, no corpus shuffle), two keyed doc_id joins to
    attach verification shingles for CANDIDATES only, and one Delta APPEND
    of the batch's bands+shingles (no corpus rewrite — pinned by the gate
    query via the log's per-commit row counts).

    Pair-set identity: banding is per-document and deterministic, so
    pairs(corpus ∪ batch) = pairs(corpus) ∪ incremental_pairs(batch) —
    the gate query checks the union against a full DuckDB recompute. The
    hot-bucket star route caveat carries over from q26: buckets wider than
    HOT_BUCKET_CAP keep clusters connected rather than pair-identical."""

    def __init__(self, spark: SparkSession, root: str):
        from ..plans.deltalog import DeltaTable
        import os as _os

        self.spark = spark
        self.root = root
        self.bands = DeltaTable(spark, _os.path.join(root, "bands"))
        self.shingles = DeltaTable(spark, _os.path.join(root, "shingles"))

    @classmethod
    def build(cls, spark: SparkSession, root: str, docs: DataFrame) -> "NearDupIndex":
        """Ingest the initial corpus: shingle + sign once, persist band and
        shingle tables. ``docs`` is (doc_id, text)."""
        from ..plans.deltalog import DeltaTable
        import os as _os

        sh = _shingled(docs)
        DeltaTable.create(spark, _os.path.join(root, "bands"), band_rows(sh))
        DeltaTable.create(spark, _os.path.join(root, "shingles"), sh)
        return cls(spark, root)

    def pairs_within(self, version: int | None = None) -> DataFrame:
        """Verified near-dup pairs INSIDE the indexed corpus as of a band-
        table version (time travel: version 0 = the build-time corpus).
        Reads bands and shingles from the index — no re-shingling."""
        cand = band_candidate_pairs(self.bands.read(version))
        return verified_jaccard_pairs(cand, self.shingles.read(version))

    def dedup_incremental(self, batch: DataFrame) -> DataFrame:
        """Near-dup pairs INVOLVING ``batch`` (batch↔batch and
        batch↔corpus), then append the batch's bands+shingles to the index
        so the next run's corpus includes it. Returns the verified pairs
        (doc_a, doc_b, jaccard — q26's exact scaled-integer formula).

        The returned plan reads the index at its pre-append version, so
        callers may materialize lazily; re-submitting an already-indexed
        doc_id pairs it with its indexed twin (jaccard 1.0) rather than
        silently merging."""
        bsh = track_persist(_shingled(batch))
        bbands = band_rows(bsh)
        idx_bands = self.bands.read()  # snapshot resolved NOW (pre-append)
        idx_sh = self.shingles.read()
        internal = band_candidate_pairs(bbands)
        cross = (
            bbands.select(F.col("doc_id").alias("bid"), "bkey")
            .join(idx_bands.select(F.col("doc_id").alias("cid"), "bkey"), "bkey")
            .where(F.col("bid") != F.col("cid"))
            .select(
                F.least("bid", "cid").alias("doc_a"),
                F.greatest("bid", "cid").alias("doc_b"),
            )
            .dropDuplicates(["doc_a", "doc_b"])
        )
        cand = internal.unionByName(cross).dropDuplicates(["doc_a", "doc_b"])
        pairs = verified_jaccard_pairs(cand, bsh.unionByName(idx_sh))
        self.bands.append(bbands)
        self.shingles.append(bsh)
        return pairs

    def evict(self, predicate: str) -> dict:
        """Remove documents from the index (TTL expiry / takedown): a
        merge-on-read DELETION-VECTOR delete on BOTH index tables — no
        band or shingle file is rewritten (the DV blobs serialize
        executor-side, O(touched files) driver traffic), and every
        subsequent ``dedup_incremental`` sees only survivors because the
        index reads go through the Delta snapshot. ``predicate`` is a SQL
        string over ``doc_id`` (the one column both tables share)."""
        b = self.bands.delete_vectors(predicate)
        s = self.shingles.delete_vectors(predicate)
        return {
            "band_rows_deleted": b["deleted"],
            "docs_deleted": s["deleted"],
            "files_rewritten": 0,  # MoR: descriptors only
        }

    def compact(self, target_files: int = 8) -> dict:
        """Maintenance OPTIMIZE over both index tables: bin-packs the
        per-batch small files (and PURGES accumulated deletion vectors —
        Delta OPTIMIZE rewrites drop dead rows physically). Run it on the
        same cadence as any lakehouse table's compaction; dedup output is
        unaffected (pinned by tests)."""
        return {
            "bands": self.bands.compact(target_files=target_files),
            "shingles": self.shingles.compact(target_files=target_files),
        }


@session_memo
def _demo_neardup_index(spark: SparkSession, sf_dir: str):
    """Incremental-index demo, memoized per (session, sf_dir): corpus =
    documents with doc_id % 3 != 0 ingested at build; batch = the rest
    deduped incrementally. Returns (index, union_pairs_df, flags)."""
    import os as _os
    import tempfile
    import uuid as _uuid

    root = _os.path.join(tempfile.gettempdir(), f"ndidx_{_uuid.uuid4().hex[:8]}")
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.where(F.col("doc_id") % 3 != 0)
    batch = d.where(F.col("doc_id") % 3 == 0)
    idx = NearDupIndex.build(spark, root, corpus)
    corpus_pairs = idx.pairs_within(version=0)
    incr_pairs = idx.dedup_incremental(batch)
    from ..registry import materialize

    union_pairs = materialize(corpus_pairs.unionByName(incr_pairs))
    # O(#commits) pins from the Delta log that the incremental call
    # APPENDED the batch only and never rewrote/re-shingled the corpus:
    # exactly one post-build commit per table, pure APPEND (no removes),
    # adding exactly the batch's rows.
    n_batch_sh = _shingled(batch).count()
    flags = {}
    for name, t, per_doc in (("bands", idx.bands, N_BANDS), ("sh", idx.shingles, 1)):
        # (version, operation, num_added_files, num_removed_files,
        #  num_added_rows) — the same replay DESCRIBE HISTORY serves
        hist = t._history_rows()
        # append commits as operation "WRITE" (no mode suffix — Overwrite
        # carries one); zero removed files is the no-rewrite pin
        flags[f"{name}_one_append"] = int(
            len(hist) == 2 and (hist[1][1] or "") == "WRITE" and hist[1][3] == 0
        )
        flags[f"{name}_batch_rows_only"] = int(hist[1][4] == per_doc * n_batch_sh)
    return idx, union_pairs, flags


@query(
    "q208_incremental_neardup",
    oracle=f"""
WITH sh AS (
  SELECT doc_id, {_DUCK_SHINGLES} AS shingles
  FROM documents
  WHERE len(string_split(text, ' ')) >= {SHINGLE_WORDS}
),
wst AS (
  SELECT doc_id, shingles, {_DUCK_WS} AS ws FROM sh
),
bmt AS (
  SELECT doc_id, shingles, {_duck_bin_minima()} AS bm FROM wst
),
sig AS (
  SELECT doc_id, shingles, {_oph_rotation("bm", one_based=True)} AS sig FROM bmt
),
bands AS (
  {_duck_bands()}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.shingles AS sh_a, b.shingles AS sh_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       ((len(list_intersect(sh_a, sh_b)) * 20000
         + (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))))
        // ((len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))) * 2))
       / 10000.0 AS jaccard,
       1 AS bands_one_append, 1 AS bands_batch_rows_only,
       1 AS shingles_one_append, 1 AS shingles_batch_rows_only
FROM cand
WHERE len(list_intersect(sh_a, sh_b)) * 2
      >= len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))
""",
)
def q208_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-RUN INCREMENTAL near-dup dedup (VERDICT r9 ask #4): the LSH
    band index persists as Delta tables; a new batch dedups against the
    indexed corpus WITHOUT rescanning it — batch-only shingling, one
    bkey equi-join against the index, batch-only appends. The output is
    pairs(corpus at build) ∪ incremental_pairs(batch), which must equal a
    FULL LSH recompute over all documents — the oracle recomputes exactly
    that in DuckDB (q26's oracle), so the incremental decomposition is
    hash-checked pair for pair. The four flag columns pin, from the Delta
    log's per-commit row counts, that each index table took exactly ONE
    post-build commit, a pure APPEND (no removes) of exactly the batch's
    rows — the corpus was never re-shingled or rewritten."""
    _idx, union_pairs, flags = _demo_neardup_index(spark, sf_dir)
    return union_pairs.select(
        "doc_a",
        "doc_b",
        "jaccard",
        F.lit(flags["bands_one_append"]).alias("bands_one_append"),
        F.lit(flags["bands_batch_rows_only"]).alias("bands_batch_rows_only"),
        F.lit(flags["sh_one_append"]).alias("shingles_one_append"),
        F.lit(flags["sh_batch_rows_only"]).alias("shingles_batch_rows_only"),
    )
