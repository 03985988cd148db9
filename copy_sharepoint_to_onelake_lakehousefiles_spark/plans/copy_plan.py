"""The copy subsystem — the reference's core capability, distributed.

Reference semantics being generalized:
- idempotent grant/insert: read-before-write existence check (NB:118-144)
  → here: `plan_copy` anti-joins the manifest against the destination state,
  so re-runs copy nothing that already landed (the reference re-downloads
  everything every run — this is the fix SURVEY.md §2.1 calls out).
- sequential per-file GET+write loop (NB:283-305)
  → here: `execute_copy` runs the fetch+write INSIDE executors via
  mapInPandas, one pooled HTTP session per Python worker, parallel across
  partitions, with per-row status instead of silent `continue` — the audit
  line (NB:299) becomes a queryable result DataFrame (SURVEY §2.1 O24).
  Each file is written under a hidden temp name and renamed into place, so
  a file exists under its final name only when complete and a failed or
  killed write is simply planned again by the next run.
- destination path construction (lakehouse_dest_path, NB:254-263) and
  '//'→'/' normalization (NB:242/263/290) as column expressions.
- no check that a copied file arrived intact (the reference prints a
  line per file, NB:299) → here: `verify_copy` re-hashes exactly the files
  a pass wrote, O(written files), never a scan of the destination tree.

Both trees are listed by one source, `graph_manifest`
(sources/graph_datasource.py), which keeps every name, `_`- and
`.`-prefixed ones included.

Scale: the manifest is a DataFrame. `execute_copy` repartitions it to
`parallelism` or the session's defaultParallelism, so the copy is a stage
of its own: one Python worker per task (not a second one beside a Python
listing scan), and a task count set by the task slots, not by how the
listing happened to split (one flat folder still spreads over every
slot). Task retry supersedes the reference's skip-on-error; a 100 TB copy
is just more partitions.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.paths import join_path
from ..registry import query
from ..sources.graph_datasource import (
    GraphManifestDataSource,
    _http_fetch,
    publish_temp_name,
    with_retry,
)

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("file_id", T.StringType()),
        T.StructField("src_path", T.StringType()),
        T.StructField("dest_path", T.StringType()),
        T.StructField("bytes", T.LongType()),
        T.StructField("checksum", T.StringType()),
        T.StructField("attempts", T.IntegerType()),
        T.StructField("status", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)


def dest_path_col(dest_root: str, site_folder: str) -> F.Column:
    """lakehouse_dest_path (NB:254-263) as a pure column expression:
    join root/site/rel_path with '/', collapse duplicate slashes."""
    return join_path(F.lit(dest_root), F.lit(site_folder), F.col("rel_path"))


def plan_copy(manifest: DataFrame, existing: DataFrame | None) -> DataFrame:
    """Idempotent copy plan: manifest rows minus already-copied rows.

    `existing` is the destination-state manifest (same rel_path key); the
    left-anti join is the distributed form of the reference's
    check-then-insert (NB:123-132). Rows with no download_url are dropped
    up front (NB:285-287)."""
    todo = manifest.where(F.col("download_url").isNotNull())
    if existing is not None:
        todo = todo.join(
            existing.select("rel_path").distinct(), on="rel_path", how="left_anti"
        )
    return todo


def _read_src(src: str, auth) -> bytes:
    """http(s) downloadUrls (the reference's case, NB:293) or local paths.
    `auth` (O3, sources/auth.py) rides into the executor closure; its lazy
    per-interpreter token state means each worker fetches its own."""
    if src.startswith(("http://", "https://")):
        return _http_fetch(src, auth=auth)
    path = src[len("file:") :] if src.startswith("file:") else src
    with open(path, "rb") as f:
        return f.read()


def _publish(raw: bytes, dest_path: str) -> None:
    """Write `raw` to a unique hidden temp name in `dest_path`'s directory,
    then `os.replace` it onto `dest_path`. A failed write removes the temp,
    so no name ever holds a partial file. (An in-place write, as in the
    reference's write_bytes_to_lakehouse NB:271-281, can leave a truncated
    file under the final name, which `plan_copy`'s anti-join then counts
    as landed.)"""
    d, name = os.path.split(dest_path)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, publish_temp_name(name))
    try:
        with open(tmp, "xb") as f:
            f.write(raw)
        os.replace(tmp, dest_path)
    except BaseException:
        with contextlib.suppress(FileNotFoundError):
            os.remove(tmp)
        raise


def _copy_file(row, auth, max_attempts: int, backoff_s: float) -> tuple:
    """Copy one planned file (file_id, src_path, dest_path) and return its
    RESULT_SCHEMA row. Transient errors back off exponentially up to
    `max_attempts` (`with_retry`, the listing's policy too); a definitive
    4xx is recorded at once, as the reference skips it (NB:294-296)."""
    attempts = 0

    def fetch_and_publish() -> bytes:
        nonlocal attempts
        attempts += 1
        raw = _read_src(row.src_path, auth)
        _publish(raw, row.dest_path)
        return raw

    try:
        raw = with_retry(fetch_and_publish, max_attempts, backoff_s)
    except Exception as exc:  # noqa: BLE001 — audit row, task keeps going
        return (row.file_id, row.src_path, row.dest_path, 0, None, attempts, "error", str(exc))
    checksum = hashlib.md5(raw).hexdigest()
    return (row.file_id, row.src_path, row.dest_path, len(raw), checksum, attempts, "ok", None)


def execute_copy(
    todo: DataFrame,
    dest_root: str,
    site_folder: str = "",
    parallelism: int | None = None,
    max_attempts: int = 3,
    backoff_s: float = 0.05,
    auth=None,
) -> DataFrame:
    """Distributed fetch+write. Each executor task copies its partition's
    files — http(s) downloadUrls through the shared `_http_fetch`, local
    paths and file: URLs from disk — publishes each one atomically
    (`_publish`) and emits an audit row per file.

    Per-row retry with exponential backoff (max_attempts, base backoff_s)
    covers transient fetch errors — 5xx, transport, 429 throttling — WITHIN
    a task before Spark's own task retry kicks in — the reference has
    neither (skip-on-error, NB:294-296).

    Returns the result-manifest DataFrame (src_path, dest_path, bytes,
    checksum, attempts, status, error) — the queryable replacement for the
    reference's printed `# COPY:` lines; checksum feeds `verify_copy`."""
    planned = todo.select(
        "file_id",
        F.col("download_url").alias("src_path"),
        dest_path_col(dest_root, site_folder).alias("dest_path"),
    )
    # The copy gets its own stage: a Python listing scan (graph_manifest)
    # fused with the mapInPandas would hold two Python workers per task,
    # and the input's partitioning (one packed directory run per task)
    # would set the copy's parallelism. One exchange sizes the copy from
    # the session's task slots instead, whatever the input is.
    planned = planned.repartition(parallelism or todo.sparkSession.sparkContext.defaultParallelism)

    def copy_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [
                _copy_file(row, auth, max_attempts, backoff_s)
                for row in pdf.itertuples(index=False)
            ]
            yield pd.DataFrame(out, columns=RESULT_SCHEMA.names)

    return planned.mapInPandas(copy_partition, RESULT_SCHEMA)


def _verify_status(dest_path: str, expected: str) -> str:
    """Hash the file at `dest_path` in 1 MiB chunks against the md5 the
    copy recorded: verified, mismatch, or missing (no readable file)."""
    md5 = hashlib.md5()
    try:
        with open(dest_path, "rb") as f:
            while chunk := f.read(1 << 20):
                md5.update(chunk)
    except OSError:
        return "missing"
    return "verified" if md5.hexdigest() == expected else "mismatch"


def verify_copy(spark: SparkSession, result: DataFrame, dest_root: str) -> DataFrame:
    """Post-copy verification: re-read each file the copy wrote (its `ok`
    rows' dest_path, read as the copy wrote it) and compare its md5 with
    the recorded checksum → (dest_path, verify_status ∈
    verified|mismatch|missing).

    O(written files): the destination tree is not listed, so its other
    files cost nothing and every name is checked, `_`/`.`-prefixed ones
    too. Runs in executors over `result`'s partitions — no driver collect
    of content. `spark` and `dest_root` are not needed: the paths come
    from `result`."""

    def verify_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            status = [_verify_status(p, c) for p, c in zip(pdf["dest_path"], pdf["checksum"])]
            yield pd.DataFrame({"dest_path": pdf["dest_path"], "verify_status": status})

    return (
        result.where(F.col("status") == "ok")
        .select("dest_path", "checksum")
        .mapInPandas(verify_partition, "dest_path string, verify_status string")
    )


def copy_tree(
    spark: SparkSession,
    src_root: str,
    dest_root: str,
    parallelism: int | None = None,
) -> DataFrame:
    """End-to-end: list src_root (and dest_root, when it holds anything)
    through `graph_manifest` → anti-join against dest state → distributed
    copy → result manifest."""
    spark.dataSource.register(GraphManifestDataSource)
    manifest = spark.read.format("graph_manifest").load(src_root)
    existing = None
    if os.path.isdir(dest_root) and any(os.scandir(dest_root)):
        existing = spark.read.format("graph_manifest").load(dest_root)
    todo = plan_copy(manifest, existing)
    return execute_copy(todo, dest_root, parallelism=parallelism)


# ---------------------------------------------------------------------------
# Permission-grant planner (NB:110-144) over Graph-shaped permission docs.
# ---------------------------------------------------------------------------

PERMISSIONS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("roles", T.ArrayType(T.StringType())),
        T.StructField(
            "grantedToIdentitiesV2",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField(
                            "application",
                            T.StructType(
                                [
                                    T.StructField("id", T.StringType()),
                                    T.StructField("displayName", T.StringType()),
                                ]
                            ),
                        )
                    ]
                )
            ),
        ),
    ]
)


def granted_app_ids(permissions: DataFrame) -> DataFrame:
    """Nested array-of-struct scan (NB:123-130): explode
    grantedToIdentitiesV2[] and project application.id."""
    return (
        permissions.select(F.explode("grantedToIdentitiesV2").alias("g"))
        .select(F.col("g.application.id").alias("app_id"))
        .where(F.col("app_id").isNotNull())
        .distinct()
    )


def plan_grants(desired_apps: DataFrame, permissions: DataFrame) -> DataFrame:
    """Idempotent grant plan: desired app ids that do NOT already hold a
    grant (anti-join) — the rows the reference would POST (NB:132-144),
    with roles=['write'] attached."""
    existing = granted_app_ids(permissions)
    return (
        desired_apps.join(existing, "app_id", "left_anti")
        .select("app_id", "display_name")
        .withColumn("roles", F.array(F.lit("write")))
    )


@query("q50_copy_roundtrip")
def q50_copy_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-verifying copy round-trip (rows-only check: side-effecting I/O is
    not SQL-expressible). Builds the FIXTURES.md B1 tree under /tmp, copies
    it twice — the second run must plan ZERO work (idempotency) — and
    returns per-status counts joined with a source/dest byte reconciliation."""
    import shutil
    import tempfile
    import uuid

    base = os.path.join(tempfile.gettempdir(), f"spark_graft_copy_{uuid.uuid4().hex[:8]}")
    src = os.path.join(base, "src")
    dst = os.path.join(base, "dst")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(os.path.join(src, "sub1", "sub2"))
    os.makedirs(os.path.join(src, "empty_dir"))
    with open(os.path.join(src, "a.csv"), "w") as f:
        f.write("x,y\n1,2\n")
    with open(os.path.join(src, "sub1", "b.bin"), "wb") as f:
        f.write(b"\x00\x01" * 64)
    with open(os.path.join(src, "sub1", "sub2", "c.txt"), "w") as f:
        f.write("hello lake\n")

    first = copy_tree(spark, src, dst).cache()
    n_first = first.count()
    second = copy_tree(spark, src, dst)
    n_second = second.count()

    src_bytes = sum(
        os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(src) for f in fs
    )
    dst_bytes = sum(
        os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(dst) for f in fs
    )
    summary = first.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("bytes").alias("total_bytes"),
        F.lit(n_first).alias("first_run_rows"),
        F.lit(n_second).alias("second_run_rows"),
        F.lit(src_bytes).alias("src_bytes"),
        F.lit(dst_bytes).alias("dst_bytes"),
    )
    rows = summary.collect()  # bounded: one row per status value
    first.unpersist()
    shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(rows, summary.schema)


# wall-clock of the last q54 engine copy pass (driver-side fixture
# generation excluded) — read by bench.py so the HASHED query result can
# stay fully deterministic (VERDICT r11 #6: q54 promoted off rows-only)
LAST_COPY_WALL_SEC: float | None = None

_Q54_ORACLE = """
SELECT CAST(256 AS BIGINT) AS files_copied,
       CAST(4194304 AS BIGINT) AS bytes_copied,
       1 AS all_ok, 1 AS dest_verified
"""


@query("q54_copy_throughput", oracle=_Q54_ORACLE)
def q54_copy_throughput(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-subsystem throughput probe: 256 × 16 KB files copied with
    partition parallelism — the workload the reference performs with a
    strictly sequential driver loop (NB:284-303).

    The fixture is fully deterministic, so the result is a STATIC
    integer contract the oracle can hash (VERDICT r11 #6): 256 files,
    256 × 16384 = 4 194 304 bytes, every row status 'ok', and an
    independent re-walk of the destination tree reproducing exactly the
    copied file count and byte total. The engine pass is still
    self-timed — bench.py reads ``LAST_COPY_WALL_SEC`` for the headline
    copy-throughput number instead of a (nondeterministic) column.

    r12 (guide §2.2/§1.4): the timed engine pass is ONE Spark job — a
    single aggregate over the copy manifest computes n_rows, n_ok and
    total_bytes together (it was cache + count + filtered count + sum =
    three actions, the copy materialized into the block store first).
    Its fixed round-robin repartition(32) is gone: 32 Python tasks of 8
    tiny files each were pure per-task overhead on a small host. The copy
    now takes `execute_copy`'s default, one exchange to the session's
    defaultParallelism (README design rule 11). The listing is
    `copy_tree`'s `graph_manifest` scan, whose 8 directories of 32 files
    each cost more than one split and so list as 8 partitions; the copy
    runs defaultParallelism tasks whatever that count is. Result columns
    are unchanged."""
    global LAST_COPY_WALL_SEC
    import shutil
    import tempfile
    import time
    import uuid

    base = os.path.join(tempfile.gettempdir(), f"spark_graft_tput_{uuid.uuid4().hex[:8]}")
    src = os.path.join(base, "src")
    dst = os.path.join(base, "dst")
    for d in range(8):
        os.makedirs(os.path.join(src, f"d{d}"))
    payload = bytes(range(256)) * 64  # 16 KB
    for i in range(256):
        with open(os.path.join(src, f"d{i % 8}", f"f{i:03d}.bin"), "wb") as f:
            f.write(payload)

    t0 = time.time()
    stats = (
        copy_tree(spark, src, dst)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count(F.when(F.col("status") == "ok", 1)).alias("n_ok"),
            F.sum("bytes").alias("total_bytes"),
        )
        .collect()[0]  # bounded: 1-row agg
    )
    n_rows, n_ok, total_bytes = int(stats["n_rows"]), int(stats["n_ok"]), int(stats["total_bytes"])
    LAST_COPY_WALL_SEC = round(time.time() - t0, 3)
    dst_files = [
        os.path.join(r, f) for r, _, fs in os.walk(dst) for f in fs
    ]
    dest_verified = int(
        len(dst_files) == n_ok
        and sum(os.path.getsize(p) for p in dst_files) == total_bytes
    )
    shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(
        [(n_ok, total_bytes, int(n_ok == n_rows), dest_verified)],
        "files_copied bigint, bytes_copied bigint, all_ok int,"
        " dest_verified int",
    )
