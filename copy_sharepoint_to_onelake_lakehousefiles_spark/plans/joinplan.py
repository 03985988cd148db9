"""Statistics-driven equi-join planning — the surface that CONSUMES the
engine's table statistics instead of just writing them.

At 100 TB the difference between a broadcast hash join and a shuffled
sort-merge join is the difference between zero shuffle of the big side and
re-shuffling the whole table; Spark's own ``autoBroadcastJoinThreshold``
decides from file-size estimates ONLY, and only when the relation is small
at scan time — it cannot see through partition pruning it hasn't executed,
and it knows nothing about key NDV for output sizing. This module makes
the same class of decision from the LAKEHOUSE METADATA the engine already
maintains, without touching data:

- rows / bytes per side from the Iceberg manifest entries that survive
  partition pruning (``IcebergTable.files(partition_filter=, bounds=)`` —
  each entry carries record_count and file_size_in_bytes);
- join-key NDV from the Puffin theta-sketch statistics blobs
  (``ndv()``; after pruning, ``ndv_pruned()`` unions exactly the
  surviving partitions' sketches — table-level NDV over-counts distincts
  the pruning already discarded);
- estimated output cardinality |L| x |R| / max(ndv_L, ndv_R) — the classic
  System-R uniformity estimate (Selinger et al. 1979, public), which is
  EXACT for a foreign-key join with referential containment;
- a partition-skew advisory folded from the same manifest entries the
  partition-statistics file records: when the join key IS the identity
  partition source, a hot partition is a hot join key, and the planner
  recommends the salted-join path (operators/skew.py) instead of a plain
  shuffle.

``plan_equi_join`` returns the decision (pure metadata, unit-testable);
``execute_equi_join`` applies it — ``F.broadcast`` on the chosen build
side or a plain shuffle join — so the physical plan Spark produces is the
one the statistics justify (plan pins in tests/test_joinplan.py).

Reference scope note: the reference notebook has no joins at all (it is a
sequential copy loop, NB:283-305); this module exists for the engine's
generalized query tier. No reference parity is claimed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import materialize, query, session_memo
from ..tables import load

# Spark's own autoBroadcastJoinThreshold default: 10 MB of in-memory size.
BROADCAST_BYTES_DEFAULT = 10 * 1024 * 1024
# Parquet-compressed bytes understate in-memory row size; Spark's file
# estimates face the same gap (compression + encoding). A fixed documented
# factor keeps the decision conservative: 4x means a side must be < 2.5 MB
# on disk to broadcast under the default threshold.
PARQUET_INFLATION = 4.0
# A partition holding >= 5x the mean partition's rows marks the key hot
# (same spirit as AQE's skewedPartitionFactor default of 5).
SKEW_FACTOR = 5.0


def estimate_side(
    table,
    key: str,
    partition_filter: dict | None = None,
    bounds: dict | None = None,
) -> dict:
    """Metadata-only size/NDV estimate of one join side AFTER pruning.

    rows/bytes fold the manifest entries ``files()`` keeps under the given
    partition/bounds filters (O(metadata)); NDV resolves from the theta
    statistics blobs — the pruned union when a partition_filter applies
    and per-partition sketches exist, else the table-level blob. Raises if
    the table was never analyzed: the planner refuses to guess.

    A single-numeric-column ``bounds`` filter additionally INTERPOLATES
    rows/bytes through ``estimate_range_rows`` instead of counting the
    surviving files fully — a range keeping 1% of each file should size
    the side at 1%, not 100% (it feeds the broadcast decision). Multi-
    column or non-numeric bounds keep the full per-file counts — a
    conservative over-estimate, never a silent under-estimate.

    ``partition_filter`` keys are validated against the table's partition
    fields UP FRONT (ADVICE r10): ``files()`` deliberately tolerates
    filter columns a spec doesn't partition by (the reader row-filters
    them), but here a typo'd key would silently yield an unpruned
    estimate — the opposite of what the caller asked for."""
    if partition_filter:
        table._validate_partition_filter(partition_filter)
    entries, audit = table.files(
        partition_filter=partition_filter, bounds=bounds
    )
    rows = sum(int(e.get("record_count") or 0) for e in entries)
    nbytes = sum(int(e.get("file_size_in_bytes") or 0) for e in entries)
    if bounds and len(bounds) == 1 and rows:
        col, (lo, hi) = next(iter(bounds.items()))
        try:
            rng = estimate_range_rows(
                table,
                col,
                lo,
                hi,
                partition_filter=partition_filter,
                _entries=entries,  # manifests already fetched: no re-scan
                _files_total=audit["files_total"],
            )
            frac = min(1.0, rng["est_rows"] / rows)
            rows = rng["est_rows"]
            nbytes = int(nbytes * frac)
        except NotImplementedError:
            pass  # non-numeric range column: keep the full-file counts
    ndv_source = "table"
    stale_file_sketches = False
    nd = None
    if bounds and len(bounds) == 1:
        # per-file sketches (analyze_files) answer NDV-under-range
        # directly — the r10 gap where rows interpolated but the key's
        # distinct count stayed at the table value. ndv_upper is the
        # safe planning figure: it can only OVER-state distinctness,
        # which UNDER-states join output — paired with the row cap
        # below, never an absurd cross-product estimate. With a
        # partition_filter TOO, ``entries`` is already pruned by BOTH
        # filters, so the file-sketch union answers the combined
        # predicate (r12 — previously both-given fell back to the
        # pruned-union/table NDV, leaving range selectivity unused).
        from .iceberg import NoFileSketchesError, StaleFileSketchesError

        col, (lo, hi) = next(iter(bounds.items()))
        try:
            nb = table.ndv_bounds(
                key,
                lo,
                hi,
                bounds_column=col,
                partition_filter=partition_filter,
                _entries=entries,  # manifests already fetched: no re-scan
            )
            nd = {"ndv": nb["ndv_upper"], "exact": nb["exact"]}
            ndv_source = (
                "file_union_bounds_pruned"
                if partition_filter
                else "file_union_bounds"
            )
        except StaleFileSketchesError:
            # sketches exist but miss a surviving file: the fallback to a
            # coarser NDV must stay OBSERVABLE (ADVICE r11) — ndv_source
            # gains a '+stale_file_sketches' marker below
            nd = None
            stale_file_sketches = True
        except NoFileSketchesError:
            nd = None  # no per-file sketches: fall through to table-level
    if nd is None and partition_filter:
        from .iceberg import NoPartitionSketchesError

        try:
            nd = table.ndv_pruned(key, partition_filter)
            ndv_source = "pruned_union"
        except NoPartitionSketchesError:
            # ONLY the 'never ran analyze_partitions' condition falls back
            # to table-level NDV; a typo'd partition field or unknown
            # column stays a loud ValueError (ADVICE r10: the broad catch
            # silently fed an unpruned estimate to the planner)
            nd = table.ndv(key)
    elif nd is None:
        nd = table.ndv(key)
    if stale_file_sketches:
        ndv_source += "+stale_file_sketches"
    # pruning can only shrink distinctness; with table-level stats under a
    # filter the row count is the tighter cap
    ndv_raw = int(nd["ndv"])
    ndv = min(ndv_raw, rows) if rows else 0
    # when the row cap binds, the reported ndv is the (possibly
    # interpolation-derived) row estimate, not the sketch value — an
    # 'exact' flag on it would be a lie (ADVICE r11)
    ndv_exact = bool(nd["exact"]) and ndv == ndv_raw
    skew = _partition_skew(table, key, entries)
    return {
        "rows": rows,
        "bytes": nbytes,
        "ndv": ndv,
        "ndv_exact": ndv_exact,
        "ndv_source": ndv_source,
        "files": len(entries),
        "files_total": audit["files_total"],
        **skew,
    }


def _partition_skew(table, key: str, entries: list[dict]) -> dict:
    """Hot-key advisory when the join key is an identity partition source:
    per-partition row counts fold from the manifest entries already in
    hand (the same numbers the partition-statistics file stores), and a
    partition at >= SKEW_FACTOR x the mean flags the key as skewed — the
    signal to route through the salted join instead of a plain shuffle."""
    pf = next(
        (
            p
            for p in table.partition_fields()
            if p["transform"] == "identity" and p["source_name"] == key
        ),
        None,
    )
    if pf is None or not entries:
        return {"key_is_partition": False, "skewed": False, "skew_ratio": 0.0}
    per_part: dict = {}
    for e in entries:
        pv = (e.get("partition") or {}).get(pf["name"])
        per_part[pv] = per_part.get(pv, 0) + int(e.get("record_count") or 0)
    counts = list(per_part.values())
    mean = sum(counts) / len(counts)
    ratio = (max(counts) / mean) if mean else 0.0
    return {
        "key_is_partition": True,
        "skewed": ratio >= SKEW_FACTOR,
        "skew_ratio": round(ratio, 3),
    }


def plan_equi_join(
    left,
    right,
    left_key: str,
    right_key: str,
    *,
    left_partition_filter: dict | None = None,
    right_partition_filter: dict | None = None,
    left_bounds: dict | None = None,
    right_bounds: dict | None = None,
    broadcast_bytes: int = BROADCAST_BYTES_DEFAULT,
    inflation: float = PARQUET_INFLATION,
    how: str = "inner",
) -> dict:
    """Decide the join strategy from statistics alone (no data scan, no
    DataFrame yet): which side to broadcast-build, or sort-merge with an
    optional salting advisory, plus the estimated output cardinality.

    Estimated output rows = |L| x |R| / max(ndv_L, ndv_R): under the
    uniformity assumption each of the larger key domain's values matches
    |other| / max_ndv rows; for a PK-FK join with containment (every fact
    key present in the dimension) the formula is exact. max(..., 1)
    guards empty stats. ``left_bounds``/``right_bounds`` shrink a side's
    size estimate through range interpolation (see estimate_side) — the
    caller applies the corresponding row filter itself."""
    l_est = estimate_side(left, left_key, left_partition_filter, left_bounds)
    r_est = estimate_side(right, right_key, right_partition_filter, right_bounds)
    inner_est = int(
        l_est["rows"] * r_est["rows"] / max(l_est["ndv"], r_est["ndv"], 1)
    )
    # Outer joins preserve unmatched rows the inner formula ignores: the
    # output can never be smaller than the preserved side(s); a semi
    # emits each left row at most once, capping at |L|; an anti emits
    # the COMPLEMENT of the matched rows — |L| minus the semi estimate
    # (the inner formula alone was wrong in both directions for anti:
    # |L| under full containment where truth is 0, ~0 under selective
    # joins where truth is ~|L|).
    h = how.lower().replace(" ", "").replace("_", "")
    if h in ("left", "leftouter"):
        est_rows = max(inner_est, l_est["rows"])
    elif h in ("right", "rightouter"):
        est_rows = max(inner_est, r_est["rows"])
    elif h in ("full", "outer", "fullouter"):
        est_rows = max(inner_est, l_est["rows"], r_est["rows"])
    elif h == "leftsemi":
        est_rows = min(inner_est, l_est["rows"])
    elif h == "leftanti":
        est_rows = max(0, l_est["rows"] - min(inner_est, l_est["rows"]))
    else:
        est_rows = inner_est
    l_mem = l_est["bytes"] * inflation
    r_mem = r_est["bytes"] * inflation
    # Spark cannot hash-build on the outer-preserved side of an equi
    # outer join: a left join may only broadcast the RIGHT side, a right
    # join only the LEFT, a full outer neither — planning an illegal
    # build side would emit a hint Spark silently drops. 'cross' is NOT
    # accepted: execute_equi_join always builds an equality condition, so
    # planning a cross join here would silently execute as an equi-join
    # (ADVICE r10).
    legal = {
        "inner": ("left", "right"),
        "left": ("right",),
        "leftouter": ("right",),
        "left_outer": ("right",),
        "leftsemi": ("right",),
        "left_semi": ("right",),
        "leftanti": ("right",),
        "left_anti": ("right",),
        "right": ("left",),
        "rightouter": ("left",),
        "right_outer": ("left",),
        "full": (),
        "outer": (),
        "fullouter": (),
        "full_outer": (),
    }.get(how.lower().replace(" ", ""))
    if legal is None:
        raise ValueError(f"unknown join type {how!r}")
    build = None
    candidates = sorted(
        (("left", l_mem), ("right", r_mem)), key=lambda s: s[1]
    )
    for side, mem in candidates:
        if side in legal and mem <= broadcast_bytes:
            build = side
            break
    strategy = "broadcast" if build else "sort_merge"
    salt = strategy == "sort_merge" and (l_est["skewed"] or r_est["skewed"])
    return {
        "strategy": strategy,
        "build_side": build,
        "how": how,
        "recommend_salting": bool(salt),
        "est_rows": est_rows,
        "left": l_est,
        "right": r_est,
        "broadcast_bytes": broadcast_bytes,
        "inflation": inflation,
    }


# Spark's spark.sql.files.maxPartitionBytes default — a sane per-task
# byte target for the reduce side too.
TARGET_PARTITION_BYTES = 128 * 1024 * 1024

_RANGE_TYPES = {"int", "long", "timestamp_ns", "timestamptz_ns"}


def estimate_range_rows(
    table,
    column: str,
    lo=None,
    hi=None,
    partition_filter: dict | None = None,
    _entries: list | None = None,
    _files_total: int | None = None,
) -> dict:
    """Selectivity of a numeric RANGE predicate from manifest bounds
    alone: ``files(bounds=)`` keeps the overlapping files, and within
    each surviving file the estimate takes the clamped overlap fraction
    of its [min, max] span times its record_count — the System-R uniform
    interpolation at file granularity, O(metadata). Integer endpoints are
    inclusive (the +1 in the span). A file with no recorded bounds for
    the column counts FULLY — over-estimating, never silently under. The
    finer the layout (clustered/sorted files → narrow spans), the tighter
    the estimate: good layout literally improves planning, which is the
    argument for OPTIMIZE at 100 TB."""
    from .iceberg import _single_value_parse

    md = table.metadata()
    ice = next(
        s for s in md["schemas"] if s["schema-id"] == md["current-schema-id"]
    )
    f = next((f_ for f_ in ice["fields"] if f_["name"] == column), None)
    if f is None:
        raise ValueError(f"no column {column!r}")
    if f["type"] not in _RANGE_TYPES:
        raise NotImplementedError(
            f"range interpolation over {f['type']!r} — int/long/ns-timestamp only"
        )
    fid = str(f["id"])
    if _entries is not None:
        # caller already planned with the same filters: reuse the entries;
        # the TRUE manifest total rides along separately — len(_entries)
        # is the kept-file count, not the total (ADVICE r10)
        entries = _entries
        audit = {
            "files_total": len(_entries) if _files_total is None else _files_total
        }
    else:
        entries, audit = table.files(
            partition_filter=partition_filter, bounds={column: (lo, hi)}
        )
    est = 0.0
    unbounded = 0
    for e in entries:
        rc = int(e.get("record_count") or 0)
        raw_lo = (e.get("lower_bounds") or {}).get(fid)
        raw_hi = (e.get("upper_bounds") or {}).get(fid)
        if raw_lo is None or raw_hi is None:
            est += rc
            unbounded += 1
            continue
        fmin = _single_value_parse(f["type"], raw_lo)
        fmax = _single_value_parse(f["type"], raw_hi)
        a = fmin if lo is None else max(lo, fmin)
        b = fmax if hi is None else min(hi, fmax)
        span = fmax - fmin + 1
        est += rc * (max(0, b - a + 1) / span)
    return {
        "est_rows": int(round(est)),
        "files_kept": len(entries),
        "files_total": audit["files_total"],
        "files_without_bounds": unbounded,
    }


def plan_aggregation(
    table,
    keys,
    *,
    partition_filter: dict | None = None,
    target_partition_bytes: int = TARGET_PARTITION_BYTES,
    inflation: float = PARQUET_INFLATION,
) -> dict:
    """Size a GROUP-BY from statistics alone: estimated output groups =
    the grouping key's NDV (the composite sketch for multi-column keys —
    the product of single-column NDVs over-counts combinations that never
    co-occur), and a suggested reduce-side shuffle width.

    With map-side partial aggregation the shuffled/reduced volume follows
    the GROUPS, not the input rows, so the reduce width is sized as
    est_groups x avg in-memory row size / target bytes per task —
    `spark.sql.shuffle.partitions` left at its default 200 gives 200
    near-empty tasks for a 3-group rollup and catastrophic 200-way
    spill for a billion-group key; this number is what a session should
    set (or AQE coalesce will approximate at runtime, one shuffle later).
    Row width folds from pruned manifest byte/row totals x inflation."""
    import math

    entries, _ = table.files(partition_filter=partition_filter)
    rows = sum(int(e.get("record_count") or 0) for e in entries)
    nbytes = sum(int(e.get("file_size_in_bytes") or 0) for e in entries)
    keys = [keys] if isinstance(keys, str) else list(keys)
    key = keys[0] if len(keys) == 1 else keys
    nd = table.ndv(key)
    est_groups = min(int(nd["ndv"]), rows) if rows else 0
    avg_row_mem = (nbytes * inflation / rows) if rows else 0.0
    est_output_bytes = int(est_groups * avg_row_mem)
    suggested = max(
        1, math.ceil(est_output_bytes / max(target_partition_bytes, 1))
    )
    return {
        "keys": keys,
        "rows": rows,
        "est_groups": est_groups,
        "ndv_exact": bool(nd["exact"]),
        "avg_row_bytes": round(avg_row_mem, 1),
        "est_output_bytes": est_output_bytes,
        "suggested_shuffle_partitions": suggested,
        "target_partition_bytes": target_partition_bytes,
    }


def execute_equi_join(
    decision: dict,
    left_df: DataFrame,
    right_df: DataFrame,
    left_key: str,
    right_key: str,
    how: str = "inner",
    n_salts: int | None = None,
) -> DataFrame:
    """Apply a plan_equi_join decision: F.broadcast on the build side (a
    planner-issued hint Spark honors regardless of its own size estimate,
    which cannot see the lakehouse statistics) or a plain equi-join that
    AQE may still re-plan at runtime. The decision must have been planned
    for the SAME join type — build-side legality depends on it.

    ``n_salts`` (r12) EXECUTES the planner's salting advisory: when the
    decision is sort_merge with ``recommend_salting`` and the join type
    can route through the salted kernel (the skewed side must be the
    PRESERVED/probe side — operators/skew.salted_join replicates the
    other side per salt), the hot key's rows spread over n_salts
    reducers. The salted route joins USING-style, so the output carries
    ONE key column (the left name) plus the right key re-added under its
    own name when the names differ — column SET matches the plain join,
    the key columns are value-identical by the join condition. Decisions
    that cannot salt (broadcast strategy, no skew, wrong-side skew for
    the join type) fall through to the plain route silently — the
    advisory is best-effort, semantics never change."""
    if decision.get("how", how) != how:
        raise ValueError(
            f"decision was planned for how={decision['how']!r}, executing"
            f" how={how!r} — re-plan with the matching join type"
        )
    if (
        n_salts
        and decision["strategy"] == "sort_merge"
        and decision.get("recommend_salting")
    ):
        from ..operators.skew import _SALT_LEGAL, salted_join

        h = how.lower().replace(" ", "")
        l_skew = decision["left"]["skewed"]
        r_skew = decision["right"]["skewed"]
        # the salted kernel preserves the BIG side only; for non-inner
        # joins the preserved side is fixed by the join type, so salting
        # applies only when the LEFT (preserved) side is the skewed one
        if h in _SALT_LEGAL and (l_skew or (h == "inner" and r_skew)):
            if l_skew or h != "inner":
                big, small, bkey, skey = left_df, right_df, left_key, right_key
                swapped = False
            else:
                big, small, bkey, skey = right_df, left_df, right_key, left_key
                swapped = True
            if skey != bkey:
                small = small.withColumnRenamed(skey, bkey)
            out = salted_join(big, small, bkey, n_salts, how)
            if skey != bkey and h.replace("_", "") not in (
                "leftsemi",
                "leftanti",
            ):
                # restore the other side's key column (value-identical);
                # semi/anti outputs carry no right-side columns at all
                out = out.withColumn(skey, F.col(bkey))
            if swapped:
                out = out.select(
                    *left_df.columns,
                    *[c for c in out.columns if c not in left_df.columns],
                )
            return out
    if decision["build_side"] == "left":
        left_df = F.broadcast(left_df)
    elif decision["build_side"] == "right":
        right_df = F.broadcast(right_df)
    return left_df.join(
        right_df, left_df[left_key] == right_df[right_key], how
    )


def planned_join(
    left,
    right,
    left_key: str,
    right_key: str,
    how: str = "inner",
    **kwargs,
) -> tuple[DataFrame, dict]:
    """Plan + execute in one call over two lakehouse tables; reads apply
    the same partition filters the estimates were computed under. Bounds
    kwargs refuse: bounds only SIZE a side (file-level pruning does not
    row-filter inside surviving files), so executing on bounds-shrunk
    estimates while reading full rows would broadcast a side at many
    times its planned size — plan separately and apply your own row
    filter instead."""
    if kwargs.get("left_bounds") or kwargs.get("right_bounds"):
        raise ValueError(
            "planned_join does not execute bounds-filtered joins — use"
            " plan_equi_join(left_bounds=/right_bounds=) for the estimate"
            " and apply the matching row filter to read() yourself"
        )
    decision = plan_equi_join(
        left, right, left_key, right_key, how=how, **kwargs
    )
    ldf = left.read(partition_filter=kwargs.get("left_partition_filter"))
    rdf = right.read(partition_filter=kwargs.get("right_partition_filter"))
    return (
        execute_equi_join(decision, ldf, rdf, left_key, right_key, how),
        decision,
    )


def estimate_table_size(
    table, partition_filter: dict | None = None, inflation: float = PARQUET_INFLATION
) -> dict:
    """Metadata-only size of a table AFTER partition pruning — the
    broadcast-decision inputs without requiring NDV statistics (sizing
    needs bytes, not distinctness, so an un-ANALYZEd table still gets a
    correct broadcast call from its manifests). The table answers from
    one snapshot (``pruned_size``: Iceberg manifest entries, Delta
    add-action sizes and record counts) and refuses partition_filter keys
    it does not partition by — for Delta a typo'd key would match NOTHING
    and a zero estimate would broadcast an actually-big table."""
    est = table.pruned_size(partition_filter)
    return {**est, "est_mem_bytes": int(est["bytes"] * inflation)}


def register_stats_view(
    spark: SparkSession,
    name: str,
    table,
    *,
    partition_filter: dict | None = None,
    source: str = "native",
    broadcast_bytes: int = BROADCAST_BYTES_DEFAULT,
    inflation: float = PARQUET_INFLATION,
) -> dict:
    """Register a lakehouse table as a temp view CARRYING the engine's
    statistics decision — the surface that puts the stats layer under a
    user's AD-HOC ``spark.sql`` queries (VERDICT r10 next-round #1).

    Why this exists: Spark sizes a Python DataSource relation at
    ``spark.sql.defaultSizeInBytes`` (effectively infinite — the DSv2
    Python API has no statistics hook, confirmed against pyspark 4.1:
    ``DataSourceReader`` exposes only partitions/pushFilters/read), so a
    join against a ``*_lite`` scan NEVER broadcasts on Spark's own
    estimate, and even native scans are sized pre-pruning. The engine's
    manifests know better: this folds the PRUNED entries' bytes
    (``estimate_table_size``), and when the side fits under the
    broadcast threshold x inflation it registers the view from a
    ``df.hint("broadcast")`` plan — a ResolvedHint that survives view
    inlining, so every ad-hoc SQL join over the view gets the
    broadcast-hash plan the statistics justify (plan-pinned in
    tests/test_joinplan.py; q218 pins the sort-merge→broadcast flip with
    hash-identical results).

    Accepts IcebergTable and DeltaTable sides (duck-typed; sizes fold from
    manifest entries or add-actions respectively), so a stats-planned SQL
    join can even be CROSS-FORMAT. ``source="native"`` reads through
    ``table.read`` (Spark-native replay scan, applies
    ``partition_filter``); ``source="lite"`` reads through the table's
    lite DSv2 source (``lite_source_for``, registered on demand),
    with ``partition_filter`` applied as row-level equality predicates —
    the DSv2 pushdown flavor can additionally file-prune them when the
    session enables python filter pushdown. Returns the decision record
    (rows/bytes/files plus ``broadcast``)."""
    est = estimate_table_size(table, partition_filter, inflation)
    if source == "lite" and partition_filter:
        # the lite path applies the filter as row predicates on DATA
        # columns — a bucket/truncate field NAME would reference a column
        # that does not exist (or worse, silently filter the wrong thing)
        bad = set(partition_filter) - set(table.partition_columns())
        if bad:
            raise ValueError(
                f"lite-source partition_filter supports IDENTITY partition"
                f" fields only; {sorted(bad)} are transformed — use"
                " source='native' (its reader re-applies transformed"
                " filters row-level)"
            )
    if source == "lite":
        from ..sources.lite_source import lite_source_for

        ds = lite_source_for(table)
        spark.dataSource.register(ds)
        df = spark.read.format(ds.name()).load(table.root)
        for col, val in (partition_filter or {}).items():
            df = df.where(F.col(col) == F.lit(val))
    elif source == "native":
        df = table.read(partition_filter=partition_filter)
    else:
        raise ValueError(f"unknown source {source!r} — 'native' or 'lite'")
    # an empty pruned side (0 bytes) broadcasts trivially
    will_broadcast = est["est_mem_bytes"] <= broadcast_bytes
    if will_broadcast:
        df = df.hint("broadcast")
    df.createOrReplaceTempView(name)
    return {
        "view": name,
        "broadcast": bool(will_broadcast),
        "source": source,
        "broadcast_bytes": broadcast_bytes,
        "inflation": inflation,
        **est,
    }


def stats_sql(
    spark: SparkSession,
    query: str,
    tables: dict,
    *,
    source: str = "native",
    broadcast_bytes: int = BROADCAST_BYTES_DEFAULT,
    inflation: float = PARQUET_INFLATION,
):
    """Run an ad-hoc SQL query with every referenced lakehouse table
    registered through ``register_stats_view`` — the one-call SQL
    front-end for statistics-planned queries. ``tables`` maps view name →
    IcebergTable or (IcebergTable, partition_filter). Returns
    ``(DataFrame, {name: decision})``; the DataFrame is lazy as usual."""
    decisions: dict[str, dict] = {}
    for name, spec in tables.items():
        table, pf = spec if isinstance(spec, tuple) else (spec, None)
        decisions[name] = register_stats_view(
            spark,
            name,
            table,
            partition_filter=pf,
            source=source,
            broadcast_bytes=broadcast_bytes,
            inflation=inflation,
        )
    return spark.sql(query), decisions


@session_memo
def _demo_join_tables(spark: SparkSession, sf_dir: str):
    """Planner demo tables, memoized per (session, sf_dir): the analyzed
    orders table from the q207 demo (fact side) plus an analyzed customer
    dimension table."""
    import os
    import tempfile
    import uuid

    from .iceberg import IcebergTable, _demo_iceberg_stats

    ot, _ = _demo_iceberg_stats(spark, sf_dir)
    root = os.path.join(tempfile.gettempdir(), f"icejoin_{uuid.uuid4().hex[:8]}")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    ct = IcebergTable.create(spark, root, c)
    ct.analyze(columns=["c_custkey"])
    return ot, ct


_Q213_ORACLE = """
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
       1 AS chose_broadcast, 1 AS build_is_customer, 1 AS est_within_10pct
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


@query("q213_stats_planned_join", oracle=_Q213_ORACLE)
def q213_stats_planned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATISTICS-DRIVEN JOIN PLANNING (r10): plan_equi_join sizes both
    sides from pruned manifest entries and the theta NDV blobs (no data
    scan), picks the broadcast build side, and estimates output
    cardinality as |L| x |R| / max(ndv) — exact under PK-FK containment.
    The JOINED DATA hash-matches the oracle's plain join (the planner
    changed the physical strategy, not the semantics), and the flags pin
    the decision: the small dimension side broadcast-builds, and the
    cardinality estimate lands within 10% of the true join size (exact at
    sf0.01: both key NDVs are exact-mode at this scale)."""
    ot, ct = _demo_join_tables(spark, sf_dir)
    joined, decision = planned_join(ot, ct, "o_custkey", "c_custkey")
    actual = joined.count()
    chose_broadcast = int(decision["strategy"] == "broadcast")
    build_is_customer = int(decision["build_side"] == "right")
    est_ok = int(abs(decision["est_rows"] - actual) * 10 <= actual)
    out = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_custs"),
    ).select(
        "c_mktsegment",
        "n_orders",
        "n_custs",
        F.lit(chose_broadcast).alias("chose_broadcast"),
        F.lit(build_is_customer).alias("build_is_customer"),
        F.lit(est_ok).alias("est_within_10pct"),
    )
    return materialize(out)


_Q218_ORACLE = """
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_orders,
       1 AS smj_without_stats, 1 AS bhj_with_stats,
       1 AS dim_broadcast_fact_not, 1 AS results_identical
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


@query("q218_stats_sql_broadcast_flip", oracle=_Q218_ORACLE)
def q218_stats_sql_broadcast_flip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATISTICS REACH THE AD-HOC SQL SURFACE (VERDICT r10 next-round
    #1): the SAME user-written SQL join flips sort-merge → broadcast-hash
    SOLELY from engine statistics, results hash-identical either way.

    Setup is the real 100 TB failure mode, not a contrived threshold:
    both sides read through the ``iceberg_lite`` DSv2 source, which Spark
    sizes at defaultSizeInBytes because the Python DataSource API exposes
    no statistics — so Spark's own planner ALWAYS sort-merges these scans
    (flag 1 pins SortMergeJoin in the unassisted static plan). Then
    ``stats_sql`` registers the same tables through
    ``register_stats_view``: the engine folds each side's PRUNED manifest
    bytes, sees the customer dimension fits the broadcast threshold x
    inflation, and registers its view with a broadcast hint that survives
    view inlining — the identical SQL text now plans BroadcastHashJoin
    (flag 2), with the dimension and only the dimension as the build side
    (flag 3), and both plans' grouped results equal (flag 4; the oracle
    hash additionally pins the values)."""
    return _stats_broadcast_flip(spark, *_demo_join_tables(spark, sf_dir))


def _stats_broadcast_flip(spark: SparkSession, ot, ct) -> DataFrame:
    """The q218/q223 pin over an orders (fact) / customer (dim) pair of
    one table format, both read through that format's lite source."""
    from ..sources.lite_source import lite_source_for

    ds = lite_source_for(ot)
    spark.dataSource.register(ds)
    sql = """
        SELECT c_mktsegment, count(*) AS n_orders
        FROM fact_orders JOIN dim_customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    """
    # unassisted: plain lite views — Spark cannot size them
    spark.read.format(ds.name()).load(ot.root).createOrReplaceTempView("fact_orders")
    spark.read.format(ds.name()).load(ct.root).createOrReplaceTempView("dim_customer")
    plain = spark.sql(sql)
    p1 = plain._jdf.queryExecution().executedPlan().toString()
    smj_without = int(
        "SortMergeJoin" in p1 and "BroadcastHashJoin" not in p1
    )
    # bounded: 5 market segments
    plain_rows = {(r[0], r[1]) for r in plain.collect()}
    # stats-planned: same SQL, views registered with the engine decision.
    # The threshold scales to the fixture (at sf0.01 BOTH sides sit far
    # under the production 10 MB default): the midpoint between the two
    # sides' estimated in-memory sizes keeps the pin meaningful at any
    # sf — the STATISTICS still decide which side fits under it.
    mid = (
        estimate_table_size(ot)["est_mem_bytes"]
        + estimate_table_size(ct)["est_mem_bytes"]
    ) // 2
    planned, decisions = stats_sql(
        spark,
        sql,
        {"fact_orders": ot, "dim_customer": ct},
        source="lite",
        broadcast_bytes=mid,
    )
    p2 = planned._jdf.queryExecution().executedPlan().toString()
    bhj_with = int("BroadcastHashJoin" in p2 and "SortMergeJoin" not in p2)
    dim_only = int(
        decisions["dim_customer"]["broadcast"]
        and not decisions["fact_orders"]["broadcast"]
    )
    # bounded: 5 market segments
    planned_rows = {(r[0], r[1]) for r in planned.collect()}
    same = int(planned_rows == plain_rows)
    out = planned.select(
        "c_mktsegment",
        "n_orders",
        F.lit(smj_without).alias("smj_without_stats"),
        F.lit(bhj_with).alias("bhj_with_stats"),
        F.lit(dim_only).alias("dim_broadcast_fact_not"),
        F.lit(same).alias("results_identical"),
    )
    return materialize(out)


@session_memo
def _demo_delta_join(spark: SparkSession, sf_dir: str):
    """Delta orders/customer pair for the q223 stats-view pin, memoized
    per (session, sf_dir)."""
    import os
    import tempfile
    import uuid

    from .deltalog import DeltaTable

    base = os.path.join(tempfile.gettempdir(), f"deltajoin_{uuid.uuid4().hex[:8]}")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        DeltaTable.create(spark, os.path.join(base, "o"), o),
        DeltaTable.create(spark, os.path.join(base, "c"), c),
    )


@query("q223_txtable_stats_broadcast_flip", oracle=_Q218_ORACLE)
def q223_txtable_stats_broadcast_flip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The q218 pin over ``delta_lite`` scans: the same ad-hoc SQL join
    plans SortMergeJoin unassisted (Spark sizes Python data sources at
    defaultSizeInBytes) and BroadcastHashJoin once ``stats_sql`` folds
    each side's add actions (``DeltaTable.pruned_size``: rows from their
    record-count stats, bytes from their sizes) — results hash-identical
    either way."""
    return _stats_broadcast_flip(spark, *_demo_delta_join(spark, sf_dir))


_Q215_ORACLE = """
SELECT o_orderstatus,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
       1 AS est_groups_within_5pct, 1 AS partitions_sane
FROM orders GROUP BY o_orderstatus
"""


@query("q215_aggregation_advisor", oracle=_Q215_ORACLE)
def q215_aggregation_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AGGREGATION SIZING from statistics (r10): plan_aggregation reads
    the COMPOSITE (o_custkey, o_orderstatus) theta blob — the true
    combination count; the single-column NDV product over-counts pairs
    that never co-occur — plus manifest row/byte totals, and suggests a
    reduce-side shuffle width for the group-by. Pins: the group estimate
    lands within 5% of the oracle's exact distinct-pair count (exact-mode
    at sf0.01), and the suggested width is sane (>= 1, <= row count; 1 at
    this scale — 200 default tasks for a ~3k-group rollup is the waste
    this advisor exists to avoid). The grouped DATA hash-matches the
    plain aggregation — advice never changes semantics."""
    from .iceberg import _demo_iceberg_stats

    t, _res = _demo_iceberg_stats(spark, sf_dir)
    plan = plan_aggregation(t, ("o_custkey", "o_orderstatus"))
    o = load(spark, sf_dir, "orders")
    exact_groups = o.select("o_custkey", "o_orderstatus").distinct().count()
    within = int(abs(plan["est_groups"] - exact_groups) * 20 <= exact_groups)
    sane = int(
        1 <= plan["suggested_shuffle_partitions"] <= max(1, plan["rows"])
    )
    out = (
        t.read()
        .groupBy("o_orderstatus")
        .agg(F.countDistinct("o_custkey").alias("n_custs"))
        .select(
            "o_orderstatus",
            "n_custs",
            F.lit(within).alias("est_groups_within_5pct"),
            F.lit(sane).alias("partitions_sane"),
        )
    )
    return materialize(out)


_Q216_ORACLE = """
WITH b AS (SELECT min(o_orderkey) AS mn, max(o_orderkey) AS mx FROM orders)
SELECT CAST(count(*) AS BIGINT) AS exact_in_range,
       1 AS est_within_10pct, 1 AS bounds_complete
FROM orders, b
WHERE o_orderkey BETWEEN mn + (mx - mn) // 4 AND mn + (mx - mn) // 2
"""


@query("q216_range_selectivity_estimate", oracle=_Q216_ORACLE)
def q216_range_selectivity_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE SELECTIVITY from manifest bounds (r10): estimate_range_rows
    prunes files through ``files(bounds=)`` and interpolates within each
    survivor's recorded [min, max] span (uniform assumption, file
    granularity) — no data scan. Pins vs the oracle's exact count over
    the same quartile-to-median o_orderkey window: estimate within 10%
    (TPC-H orderkeys are uniformly sparse, so file-level interpolation is
    tight), and every kept file carried recorded bounds (no fall-back to
    full counting)."""
    from .iceberg import _demo_iceberg_stats

    t, _res = _demo_iceberg_stats(spark, sf_dir)
    o = load(spark, sf_dir, "orders")
    # bounded: one min/max row
    r = o.agg(F.min("o_orderkey"), F.max("o_orderkey")).collect()[0]
    mn, mx = int(r[0]), int(r[1])
    lo = mn + (mx - mn) // 4
    hi = mn + (mx - mn) // 2
    est = estimate_range_rows(t, "o_orderkey", lo, hi)
    exact = o.where(F.col("o_orderkey").between(lo, hi)).count()
    within = int(abs(est["est_rows"] - exact) * 10 <= exact)
    complete = int(est["files_without_bounds"] == 0)
    return spark.createDataFrame(
        [(exact, within, complete)],
        "exact_in_range BIGINT, est_within_10pct INT, bounds_complete INT",
    )


# ---------------------------------------------------------------------------
# Multi-way join ordering (r12) — the capstone that makes the statistics
# layer an OPTIMIZER, not just a broadcast switch. Selinger-style dynamic
# programming over connected subsets (System-R, public; cost model C_out =
# sum of intermediate result cardinalities, the standard yardstick of the
# join-ordering literature, e.g. Moerkotte & Neumann, VLDB'06). At 100 TB
# the as-written join order of an ad-hoc query routinely materializes a
# fact-sized intermediate three times; ordering dimension-first from NDV
# statistics is the single largest plan lever the engine controls.
# ---------------------------------------------------------------------------


def plan_join_tree(
    tables: dict,
    predicates: list,
    *,
    partition_filters: dict | None = None,
    broadcast_bytes: int = BROADCAST_BYTES_DEFAULT,
    inflation: float = PARQUET_INFLATION,
    max_tables: int = 12,
) -> dict:
    """Choose a bushy inner-join order for N lakehouse tables from
    statistics alone (no data scan, no DataFrame yet).

    ``tables`` maps alias -> analyzed lakehouse table; ``predicates`` is a
    list of equi-join edges ``(alias_a, col_a, alias_b, col_b)``. Base
    sizes fold from pruned manifest entries (``estimate_table_size``,
    honoring ``partition_filters[alias]``); each edge carries selectivity
    1 / max(ndv_a, ndv_b) from the theta NDV blobs (NDV capped at the
    side's row count — pruning can only shrink distinctness). The
    cardinality of any subset S is then split-independent:

        rows(S) = prod(rows of members) * prod(sel of edges inside S)

    — the classic independence model, exact for PK-FK chains under
    referential containment. The DP fills best[S] over connected subsets
    only (a split with no crossing edge is a cross join and is refused
    outright when the whole predicate graph is disconnected), minimizing
    C_out = the sum of every intermediate (and final) cardinality.
    Deterministic: subsets and splits enumerate in ascending bitmask
    order, strict improvement updates.

    Each internal node of the winning tree also carries the broadcast
    decision for that step (smaller estimated in-memory side under the
    threshold — inner joins may build on either side), so execution needs
    no further planning. The as-written left-deep order (dict insertion
    order of ``tables``) is costed with the same model into
    ``naive_cost`` for comparison.

    Inner joins only: outer joins do not commute with each other or with
    inner joins in general, so reordering them from statistics would be
    semantically wrong — callers compose outer fringes around the ordered
    inner core. Cyclic predicate graphs are accepted (every in-subset
    edge's selectivity multiplies, which under-estimates correlated
    cycles — documented, conservative for broadcast decisions only when
    the under-estimate stays under the threshold; the C_out ranking is
    unaffected by a shared factor).

    Reference scope note: the reference notebook (NB:283-305) has no
    joins; this generalizes the engine's statistics tier. Public
    algorithm (Selinger et al. 1979; Moerkotte & Neumann 2006)."""
    aliases = list(tables)
    n = len(aliases)
    if n < 2:
        raise ValueError("plan_join_tree needs at least two tables")
    if n > max_tables:
        raise ValueError(
            f"{n} tables exceeds max_tables={max_tables} — subset DP is"
            " exponential; raise max_tables deliberately or pre-join"
        )
    idx = {a: i for i, a in enumerate(aliases)}
    pfs = partition_filters or {}
    unknown_pf = set(pfs) - set(aliases)
    if unknown_pf:
        raise ValueError(f"partition_filters for unknown aliases {sorted(unknown_pf)}")
    base = {}
    width = {}
    for a in aliases:
        if not hasattr(tables[a], "ndv"):
            raise ValueError(
                f"table {a!r} carries no NDV statistics (no .ndv) — join"
                " ordering needs distinctness estimates; analyze() an"
                " Iceberg table, or pre-join the un-analyzed side"
            )
        est = estimate_table_size(tables[a], pfs.get(a), inflation)
        base[a] = est
        width[a] = (est["est_mem_bytes"] / est["rows"]) if est["rows"] else 0.0

    def _edge_ndv(alias: str, col: str):
        """NDV of one edge endpoint, honoring that side's partition
        filter when per-partition sketches exist (same fallback chain as
        estimate_side), capped at the pruned row count — pruning can only
        shrink distinctness."""
        pf = pfs.get(alias)
        nd, src = None, "table"
        if pf:
            from .iceberg import NoPartitionSketchesError

            try:
                nd = tables[alias].ndv_pruned(col, pf)
                src = "pruned_union"
            except NoPartitionSketchesError:
                nd = None
        if nd is None:
            nd = tables[alias].ndv(col)
        return min(int(nd["ndv"]), base[alias]["rows"] or 1), src

    # per-edge selectivity 1/max(ndv, ndv) from the theta sketches
    edges = []
    edge_audit = []
    for p in predicates:
        try:
            aa, ca, ab, cb = p
        except (TypeError, ValueError):
            raise ValueError(
                f"predicate {p!r} is not (alias_a, col_a, alias_b, col_b)"
            )
        for al in (aa, ab):
            if al not in idx:
                raise ValueError(f"predicate references unknown alias {al!r}")
        if aa == ab:
            raise ValueError(f"self-join predicate {p!r} — use distinct aliases")
        nda, srca = _edge_ndv(aa, ca)
        ndb, srcb = _edge_ndv(ab, cb)
        sel = 1.0 / max(nda, ndb, 1)
        edges.append((idx[aa], idx[ab], ca, cb, sel))
        edge_audit.append(
            {
                "left": f"{aa}.{ca}",
                "right": f"{ab}.{cb}",
                "ndv_left": nda,
                "ndv_right": ndb,
                "ndv_source_left": srca,
                "ndv_source_right": srcb,
                "selectivity": sel,
            }
        )
    full = (1 << n) - 1

    def _subset_rows(s: int) -> float:
        r = 1.0
        for i in range(n):
            if s >> i & 1:
                r *= max(base[aliases[i]]["rows"], 0)
        for ia, ib, _ca, _cb, sel in edges:
            if s >> ia & 1 and s >> ib & 1:
                r *= sel
        return r

    rows_of = {1 << i: float(base[aliases[i]]["rows"]) for i in range(n)}
    mem_of = {1 << i: float(base[aliases[i]]["est_mem_bytes"]) for i in range(n)}
    width_of = {1 << i: width[aliases[i]] for i in range(n)}
    # best[S] = (C_out cost, tree); leaves cost 0 (scans are paid anyway)
    best: dict = {
        1 << i: (
            0.0,
            {
                "table": aliases[i],
                "est_rows": int(base[aliases[i]]["rows"]),
                "est_mem_bytes": int(base[aliases[i]]["est_mem_bytes"]),
            },
        )
        for i in range(n)
    }

    def _cross_keys(s1: int, s2: int) -> list:
        ks = []
        for ia, ib, ca, cb, _sel in edges:
            if s1 >> ia & 1 and s2 >> ib & 1:
                ks.append((ca, cb))
            elif s2 >> ia & 1 and s1 >> ib & 1:
                ks.append((cb, ca))
        return ks

    for s in range(3, full + 1):
        if s & (s - 1) == 0 or bin(s).count("1") < 2:
            continue
        low = s & -s
        s1 = (s - 1) & s
        cand = None
        srows = None
        while s1 > 0:
            s2 = s ^ s1
            if s1 & low and s1 in best and s2 in best:
                keys = _cross_keys(s1, s2)
                if keys:
                    if srows is None:
                        srows = _subset_rows(s)
                    c = best[s1][0] + best[s2][0] + srows
                    if cand is None or c < cand[0]:
                        cand = (c, s1, s2, keys)
            s1 = (s1 - 1) & s
        if cand is not None:
            c, s1, s2, keys = cand
            # canonical orientation: larger side left (probe), smaller
            # right (build) — stable order strings, conventional plans
            if rows_of[s1] < rows_of[s2]:
                s1, s2 = s2, s1
                keys = [(rc, lc) for lc, rc in keys]
            w = width_of[s1] + width_of[s2]
            mem = srows * w
            lmem, rmem = mem_of[s1], mem_of[s2]
            bc = None
            small, smem = ("left", lmem) if lmem <= rmem else ("right", rmem)
            if smem <= broadcast_bytes:
                bc = small
            rows_of[s] = srows
            mem_of[s] = mem
            width_of[s] = w
            best[s] = (
                c,
                {
                    "left": best[s1][1],
                    "right": best[s2][1],
                    "keys": keys,
                    "est_rows": int(srows),
                    "est_mem_bytes": int(mem),
                    "broadcast": bc,
                },
            )
    if full not in best:
        raise ValueError(
            "predicate graph is disconnected — the requested join contains"
            " a cross product; add the missing join predicate or plan the"
            " components separately"
        )
    # as-written left-deep baseline under the SAME cost model
    naive_cost = 0.0
    acc = 1 << 0
    for i in range(1, n):
        acc |= 1 << i
        naive_cost += _subset_rows(acc)
    cost, tree = best[full]

    def _annotate_salting(t: dict) -> None:
        """Per-step skew advisory (r13, VERDICT r12 #7): a non-broadcast
        single-key step whose probe side is a LEAF table with a
        manifest-flagged hot key gets the same recommend_salting that
        plan_equi_join issues, so execute_join_tree(n_salts=) can route
        the step through operators/skew.salted_join. Skew is only
        detectable where the key is an identity partition source of a
        base table (the manifest carries per-partition row counts);
        intermediate join results carry no such statistics — those steps
        stay un-advised, which is the honest reading of what a static
        planner can know."""
        if "table" in t:
            return
        _annotate_salting(t["left"])
        _annotate_salting(t["right"])
        if t["broadcast"] is not None or len(t["keys"]) != 1:
            return
        lc, rc = t["keys"][0]
        salt = None
        for side, node, col in (("left", t["left"], lc), ("right", t["right"], rc)):
            if "table" not in node:
                continue
            a = node["table"]
            # skew is read from identity-partition row counts in the
            # manifests (every table here carries .ndv, checked above)
            est = estimate_side(tables[a], col, pfs.get(a))
            if est["skewed"]:
                salt = {
                    "side": side,
                    "alias": a,
                    "skew_ratio": est["skew_ratio"],
                }
                break
        t["recommend_salting"] = salt is not None
        if salt is not None:
            t["salt"] = salt

    _annotate_salting(tree)

    def _order(t: dict) -> str:
        if "table" in t:
            return t["table"]
        return f"({_order(t['left'])} ⋈ {_order(t['right'])})"

    return {
        "tree": tree,
        "order": _order(tree),
        "est_rows": tree["est_rows"],
        "cost": cost,
        "naive_order": " ⋈ ".join(aliases),
        "naive_cost": naive_cost,
        "aliases": aliases,
        "base": base,
        "edges": edge_audit,
        "n_broadcast_steps": _count_broadcasts(tree),
        "broadcast_bytes": broadcast_bytes,
        "inflation": inflation,
    }


def _count_broadcasts(tree: dict) -> int:
    if "table" in tree:
        return 0
    return (
        int(tree["broadcast"] is not None)
        + _count_broadcasts(tree["left"])
        + _count_broadcasts(tree["right"])
    )


def execute_join_tree(
    plan: dict, dataframes: dict, n_salts: int | None = None
) -> DataFrame:
    """Apply a ``plan_join_tree`` decision to concrete DataFrames (alias ->
    DataFrame). Column names must be globally unique across the inputs
    (TPC-H-style prefixes): the tree joins on unqualified column
    references, so an overlap would be silently ambiguous — refused up
    front. Each internal node joins with all its crossing equi-predicates
    ANDed and ``F.broadcast`` on the side the statistics chose; AQE may
    still re-plan the un-hinted steps at runtime.

    ``n_salts`` (r13, VERDICT r12 #7): steps the planner annotated with
    ``recommend_salting`` (non-broadcast, single key, manifest-flagged
    hot key on a leaf side) route through operators/skew.salted_join —
    the skewed side is the preserved/probe side, the other side
    replicates per salt. All tree joins are inner, so either side may be
    the probe; output columns and values are identical to the plain join
    (the salt column never escapes). Without ``n_salts`` the advisory is
    inert and the executed plan is byte-identical to r12's."""
    missing = set(plan["aliases"]) - set(dataframes)
    if missing:
        raise ValueError(f"no DataFrame supplied for aliases {sorted(missing)}")
    seen: dict = {}
    for a in plan["aliases"]:
        for c in dataframes[a].columns:
            if c in seen:
                raise ValueError(
                    f"column {c!r} appears in both {seen[c]!r} and {a!r} —"
                    " execute_join_tree joins on unqualified names; rename"
                    " one side first"
                )
            seen[c] = a

    def _build(t: dict) -> DataFrame:
        if "table" in t:
            return dataframes[t["table"]]
        ldf, rdf = _build(t["left"]), _build(t["right"])
        if n_salts and t.get("recommend_salting") and len(t["keys"]) == 1:
            from ..operators.skew import salted_join

            lc, rc = t["keys"][0]
            if t["salt"]["side"] == "left":
                big, small, bkey, skey = ldf, rdf, lc, rc
            else:
                big, small, bkey, skey = rdf, ldf, rc, lc
            out = salted_join(
                big, small.withColumnRenamed(skey, bkey), bkey, n_salts, "inner"
            )
            # restore the other side's key column (value-identical by the
            # join condition) and the plain join's column order
            out = out.withColumn(skey, F.col(bkey))
            return out.select(*ldf.columns, *rdf.columns)
        if t["broadcast"] == "left":
            ldf = F.broadcast(ldf)
        elif t["broadcast"] == "right":
            rdf = F.broadcast(rdf)
        cond = None
        for lc, rc in t["keys"]:
            c = F.col(lc) == F.col(rc)
            cond = c if cond is None else (cond & c)
        return ldf.join(rdf, cond, "inner")

    return _build(plan["tree"])


def planned_join_tree(
    tables: dict,
    predicates: list,
    *,
    partition_filters: dict | None = None,
    n_salts: int | None = None,
    **kwargs,
):
    """Plan + execute a multi-way join in one call; reads apply the same
    partition filters the estimates were computed under. ``n_salts``
    routes planner-advised skewed steps through the salted join (see
    execute_join_tree). Returns ``(DataFrame, plan)``."""
    plan = plan_join_tree(
        tables, predicates, partition_filters=partition_filters, **kwargs
    )
    pfs = partition_filters or {}
    dfs = {a: t.read(partition_filter=pfs.get(a)) for a, t in tables.items()}
    return execute_join_tree(plan, dfs, n_salts=n_salts), plan


@session_memo
def _demo_star_tables(spark: SparkSession, sf_dir: str) -> dict:
    """Four-table analyzed Iceberg star schema for the join-order pins,
    memoized per (session, sf_dir): lineitem (fact) -> orders -> customer
    -> nation, minimal columns, every join key analyzed."""
    import os
    import tempfile
    import uuid

    from .iceberg import IcebergTable

    base = os.path.join(tempfile.gettempdir(), f"icestar_{uuid.uuid4().hex[:8]}")
    specs = {
        "lineitem": (
            load(spark, sf_dir, "lineitem").select(
                "l_orderkey", "l_extendedprice", "l_discount"
            ),
            ["l_orderkey"],
        ),
        "orders": (
            load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey"),
            ["o_orderkey", "o_custkey"],
        ),
        "customer": (
            load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey"),
            ["c_custkey", "c_nationkey"],
        ),
        "nation": (
            load(spark, sf_dir, "nation").select("n_nationkey", "n_name"),
            ["n_nationkey"],
        ),
    }
    out = {}
    for name, (df, keys) in specs.items():
        t = IcebergTable.create(spark, os.path.join(base, name), df)
        t.analyze(columns=keys)
        out[name] = t
    return out


_Q224_ORACLE = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines,
       1 AS dp_beats_naive, 1 AS dims_join_first,
       1 AS est_within_10pct, 1 AS all_steps_broadcast
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY n_name
"""


@query("q224_join_order_dp", oracle=_Q224_ORACLE)
def q224_join_order_dp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-WAY JOIN ORDERING FROM STATISTICS (r12 capstone):
    plan_join_tree runs Selinger subset DP with the C_out cost model over
    manifest sizes + theta NDV selectivities and reorders the as-written
    fact-first four-table join into the dimension-first chain — customer
    joins nation BEFORE anything touches the fact table — then executes
    with per-step broadcast hints. Revenue-by-nation hash-matches the
    oracle's plain as-written join (ordering changed the plan, not the
    semantics). Flags pin the decisions: the DP's modeled cost is
    STRICTLY below the as-written left-deep order's (dims-first avoids
    materializing a fact-sized intermediate three times), the one
    leaf-leaf join in the winning tree is {customer, nation}, the final
    cardinality estimate lands within 10% of the true count (PK-FK
    containment; sketches are in estimation mode at this scale), and
    every join step broadcasts its smaller side under the default 10 MB
    threshold."""
    star = _demo_star_tables(spark, sf_dir)
    # n_salts arms the per-step skew advisory (r13): inert on this star —
    # no key is an identity partition source with a hot partition, so the
    # planner annotates nothing and the executed plan is unchanged (pinned
    # by the all_steps_broadcast flag); a skewed consumer gets the salted
    # route with the same call shape (tests/test_joinplan.py pins it)
    joined, plan = planned_join_tree(
        star,
        [
            ("lineitem", "l_orderkey", "orders", "o_orderkey"),
            ("orders", "o_custkey", "customer", "c_custkey"),
            ("customer", "c_nationkey", "nation", "n_nationkey"),
        ],
        n_salts=8,
    )
    dp_beats = int(plan["cost"] < plan["naive_cost"])

    def _leaf_pairs(t, acc):
        if "table" in t:
            return
        if "table" in t["left"] and "table" in t["right"]:
            acc.append({t["left"]["table"], t["right"]["table"]})
        _leaf_pairs(t["left"], acc)
        _leaf_pairs(t["right"], acc)

    pairs: list = []
    _leaf_pairs(plan["tree"], pairs)
    dims_first = int(pairs == [{"customer", "nation"}])
    actual = joined.count()
    est_ok = int(abs(plan["est_rows"] - actual) * 10 <= actual)
    all_bc = int(plan["n_broadcast_steps"] == len(star) - 1)
    out = joined.groupBy("n_name").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    ).select(
        "n_name",
        "revenue",
        "n_lines",
        F.lit(dp_beats).alias("dp_beats_naive"),
        F.lit(dims_first).alias("dims_join_first"),
        F.lit(est_ok).alias("est_within_10pct"),
        F.lit(all_bc).alias("all_steps_broadcast"),
    )
    return materialize(out)


@session_memo
def _demo_pruned_star(spark: SparkSession, sf_dir: str) -> dict:
    """Star fixture with a PARTITIONED, partition-analyzed orders table
    swapped in — identity-partitioned on the derived ``o_bucket =
    o_orderkey % 20`` (this corpus's categoricals are near-uniform
    thirds/fifths, so a genuinely RARE partition needs a derived key; the
    modulus keeps it oracle-expressible). Memoized per (session,
    sf_dir)."""
    import os
    import tempfile
    import uuid

    from .iceberg import IcebergTable

    star = _demo_star_tables(spark, sf_dir)
    root = os.path.join(
        tempfile.gettempdir(), f"icepstar_{uuid.uuid4().hex[:8]}"
    )
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_orderkey") % 20).alias("o_bucket"),
    )
    ot = IcebergTable.create(spark, root, o, partition_by=["o_bucket"])
    ot.analyze_partitions()
    out = {**star, "orders": ot}
    return out


_Q225_ORACLE = """
SELECT n_name,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) AS BIGINT) AS revenue_cents,
       CAST(count(*) AS BIGINT) AS n_lines,
       1 AS unpruned_dims_first, 1 AS pruned_fact_first,
       1 AS pruned_ndv_used, 1 AS est_within_2x
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderkey % 20 = 7
GROUP BY n_name
"""


@query("q225_join_order_partition_pruned", oracle=_Q225_ORACLE)
def q225_join_order_partition_pruned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PARTITION PRUNING CHANGES THE JOIN ORDER (r12): the same
    four-table star planned twice. Unfiltered, the DP joins the two
    dimensions first — customer ⋈ nation is the only sub-fact-sized
    start. Under a partition filter keeping one of orders' twenty
    o_bucket partitions (5%), the pruned manifest shrinks orders below
    the customer dimension and the SAME DP now starts from orders ⋈
    customer — the optimal order is a property of the FILTERED sizes,
    which is exactly what a static planner cannot see without executing
    the pruning first. Edge NDVs resolve through the per-partition theta
    sketches (ndv_source=pruned_union on both orders endpoints), the
    final cardinality estimate lands within 2x of the true pruned join
    size, and the pruned-plan execution hash-matches the oracle's
    WHERE-filtered plain join."""
    pstar = _demo_pruned_star(spark, sf_dir)
    preds = [
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("customer", "c_nationkey", "nation", "n_nationkey"),
    ]

    def _first_pair(plan):
        pairs: list = []

        def rec(t):
            if "table" in t:
                return
            if "table" in t["left"] and "table" in t["right"]:
                pairs.append({t["left"]["table"], t["right"]["table"]})
            rec(t["left"])
            rec(t["right"])

        rec(plan["tree"])
        return pairs

    unpruned = plan_join_tree(pstar, preds)
    dims_first = int(_first_pair(unpruned) == [{"customer", "nation"}])
    pf = {"orders": {"o_bucket": 7}}
    # n_salts arms the skew advisory (r13) — inert here (no hot partition
    # on a join key), plan unchanged; see q224's note
    joined, pruned = planned_join_tree(
        pstar, preds, partition_filters=pf, n_salts=8
    )
    fact_first = int(_first_pair(pruned) == [{"orders", "customer"}])
    pruned_ndv = int(
        all(
            e["ndv_source_left" if e["left"].startswith("orders.") else "ndv_source_right"]
            == "pruned_union"
            for e in pruned["edges"]
            if e["left"].startswith("orders.") or e["right"].startswith("orders.")
        )
    )
    actual = joined.count()
    est = pruned["est_rows"]
    est_ok = int(actual > 0 and est > 0 and max(est, actual) <= 2 * min(est, actual))
    # per-term round to cents then an INTEGER sum: float revenue sums
    # are addition-order-dependent at the last ulp, and this query's
    # 57-row groups straddled a .005 boundary vs the oracle — integer
    # cents are order-independent and exact
    out = joined.groupBy("n_name").agg(
        F.sum(
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
            ).cast("long")
        ).alias("revenue_cents"),
        F.count(F.lit(1)).alias("n_lines"),
    ).select(
        "n_name",
        "revenue_cents",
        "n_lines",
        F.lit(dims_first).alias("unpruned_dims_first"),
        F.lit(fact_first).alias("pruned_fact_first"),
        F.lit(pruned_ndv).alias("pruned_ndv_used"),
        F.lit(est_ok).alias("est_within_2x"),
    )
    return materialize(out)


@session_memo
def _demo_skew_tables(spark: SparkSession, sf_dir: str):
    """Hot-key fact + nation dim for the salted-execution pin, memoized
    per (session, sf_dir): lineitem mapped onto a derived join key where
    residues 0-8 all collapse onto key 1 (~50% of rows — a genuinely hot
    key), identity-partitioned on that key so the manifest itself
    reveals the skew."""
    import os
    import tempfile
    import uuid

    from .iceberg import IcebergTable

    base = os.path.join(tempfile.gettempdir(), f"iceskew_{uuid.uuid4().hex[:8]}")
    li = load(spark, sf_dir, "lineitem")
    r = F.col("l_orderkey") % 20
    fact = li.select(
        F.when(r < 9, F.lit(1).cast("long")).otherwise(r).alias("hk"),
        "l_quantity",
    )
    ft = IcebergTable.create(
        spark, os.path.join(base, "fact"), fact, partition_by=["hk"]
    )
    ft.analyze(columns=["hk"])
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    nt = IcebergTable.create(spark, os.path.join(base, "nation"), n)
    nt.analyze(columns=["n_nationkey"])
    return ft, nt


_Q226_ORACLE = """
SELECT n_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS BIGINT) AS qty_cents,
       1 AS planned_salting, 1 AS skew_flagged_from_manifest, 1 AS salted_in_plan
FROM (
  SELECT CASE WHEN l_orderkey % 20 < 9 THEN 1 ELSE l_orderkey % 20 END AS hk,
         l_quantity
  FROM lineitem
) f
JOIN nation ON f.hk = n_nationkey
GROUP BY n_name
"""


@query("q226_planned_salted_join", oracle=_Q226_ORACLE)
def q226_planned_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE SKEW ADVISORY EXECUTES (r12): a fact table whose join key is
    its identity partition source with one partition holding ~50% of the
    rows. plan_equi_join folds per-partition row counts straight from
    the manifest (no data pass), flags the key as skewed (ratio >= 5x
    the mean partition), and — because the dimension cannot broadcast
    here (threshold 0 models a dimension past the broadcast budget) —
    recommends salting. execute_equi_join(n_salts=8) now ROUTES that
    advisory through operators/skew.salted_join: the hot key's rows
    spread over 8 reducers (xxhash64-salted fact, dimension replicated
    per salt — visible as `_salt` in the executed plan), and the grouped
    result hash-matches the oracle's plain join: the salting changed the
    shuffle layout, never the answer."""
    ft, nt = _demo_skew_tables(spark, sf_dir)
    dec = plan_equi_join(ft, nt, "hk", "n_nationkey", broadcast_bytes=0)
    planned = int(
        dec["strategy"] == "sort_merge" and dec["recommend_salting"]
    )
    flagged = int(
        dec["left"]["key_is_partition"] and dec["left"]["skew_ratio"] >= 5.0
    )
    joined = execute_equi_join(
        dec, ft.read(), nt.read(), "hk", "n_nationkey", n_salts=8
    )
    p = joined._jdf.queryExecution().executedPlan().toString()
    salted = int("_salt" in p)
    out = joined.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round(F.col("l_quantity") * 100, 0).cast("long")).alias(
            "qty_cents"
        ),
    ).select(
        "n_name",
        "n_rows",
        "qty_cents",
        F.lit(planned).alias("planned_salting"),
        F.lit(flagged).alias("skew_flagged_from_manifest"),
        F.lit(salted).alias("salted_in_plan"),
    )
    return materialize(out)
