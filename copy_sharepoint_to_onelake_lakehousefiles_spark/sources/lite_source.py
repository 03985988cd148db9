"""Pluggable BATCH sources ``delta_lite`` and ``iceberg_lite``:
``spark.dataSource.register(DeltaLiteDataSource)`` then
``spark.read.format("delta_lite").load(root)`` puts a table of
``plans/deltalog`` or ``plans/iceberg`` behind temp views and plain
``spark.sql``. The two formats share one core:

- the DRIVER resolves the snapshot from the log/metadata only and a small
  per-format planner turns each live data file into one ``ScanTask``;
- EXECUTORS run one ``read``: row-group pruning (footer stats, blooms for
  pushed equalities), one ordinal mask for Delta deletion vectors and
  Iceberg position deletes, Iceberg equality deletes, then one projection
  (partition overlay, write-time names, VARIANT, v3 defaults, null-fill).
  A step whose task field is empty is skipped;
- the pushdown flavor (``.option("pushdown", "true")`` + the
  ``spark.sql.python.filterPushdown.enabled`` conf) prunes files at
  PLANNING time: an equality on a partition column every file is
  partitioned by is consumed (file-level exact); other comparisons prune
  via stats and are handed back for row-level re-application;
- ``option("table", ...)`` selects a METADATA table instead of data.

Options: ``version`` (Delta time travel), ``snapshot_index``
(Iceberg chronological time travel), ``pushdown``, ``table``.
"""

from __future__ import annotations

import datetime
import decimal
import importlib
import json
from dataclasses import dataclass
from itertools import accumulate
from typing import Any

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)

_INT_TYPES = {"byte", "short", "integer", "long", "int", "bigint", "smallint", "tinyint"}


def cast_partition_value(raw: Any, type_name: str) -> Any:
    """A partition value as the Python value of its declared type.

    Delta stores partition values as strings (PROTOCOL.md, "Partition Value
    Serialization"): numbers in their decimal form, booleans as
    ``true``/``false``, dates as ``{year}-{month}-{day}``, timestamps as
    ``{year}-{month}-{day} {hour}:{minute}:{second}[.{micros}]`` or ISO-8601
    with ``Z``; an empty string of a non-string type is null. A zone-less
    ``timestamp`` is read as UTC, the engine session's zone. Values already
    typed (Iceberg's manifest tuples) pass through unchanged. ``type_name``
    is a Spark simple string, a Delta schema type or an Iceberg type."""
    if not isinstance(raw, str) or type_name in ("string", "binary"):
        return raw
    if raw == "":
        return None
    base = type_name.split("(")[0]
    if base in _INT_TYPES:
        return int(raw)
    if base in ("float", "double"):
        return float(raw)
    if base == "boolean":
        return raw == "true"
    if base == "date":
        return datetime.date.fromisoformat(raw)
    if base == "decimal":
        return decimal.Decimal(raw)
    if base == "timestamp":
        ts = datetime.datetime.fromisoformat(raw)
        return ts if ts.tzinfo else ts.replace(tzinfo=datetime.timezone.utc)
    if base == "timestamp_ntz":
        return datetime.datetime.fromisoformat(raw)
    return raw


def schema_ddl(st) -> str:
    """A StructType as the DDL string a DataSource ``schema`` returns."""
    return ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in st.fields)


@dataclass
class ScanTask(InputPartition):
    """One data file's read, planned on the driver. Every field but
    ``path`` and ``schema_json`` is optional; the executor skips the step
    of an empty one."""

    path: str | None = None  # absolute data file; None = empty sentinel
    schema_json: str = ""  # snapshot schema (Spark StructType JSON)
    # partition column → TYPED value, overlaid on every row of the file
    partition_values: dict | None = None
    # column → the name the file was written under (Delta column mapping,
    # Iceberg rename/drop by field id); a None value = absent from the file
    names: dict | None = None
    # Iceberg v3 initial-default per column, used when absent from the file
    defaults: dict | None = None
    # pushed [lo, hi] per WRITE-TIME name: prunes row groups by footer stats
    bounds: dict | None = None
    # pushed equalities [(write-time name, value)]: row-group bloom probes
    equalities: list | None = None
    # deleted row ordinals of the ORIGINAL file: ("dv", descriptor, root) |
    # ("parquet", path) | ("puffin", path, offset, size, referenced file)
    pos_deletes: list | None = None
    # equality-delete files [(path, [key column, ...])]
    eq_deletes: list | None = None
    # ordinals of the ORIGINAL file to emit (a change feed's delete_row)
    keep: list | None = None
    # (materialized row-id column, base row id): appends a trailing
    # ``_row_id``, the materialized value else base + original ordinal
    row_id: tuple | None = None


@dataclass
class MetaTask(InputPartition):
    root: str
    table: str
    version: int | None = None


def _overlaps(ranges: dict, bounds: dict) -> bool:
    """False iff some bound excludes a column's [min, max]; a column
    without (comparable) stats keeps the file or row group."""
    for c, (lo, hi) in bounds.items():
        mm = ranges.get(c)
        if not mm or mm[0] is None or mm[1] is None:
            continue
        try:
            if (hi is not None and mm[0] > hi) or (lo is not None and mm[1] < lo):
                return False
        except TypeError:  # incomparable stat/filter types: keep
            continue
    return True


def select_row_groups(pf_meta, bounds: dict) -> list[int]:
    """Row-group indexes whose footer statistics OVERLAP every bound —
    conservative (missing stats keep the group); pure function so tests can
    drive it against crafted metadata."""
    keep = []
    for g in range(pf_meta.num_row_groups):
        rg = pf_meta.row_group(g)
        cols = {rg.column(i).path_in_schema: rg.column(i) for i in range(rg.num_columns)}
        ranges = {}
        for c in bounds:
            st = cols[c].statistics if c in cols else None
            if st is not None and st.has_min_max:
                ranges[c] = (st.min, st.max)
        if _overlaps(ranges, bounds):
            keep.append(g)
    return keep


def select_row_groups_bloom(
    path: str, num_groups: int, groups: list[int], eq: list
) -> list[int]:
    """Drop row groups whose split-block BLOOM FILTER says an equality
    value is DEFINITELY absent (conjunctive: each (col, value) predicate
    may only shrink the set). Conservative everywhere: a column without a
    bloom, an offset list that doesn't align one-per-row-group, or a value
    the plain encoding refuses all leave the groups untouched."""
    import struct

    from ..plans.parquet_bloom import _read_bitset, bitset_maybe_contains
    from ..plans.parquet_bloom import bloom_offsets, plain_encode, xxh64

    offs_all = bloom_offsets(path)
    with open(path, "rb") as fh:
        for col, val in eq:
            offs = offs_all.get(col)
            if not offs or len(offs) != num_groups:
                continue
            if offs[0][0] in (4, 5):
                # FLOAT/DOUBLE: plain bit-encoding hashes +0.0 and -0.0
                # differently, so an eq probe could report a false
                # "definitely absent" on groups holding the other zero.
                # No verdict for floating-point columns.
                continue
            try:
                h = xxh64(plain_encode(offs[0][0], val))
            except (ValueError, TypeError, OverflowError, struct.error):
                continue
            kept = []
            for g in groups:
                _ptype, off = offs[g]
                if bitset_maybe_contains(_read_bitset(fh, off), h):
                    kept.append(g)
            groups = kept
            if not groups:
                break
    return groups


def _strip_file_scheme(p: str) -> str:
    for pre in ("file://", "file:"):
        if p.startswith(pre):
            return p[len(pre):]
    return p


def position_deletes(spec: tuple) -> dict[str, list[int]]:
    """{data file: deleted ordinals} of one Iceberg position-delete spec
    (``("parquet", path)`` or ``("puffin", path, offset, size, referenced
    file)``, as ``ScanTask.pos_deletes`` holds them)."""
    kind, path, *blob = spec
    if kind == "puffin":
        from ..plans.puffin import read_dv_positions

        offset, size, ref = blob
        return {ref: list(read_dv_positions(path, offset, size))}
    import pyarrow.parquet as pq

    dt = pq.read_table(path, columns=["file_path", "pos"])
    out: dict[str, list[int]] = {}
    for fp, p in zip(dt.column("file_path").to_pylist(), dt.column("pos").to_pylist()):
        out.setdefault(_strip_file_scheme(fp), []).append(p)
    return out


def _deleted_ordinals(path: str, specs: list) -> set:
    """Row ordinals of the ORIGINAL file at ``path`` that ``specs`` delete."""
    me = _strip_file_scheme(path)
    dead: set = set()
    for spec in specs:
        if spec[0] == "dv":
            from ..plans.roaring import deserialize_rba, read_dv_descriptor

            dead.update(deserialize_rba(read_dv_descriptor(*spec[1:])))
        elif spec[0] != "puffin" or spec[-1] == me:  # a DV names its one file
            dead.update(position_deletes(spec).get(me, ()))
    return dead


def read_task(task: ScanTask):
    """The executor pipeline of one ``ScanTask`` as a pyarrow Table in the
    task's schema (plus a trailing ``_row_id`` when ``row_id`` is set), or
    None when there is nothing to read."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import StructType

    # compat open: VARIANT-bearing files carry a logical type this
    # container's pyarrow cannot parse (plans/variant.py)
    from ..plans.variant import open_parquet_compat, variant_to_arrow

    if task.path is None:  # empty-snapshot sentinel
        return None
    pf = open_parquet_compat(task.path)
    meta = pf.metadata
    groups = list(range(meta.num_row_groups))
    if task.bounds:
        groups = select_row_groups(meta, task.bounds)
    if task.equalities and groups:
        groups = select_row_groups_bloom(task.path, meta.num_row_groups, groups, task.equalities)
    if not groups:
        return None
    tbl = pf.read_row_groups(groups)
    rids = None

    def apply(mask: list) -> None:
        nonlocal tbl, rids
        tbl = tbl.filter(pa.array(mask))
        if rids is not None:
            rids = [r for r, k in zip(rids, mask) if k]

    # merge-on-read step 1: the ordinals of the ORIGINAL file — with row
    # groups skipped each kept group's rows re-base by its start offset.
    # Row ids resolve on them before any row is masked away.
    if task.pos_deletes or task.keep is not None or task.row_id:
        sizes = [meta.row_group(g).num_rows for g in range(meta.num_row_groups)]
        starts = [0, *accumulate(sizes)]
        ords = [starts[g] + i for g in groups for i in range(sizes[g])]
        if task.row_id:
            col, base = task.row_id
            mat = tbl.column(col).to_pylist() if col in tbl.column_names else [None] * len(ords)
            rids = [
                m if m is not None else (None if base is None else base + o)
                for m, o in zip(mat, ords)
            ]
        dead = _deleted_ordinals(task.path, task.pos_deletes) if task.pos_deletes else set()
        keep = None if task.keep is None else set(task.keep)
        if dead or keep is not None:
            apply([o not in dead and (keep is None or o in keep) for o in ords])
    # merge-on-read step 2: equality deletes as a local anti-join per
    # delete key-set (delete files are metadata-sized next to data)
    for dpath, keys in task.eq_deletes or ():
        if tbl.num_rows == 0:
            break
        if not all(c in tbl.column_names for c in keys):
            continue  # key column absent: equality can never match
        dt = pq.read_table(dpath, columns=keys)
        dead_keys = set(zip(*[dt.column(c).to_pylist() for c in keys]))
        if dead_keys:
            rows = zip(*[tbl.column(c).to_pylist() for c in keys])
            apply([r not in dead_keys for r in rows])
    n = tbl.num_rows
    have = set(tbl.column_names)
    pvals = task.partition_values or {}
    names = task.names or {}
    defaults = task.defaults or {}
    st = StructType.fromJson(json.loads(task.schema_json))
    arrays = []
    for f in st.fields:
        at = to_arrow_type(f.dataType)
        w = names.get(f.name, f.name)
        if f.name in pvals:
            # constant per file by definition: overlay from the log
            arrays.append(pa.array([pvals[f.name]] * n, type=at))
        elif w is not None and w in have:
            col = tbl.column(w).combine_chunks()
            if type(f.dataType).__name__ == "VariantType":
                # shredded/unshredded variant → Spark's (value,
                # metadata) binaries, reconstructed per spec
                arrays.append(variant_to_arrow(col, at))
            else:
                arrays.append(col if col.type == at else col.cast(at))
        elif w is None and f.name in defaults:
            # absent from this file's write schema → the v3
            # initial-default, not null (Iceberg spec §Default values)
            arrays.append(pa.array([defaults[f.name]] * n, type=at))
        else:  # the file predates the column: all-null
            arrays.append(pa.nulls(n, type=at))
    out_names = st.fieldNames()
    if rids is not None:
        arrays.append(pa.array(rids, type=pa.int64()))
        out_names.append("_row_id")
    return pa.Table.from_arrays(arrays, names=out_names)


class LiteReader(DataSourceReader):
    """Plans through the format's ``plan`` and reads every ``ScanTask``
    with the one executor pipeline below."""

    def __init__(self, source: LiteDataSource):
        self.fmt = type(source)
        self.table = source.open()
        self.version = source.version()
        self.partition_filter: dict = {}  # partition column → pushed value
        self.bounds: dict = {}  # column → folded (lo, hi)
        self.equalities: list = []  # [(column, value)] from pushed EqualTo

    def partitions(self):
        # the Python Data Source API requires >= 1 partition; an empty
        # snapshot (everything deleted/overwritten away) plans one sentinel
        return self.fmt.plan(self) or [ScanTask()]

    def read(self, task: ScanTask):
        tbl = read_task(task)
        if tbl is not None:
            yield from tbl.to_batches()


_CMP = (EqualTo, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual)


class LitePushdownReader(LiteReader):
    """Opt-in pushdown flavor (option pushdown=true + the
    spark.sql.python.filterPushdown.enabled session conf)."""

    def pushFilters(self, filters):
        exact, prunable = self.fmt.partition_columns(self)
        for f in filters:
            attr = getattr(f, "attribute", ())
            col = attr[0] if len(attr) == 1 else None
            if isinstance(f, EqualTo) and col in prunable:
                self.partition_filter[col] = f.value
                if col in exact:
                    continue  # exact at file granularity: consumed
            elif isinstance(f, _CMP) and col:
                lo, hi = self.bounds.get(col, (None, None))
                if isinstance(f, (EqualTo, GreaterThan, GreaterThanOrEqual)):
                    lo = f.value if lo is None else max(lo, f.value)
                if isinstance(f, (EqualTo, LessThan, LessThanOrEqual)):
                    hi = f.value if hi is None else min(hi, f.value)
                self.bounds[col] = (lo, hi)
                if isinstance(f, EqualTo):
                    self.equalities.append((col, f.value))
            yield f  # stats pruning is file-level: Spark re-applies rows


class LiteMetaReader(DataSourceReader):
    """Metadata-table flavor: ONE partition whose executor builds the rows
    from the log itself (the pure-Python row builders shared with the
    tables' ``*_df`` methods) — metadata is O(commits)/O(files), so a
    single task is the right plan, and SQL users get e.g. ``DESCRIBE
    HISTORY`` through a plain temp view."""

    def __init__(self, source: LiteDataSource):
        self.fmt = type(source)
        self.task = MetaTask(source.root(), source.options["table"], source.version())

    def partitions(self):
        return [self.task]

    def read(self, task: MetaTask):
        t = self.fmt.table_class()(None, task.root)
        yield from self.fmt.META[task.table][1](t, task.version)


class LiteDataSource(DataSource):
    """Shared front of the lite sources. A subclass names its table
    class, its time-travel option, its metadata tables ``{table: (DDL
    attribute, row builder)}``, and supplies ``schema_of`` and ``plan``."""

    FORMAT = ""
    TABLE = ("", "")  # (plans module, table class)
    VERSION_OPTION = "version"
    META: dict = {}

    @classmethod
    def name(cls) -> str:
        return cls.FORMAT

    @classmethod
    def table_class(cls):
        module, cls_name = cls.TABLE
        return getattr(importlib.import_module(f"..plans.{module}", __package__), cls_name)

    def root(self) -> str:
        root = self.options.get("path")
        if not root:
            raise ValueError(f"{self.FORMAT} requires .load(<table root>)")
        return root

    def open(self):
        return self.table_class()(None, self.root())

    def version(self) -> int | None:
        v = self.options.get(self.VERSION_OPTION)
        return int(v) if v is not None else None

    def schema(self) -> str:
        t = self.open()
        meta_table = self.options.get("table")
        if meta_table is not None:
            if meta_table not in self.META:
                raise ValueError(f"unknown metadata table {meta_table!r}")
            return getattr(t, self.META[meta_table][0])
        return schema_ddl(self.schema_of(t, self.version()))

    def reader(self, schema) -> DataSourceReader:
        if self.options.get("table") is not None:
            return LiteMetaReader(self)
        if str(self.options.get("pushdown", "")).lower() == "true":
            return LitePushdownReader(self)
        return LiteReader(self)

    @staticmethod
    def partition_columns(r: LiteReader) -> tuple[set, set]:
        """(file-exact, prunable) partition columns for pushed equalities."""
        return set(), set()


class DeltaLiteDataSource(LiteDataSource):
    """``spark.read.format("delta_lite").option("version", 2).load(root)``;
    ``option("table", "history"|"files")`` selects a METADATA table instead
    of data (the SQL surface of DESCRIBE HISTORY / the files table)."""

    FORMAT = "delta_lite"
    TABLE = ("deltalog", "DeltaTable")
    META = {
        "history": ("HISTORY_DF_DDL", lambda t, v: t._history_rows()),
        "files": ("FILES_DF_DDL", lambda t, v: t._files_rows(v)),
    }

    @staticmethod
    def schema_of(t, version):
        from pyspark.sql.types import StructType

        return StructType.fromJson(json.loads(t.snapshot(version)[1]["schemaString"]))

    @staticmethod
    def partition_columns(r):
        cols = set(r.table.partition_columns(r.version))
        return cols, cols

    @staticmethod
    def plan(r) -> list[ScanTask]:
        t = r.table
        adds, meta = t.snapshot(r.version)
        adds = t._prune(adds, meta, r.partition_filter, r.bounds)
        part = set(meta.get("partitionColumns") or [])
        phys = t._phys_map(meta)
        # row-group pruning needs data columns: partition columns are
        # constant per file and not stored in it
        rg_bounds = {phys.get(c, c): b for c, b in r.bounds.items() if c not in part}
        rg_eq = [(phys.get(c, c), v) for c, v in r.equalities if c not in part]
        task = delta_task_factory(t, meta)
        return [task(a, bounds=rg_bounds or None, equalities=rg_eq or None) for a in adds]


def delta_task_factory(t, meta: dict):
    """``task(action, **fields)``: the ScanTask reading the data or
    ``_change_data`` file of a Delta add/remove/cdc action under ``meta``'s
    schema — physical names, its partition values cast from the log's
    strings, and its deletion vector."""
    from pyspark.sql.types import StructType

    schema_json = meta["schemaString"]
    part = set(meta.get("partitionColumns") or [])
    phys = t._phys_map(meta)
    pfields = [
        (f.name, phys.get(f.name, f.name), f.dataType.simpleString())
        for f in StructType.fromJson(json.loads(schema_json)).fields
        if f.name in part
    ]
    names = {c: p for c, p in phys.items() if c != p} or None

    def task(a: dict, **fields) -> ScanTask:
        pv = a.get("partitionValues") or {}
        dv = a.get("deletionVector")
        return ScanTask(
            t._abs_path(a["path"]),
            schema_json,
            # a key absent from partitionValues leaves the column to the
            # file (a _change_data file stores every column)
            partition_values={c: cast_partition_value(pv[p], ty) for c, p, ty in pfields if p in pv},
            names=names,
            pos_deletes=[("dv", dv, t.root)] if dv else None,
            **fields,
        )

    return task


class IcebergLiteDataSource(LiteDataSource):
    """``spark.read.format("iceberg_lite").option("snapshot_index", 1)
    .load(root)`` after registration; ``option("table", "snapshots")``
    (or files/manifests/refs/partitions) selects a METADATA table."""

    FORMAT = "iceberg_lite"
    TABLE = ("iceberg", "IcebergTable")
    VERSION_OPTION = "snapshot_index"
    META = {
        "snapshots": ("SNAPSHOTS_DF_DDL", lambda t, v: t._snapshots_rows()),
        "files": ("FILES_DF_DDL", lambda t, v: t._files_rows()),
        "manifests": ("MANIFESTS_DF_DDL", lambda t, v: t._manifests_rows()),
        "refs": ("REFS_DF_DDL", lambda t, v: t._refs_rows()),
        "partitions": ("PARTITIONS_DF_DDL", lambda t, v: t._partitions_rows()),
    }

    @staticmethod
    def schema_of(t, index):
        return t.schema(index=index)

    @staticmethod
    def partition_columns(r):
        # a partition EqualTo is file-EXACT only when every spec partitions
        # by the column; under partition evolution old-spec files can't be
        # tuple-pruned, so the filter prunes what it can and is handed back
        per_spec = [
            {pf["name"] for pf in r.table.partition_fields(sp["spec-id"])}
            for sp in r.table.metadata()["partition-specs"]
        ]
        return (set.intersection(*per_spec), set.union(*per_spec)) if per_spec else (set(), set())

    @staticmethod
    def plan(r) -> list[ScanTask]:
        t, index = r.table, r.version
        entries, _audit = t.files(
            index=index, partition_filter=r.partition_filter or None, bounds=r.bounds or None
        )
        md = t.metadata()
        # merge-on-read: ship each data file's APPLICABLE delete files so
        # the executor applies them locally — equality deletes with a
        # strictly newer sequence number, position deletes with >=
        id_to_name = {f["id"]: f["name"] for s in md["schemas"] for f in s["fields"]}
        dels = t.delete_entries(index=index)
        eq_dels = [
            (d["seq"], _strip_file_scheme(d["data_file"]["file_path"]),
             [id_to_name[i] for i in d["equality_ids"]])
            for d in dels
            if d.get("content") == 2
        ]
        pos_dels = [(d["seq"], _position_delete_spec(d)) for d in dels if d.get("content") == 1]
        task_for = iceberg_task_factory(t, index)
        tasks = []
        for e in entries:
            task = task_for(
                e,
                pos_deletes=[s for seq, s in pos_dels if seq >= e["__seq"]],
                eq_deletes=[(p, k) for seq, p, k in eq_dels if seq > e["__seq"]],
            )
            # bounds are keyed by TARGET names; row-group stats carry the
            # file's write-time names. Identity-partition columns are
            # constant per file and renamed-away fields have no stats.
            wnames = {
                c: (task.names or {}).get(c, c) for c in r.bounds if c not in task.partition_values
            }
            task.bounds = {w: r.bounds[c] for c, w in wnames.items() if w is not None} or None
            tasks.append(task)
        return tasks


def _position_delete_spec(d: dict) -> tuple:
    """The ``pos_deletes`` spec of an Iceberg position-delete entry."""
    dfm = d["data_file"]
    if (dfm.get("file_format") or "").upper() == "PUFFIN":
        # v3 deletion vector: the executor decodes the Roaring bitmap
        # (plans/puffin.py) iff it references THIS file
        return ("puffin", _strip_file_scheme(dfm["file_path"]),
                int(dfm["content_offset"]), int(dfm["content_size_in_bytes"]),
                _strip_file_scheme(dfm["referenced_data_file"]))
    return ("parquet", _strip_file_scheme(dfm["file_path"]))


def iceberg_task_factory(t, index: int | None = None):
    """``task(entry, **fields)``: the ScanTask reading an Iceberg data-file
    entry under the schema of snapshot ``index`` (default current) — its
    identity-partition values decoded from the manifest tuple, its
    write-time column names, and the v3 initial-defaults."""
    from ..plans.iceberg import default_python_value, partition_python_value

    md = t.metadata()
    schema_json = t.schema(index=index).json()
    # identity fields only: bucket/truncate tuple values are derived,
    # never overlaid — the source columns are in the file
    identity = {
        sp["spec-id"]: [
            (pf["name"], pf["ice_type"]) for pf in t.partition_fields(sp["spec-id"])
            if pf["transform"] == "identity"
        ]
        for sp in md["partition-specs"]
    }
    # id-based evolution: recover each file's write-time schema from its
    # sequence number and map target → write-time names when they
    # diverge (rename/drop) — mirrors IcebergTable._read_data_entries
    tgt_sid = t._schema_id_for(index=index)
    schemas = {s["schema-id"]: s for s in md["schemas"]}
    tgt_fields = schemas[tgt_sid]["fields"]
    seq_to_sid = {s["sequence-number"]: s.get("schema-id", tgt_sid) for s in md["snapshots"]}

    def names_for(e: dict) -> dict | None:
        wsid = seq_to_sid.get(e.get("__seq"), tgt_sid)
        if wsid == tgt_sid or wsid not in schemas:
            return None
        w_by_id = {f["id"]: f["name"] for f in schemas[wsid]["fields"]}
        m = {f["name"]: w_by_id.get(f["id"]) for f in tgt_fields}
        return None if all(k == v for k, v in m.items()) else m

    defaults = {
        f["name"]: default_python_value(f["type"], f["initial-default"])
        for f in tgt_fields
        if f.get("initial-default") is not None
    } or None

    def task(e: dict, **fields) -> ScanTask:
        # the file's OWN spec's partition columns: under partition
        # evolution, columns outside it come straight from the file
        pv = e["partition"]
        return ScanTask(
            _strip_file_scheme(e["file_path"]),
            schema_json,
            partition_values={
                c: partition_python_value(ty, pv.get(c)) for c, ty in identity.get(e.get("__spec", 0), [])
            },
            names=names_for(e),
            defaults=defaults,
            **fields,
        )

    return task


LITE_SOURCES = (DeltaLiteDataSource, IcebergLiteDataSource)


def lite_source_for(table) -> type[LiteDataSource]:
    """The lite source that reads ``table`` (a DeltaTable or IcebergTable),
    matched by class name so no table module is imported."""
    names = {c.__name__ for c in type(table).__mro__}
    return next(ds for ds in LITE_SOURCES if ds.TABLE[1] in names)
