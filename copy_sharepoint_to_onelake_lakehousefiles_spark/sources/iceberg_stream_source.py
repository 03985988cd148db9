"""Streaming CDC source over Iceberg snapshots — the Iceberg twin of
``delta_stream_source``: ``spark.readStream.format("iceberg_cdc")
.load(<table root>)`` emits one row per data-file row entering or leaving
each snapshot, tagged (snapshot_idx, change_type ∈ {'add', 'remove',
'delete_key', 'delete_row'}, schema_id — the snapshot's schema; current
columns whose field id is absent from it arrive null).

Offsets are CHRONOLOGICAL SNAPSHOT INDEXES (snapshots ordered by sequence
number): a committed micro-batch covers an exact snapshot range, so
restart/replay is exactly-once by construction. Because Iceberg snapshots
are complete enumerations (not deltas), each batch diffs adjacent
snapshots' live file sets — O(changed files) when manifests are reused
(fast append), matching the incremental-scan design of Iceberg's own
``incremental read``.

Equality-delete files new in a snapshot surface as ``delete_key`` rows
carrying the key columns (other columns null) — the downstream
materializer applies them as retractions, the Flink-CDC consumption shape.
Position-delete files surface as ``delete_row`` rows carrying the FULL
deleted row (reconstructed by taking the listed ordinals from the
referenced data files) — positions name concrete rows, so the feed can be
exact where equality can only be key-scoped.

Scale: SimpleDataSourceStreamReader reads driver-side BY DESIGN (same note
as the delta/txtable sources); the partition-planned production flavor
keeps this module's offset logic unchanged.
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

from .lite_source import cast_partition_value


class IcebergCdcReader(SimpleDataSourceStreamReader):
    def __init__(self, options):
        from ..plans.iceberg import IcebergTable

        self.root = options.get("path")
        if not self.root:
            raise ValueError("iceberg_cdc requires .load(<table root>)")
        self._t = IcebergTable(None, self.root)
        self._fields: list[tuple[str, str]] | None = None
        self._part_cols: list[str] | None = None

    def _schema_fields(self):
        if self._fields is None:
            md = self._t.metadata()
            ice = next(
                s for s in md["schemas"] if s["schema-id"] == md["current-schema-id"]
            )
            self._fields = [(f["name"], f["type"]) for f in ice["fields"]]
            self._part_cols = [pf["name"] for pf in self._t.partition_fields()]
            self._tgt_ids = [f["id"] for f in ice["fields"]]
            self._schemas_by_id = {s["schema-id"]: s for s in md["schemas"]}
            self._seq_to_sid = {
                s["sequence-number"]: s.get("schema-id", md["current-schema-id"])
                for s in md["snapshots"]
            }
            self._tgt_sid = md["current-schema-id"]
            # v3 row lineage × CDC: every change row carries its stable
            # _row_id (materialized column wins, else first_row_id +
            # position); equality deletes ride null — the spec says
            # lineage cannot be carried through them
            self._lineage = md.get("next-row-id") is not None
        return self._fields, self._part_cols

    def _write_names(self, entry: dict) -> dict:
        """Current-name → this file's write-time column name (id-based;
        None = field id absent from the file → null)."""
        fields, _ = self._schema_fields()
        wsid = self._seq_to_sid.get(entry.get("__seq"), self._tgt_sid)
        if wsid == self._tgt_sid or wsid not in self._schemas_by_id:
            return {n: n for n, _t in fields}
        w_by_id = {
            f["id"]: f["name"] for f in self._schemas_by_id[wsid]["fields"]
        }
        return {
            n: w_by_id.get(i) for (n, _t), i in zip(fields, self._tgt_ids)
        }

    def _n_snapshots(self) -> int:
        return len(self._t.snapshots())

    def _live_ids_at(self, idx: int) -> tuple[int, set[int] | None]:
        """(schema-id, field ids present) in the schema of snapshot ``idx``.
        Current-schema columns whose field id is absent from that snapshot's
        schema are null-filled in its batch, and every row carries the
        schema-id — per-version schema emission (VERDICT r5 #4), the twin
        of delta_cdc's ``schema_version``."""
        self._schema_fields()
        # same chronological order _resolve_snapshot(index=...) uses
        snaps = sorted(self._t.snapshots(), key=lambda s: s["sequence-number"])
        sid = snaps[idx].get("schema-id", self._tgt_sid)
        sch = self._schemas_by_id.get(sid)
        if sch is None:
            return sid, None  # unknown id: emit under the current schema
        return sid, {f["id"] for f in sch["fields"]}

    def _rows_of_data_file(
        self,
        entry: dict,
        positions: list[int] | None = None,
        live_ids: set[int] | None = None,
    ):
        import pyarrow.parquet as pq

        fields, _part_cols = self._schema_fields()
        wnames = self._write_names(entry)
        tbl = pq.read_table(entry["file_path"].replace("file:", ""))
        # stable row ids are position-based: resolve them against the FULL
        # file before any ordinal subsetting
        rids: list | None = None
        if self._lineage:
            base = entry.get("first_row_id")
            mat = (
                tbl.column("_row_id").to_pylist()
                if "_row_id" in tbl.column_names
                else [None] * tbl.num_rows
            )
            pos_list = (
                sorted(positions) if positions is not None else range(tbl.num_rows)
            )
            rids = [
                mat[p]
                if mat[p] is not None
                else (base + p if base is not None else None)
                for p in pos_list
            ]
        if positions is not None:
            tbl = tbl.take(sorted(positions))
        names = set(tbl.column_names)
        n = tbl.num_rows
        pvals = entry.get("partition") or {}
        cols = []
        for (name, type_name), fid in zip(fields, self._tgt_ids):
            wname = wnames.get(name, name)
            if live_ids is not None and fid not in live_ids:
                # field id absent from THIS snapshot's schema: null-fill
                # (a column added later, or dropped-then-re-added, must not
                # surface under an old snapshot's batch)
                cols.append([None] * n)
                continue
            if name in pvals:
                # overlay from THIS entry's partition tuple (keyed by the
                # spec the file was written under — partition evolution)
                cols.append([cast_partition_value(pvals.get(name), type_name)] * n)
            elif wname is not None and wname in names:
                cols.append(tbl.column(wname).to_pylist())
            else:
                cols.append([None] * n)
        if rids is not None:
            cols.append(rids)
        return zip(*cols) if cols else iter(())

    def _rows_of_position_delete(
        self, d: dict, cur: dict, live_ids=None, prev_dv_pos: dict | None = None
    ):
        """Reconstruct the ACTUAL deleted rows of a position-delete file:
        read its (file_path, pos) pairs, then take those ordinals from each
        referenced live data file — richer CDC than equality's key-only
        retraction, possible because positions name concrete rows. A v3
        deletion vector (PUFFIN) is the same thing with the pairs encoded
        as a Roaring bitmap over ONE referenced file."""
        import pyarrow.parquet as pq

        by_file: dict[str, list[int]] = {}
        dfm = d["data_file"]
        if (dfm.get("file_format") or "").upper() == "PUFFIN":
            from ..plans.puffin import read_dv_positions

            ref = dfm["referenced_data_file"].replace("file:", "")
            poss = read_dv_positions(
                dfm["file_path"].replace("file:", ""),
                int(dfm["content_offset"]),
                int(dfm["content_size_in_bytes"]),
            )
            # a superseding DV is the UNION of old+new dead rows; the feed
            # must emit only the rows that died in THIS snapshot
            old = (prev_dv_pos or {}).get(ref, set())
            by_file[ref] = [p for p in poss if p not in old]
        else:
            dt = pq.read_table(
                dfm["file_path"].replace("file:", ""),
                columns=["file_path", "pos"],
            )
            for fp, p in zip(
                dt.column("file_path").to_pylist(), dt.column("pos").to_pylist()
            ):
                by_file.setdefault(fp.replace("file:", ""), []).append(p)
        for fp in sorted(by_file):
            entry = cur.get(fp)
            if entry is None:
                continue  # file left the snapshot in the same commit
            yield from self._rows_of_data_file(
                entry, positions=by_file[fp], live_ids=live_ids
            )

    def _rows_of_delete_file(self, d: dict, live_ids: set[int] | None = None):
        import pyarrow.parquet as pq

        fields, _ = self._schema_fields()
        tbl = pq.read_table(d["data_file"]["file_path"].replace("file:", ""))
        names = set(tbl.column_names)
        n = tbl.num_rows
        cols = []
        for (name, _type), fid in zip(fields, self._tgt_ids):
            if (live_ids is not None and fid not in live_ids) or name not in names:
                cols.append([None] * n)
            else:
                cols.append(tbl.column(name).to_pylist())
        if self._lineage:
            # spec §Row Lineage: an equality delete's matched rows are
            # never read, so their ids are unknowable here
            cols.append([None] * n)
        return zip(*cols) if cols else iter(())

    def _emit(self, i_from: int, i_to: int):
        """Rows for snapshot indexes in (i_from, i_to]; i_from=-1 includes
        the first snapshot."""
        for idx in range(i_from + 1, i_to + 1):
            cur = {e["file_path"]: e for e in self._t.files(index=idx)[0]}
            prev = (
                {e["file_path"]: e for e in self._t.files(index=idx - 1)[0]}
                if idx > 0
                else {}
            )
            prev_entries = (
                self._t.delete_entries(index=idx - 1) if idx > 0 else []
            )
            prev_dels = {d["data_file"]["file_path"] for d in prev_entries}
            # previous snapshot's DV dead sets per referenced file, so a
            # superseding (union) DV emits only its newly-dead rows
            prev_dv_pos: dict[str, set] = {}
            for d in prev_entries:
                dfm = d["data_file"]
                if (dfm.get("file_format") or "").upper() == "PUFFIN":
                    from ..plans.puffin import read_dv_positions

                    ref = dfm["referenced_data_file"].replace("file:", "")
                    prev_dv_pos.setdefault(ref, set()).update(
                        read_dv_positions(
                            dfm["file_path"].replace("file:", ""),
                            int(dfm["content_offset"]),
                            int(dfm["content_size_in_bytes"]),
                        )
                    )
            sid, live_ids = self._live_ids_at(idx)
            self._schema_fields()  # ensure self._lineage is resolved
            lineage = self._lineage

            def _shape(row: tuple, ct: str):
                # _row_id rides LAST (trailing-column convention) even
                # though the per-file readers append it inside `row`
                if lineage:
                    *data, rid = row
                    return (*data, idx, ct, sid, rid)
                return (*row, idx, ct, sid)

            for p in sorted(set(cur) - set(prev)):
                for row in self._rows_of_data_file(cur[p], live_ids=live_ids):
                    yield _shape(row, "add")
            for p in sorted(set(prev) - set(cur)):
                for row in self._rows_of_data_file(prev[p], live_ids=live_ids):
                    yield _shape(row, "remove")
            for d in sorted(
                self._t.delete_entries(index=idx),
                key=lambda d: d["data_file"]["file_path"],
            ):
                if d["data_file"]["file_path"] in prev_dels:
                    continue
                if d.get("content") == 1:  # position delete / DV: full rows
                    for row in self._rows_of_position_delete(
                        d, cur, live_ids, prev_dv_pos
                    ):
                        yield _shape(row, "delete_row")
                else:  # equality delete: key columns only
                    for row in self._rows_of_delete_file(d, live_ids):
                        yield _shape(row, "delete_key")

    def initialOffset(self) -> dict:
        return {"index": -1}

    def read(self, start: dict):
        latest = self._n_snapshots() - 1
        if latest <= start["index"]:
            return iter(()), start
        rows = list(self._emit(start["index"], latest))
        return iter(rows), {"index": latest}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(list(self._emit(start["index"], end["index"])))


class IcebergCdcDataSource(DataSource):
    """Register with ``spark.dataSource.register(IcebergCdcDataSource)``,
    then ``spark.readStream.format("iceberg_cdc").load(root)``."""

    @classmethod
    def name(cls) -> str:
        return "iceberg_cdc"

    def schema(self) -> str:
        from ..plans.iceberg import IcebergTable

        root = self.options.get("path")
        if not root:
            raise ValueError("iceberg_cdc requires .load(<table root>)")
        t = IcebergTable(None, root)
        st = t.schema()
        cols = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in st.fields)
        out = f"{cols}, snapshot_idx bigint, change_type string, schema_id int"
        if t.metadata().get("next-row-id") is not None:
            # row lineage × CDC: every change row carries its stable id
            # (trailing column — consumers comparing whole rows must name
            # columns, same contract as schema_id)
            out += ", _row_id bigint"
        return out

    def simpleStreamReader(self, schema) -> IcebergCdcReader:
        return IcebergCdcReader(self.options)
