"""Streaming change feeds ``delta_cdc`` and ``iceberg_cdc``:
``spark.dataSource.register(DeltaCdcDataSource)`` then
``spark.readStream.format("delta_cdc").load(<table root>)`` emits one row
per table row that each commit (Delta) or snapshot (Iceberg) adds or
removes, so a pipeline SUBSCRIBES to a table other engines write instead
of rescanning it (the reference's only incremental story is a scheduled
full re-run, RM:154-159). The two formats share one core:

- a small per-format planner turns each commit/snapshot of an offset range
  into ``(ScanTask, change_type)`` pairs;
- every row is read by ``lite_source.read_task``, the pipeline of the
  ``*_lite`` batch sources, so deletion vectors, position deletes,
  write-time column names, partition overlay and null-fill are decided in
  one place. A column absent from the schema in effect at a version
  arrives null, even where the file carries it;
- a row is the table's current columns, then the format's tags, then (on a
  table with row ids) ``_row_id``.

Offsets are Delta versions (``{"version": v}``) or chronological
Iceberg snapshot indexes (``{"index": i}``): a committed micro-batch covers
an exact range, so restart and replay are exactly-once.

Change types per format:

- Delta: ``add``/``remove`` from a commit's own actions (a DV commit's
  remove carries the prior DV and its re-add the new one, so the pair nets
  to the newly deleted rows), or, for a commit with ``cdc`` actions, its
  ``_change_data`` rows under their own ``_change_type``
  (``DeltaTable.change_commits`` holds the rules);
- Iceberg: ``add``/``remove`` from the adjacent-snapshot file diff;
  ``delete_key`` rows (key columns, the rest null) from new equality-delete
  files; ``delete_row`` rows (the full rows) from new position deletes and
  deletion vectors — of a superseding DV only the newly dead rows.

The SimpleDataSourceStreamReader reads driver-side by design; the offset
and planning logic carry over to a partition-planned reader unchanged.
"""

from __future__ import annotations

import dataclasses
import datetime
import itertools
import json
import os
import shutil
import tempfile

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

from .lite_source import (
    DeltaLiteDataSource,
    IcebergLiteDataSource,
    ScanTask,
    _position_delete_spec,
    _strip_file_scheme,
    delta_task_factory,
    iceberg_task_factory,
    position_deletes,
    read_task,
    schema_ddl,
)


def _null_fill(task: ScanTask, live: set) -> None:
    """Read the task's columns outside ``live`` (the schema in effect at
    its version) as null."""
    dead = [f["name"] for f in json.loads(task.schema_json)["fields"] if f["name"] not in live]
    if dead:
        task.names = {**(task.names or {}), **dict.fromkeys(dead)}
        task.partition_values = {
            c: v for c, v in (task.partition_values or {}).items() if c in live
        }
        task.defaults = {c: v for c, v in (task.defaults or {}).items() if c in live}


class ChangeFeedReader(SimpleDataSourceStreamReader):
    def __init__(self, source: ChangeFeedSource):
        self.fmt = type(source)
        self.options = source.options
        self.table = source.open()
        self.key = self.fmt.OFFSET_KEY
        self.row_ids = self.fmt.row_ids(self.table)
        self.state: dict = {}  # the planner's memo across micro-batches

    def initialOffset(self) -> dict:
        return {self.key: -1}  # before the first commit: it is included

    def read(self, start: dict):
        latest = self.fmt.latest(self.table)
        if latest <= start[self.key]:
            return iter(()), start
        return iter(self._rows(start[self.key], latest)), {self.key: latest}

    def readBetweenOffsets(self, start: dict, end: dict):
        # replay of a committed range (recovery): commits and snapshots
        # are immutable, so the range re-serves identically
        return iter(self._rows(start[self.key], end[self.key]))

    def _rows(self, lo: int, hi: int) -> list[tuple]:
        """Rows of the versions in (lo, hi], as a list: the simple-reader
        protocol pickles the batch and generators do not pickle."""
        out = []
        for version, tags, live, pairs in self.fmt.changes(self, lo, hi):
            for task, change_type in pairs:
                if live is not None:
                    _null_fill(task, live)
                tbl = read_task(task)
                if tbl is None:
                    continue
                cols = [c.to_pylist() for c in tbl.columns]
                n = len(cols) - (task.row_id is not None)
                types = itertools.repeat(change_type)
                if change_type is None:  # per row: the task's last column
                    n -= 1
                    types = cols.pop(n)
                # a task without row ids still fills the column on a table
                # that has them (an equality delete's rows are never read)
                fill = (None,) if self.row_ids and task.row_id is None else ()
                for row, ct in zip(zip(*cols), types):
                    out.append((*row[:n], version, ct, *tags, *row[n:], *fill))
        return out


class ChangeFeedSource(DataSource):
    """Shared front of the feeds. A subclass names the lite source of
    its table format, its offset key and its tag columns, and supplies
    ``latest`` and ``changes``; ``changes(reader, lo, hi)`` yields
    ``(version, tags after change_type, live columns or None, [(ScanTask,
    change_type)])`` per version in (lo, hi]. A None change_type takes
    each row's type from the task's last column."""

    FORMAT = ""
    LITE: type  # the *_lite source of the same table format
    OFFSET_KEY = "version"
    TAGS = ""

    @classmethod
    def name(cls) -> str:
        return cls.FORMAT

    def open(self):
        root = self.options.get("path")
        if not root:
            raise ValueError(f"{self.FORMAT} requires .load(<table root>)")
        return self.LITE.table_class()(None, root)

    def tags(self) -> str:
        return self.TAGS

    def schema(self) -> str:
        t = self.open()
        out = f"{schema_ddl(self.LITE.schema_of(t, None))}, {self.tags()}"
        # row ids ride LAST: consumers comparing whole rows must name columns
        return f"{out}, _row_id bigint" if self.row_ids(t) else out

    @staticmethod
    def row_ids(t) -> bool:
        return False

    def simpleStreamReader(self, schema) -> ChangeFeedReader:
        return ChangeFeedReader(self)


def _as_timestamp(options) -> bool:
    return str(options.get("timestampType", "")).lower() == "true"


class DeltaCdcDataSource(ChangeFeedSource):
    """Tags: commit_version, change_type, schema_version (the commit whose
    metaData governs the row) and ``_commit_timestamp`` (the commit's
    in-commit timestamp, else its file mtime; epoch millis, or a
    TimestampType with ``option("timestampType", "true")``). A
    row-tracking table adds ``_row_id``: the materialized id, else the
    action's baseRowId + position (null for ``_change_data`` inserts)."""

    FORMAT = "delta_cdc"
    LITE = DeltaLiteDataSource

    def tags(self) -> str:
        ts = "timestamp" if _as_timestamp(self.options) else "bigint"
        return (
            "commit_version bigint, change_type string, "
            f"schema_version bigint, _commit_timestamp {ts}"
        )

    @staticmethod
    def row_ids(t) -> bool:
        return t._rt_cols(t.snapshot()[1]) is not None

    @staticmethod
    def latest(t) -> int:
        return t.latest_version()

    @staticmethod
    def changes(r, lo: int, hi: int):
        t = r.table
        if "plan" not in r.state:  # the stream's schema: the current one
            meta = t.snapshot()[1]
            # a _change_data file also stores each row's _change_type
            cdc = json.loads(meta["schemaString"])
            cdc["fields"].append(
                {"name": "_change_type", "type": "string", "nullable": True, "metadata": {}}
            )
            # files and partitionValues are keyed by physical names, stable
            # across renames, so the current map covers every replayed version
            r.state["plan"] = (
                t._phys_map(meta), t._rt_cols(meta), delta_task_factory(t, meta), json.dumps(cdc)
            )
        phys, rt, task_for, cdc_json = r.state["plan"]

        def task(a: dict) -> ScanTask:
            return task_for(a, row_id=(rt[0], a.get("baseRowId")) if rt else None)

        # the metaData in effect: carried over from the previous batch
        at, eff = r.state.get("meta", (None, None))
        if at != lo:
            eff = t.meta_in_effect(lo) if lo >= 0 else None
        for v, meta, cdcs, adds, removes in t.change_commits(lo, hi):
            eff = (v, meta) if meta is not None else eff or t.meta_in_effect(v)
            live_phys = set(t._phys_map(eff[1]).values())
            ts = t._commit_timestamp(v)
            if _as_timestamp(r.options) and ts is not None:
                ts = datetime.datetime.fromtimestamp(ts / 1000.0, tz=datetime.timezone.utc)
            pairs = [
                (dataclasses.replace(task(c), schema_json=cdc_json), None)
                for c in sorted(cdcs, key=lambda x: x["path"])
            ]
            for acts, ct in ((adds, "add"), (removes, "remove")):
                pairs += [(task(a), ct) for a in sorted(acts, key=lambda x: x["path"])]
            live = {c for c, p in phys.items() if p in live_phys} | {"_change_type"}
            yield v, (eff[0], ts), live, pairs
        r.state["meta"] = (hi, eff)


def _snapshot_files(t, idx: int) -> tuple[dict, dict]:
    """({data file: entry}, {(delete file, blob offset): entry}) live in
    snapshot ``idx``: one Puffin file may hold several DV blobs, each its
    own entry."""
    if idx < 0:
        return {}, {}
    return (
        {_strip_file_scheme(e["file_path"]): e for e in t.files(index=idx)[0]},
        {
            (_strip_file_scheme(d["data_file"]["file_path"]), d["data_file"].get("content_offset")):
            d for d in t.delete_entries(index=idx)
        },
    )


class IcebergCdcDataSource(ChangeFeedSource):
    """Tags: snapshot_idx, change_type, schema_id (the snapshot's schema).
    A row-lineage table adds ``_row_id``: the materialized id, else the
    file's first_row_id + position (null for ``delete_key`` rows: an
    equality delete's matched rows are never read)."""

    FORMAT = "iceberg_cdc"
    LITE = IcebergLiteDataSource
    OFFSET_KEY = "index"
    TAGS = "snapshot_idx bigint, change_type string, schema_id int"

    @staticmethod
    def row_ids(t) -> bool:
        return t.metadata().get("next-row-id") is not None

    @staticmethod
    def latest(t) -> int:
        return len(t.snapshots()) - 1

    @staticmethod
    def changes(r, lo: int, hi: int):
        t = r.table
        md = t.metadata()
        schemas = {s["schema-id"]: s for s in md["schemas"]}
        cur_sid = md["current-schema-id"]
        schema_json = t.schema().json()
        # the chronological order _resolve_snapshot(index=...) uses
        snaps = sorted(t.snapshots(), key=lambda s: s["sequence-number"])
        task_for = iceberg_task_factory(t)
        lineage = md.get("next-row-id") is not None

        def task(e: dict, **fields) -> ScanTask:
            rid = ("_row_id", e.get("first_row_id")) if lineage else None
            return task_for(e, row_id=rid, **fields)

        prev, prev_dels = _snapshot_files(t, lo)
        for idx in range(lo + 1, hi + 1):
            cur, dels = _snapshot_files(t, idx)
            sid = snaps[idx].get("schema-id", cur_sid)
            live = None  # an unknown schema id: emit under the current one
            if sid in schemas:
                ids = {f["id"] for f in schemas[sid]["fields"]}
                live = {f["name"] for f in schemas[cur_sid]["fields"] if f["id"] in ids}
            pairs = [(task(cur[p]), "add") for p in sorted(cur.keys() - prev.keys())]
            pairs += [(task(prev[p]), "remove") for p in sorted(prev.keys() - cur.keys())]
            # a superseding DV holds the union of the old and new dead rows
            old_dv: dict[str, set] = {}
            for d in prev_dels.values():
                spec = _position_delete_spec(d)
                if spec[0] == "puffin":
                    for fp, ords in position_deletes(spec).items():
                        old_dv.setdefault(fp, set()).update(ords)
            for key in sorted(dels.keys() - prev_dels.keys()):
                d = dels[key]
                if d.get("content") != 1:
                    pairs.append((ScanTask(key[0], schema_json), "delete_key"))
                    continue
                for fp, ords in sorted(position_deletes(_position_delete_spec(d)).items()):
                    if fp in cur:  # else the file left in the same commit
                        keep = [o for o in ords if o not in old_dv.get(fp, ())]
                        pairs.append((task(cur[fp], keep=keep), "delete_row"))
            yield idx, (sid,), live, pairs
            prev, prev_dels = cur, dels


def drain_feed(spark, source: type[ChangeFeedSource], root: str, finish):
    """Drain ``source``'s feed of the table at ``root`` once
    (Trigger.availableNow) into a temporary parquet sink and return
    ``materialize(finish(feed))``; the sink and checkpoint are removed."""
    from ..registry import materialize

    spark.dataSource.register(source)
    base = tempfile.mkdtemp(prefix=f"{source.name()}_")
    sink = os.path.join(base, "sink")
    try:
        (
            spark.readStream.format(source.name())
            .load(root)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", os.path.join(base, "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        return materialize(finish(spark.read.parquet(sink)))
    finally:
        shutil.rmtree(base, ignore_errors=True)


def drain_exactly_once(stream_df, checkpoint: str, seen, commit) -> None:
    """Drain ``stream_df`` once (Trigger.availableNow) into a table sink
    exactly once: each micro-batch runs ``commit(batch_df, batch_id)``,
    which stamps the commit with the batch id, unless ``seen()`` (the last
    id the table's log recorded for this stream, or None) shows the batch
    already committed — a batch replayed after a crash-restart (same
    checkpoint → same batchId) is skipped instead of applied twice."""

    def _write(batch_df, batch_id: int) -> None:
        last = seen()
        if last is not None and last >= batch_id:
            return  # replayed batch: already committed
        commit(batch_df, batch_id)

    (
        stream_df.writeStream.foreachBatch(_write)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
