"""A custom STREAMING sink: the reference's per-file audit log line
(`# COPY: ... -> ...`, NB:299) as a transactional streaming JSONL sink.

`df.writeStream.format("audit_jsonl")` lands each micro-batch's rows as
task-scoped JSONL files plus a per-batch entry in a `_commits` ledger,
written ONLY after every task of the batch succeeded — so a reader that
honors the ledger never sees uncommitted rows, and replayed batches (task
retry after failure) overwrite idempotently by (batch_id, task) file name.

Beside batch read (graph_manifest) and stream read (events_replay), this
is the engine's custom stream write, on the same public Data Source API.
The copy itself is a transformation (`plans/copy_plan.execute_copy`),
not a batch write source.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql.datasource import DataSource, DataSourceStreamWriter, WriterCommitMessage


@dataclass
class AuditCommit(WriterCommitMessage):
    files: list = field(default_factory=list)
    n_rows: int = 0


class AuditJsonlStreamWriter(DataSourceStreamWriter):
    def __init__(self, options):
        import uuid

        self.path = options.get("path")
        if not self.path:
            raise ValueError("audit_jsonl sink requires a path")
        # Per-writer (per-run) id baked into every filename: taskAttemptId
        # restarts from 0 in a new application, so (part, attempt) alone
        # can collide with a file an earlier run's committed ledger entry
        # still references — a replay would overwrite committed data. The
        # run id makes names collision-free across restarts; within a run,
        # the attempt id keeps retried tasks from half-overwriting a live
        # file.
        self.run_id = uuid.uuid4().hex[:12]

    def write(self, iterator) -> AuditCommit:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        part, attempt = ctx.partitionId(), ctx.taskAttemptId()
        os.makedirs(self.path, exist_ok=True)
        fname = os.path.join(
            self.path, f"run-{self.run_id}-part-{part}-attempt-{attempt}.jsonl"
        )
        msg = AuditCommit()
        with open(fname, "w") as f:
            for row in iterator:
                f.write(json.dumps(row.asDict()) + "\n")
                msg.n_rows += 1
        msg.files.append(fname)
        return msg

    def commit(self, messages, batchId: int) -> None:
        files, total = [], 0
        for m in messages:
            if m is None:
                continue
            files.extend(m.files)
            total += m.n_rows
        ledger = os.path.join(self.path, "_commits")
        os.makedirs(ledger, exist_ok=True)
        entry = {"batch_id": batchId, "files": files, "n_rows": total}
        with open(os.path.join(ledger, f"{batchId}.json"), "w") as f:
            f.write(json.dumps(entry))

    def abort(self, messages, batchId: int) -> None:
        for m in messages or []:
            if m is None:
                continue
            for fname in m.files:
                try:
                    os.remove(fname)
                except OSError:
                    pass


def read_committed(spark, path: str):
    """Reader honoring the ledger: only rows from committed batches."""
    import glob

    files: list[str] = []
    for entry in sorted(glob.glob(os.path.join(path, "_commits", "*.json"))):
        with open(entry) as f:
            files.extend(json.load(f)["files"])
    if not files:
        return spark.createDataFrame([], "src string")
    return spark.read.json(files)


class AuditJsonlDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "audit_jsonl"

    def schema(self) -> str:  # accept-anything sink; schema comes from input
        return "placeholder string"

    def streamWriter(self, schema, overwrite: bool) -> AuditJsonlStreamWriter:
        return AuditJsonlStreamWriter(self.options)
