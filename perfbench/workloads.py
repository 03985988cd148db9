"""The two workloads, each a closed loop with one client.

An operation is timed from the call into the program until its result is
complete. A loop runs a fixed number of whole passes, so every run measures
the same mix of operations.

With a ``Tracer`` the same operations run with spans around each call into
a layer and with a Spark job group set for each operation, so the event log
can be split by operation.
"""

from __future__ import annotations

import contextlib
import io
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

from fixtures import table_hash

RELATIONAL_QUERIES = [
    "q01_pricing_summary",
    "q02_top_customers_by_revenue",
    "q03_regional_revenue",
    "q06_top3_orders_per_customer",
    "q13_shipped_within_60d",
    "q14_purchase_prior_event",
    "q36_purchases_near_errors",
    "q39_price_percentiles",
    "q48_rolling_7day_revenue",
]
# Spark keeps a job group as these thread-local properties.
JOB_GROUP_PROPERTIES = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


class Tracer:
    """In-memory spans: name, start, end, parent span and the operation id
    shared by every span of one operation."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "op": self.op_id,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextlib.contextmanager
    def operation(self, sc, op_id: str, description: str):
        """One operation: its spans share ``op_id`` and its Spark jobs carry
        it as their job group. The group is cleared afterwards, so jobs run
        outside any operation (an untraced loop, a probe) stay ungrouped."""
        self.op_id = op_id
        sc.setJobGroup(op_id, description)
        try:
            with self.span("op"):
                yield
        finally:
            for key in JOB_GROUP_PROPERTIES:
                sc.setLocalProperty(key, None)
            self.op_id = None

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)


@dataclass
class PassResult:
    kind: str
    wall_s: float
    expected: int
    planned: int
    ok: int
    verified: int
    bytes: int
    server: dict  # the server's counters over this pass

    @property
    def failed_files(self) -> int:
        """Planned files not verified; all of them when the plan has the
        wrong size or the bytes served differ from the bytes written."""
        if (self.planned != self.expected or self.server["errors"]
                or self.bytes != self.server["bytes_served"]):
            return self.expected
        return self.expected - min(self.verified, self.ok, self.expected)


@dataclass
class LoopResult:
    wall_s: float = 0.0
    passes: int = 0
    attempted: int = 0
    failed: int = 0
    by_kind: dict[str, list[float]] = field(default_factory=dict)  # latencies per query / pass kind
    extra: dict = field(default_factory=dict)
    copy_passes: list[PassResult] = field(default_factory=list)

    def record(self, kind: str, seconds: float) -> None:
        self.by_kind.setdefault(kind, []).append(seconds)

    @property
    def latencies(self) -> list[float]:
        return [t for v in self.by_kind.values() for t in v]


def _log_failure(what: str) -> None:
    print(f"perfbench: {what} failed", file=sys.stderr)
    traceback.print_exc(file=sys.stderr)


def noop_write(df) -> None:
    """Execute ``df`` completely without collecting it."""
    df.write.mode("overwrite").format("noop").save()


class QueryWorkload:
    """``relational``: shuffled passes over a query mix on one ``sf_dir``.
    Results are checked against ``reference`` (query name → oracle hash)."""

    def __init__(self, spark, queries: dict, names: list[str], sf_dir: str,
                 tables: list[str], reference: dict[str, str], seed: int):
        self.spark = spark
        self.queries = queries
        self.names = names
        self.sf_dir = sf_dir
        self.tables = tables
        self.reference = reference
        self.seed = seed

    def check(self) -> tuple[int, list[str]]:
        """Collect every query once and compare its hash with the oracle's;
        run before the timed loop, it is also the warm-up."""
        bad = []
        for name in self.names:
            try:
                df = self.queries[name](self.spark, self.sf_dir)
                ok = table_hash(list(df.columns), [tuple(r) for r in df.collect()]) == self.reference[name]
            except Exception:  # noqa: BLE001 — counted as a failed check
                _log_failure(f"check of {name}")
                ok = False
            if not ok:
                bad.append(name)
        return len(self.names), bad

    def loop(self, n: int, tracer: Tracer | None = None) -> LoopResult:
        """``n`` passes, each over the whole mix in a seeded order."""
        res = LoopResult()
        load_s: list[float] = []
        probe_s = 0.0
        t_start = time.perf_counter()
        while res.passes < n:
            order = list(self.names)
            random.Random(f"{self.seed}/{res.passes}").shuffle(order)
            for name in order:
                res.attempted += 1
                try:
                    res.record(name, self._one(name, tracer, res.attempted))
                except Exception:  # noqa: BLE001 — the loop keeps going
                    _log_failure(name)
                    res.failed += 1
            if tracer is not None:
                t0 = time.perf_counter()
                load_s.extend(self._time_loads())
                probe_s += time.perf_counter() - t0
            res.passes += 1
        # the load probe is not part of the loop's time
        res.wall_s = time.perf_counter() - t_start - probe_s
        if tracer is not None:
            res.extra["tables.load_s"] = statistics.fmean(load_s) if load_s else 0.0
        return res

    def _one(self, name: str, tracer: Tracer | None, n: int) -> float:
        fn = self.queries[name]
        t0 = time.perf_counter()
        if tracer is None:
            noop_write(fn(self.spark, self.sf_dir))
            return time.perf_counter() - t0
        with tracer.operation(self.spark.sparkContext, f"op{n}-{name}", name):
            with tracer.span("registry.build"):
                df = fn(self.spark, self.sf_dir)
            with tracer.span("spark.plan"), contextlib.redirect_stdout(io.StringIO()):
                df.explain(mode="formatted")
            with tracer.span("spark.exec"):
                noop_write(df)
        return time.perf_counter() - t0

    def _time_loads(self) -> list[float]:
        from copy_sharepoint_to_onelake_lakehousefiles_spark import tables

        out = []
        for t in self.tables:
            t0 = time.perf_counter()
            tables.load(self.spark, self.sf_dir, t)
            out.append(time.perf_counter() - t0)
        return out


class CopyWorkload:
    """``copy_sync``: one operation is a cold pass into an empty destination
    followed by a re-run after the drive gains ~10% new files."""

    def __init__(self, spark, server, work_dir: str):
        self.spark = spark
        self.server = server
        self.tree = server.tree
        self.work_dir = work_dir

    def cycle(self, idx: int, tracer: Tracer | None = None) -> tuple[PassResult, PassResult]:
        dest = os.path.join(self.work_dir, f"dest{idx}")
        shutil.rmtree(dest, ignore_errors=True)
        os.makedirs(dest)
        self.tree.reset()
        try:
            cold = self._pass("cold", dest, self.tree.n_files, tracer, idx)
            added = self.tree.add_files(idx)
            rerun = self._pass("rerun", dest, len(added), tracer, idx)
        finally:
            self.tree.reset()
            shutil.rmtree(dest, ignore_errors=True)
        return cold, rerun

    def _pass(self, kind: str, dest: str, expected: int, tracer: Tracer | None,
              idx: int) -> PassResult:
        from pyspark.sql import functions as F

        from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.copy_plan import (
            execute_copy,
            plan_copy,
            verify_copy,
        )

        spark = self.spark
        self.server.counters.reset()

        def layer(name: str):
            return tracer.span(name) if tracer is not None else contextlib.nullcontext()

        op = (tracer.operation(spark.sparkContext, f"cycle{idx}-{kind}", f"copy {kind}")
              if tracer is not None else contextlib.nullcontext())
        t0 = time.perf_counter()
        with op:
            with layer("sources.graph_datasource.list"):
                manifest = spark.read.format("graph_manifest").load(self.server.root_url)
                if tracer is not None:
                    manifest = manifest.persist()
                    manifest.count()
            existing = None
            if any(os.scandir(dest)):
                existing = spark.read.format("graph_manifest").load(dest)
            with layer("plans.copy_plan.plan"):
                todo = plan_copy(manifest, existing)
                if tracer is not None:
                    todo = todo.persist()
                    todo.count()
            with layer("plans.copy_plan.copy"):
                result = execute_copy(todo, dest).persist()
                stats = result.agg(
                    F.count(F.lit(1)).alias("planned"),
                    F.count(F.when(F.col("status") == "ok", 1)).alias("ok"),
                    F.coalesce(F.sum("bytes"), F.lit(0)).alias("bytes"),
                ).collect()[0]
            with layer("plans.copy_plan.verify"):
                verified = (
                    verify_copy(spark, result, dest)
                    .where(F.col("verify_status") == "verified")
                    .count()
                )
        wall = time.perf_counter() - t0
        for df in (result, todo, manifest):
            df.unpersist()
        return PassResult(kind, wall, expected, int(stats["planned"]), int(stats["ok"]), verified,
                          int(stats["bytes"]), self.server.counters.snapshot())

    def loop(self, n: int, tracer: Tracer | None = None) -> LoopResult:
        """``n`` cycles; the ``PassResult`` of every pass is in
        ``copy_passes`` and its wall in ``by_kind``."""
        res = LoopResult()
        t_start = time.perf_counter()
        while res.passes < n:
            res.attempted += self.tree.n_base + self.tree.n_new
            try:
                for p in self.cycle(res.passes, tracer):
                    res.copy_passes.append(p)
                    res.record(p.kind, p.wall_s)
                    res.failed += p.failed_files
                    if p.failed_files:
                        res.extra.setdefault("check_failed", []).append(f"cycle {res.passes} {p.kind}")
            except Exception:  # noqa: BLE001 — the loop keeps going
                _log_failure(f"copy cycle {res.passes}")
                res.failed += self.tree.n_base + self.tree.n_new
            res.passes += 1
        res.wall_s = time.perf_counter() - t_start
        return res
