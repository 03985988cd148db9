"""perfbench: the repository's benchmark.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Workloads (see perfbench/README.md):
``relational`` and ``copy_sync``. With ``--trace 0`` the
last stdout line carries the end-to-end metrics; with ``--trace 1`` it
carries the per-layer metrics of a traced run. Metric names and units are
the ones declared in BENCHMARK.json at the checkout root. The line before
it describes the run (host load, canary, sample counts).

Everything the run writes stays inside the checkout: generated tables in
``.perfbench_cache/``, scratch in ``.perfbench_work/`` (removed at exit) and
the run's spans and description in ``.perfbench_runs/``.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()  # set-up time counts from here

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import drive  # noqa: E402
import eventlog  # noqa: E402
import fixtures  # noqa: E402
import host  # noqa: E402
from workloads import RELATIONAL_QUERIES, CopyWorkload, QueryWorkload, Tracer, noop_write  # noqa: E402

WORKLOADS = ("relational", "copy_sync")
# Nominal seconds of one pass (copy_sync: one cycle) on a 4-core host. A run
# measures round(--seconds / this) whole passes, the same on every run and
# every commit; a traced run measures one pass per loop.
SECONDS_PER_PASS = {"relational": 11, "copy_sync": 9}
# The program's own driver-memory setting, at 2 GiB rather than its 16 GiB
# default. Under a 16 GiB cap the collector grew the heap to 1.5-3.7 GiB for
# the same work; under 2 GiB it stays at 0.8-1.0 GiB, and runs stay small on
# a shared host.
DRIVER_MEM = "2g"
MIB = 1024 * 1024
UNUSED_LAYERS = {  # per-layer metrics that read 0 on a workload
    "relational": ("sources.", "plans.copy_plan.", "server.", "copy."),
    "copy_sync": ("registry.", "tables.", "spark.plan_s", "spark.exec_s"),
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(work: str, trace: bool) -> str | None:
    """Point every scratch path of Spark and its Python workers into
    ``work`` and, for a traced run, turn on an uncompressed event log.
    Must run before the JVM starts. Returns the event-log directory."""
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(host.nproc()))
    os.environ.setdefault("SPARK_DRIVER_MEM", DRIVER_MEM)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # for every JVM, the launcher's too; no hsperfdata file, which would
    # go to /tmp whatever the tmpdir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    args: list[str] = []
    log_dir = None
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{log_dir}",
            "--conf", "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    return log_dir


def start_session(queries: dict, sf_dir: str):
    """The program's set-up: session up, the Python worker forked by a
    first ``pandas_udf``, the graph source registered and the SQL path
    touched by one q01."""
    from pyspark.sql import functions as F

    from copy_sharepoint_to_onelake_lakehousefiles_spark import get_spark
    from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.graph_datasource import (
        GraphManifestDataSource,
    )

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.dataSource.register(GraphManifestDataSource)
    noop_write(spark.range(1024).select(F.pandas_udf(lambda s: s + 1, "long")("id")))
    noop_write(queries["q01_pricing_summary"](spark, sf_dir))
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait for the JVM's whole process tree
    (its Python workers too) to end."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    tree = host.descendants(proc.pid)
    spark.stop()
    SparkContext._gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    host.wait_gone(tree, 30)


def canary_s(spark, queries: dict, sf_dir: str) -> float:
    """A re-warmed q01, timed once before the loop: host load shows here."""
    t0 = time.perf_counter()
    noop_write(queries["q01_pricing_summary"](spark, sf_dir))
    return time.perf_counter() - t0


def gmean_of_medians(by_kind: dict[str, list[float]]) -> float:
    """Geometric mean over operation kinds (queries, or copy passes) of each
    kind's median latency: every kind weighs the same, however slow."""
    return statistics.geometric_mean([statistics.median(v) for v in by_kind.values()])


def tail(latencies: list[float]) -> dict:
    """The highest whole percentile that leaves at least ten samples above
    it, or None when the run has too few samples for any."""
    n = len(latencies)
    if n < 11:
        return {"percentile": None, "value_s": None, "samples": n}
    pct = int(100 * (n - 10) / n)
    value = statistics.quantiles(latencies, n=100, method="inclusive")[pct - 1] if pct else None
    return {"percentile": pct, "value_s": value, "samples": n}


def per_op(total: float, n: int) -> float:
    return total / n if n else 0.0


def query_layers(traced, tracer: Tracer, groups: dict) -> dict:
    n = len(traced.latencies) + traced.failed
    out = {
        "registry.build_s": per_op(tracer.total("registry.build"), n),
        "tables.load_s": traced.extra["tables.load_s"],
        "spark.plan_s": per_op(tracer.total("spark.plan"), n),
        "spark.exec_s": per_op(tracer.total("spark.exec"), n),
    }
    out.update(spark_layers(groups, n))
    return out


def spark_layers(groups: dict, n_ops: int) -> dict:
    return {
        f"spark.{f}": per_op(sum(g[f] for g in groups.values()), n_ops)
        for f in eventlog.FIELDS
    }


def copy_layers(untraced_passes, traced, tracer: Tracer, groups: dict) -> dict:
    passes, n_cycles = traced.copy_passes, traced.passes
    reruns = [p for p in passes if p.kind == "rerun"]
    ok = sum(p.ok for p in passes)
    fetches = sum(p.server["file_requests"] for p in passes)
    cold = [p for p in untraced_passes if p.kind == "cold"]
    out = {
        "sources.graph_datasource.list_s": per_op(tracer.total("sources.graph_datasource.list"), n_cycles),
        "plans.copy_plan.plan_s": per_op(tracer.total("plans.copy_plan.plan"), n_cycles),
        "plans.copy_plan.copy_s": per_op(tracer.total("plans.copy_plan.copy"), n_cycles),
        "plans.copy_plan.verify_s": per_op(tracer.total("plans.copy_plan.verify"), n_cycles),
        "plans.copy_plan.files_planned": per_op(sum(p.planned for p in reruns), len(reruns)),
        "plans.copy_plan.useful_fetch_ratio": ok / fetches if fetches else 0.0,
        "copy.mb_per_s": per_op(sum(p.bytes for p in cold) / MIB, sum(p.wall_s for p in cold)),
        "server.max_inflight": max((p.server["max_inflight"] for p in passes), default=0),
    }
    for f in ("list_requests", "file_requests", "bytes_served"):
        out[f"server.{f}"] = per_op(sum(p.server[f] for p in passes), n_cycles)
    out.update(spark_layers(groups, n_cycles))
    return out


def emit(values: dict, declared: list[dict]) -> dict:
    missing = [m["name"] for m in declared if m["name"] not in values]
    if missing:
        raise RuntimeError(f"no value for declared metrics {missing}")
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    sys.path.insert(0, ROOT)
    try:
        from copy_sharepoint_to_onelake_lakehousefiles_spark import all_oracles, all_queries
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    queries, oracles = all_queries(), all_oracles()

    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return run(args, bench, queries, oracles, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run is using it


def run(args, bench: dict, queries: dict, oracles: dict, work: str) -> int:
    ctx: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                 "nproc": host.nproc(), "loadavg_before": host.loadavg()}
    log_dir = configure_env(work, bool(args.trace))
    ctx["spark_graft_cpus"] = os.environ["SPARK_GRAFT_CPUS"]

    # Inputs: generated before the session and left out of setup_s.
    t_fx = time.perf_counter()
    base = fixtures.ensure_tables(os.path.join(ROOT, ".perfbench_cache"))
    names = RELATIONAL_QUERIES if args.workload == "relational" else []
    reference = fixtures.reference_hashes(base, oracles, names, os.path.join(HERE, "reference.json"))
    n = 1 if args.trace else max(1, round(args.seconds / SECONDS_PER_PASS[args.workload]))
    with contextlib.ExitStack() as stack:
        server = None
        if args.workload == "copy_sync":
            server = stack.enter_context(drive.DriveServer(drive.DriveTree(args.seed)))
        fixture_s = time.perf_counter() - t_fx
        ctx["fixture_s"] = fixture_s

        spark = start_session(queries, base)
        stack.callback(stop_session, spark)
        setup_s = time.perf_counter() - _T0 - fixture_s
        jvm_pid = spark.sparkContext._gateway.proc.pid

        t_check = time.perf_counter()
        check_attempted, bad = 0, []
        if server is not None:
            wl = CopyWorkload(spark, server, work)  # every pass checks itself
        else:
            wl = QueryWorkload(spark, queries, names, base, fixtures.STAR_TABLES, reference, args.seed)
            check_attempted, bad = wl.check()
        ctx["check_s"] = time.perf_counter() - t_check
        ctx["canary_q01_s"] = canary_s(spark, queries, base)

        ticks = host.cpu_ticks()
        cpu0 = host.cpu_s(host.descendants(os.getpid()))  # this process, the JVM, its workers
        server_cpu0 = server.cpu_s if server is not None else 0.0
        with host.RssSampler(jvm_pid) as rss:
            res = wl.loop(n)
        cpu_s = host.cpu_s(host.descendants(os.getpid())) - cpu0
        # less the benchmark's own threads in this process: the RSS sampler
        # and the loopback server's request threads
        bench_cpu_s = rss.cpu_s + (server.cpu_s - server_cpu0 if server is not None else 0.0)
        cpu_s -= bench_cpu_s
        ctx["bench_cpu_s"] = bench_cpu_s
        ctx["loop_steal_frac"] = host.steal_frac(ticks, host.cpu_ticks())
        ctx["check_failed"] = bad + res.extra.get("check_failed", [])
        attempted, failed = check_attempted + res.attempted, len(bad) + res.failed

        if args.workload == "copy_sync":  # an operation is a cycle of two passes
            cold = [p for p in res.copy_passes if p.kind == "cold"]
            ops_per_s = per_op(sum(min(p.verified, p.expected) for p in cold), sum(p.wall_s for p in cold))
            n_ops = res.passes
        else:
            ops_per_s = per_op(len(res.latencies), res.wall_s)
            n_ops = res.attempted
        latencies = res.latencies
        e2e = {
            "setup_s": setup_s,
            "cpu_s_per_op": per_op(cpu_s, n_ops),
            "peak_worker_rss_mb": rss.peak_children / MIB,
        }
        # Wall-time figures follow the host's CPU steal, and the JVM's RSS
        # follows when the collector grows the heap (see README), so these
        # describe the run and are per-layer metrics of the traced run.
        unbounded = {
            "wall.ops_per_s": ops_per_s,
            "wall.op_gmean_s": gmean_of_medians(res.by_kind) if res.by_kind else 0.0,
            "jvm.peak_rss_mb": rss.peak_root / MIB,
        }
        ctx.update(e2e)
        ctx.update(unbounded)
        ctx.update(passes=res.passes, ops=len(latencies), loop_wall_s=res.wall_s, loop_cpu_s=cpu_s,
                   peak_rss_mb=rss.peak / MIB,
                   op_p50_s=statistics.median(latencies) if latencies else None,
                   op_tail=tail(latencies),
                   op_median_s={k: statistics.median(v) for k, v in res.by_kind.items()})

        if args.trace:
            # untraced, traced, untraced: the mean of the two untraced loops
            # cancels the warming that a later loop profits from
            tracer = Tracer()
            traced = wl.loop(n, tracer=tracer)
            again = wl.loop(n)
            for r in (traced, again):
                attempted += r.attempted
                failed += r.failed
            untraced_wall_s = (res.wall_s + again.wall_s) / 2
            ctx.update(traced_wall_s=traced.wall_s, untraced_wall_s=untraced_wall_s)
        ctx["loadavg_after"] = host.loadavg()

    if args.trace:
        groups = eventlog.read_groups(log_dir)
        if args.workload == "copy_sync":
            layers = copy_layers(res.copy_passes + again.copy_passes, traced, tracer, groups)
        else:
            layers = query_layers(traced, tracer, groups)
        layers.update(unbounded)
        layers["trace.overhead_s"] = traced.wall_s - untraced_wall_s
        layers["trace.overhead_frac"] = traced.wall_s / untraced_wall_s - 1
        for m in bench["per_layer"]:  # layers this workload does not exercise
            if m["name"].startswith(UNUSED_LAYERS[args.workload]):
                layers.setdefault(m["name"], 0.0)
        metrics = emit(layers, bench["per_layer"])
    else:
        metrics = emit(e2e, bench["end_to_end"])

    out_dir = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(out_dir, exist_ok=True)
    record = {"context": ctx, "metrics": metrics}
    if args.trace:
        record["spans"] = tracer.spans
    fixtures.write_json(
        os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), record)
    print(json.dumps({"perfbench": ctx}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
