"""Split a command's CPU time by process and by JVM thread.

Usage: python scripts/cpu_by_thread.py COMMAND [ARG ...]

Runs COMMAND and, every 0.2 s until it exits, reads ``/proc/<pid>/stat``
for each process of its tree and ``/proc/<jvm>/task/*/stat`` for each
thread of every Spark JVM in it. It then prints CPU-seconds (user +
system) by JVM thread class, named by the thread's ``comm``:

- ``C2 CompilerThre`` and ``C1 CompilerThre``: HotSpot's JIT compilers;
- ``GC/G1``: ``GC Thread#n`` and the ``G1 ...`` threads;
- ``Executor task launch worker``: Spark's task threads;
- ``other``: everything else, py4j and Catalyst on the driver included;

and by process: the Spark JVM, Python task workers, Python data-source
planner processes (``pyspark.sql.worker.*``), the driver's Python and
other (shells, spark-submit's launcher JVM and helpers). A last line
holds the same figures as one JSON object.

A process that has left ``/proc`` was reaped, and what its parent
reaped meanwhile (``cutime``/``cstime``, which ``perfbench/host.py``'s
``cpu_s`` counts too) is its whole CPU, so it is counted in full in its
own class; a child that lived less than one sample goes to its parent's
class. ``total`` is the kernel's count for the whole reaped tree; it
exceeds the sum of the classes by what the last processes used after
their last sample. The JVM's own total includes its exited threads, and
``exited`` is that total less the sum of its sampled threads. It reads
``/proc`` and its own ``getrusage`` only.
"""

from __future__ import annotations

import json
import os
import resource
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.host import descendants  # noqa: E402

INTERVAL_S = 0.2
TICK = os.sysconf("SC_CLK_TCK")
THREAD_CLASSES = ("C2 CompilerThre", "C1 CompilerThre", "GC/G1", "Executor task launch worker", "other")
PROCESS_CLASSES = ("jvm", "python_task_workers", "data_source_planners", "driver_python", "other")


def read_stat(path: str) -> tuple[str, int, int, float, float] | None:
    """(comm, ppid, starttime, own CPU-s, reaped children's CPU-s) from a
    ``stat`` file, None when the process or thread is gone."""
    try:
        with open(path) as f:
            s = f.read()
    except OSError:
        return None
    rp = s.rfind(")")
    rest = s[rp + 2:].split()
    own = (int(rest[11]) + int(rest[12])) / TICK
    reaped = (int(rest[13]) + int(rest[14])) / TICK
    return s[s.find("(") + 1:rp], int(rest[1]), int(rest[19]), own, reaped


def cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace").strip()
    except OSError:
        return ""


def process_class(comm: str, cmd: str) -> str:
    # spark-submit's helpers: the launcher JVM, which names SparkSubmit in
    # its arguments, and find_spark_home.py
    if "org.apache.spark.launcher.Main" in cmd or "find_spark_home" in cmd:
        return "other"
    if comm == "java":
        return "jvm" if "org.apache.spark.deploy.SparkSubmit" in cmd else "other"
    if "python" not in comm and "python" not in cmd.split(" ", 1)[0]:
        return "other"
    if "pyspark.sql.worker." in cmd:
        return "data_source_planners"
    if "pyspark.daemon" in cmd or "worker_daemon" in cmd or "pyspark.worker" in cmd:
        return "python_task_workers"
    return "driver_python"


def thread_class(comm: str) -> str:
    if comm in ("C2 CompilerThre", "C1 CompilerThre"):
        return comm
    if comm.startswith(("GC Thread", "G1 ")):
        return "GC/G1"
    if comm.startswith("Executor task"):
        return "Executor task launch worker"
    return "other"


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__, file=sys.stderr)
        return 2
    t0 = time.monotonic()
    child = subprocess.Popen(argv)
    procs: dict[tuple[int, int], dict] = {}  # (pid, starttime) → last sample
    threads: dict[tuple[int, int, int], tuple[str, float]] = {}  # (pid, start, tid) → (comm, CPU-s)
    by_proc = dict.fromkeys(PROCESS_CLASSES, 0.0)
    samples = 0
    while child.poll() is None:
        live: dict[int, tuple[dict, float]] = {}  # pid → (sample, CPU it reaped since the last one)
        for pid in descendants(child.pid):
            st = read_stat(f"/proc/{pid}/stat")
            if st is None:
                continue
            comm, ppid, start, own, reaped = st
            p = procs.get((pid, start))
            if p is None or comm != p["comm"]:
                # new, or a fork that has since exec'd (spark-submit → java)
                p = procs[(pid, start)] = {"class": process_class(comm, cmdline(pid)),
                                           "reaped": p["reaped"] if p else 0.0}
            live[pid] = p, reaped - p["reaped"]
            p.update(comm=comm, ppid=ppid, own=own, reaped=reaped, seen=samples)
            if p["class"] == "jvm":
                try:
                    tids = os.listdir(f"/proc/{pid}/task")
                except OSError:
                    tids = []
                for tid in tids:
                    st = read_stat(f"/proc/{pid}/task/{tid}/stat")
                    if st is not None:
                        threads[(pid, start, int(tid))] = (st[0], st[3])
        # A child gone since the last sample was reaped: what its parent
        # reaped meanwhile is its whole CPU and goes to its class. Children
        # never sampled go to the parent's.
        for pid, (p, cpu) in live.items():
            if cpu <= 0:
                continue
            gone = [c for c in procs.values() if c["ppid"] == pid and c["seen"] == samples - 1]
            if not gone:
                by_proc[p["class"]] += cpu
                continue
            weight = sum(c["own"] + c["reaped"] for c in gone)
            for c in gone:
                c["reaped_by_parent"] = True
                by_proc[c["class"]] += cpu * ((c["own"] + c["reaped"]) / weight if weight else 1 / len(gone))
        samples += 1
        time.sleep(INTERVAL_S)
    wall = time.monotonic() - t0
    ru = resource.getrusage(resource.RUSAGE_CHILDREN)

    n_proc = dict.fromkeys(PROCESS_CLASSES, 0)
    for p in procs.values():
        n_proc[p["class"]] += 1
        if not p.get("reaped_by_parent"):
            by_proc[p["class"]] += p["own"]
    by_thread = dict.fromkeys(THREAD_CLASSES, 0.0)
    for comm, cpu in threads.values():
        by_thread[thread_class(comm)] += cpu
    jvm_own = sum(p["own"] for p in procs.values() if p["class"] == "jvm")
    by_thread["exited"] = jvm_own - sum(by_thread.values())
    total = ru.ru_utime + ru.ru_stime
    report = {
        "cmd": argv, "rc": child.returncode, "wall_s": round(wall, 2), "samples": samples,
        "interval_s": INTERVAL_S,
        "jvm_threads": {k: round(v, 2) for k, v in by_thread.items()},
        "processes": {k: round(v, 2) for k, v in by_proc.items()},
        "process_counts": n_proc,
        "total_s": round(total, 2),
    }
    print(f"\ncpu_by_thread: wall {wall:.1f} s, {samples} samples every {INTERVAL_S} s")
    print("JVM threads, CPU-s:")
    for k, v in by_thread.items():
        print(f"  {k:<30}{v:9.2f}")
    print("processes, CPU-s:")
    for k in PROCESS_CLASSES:
        print(f"  {k:<30}{by_proc[k]:9.2f}  ({n_proc[k]} processes)")
    print(f"  {'total':<30}{total:9.2f}")
    print(json.dumps({"cpu_by_thread": report}))
    return child.returncode


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
