"""scripts/cpu_by_thread.py: names JVM threads and processes by class and
passes the wrapped command's exit status through."""

import importlib.util
import json
import subprocess
import sys
from pathlib import Path

SCRIPT = Path(__file__).resolve().parent.parent / "scripts" / "cpu_by_thread.py"
_spec = importlib.util.spec_from_file_location("cpu_by_thread", SCRIPT)
C = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(C)


def test_classes_follow_comm_and_command_line():
    assert C.thread_class("C2 CompilerThre") == "C2 CompilerThre"
    assert C.thread_class("C1 CompilerThre") == "C1 CompilerThre"
    assert C.thread_class("GC Thread#3") == "GC/G1"
    assert C.thread_class("G1 Conc#0") == "GC/G1"
    assert C.thread_class("Executor task l") == "Executor task launch worker"
    assert C.thread_class("Thread-4") == "other"
    spark = "/usr/bin/java -cp x -Xmx2g org.apache.spark.deploy.SparkSubmit pyspark-shell"
    assert C.process_class("java", spark) == "jvm"
    launcher = "/usr/bin/java -cp x org.apache.spark.launcher.Main org.apache.spark.deploy.SparkSubmit"
    assert C.process_class("java", launcher) == "other"
    assert C.process_class("python3", "python3 /spark/bin/find_spark_home.py") == "other"
    assert C.process_class("python3", "python3 -m pyspark.daemon") == "python_task_workers"
    assert C.process_class("python3", "python3 -m pkg.worker_daemon") == "python_task_workers"
    planner = "python3 -m pyspark.daemon pyspark.sql.worker.plan_data_source_read"
    assert C.process_class("python3", planner) == "data_source_planners"
    assert C.process_class("python3", "python3 perfbench/run.py") == "driver_python"
    assert C.process_class("bash", "bash spark-submit") == "other"


def test_wraps_a_command_and_splits_its_tree():
    # the child exits a second before its parent, which has reaped it by then
    cmd = ("import subprocess, sys, time; sum(range(10**7));"
           " subprocess.run([sys.executable, '-c', 'sum(range(5 * 10**7))']); time.sleep(1); sys.exit(3)")
    p = subprocess.run([sys.executable, str(SCRIPT), sys.executable, "-c", cmd],
                       capture_output=True, text=True, timeout=120)
    assert p.returncode == 3
    report = json.loads(p.stdout.strip().splitlines()[-1])["cpu_by_thread"]
    assert report["rc"] == 3 and report["samples"] >= 1
    assert report["processes"]["driver_python"] > 0
    assert report["processes"]["jvm"] == 0
    assert report["process_counts"]["driver_python"] == 2
    # the child's CPU after its last sample is counted through its parent
    assert report["processes"]["driver_python"] >= 0.9 * report["total_s"]
