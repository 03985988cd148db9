"""The stat-guarded Python worker daemon (`worker_daemon`): the guard on
zip-directory re-reads, the session that names it, and the fallback to
Spark's own daemon when workers could not import it."""

import importlib
import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import functions as F

from copy_sharepoint_to_onelake_lakehousefiles_spark import session, worker_daemon

REPO = Path(__file__).resolve().parents[1]


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def _count_reads(monkeypatch, archive):
    reads = []
    real = zipimport._read_directory

    def counting(path):
        if path == str(archive):
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_plain_import_leaves_stdlib_invalidate_caches():
    importlib.reload(worker_daemon)
    fn = zipimport.zipimporter.invalidate_caches
    assert (fn.__module__, fn.__code__.co_filename) == ("zipimport", "<frozen zipimport>")


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"zd_only": "X = 1\n"})
    importer = zipimport.zipimporter(str(archive))
    reads = _count_reads(monkeypatch, archive)
    worker_daemon.guarded_invalidate_caches(importer)
    assert len(reads) == 1  # no record yet: the first call reads
    for _ in range(3):
        worker_daemon.guarded_invalidate_caches(importer)
    assert len(reads) == 1


def test_warm_reads_each_archive_once_and_shares_its_directory(tmp_path, monkeypatch):
    archive = tmp_path / "pkgs.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zd_pkg/__init__.py", "")
        z.writestr("zd_pkg/mod.py", "Z = 3\n")
    top = zipimport.zipimporter(str(archive))
    sub = zipimport.zipimporter(str(archive / "zd_pkg"))
    reads = _count_reads(monkeypatch, archive)
    worker_daemon.warm([top, object(), sub])
    assert len(reads) == 1
    assert sub._files is top._files and "zd_pkg/mod.py" in sub._files
    worker_daemon.guarded_invalidate_caches(sub)
    worker_daemon.guarded_invalidate_caches(top)
    assert len(reads) == 1


def test_rewritten_archive_is_reread_and_its_new_module_imports(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"zd_old": "X = 1\n"})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.guarded_invalidate_caches
    )
    monkeypatch.syspath_prepend(str(archive))
    try:
        import zd_old

        assert zd_old.X == 1
        reads = _count_reads(monkeypatch, archive)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert len(reads) == 1  # recorded at the first call, skipped at the second

        _write_zip(archive, {"zd_old": "X = 1\n", "zd_new": "Y = 22\n"})
        importlib.invalidate_caches()
        assert len(reads) == 2
        import zd_new

        assert zd_new.Y == 22
    finally:
        sys.modules.pop("zd_old", None)
        sys.modules.pop("zd_new", None)


def test_session_workers_run_the_guarded_daemon(spark):
    if not session._workers_can_import_package():
        pytest.skip("session started where workers cannot import the package")

    @F.pandas_udf("string")
    def origin(s: pd.Series) -> pd.Series:
        import zipimport

        return s.map(lambda _: zipimport.zipimporter.invalidate_caches.__code__.co_filename)

    rows = spark.range(8, numPartitions=4).select(origin("id").alias("o")).distinct().collect()
    assert [os.path.basename(r.o) for r in rows] == ["worker_daemon.py"]


# A session started from another working directory, with the package
# importable in the driver only through sys.path (as bench.py and
# scripts/bench_scale.py do): its workers cannot import worker_daemon.
_FOREIGN_CWD_SCRIPT = textwrap.dedent(
    """
    import json, sys
    sys.path.insert(0, {repo!r})
    import pandas as pd
    from pyspark.sql import functions as F
    from copy_sharepoint_to_onelake_lakehousefiles_spark import get_spark

    spark = get_spark("foreign_cwd", cpus="2")

    @F.pandas_udf("long")
    def total(s: pd.Series) -> int:
        return int(s.sum())

    @F.pandas_udf("string")
    def origin(s: pd.Series) -> pd.Series:
        import zipimport
        return s.map(lambda _: zipimport.zipimporter.invalidate_caches.__code__.co_filename)

    df = spark.range(1, 101, numPartitions=2)
    out = {{
        "total": df.select(total("id")).first()[0],
        "origins": sorted({{r[0] for r in df.select(origin("id")).collect()}}),
    }}
    print("RESULT " + json.dumps(out))
    spark.stop()
    """
)


def _run_from(tmp_path, pythonpath):
    script = tmp_path / "job.py"
    script.write_text(_FOREIGN_CWD_SCRIPT.format(repo=str(REPO)))
    env = dict(os.environ, SPARK_DRIVER_MEM="1g")
    env.pop("PYTHONPATH", None)
    if pythonpath:
        env["PYTHONPATH"] = pythonpath
    proc = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    lines = [x for x in proc.stdout.splitlines() if x.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-3000:]
    return json.loads(lines[-1][len("RESULT ") :])


def test_session_from_foreign_cwd_falls_back_to_spark_daemon(tmp_path):
    out = _run_from(tmp_path, pythonpath=None)
    assert out["total"] == 5050
    assert out["origins"] == ["<frozen zipimport>"]


def test_session_with_package_on_pythonpath_runs_the_guarded_daemon(tmp_path):
    out = _run_from(tmp_path, pythonpath=str(REPO))
    assert out["total"] == 5050
    assert [os.path.basename(o) for o in out["origins"]] == ["worker_daemon.py"]
