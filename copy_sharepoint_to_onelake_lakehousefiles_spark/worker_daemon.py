"""Spark's Python worker daemon, with zip-directory re-reads guarded by stat.

pyspark's worker calls `importlib.invalidate_caches()` before every task
(`worker_util.setup_spark_files`). On Python 3.11 that makes every cached
`zipimport.zipimporter` re-read its archive's central directory — 16 of
them on `pyspark.zip`, the py4j zip and the spark-core jar — although
none of those archives changes while the worker lives (README design
rule 7). `get_spark` names this module in `spark.python.daemon.module`,
so Spark starts it as `python -m <this module> pyspark.worker`. Run that
way, it re-reads an archive only when its `(st_mtime_ns, st_size)`
differs from the value recorded at the importer's last read, warms every
cached zipimporter, and then runs `pyspark.daemon.manager()`; the workers
it forks inherit the patch and the warm records, so even a worker's first
task skips the re-reads. Importing the module changes nothing.
"""

import os
import sys
import zipimport

_stdlib_invalidate_caches = zipimport.zipimporter.invalidate_caches


def _stat_key(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def guarded_invalidate_caches(self) -> None:
    # Stat BEFORE the read: an archive rewritten during the read gets a
    # newer key than the one recorded, so the next call reads it again.
    key = _stat_key(self.archive)
    if key is None or key != self.__dict__.get("_stat_at_read"):
        _stdlib_invalidate_caches(self)
        self._stat_at_read = key


def warm(finders) -> None:
    """Read each archive behind the zipimporters among `finders` once and
    give every importer of that archive the one directory and its record,
    as the zipimporter constructor shares one directory per archive. A
    copy per importer would add about 10 MB to the daemon and to every
    worker it forks."""
    read = {}
    for finder in finders:
        if not isinstance(finder, zipimport.zipimporter):
            continue
        if finder.archive not in read:
            guarded_invalidate_caches(finder)
            read[finder.archive] = finder._files, finder._stat_at_read
        finder._files, finder._stat_at_read = read[finder.archive]


def main() -> None:
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = guarded_invalidate_caches
    warm(list(sys.path_importer_cache.values()))
    daemon.manager()


if __name__ == "__main__":
    main()
