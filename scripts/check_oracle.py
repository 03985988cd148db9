"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and, where an oracle exists, the
DuckDB SQL on the same parquet — compares row count, sorted column names,
and an order-insensitive canonical value hash. Prints a per-query verdict
plus timing; exits non-zero on any mismatch/error.

Usage: python scripts/check_oracle.py [sf_dir] [name_filter ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def canonical_cell(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        # Full repr (shortest round-trip decimal), NOT %.10g: the 10-digit
        # format hid a sub-1e-10 Spark/DuckDB round() divergence in round 1
        # (q76) that the driver's hash caught. Any bit-level double
        # difference must fail locally too.
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def table_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(canonical_cell(r[i]) for i in order) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def main() -> int:
    import duckdb

    import __spark_entry__ as entrymod
    from copy_sharepoint_to_onelake_lakehousefiles_spark import get_spark
    from copy_sharepoint_to_onelake_lakehousefiles_spark.tables import TABLE_NAMES

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    filters = sys.argv[2:]

    if os.environ.get("VANILLA"):
        # Replicate the driver's environment: a bare session with default
        # configs (ANSI on, 200 shuffle partitions, no Arrow tuning).
        from pyspark.sql import SparkSession

        # Console progress bars only decorate the terminal; off, they no
        # longer bury the gate log.
        spark = (
            SparkSession.builder.master("local[8]")
            .appName("vanilla_gate")
            .config("spark.ui.showConsoleProgress", "false")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
    else:
        spark = get_spark("check_oracle")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    covered = 0
    for name, fn in qs.items():
        if filters and not any(f in name for f in filters):
            continue
        covered += 1
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = list(sdf.columns)
            srows = [tuple(r) for r in sdf.collect()]
            el = time.time() - t0
        except Exception:
            print(f"FAIL  {name}: spark error")
            traceback.print_exc()
            failures += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(srows)} rows ({el:.1f}s) [rows-only tier]")
            if len(srows) == 0:
                print("      warning: zero rows")
            continue
        try:
            rel = con.sql(oracles[name])
            ocols = list(rel.columns)
            orows = rel.fetchall()
        except Exception:
            print(f"FAIL  {name}: duckdb error")
            traceback.print_exc()
            failures += 1
            continue
        ok_cols = sorted(scols) == sorted(ocols)
        ok_cnt = len(srows) == len(orows)
        sh = table_hash(scols, srows)
        oh = table_hash(ocols, orows)
        ok_hash = sh == oh
        if ok_cols and ok_cnt and ok_hash:
            print(f"PASS  {name}: {len(srows)} rows ({el:.1f}s)")
        else:
            failures += 1
            print(
                f"FAIL  {name}: cols_match={ok_cols} rows {len(srows)} vs {len(orows)} "
                f"hash_match={ok_hash}"
            )
            if not ok_cols:
                print(f"      spark cols:  {sorted(scols)}")
                print(f"      oracle cols: {sorted(ocols)}")
            if ok_cols and not ok_hash:
                sset = {tuple(canonical_cell(c) for c in r) for r in srows}
                oset = {tuple(canonical_cell(c) for c in r) for r in orows}
                only_s = list(sset - oset)[:3]
                only_o = list(oset - sset)[:3]
                print(f"      spark-only sample:  {only_s}")
                print(f"      oracle-only sample: {only_o}")
    # Evidence-hygiene contract (VERDICT r11 what's-wrong #1): a gate
    # artifact must be a FULL-registry run — an unfiltered invocation that
    # somehow skipped a registered query is itself a failure, and the
    # coverage line lets any reader of the artifact check it at a glance.
    print(f"\nCOVERAGE {covered}/{len(qs)} registered queries ran")
    if not filters and covered != len(qs):
        failures += 1
        print(f"FAIL  unfiltered run covered only {covered}/{len(qs)} queries")
    print(f"{'ALL GREEN' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
