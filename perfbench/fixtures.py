"""Benchmark inputs, generated inside the checkout.

The star-schema tables are a fixed synthetic sf0.1 data set (lineitem
600 000 rows) with the schemas and value distributions of the repo's test
fixtures (FIXTURES.md). They are generated once per checkout from a fixed
seed and cached under ``.perfbench_cache/``; the benchmark's ``--seed``
never changes them, so every run of ``relational`` reads the same tables.

Reference hashes come from the package's registered DuckDB oracles, run
once on these tables and recorded in ``perfbench/reference.json``.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the generator changes so a stale cache is rebuilt.
GENERATOR_VERSION = 2
TABLE_SEED = 42
SF = 0.1

STAR_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"]
PART_WORDS = (["large", "hot", "blue", "old", "cold", "red", "small", "shiny"],
              ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"])


def _day_ts(days: np.ndarray, start: str) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + days.astype("timedelta64[D]").astype("timedelta64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate_tables(out_dir: str, sf: float = SF, seed: int = TABLE_SEED) -> None:
    """Write the star-schema tables as one parquet file each."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_orders, n_lines = int(1_500_000 * sf), int(6_000_000 * sf)

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    write("region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    write("nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    write("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
    })
    write("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = np.array(PART_WORDS[0])[rng.integers(0, 8, n_part)]
    noun = np.array(PART_WORDS[1])[rng.integers(0, 8, n_part)]
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    write("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    n_days = int((np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int))
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": _money(rng, 1000, 500_000, n_orders),
        "o_orderdate": _day_ts(rng.integers(0, n_days + 1, n_orders), "1995-01-01"),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n_orders)],
    })
    qty = rng.integers(1, 51, n_lines).astype(float)
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_lines), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_lines), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_lines), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_lines), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_lines), 2),
        "l_discount": np.round(rng.integers(0, 11, n_lines) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_lines) * 0.01, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_lines)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_lines)],
        "l_shipdate": _day_ts(rng.integers(1, n_days + 95, n_lines), "1995-01-01"),
    })
    n_events = int(1_000_000 * sf)
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_events))
    write("events", {
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + offsets.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n_events), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_events)
        ],
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })


def ensure_tables(cache_root: str) -> str:
    """Return the cached sf0.1 directory, generating it on first use. The
    directory appears atomically (renamed into place when complete)."""
    final = os.path.join(cache_root, f"sf{SF}-v{GENERATOR_VERSION}")
    if os.path.isfile(os.path.join(final, "_COMPLETE")):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    generate_tables(tmp)
    open(os.path.join(tmp, "_COMPLETE"), "w").close()
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)
    return final


# --- result hashing ---------------------------------------------------------
# Canonicalization mirrors scripts/check_oracle.py::table_hash, so a result
# that passes here passes the repo's oracle gate and vice versa.


def canonical_cell(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def table_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(canonical_cell(r[i]) for i in order) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def tables_fingerprint(sf_dir: str) -> str:
    h = hashlib.md5()
    for name in STAR_TABLES:
        with open(os.path.join(sf_dir, f"{name}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _sql_md5(sql: str) -> str:
    return hashlib.md5(sql.encode()).hexdigest()


def oracle_hashes(sf_dir: str, oracles: dict[str, str], names: list[str]) -> dict[str, str]:
    """Run the registered DuckDB oracles on ``sf_dir`` and hash each result."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in STAR_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        out = {}
        for n in names:
            rel = con.sql(oracles[n])
            out[n] = table_hash(list(rel.columns), rel.fetchall())
        return out
    finally:
        con.close()


def reference_hashes(sf_dir: str, oracles: dict[str, str], names: list[str],
                     recorded_path: str) -> dict[str, str]:
    """The DuckDB oracle's result hash for each query on ``sf_dir``.

    ``recorded_path`` holds hashes computed once for these exact tables,
    each stored with the md5 of the oracle SQL it came from (some oracles
    take minutes at sf0.1). A hash is reused only while both the tables and
    that query's oracle SQL are unchanged; anything else is recomputed with
    DuckDB and cached beside the tables."""
    fingerprint = tables_fingerprint(sf_dir)
    known: dict[str, dict] = {}
    cache_path = os.path.join(sf_dir, "_reference.json")
    for path in (recorded_path, cache_path):
        if os.path.isfile(path):
            with open(path) as f:
                rec = json.load(f)
            if rec.get("tables_md5") == fingerprint:
                known.update(rec["queries"])
    out, missing = {}, []
    for n in names:
        entry = known.get(n)
        if entry and entry["oracle_md5"] == _sql_md5(oracles[n]):
            out[n] = entry["hash"]
        else:
            missing.append(n)
    if missing:
        for n, h in oracle_hashes(sf_dir, oracles, missing).items():
            out[n] = h
            known[n] = {"oracle_md5": _sql_md5(oracles[n]), "hash": h}
        write_json(cache_path, {"tables_md5": fingerprint, "queries": known})
    return out


def write_json(path: str, obj) -> None:
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
        f.write("\n")
    os.replace(tmp, path)


if __name__ == "__main__":
    # Re-record perfbench/reference.json: hashes still valid for the current
    # tables and oracle SQL are kept, the rest recomputed with DuckDB.
    import sys

    here = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(here)
    sys.path.insert(0, root)
    from copy_sharepoint_to_onelake_lakehousefiles_spark import all_oracles

    from workloads import RELATIONAL_QUERIES

    recorded = os.path.join(here, "reference.json")
    sf_dir = ensure_tables(os.path.join(root, ".perfbench_cache"))
    oracles = all_oracles()
    names = RELATIONAL_QUERIES
    hashes = reference_hashes(sf_dir, oracles, names, recorded)
    write_json(recorded, {
        "tables_md5": tables_fingerprint(sf_dir),
        "queries": {n: {"oracle_md5": _sql_md5(oracles[n]), "hash": hashes[n]} for n in names},
    })
