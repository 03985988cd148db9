"""Generate QUERIES.md — an index of every registered query: name, check
tier, and the first line of its docstring. Auto-generated; regenerate with
`python scripts/dump_queries.py` after adding queries."""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    from copy_sharepoint_to_onelake_lakehousefiles_spark import all_oracles, all_queries

    qs = all_queries()
    oracles = all_oracles()
    lines = [
        "# QUERIES — registry index (auto-generated by scripts/dump_queries.py)\n",
        "",
        f"{len(qs)} queries; {len(oracles)} DuckDB-oracle-checked, "
        f"{len(qs) - len(oracles)} rows-only (semantics covered by pytest).\n",
        "",
        "| query | check | what it does |",
        "|---|---|---|",
    ]
    for name in sorted(qs):
        doc = (qs[name].__doc__ or "").strip().splitlines()
        first = doc[0].strip() if doc else ""
        tier = "oracle" if name in oracles else "rows-only"
        lines.append(f"| {name} | {tier} | {first} |")
    with open(os.path.join(ROOT, "QUERIES.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote QUERIES.md ({len(qs)} queries)")


if __name__ == "__main__":
    main()
