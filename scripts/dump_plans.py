"""Dump `.explain(formatted)` physical plans of EVERY registered query to
PLANS.md — the artifact showing pushdown, pruning, broadcast selection and
codegen coverage per query (the 'iterate until it's the plan you'd want'
loop, made inspectable).

r9 (VERDICT r8 ask #2): the old hand-maintained `extra` list silently
lagged behind the registry (stopped at q176 while 23 newer queries had no
dumped plan). Now the dump covers ``all_queries()`` wholesale and
``tests/test_plans_artifact.py`` lints that every registered name has a
``## qNNN`` section, so the artifact can't regress again.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# Plan-pin artifacts must be host-independent (ADVICE r12 #3):
# spark.sql.shuffle.partitions derives from SPARK_GRAFT_CPUS, so a dump on a
# machine with a different core count would produce spurious partition-count
# diffs in every Exchange node. PLANS.md (and plans/rNN/*) are always
# generated at the canonical 32 cores.
PIN_CPUS = "32"
os.environ["SPARK_GRAFT_CPUS"] = PIN_CPUS


def _qnum(name: str) -> tuple[int, str]:
    try:
        return int(name.split("_", 1)[0].lstrip("q")), name
    except ValueError:
        return (10**9, name)


def main() -> None:
    from copy_sharepoint_to_onelake_lakehousefiles_spark import all_queries, get_spark

    sf_dir = "/root/testdata/sf0.01"
    spark = get_spark("plans")
    qs = all_queries()
    out = [
        "# PLANS — formatted physical plans of ALL registered queries "
        f"(sf0.01, {len(qs)} queries, SPARK_GRAFT_CPUS pinned to {PIN_CPUS} "
        "— regenerate only at this core count, see dump_plans.py)\n"
    ]
    for name in sorted(qs, key=_qnum):
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        out.append(f"\n## {name}\n\n```\n{plan}\n```\n")
        print(name, flush=True)
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("".join(out))
    print(f"wrote PLANS.md ({len(qs)} plans)")


if __name__ == "__main__":
    main()
