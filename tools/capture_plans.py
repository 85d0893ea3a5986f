"""Capture .explain("formatted") output for bench queries.

Usage: python tools/capture_plans.py <outdir> [suffix] [q1,q2,...]

Writes <outdir>/<query>_<suffix>.txt for each query (default suffix
"before", default query set = bench.BENCH_QUERIES).  Mostly
planning-only — fixture arrays are built if missing; materialization
(operators/_mat.py) persists lazily, so no jobs run at capture time
and the materialized tables appear as
``InMemoryTableScan``/``InMemoryRelation`` nodes with their full
(recomputable) lineage printed beneath.  ``fuzzy_text_join`` still
eagerly localCheckpoints its pair list, so source_similarity executes
its upstream stages during construction (plan truncated at a
``Scan ExistingRDD``).

A query whose result is built on the driver (every leaf of its physical
plan is ``Scan ExistingRDD`` or ``LocalTableScan``, and no file scan
appears anywhere in the plan, e.g. ``ivf_ann``) has no comparable plan:
the RDD id in its leaf changes between runs.  Such a query gets a
``note <query>: driver-built result, no plan`` line on stderr and its
file starts with the ``DRIVER_BUILT`` marker line, so a plan-identity
check can tell it apart instead of passing or failing on nothing.
"""
from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


DRIVER_BUILT = "# driver-built result, no plan"
_DRIVER_LEAVES = re.compile(r"Scan ExistingRDD|LocalTableScan")
_FILE_SCAN = re.compile(r"\bScan (parquet|orc|csv|json|text)\b|BatchScan")


def driver_built(df, text: str) -> bool:
    """True when the physical plan reads no file: every leaf is a
    driver-side RDD or local table."""
    leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
    names = [leaves.apply(i).nodeName() for i in range(leaves.size())]
    return (all(_DRIVER_LEAVES.match(n) for n in names)
            and not _FILE_SCAN.search(text))


def main() -> int:
    outdir = sys.argv[1] if len(sys.argv) > 1 else "plans/r14"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    subset = sys.argv[3].split(",") if len(sys.argv) > 3 else None
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(outdir, exist_ok=True)

    from tiledb_py_spark.session import get_spark
    import __spark_entry__ as entry
    from bench import BENCH_QUERIES

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    names = subset or BENCH_QUERIES
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            text = buf.getvalue()
            if driver_built(df, text):
                print(f"note {name}: driver-built result, no plan",
                      file=sys.stderr)
                text = f"{DRIVER_BUILT}\n{text}"
            with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
                f.write(text)
            print(f"ok {name}", file=sys.stderr)
        except Exception as e:  # keep sweeping; a broken query is news too
            print(f"ERR {name}: {type(e).__name__}: {e}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
