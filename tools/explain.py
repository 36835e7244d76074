"""Dump `.explain("formatted")` for named queries to plans/<round>/.

Usage: python tools/explain.py --round rNN <suffix> <query> [query ...]

Writes plans/<round>/<query>_<suffix>.txt for each query — the before/
after plan evidence an optimization round commits alongside each
change (suffix "before" or "after").
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--round", required=True, help="round tag, e.g. r13")
    ap.add_argument("suffix")
    ap.add_argument("names", nargs="+", metavar="query")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from parquet_extractor_spark.session import get_spark

    qs = entrymod.queries()
    spark = get_spark(f"explain-{args.round}")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        args.round,
    )
    os.makedirs(out_dir, exist_ok=True)
    for name in args.names:
        df = qs[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")


if __name__ == "__main__":
    main()
