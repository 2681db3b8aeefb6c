"""Dump .explain('formatted') for declared queries.

Usage: python scripts/explain_dump.py [--out-dir DIR] <suffix> query [query ...]

Writes <DIR>/<query>_<suffix>.txt for each query; DIR defaults to this
checkout's plans/.  The queries run on this checkout's code, so a copy
of another commit dumps that commit's plans.
"""

from __future__ import annotations

import argparse
import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

import __spark_entry__ as entrymod  # noqa: E402
from yadex_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out-dir", default=str(ROOT / "plans"))
    ap.add_argument("suffix")
    ap.add_argument("names", nargs="+", metavar="query")
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(args.out_dir, exist_ok=True)
    spark = get_spark("explain-dump", cpus=8, shuffle_partitions=8)
    qs = entrymod.queries()
    for name in args.names:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(args.out_dir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
