r"""Dump `.explain("formatted")` for the given keys.

Usage: [PLANS_OUT=dir] [SPARK_GRAFT_SF_DIR=sf_dir] \
       python scripts/dump_plans.py <suffix> key [key ...]
Writes <PLANS_OUT>/<key>_<suffix>.txt (default PLANS_OUT: plans/;
suffix e.g. "before" | "after").  Dumping the same keys from two
checkouts and diffing the files (after normalizing expression ids
`#\d+`, `[\d+]` and object hashes `@[0-9a-f]+`) shows whether a change
moved any plan.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lstore_spark.registry import QUERIES, load_all  # noqa: E402
from lstore_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_DIR = os.environ.get(
    "PLANS_OUT", os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans"))


def main() -> None:
    suffix = sys.argv[1]
    keys = sys.argv[2:]
    load_all()
    os.makedirs(OUT_DIR, exist_ok=True)
    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    for key in keys:
        df = QUERIES[key](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        path = os.path.join(OUT_DIR, f"{key}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"# {key} — explain(formatted) at {SF_DIR} ({suffix})\n")
            f.write(plan)
        print(f"wrote {path}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
