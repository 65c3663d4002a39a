"""Dump `.explain("formatted")` for every declared query → plans/<round>/.

Usage: python tools/dump_round_plans.py ROUND [before|after] [query ...]

ROUND names the optimization round (``r16`` or ``16``). Writes
plans/<round>/<query>_<tag>.txt for each declared query (default: all;
tag default: before). Queries with eager builds (q57/q59/...) return
small literal/materialized relations; for those the file still records
the returned plan — the interesting internal plans are captured
separately where an optimization touches them.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, ".")

from knightshift_spark.plans.partitioning import explain_str  # noqa: E402
from knightshift_spark.queries import load_all  # noqa: E402
from knightshift_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main() -> None:
    args = sys.argv[1:]
    if not args:
        sys.exit(__doc__)
    rnd = "r" + args[0].lstrip("rR")
    tag = args[1] if len(args) > 1 else "before"
    names = args[2:]
    spark = get_spark(f"plandump-{rnd}")
    specs = load_all()
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", rnd
    )
    os.makedirs(out_dir, exist_ok=True)
    for name in names or sorted(specs):
        spec = specs[name]
        try:
            plan = explain_str(spec.spark_fn(spark, SF_DIR))
        except Exception as e:  # keep going; record the failure
            plan = f"ERROR building plan: {e!r}"
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan)
        print(f"wrote {name}_{tag}.txt")


if __name__ == "__main__":
    main()
