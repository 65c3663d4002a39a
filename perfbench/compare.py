"""Compare two sets of benchmark results, metric by metric.

    python3 perfbench/compare.py BASE_DIR HEAD_DIR

Each directory holds result files written by ``run.py`` (by default to
``.bench_results/``). For every workload and end-to-end metric it prints
both sides' median and quartiles and the change of the median as a share
of the base median, flagging a change worse than the metric's bound.

It refuses (exit code 2) to compare results measured on different hosts,
core counts, Spark masters, parallelism, shuffle partitions or Spark and
Python versions: such numbers are not comparable.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.host import HOST_KEYS  # noqa: E402
from perfbench.spec import END_TO_END  # noqa: E402


def load(d: str) -> list[dict]:
    out = []
    for p in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(p) as f:
            rec = json.load(f)
        if rec.get("trace") == 0:
            out.append(rec)
    return out


def host_mismatch(records: list[dict]) -> list[str]:
    """Host keys on which the records disagree."""
    return [
        k for k in HOST_KEYS if len({json.dumps(r["host"].get(k)) for r in records}) > 1
    ]


def quartiles(vals: list[float]) -> tuple[float, float, float]:
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, q2, q3


def compare(base: list[dict], head: list[dict]) -> list[str]:
    lines = []
    for wl in sorted({r["workload"] for r in base} & {r["workload"] for r in head}):
        for name, unit, bound in END_TO_END:
            b = [r["metrics"][name] for r in base if r["workload"] == wl]
            h = [r["metrics"][name] for r in head if r["workload"] == wl]
            (b1, bm, b3), (h1, hm, h3) = quartiles(b), quartiles(h)
            change = (hm - bm) / bm
            flag = "WORSE" if change > bound else "ok"
            lines.append(
                f"{wl:16} {name:12} {unit:4} base {bm:10.4g} [{b1:.4g}, {b3:.4g}] n={len(b)}"
                f"  head {hm:10.4g} [{h1:.4g}, {h3:.4g}] n={len(h)}"
                f"  {change:+.1%} (bound {bound:.0%}) {flag}"
            )
    return lines


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, head = load(argv[0]), load(argv[1])
    if not base or not head:
        print("no trace-0 results in one of the directories", file=sys.stderr)
        return 2
    bad = host_mismatch(base + head)
    if bad:
        print(f"refusing to compare: results differ in {', '.join(bad)}", file=sys.stderr)
        return 2
    print("\n".join(compare(base, head)))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
