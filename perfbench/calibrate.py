"""Compare the generated documents corpus with a reference documents table.

    python3 perfbench/calibrate.py PATH/TO/documents.parquet [--seed 1] [--docs 1000]

Prints, side by side, the shape ``gen.corpus_stats`` measures on the
reference table and on the corpus ``gen.documents`` writes for the seed:
tokens per document, vocabulary, exact and " dup" near-duplicate shares,
word-bigram document frequency, languages and sources. The generator's
base corpus is meant to match the reference; its planted exact
duplicates and hot clusters come on top and show as the difference in
``exact_share``. The generated file is written under ``.bench_work/`` and
removed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def shape(path: str) -> dict:
    import pyarrow.parquet as pq

    from perfbench import gen

    t = pq.read_table(path, columns=["text", "lang", "source"]).to_pydict()
    n = len(t["text"])
    out = gen.corpus_stats(t["text"])
    out["lang_shares"] = {
        k: round(t["lang"].count(k) / n, 3) for k in sorted(set(t["lang"]))
    }
    out["sources"] = len(set(t["source"]))
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("reference")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--docs", type=int, default=1000)
    args = p.parse_args(argv)
    sys.path.insert(0, ROOT)
    from perfbench import gen

    work = os.path.join(ROOT, ".bench_work", f"calibrate-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        path = os.path.join(work, "documents.parquet")
        planted = gen.documents(args.seed, args.docs, path)
        ref, mine = shape(args.reference), shape(path)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"{'':24} {'reference':>40} {'generated':>40}")
    for k in ref:
        print(f"{k:24} {json.dumps(ref[k]):>40} {json.dumps(mine[k]):>40}")
    print("planted", json.dumps(planted))
    return 0


if __name__ == "__main__":
    sys.exit(main())
