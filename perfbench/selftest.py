"""Self-test of the output checkers: no Spark needed.

    python3 perfbench/selftest.py

For each workload, builds the exact expected output from a seeded
generation, checks that the checker accepts it, then corrupts it in
several ways and checks that the checker rejects every corruption.
Exits 1 if a correct result is rejected or a corrupted one accepted.
"""

from __future__ import annotations

import copy
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]

import pyarrow as pa  # noqa: E402

from gen import generate  # noqa: E402
from workloads import check_mr_wordcount, check_neardup_dedup  # noqa: E402


def mr_wordcount_cases(expected):
    keys = sorted(expected["counts"])
    parts = [[(k, str(expected["counts"][k])) for k in keys[i::8]] for i in range(8)]

    def bump(p):
        p[0][0] = (p[0][0][0], str(int(p[0][0][1]) + 1))

    def drop(p):
        p[1].pop()

    def unsort(p):
        p[2].reverse()

    def dup(p):
        p[3].append(p[4][0])
        p[3].sort()

    return parts, {"count off by one": bump, "key missing": drop,
                   "partition unsorted": unsort, "key written twice": dup}


def _cluster_table(clusters) -> pa.Table:
    docs = sorted(clusters)
    return pa.table({"doc_id": docs,
                     "cluster": [clusters[d][0] for d in docs],
                     "cluster_size": [clusters[d][1] for d in docs]})


def neardup_dedup_cases(expected):
    clusters = expected["clusters"]
    planted = sorted(d for d, (c, n) in clusters.items() if n > 1 and d != c)

    def split_member(r):
        bad = dict(clusters)
        d = planted[0]
        bad[d] = (d, 1)
        r[0] = _cluster_table(bad)

    def wrong_size(r):
        bad = dict(clusters)
        d = planted[1]
        bad[d] = (bad[d][0], bad[d][1] + 1)
        r[0] = _cluster_table(bad)

    def drop_row(r):
        r[0] = r[0].slice(1)

    def dup_row(r):
        r[0] = pa.concat_tables([r[0], r[0].slice(0, 1)])

    return [_cluster_table(clusters)], {"member split off": split_member,
                                        "cluster size wrong": wrong_size,
                                        "doc missing": drop_row, "doc twice": dup_row}


# workload -> (cases, checker, result shape the checker takes)
CASES = {
    "mr_wordcount": (mr_wordcount_cases, check_mr_wordcount, lambda r: r),
    "neardup_dedup": (neardup_dedup_cases, check_neardup_dedup, lambda r: r[0]),
}


def main() -> int:
    failures = 0
    with tempfile.TemporaryDirectory() as tmp:
        for workload, (cases, check, shape) in CASES.items():
            _, expected = generate(workload, 7, Path(tmp) / workload)
            good, corruptions = cases(expected)
            problems = check(shape(copy.deepcopy(good)), expected)
            status = "ok" if not problems else f"FAIL: rejected {problems}"
            failures += bool(problems)
            print(f"{workload}: correct result accepted ... {status}")
            for name, corrupt in corruptions.items():
                bad = copy.deepcopy(good)
                corrupt(bad)
                problems = check(shape(bad), expected)
                failures += not problems
                print(f"{workload}: {name} ... "
                      + (f"rejected ({problems[0][:70]})" if problems else "FAIL: accepted"))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
