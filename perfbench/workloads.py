"""The benchmark workloads: one job each, and its output checker.

A job starts at the public-API call and ends when its result is
materialised (a TSV directory written, or rows collected to the
driver); it returns what the checker needs and does no checking.
Every job takes a tracer (inactive in an untraced run), so a traced run
records spans around the same calls an untraced run makes.

Checkers return a list of problems, empty when the output is exactly
the generator's ground truth. ``selftest.py`` feeds each one a
deliberately corrupted result.
"""

from __future__ import annotations

from pathlib import Path

from honors_p1_mapreduce_spark import mapreduce
from honors_p1_mapreduce_spark.operators.dedup import dedup_clusters

from wcjob import wc_map, wc_reduce


def run_mr_wordcount(spark, info, out_dir, tracer):
    out = str(Path(out_dir) / "wordcount")
    with tracer.span("mapreduce.run_job", "mapreduce"):
        mapreduce.run_job(
            spark,
            info["input"],
            wc_map,
            wc_reduce,
            out,
            num_maps=info["num_maps"],
            num_reduces=info["num_reduces"],
        )
    return out


def read_tsv_parts(out: str) -> list[list[tuple[str, str]]]:
    """The job's TSV output as one list of (key, value) rows per part file."""
    parts = []
    for part in sorted(Path(out).glob("part-*")):
        rows = []
        for line in part.read_text().splitlines():
            key, _, value = line.partition("\t")
            rows.append((key, value))
        parts.append(rows)
    return parts


def check_mr_wordcount(parts, expected) -> list[str]:
    problems = []
    got: dict[str, str] = {}
    for rows in parts:
        keys = [k for k, _ in rows]
        if keys != sorted(keys):
            problems.append("keys not sorted within an output partition")
        for k, v in rows:
            if k in got:
                problems.append(f"key {k!r} written twice")
            got[k] = v
    want = {k: str(v) for k, v in expected["counts"].items()}
    if got != want:
        diff = sorted(set(got.items()) ^ set(want.items()))[:5]
        problems.append(f"word counts differ: {diff}")
    return problems


def run_neardup_dedup(spark, info, out_dir, tracer):
    sf_dir = str(Path(info["input"]).parent)
    with tracer.span("operators.dedup_clusters", "operators"):
        clusters = dedup_clusters(spark, sf_dir)
    with tracer.span("collect.dedup_clusters", "spark"):
        return clusters.toArrow()


def check_neardup_dedup(table, expected) -> list[str]:
    problems = []
    docs = table.column("doc_id").to_pylist()
    got = dict(
        zip(
            docs,
            zip(table.column("cluster").to_pylist(), table.column("cluster_size").to_pylist()),
        )
    )
    if len(got) != len(docs):
        problems.append("a doc_id appears in more than one row")
    want = expected["clusters"]
    if got != want:
        bad = sorted(d for d in set(got) | set(want) if got.get(d) != want.get(d))
        problems.append(f"{len(bad)} docs in the wrong cluster, e.g. {bad[:3]}")
    return problems


def check_mr_wordcount_output(out: str, expected) -> list[str]:
    """The job's TSV directory, read back from disk, against the counter."""
    return check_mr_wordcount(read_tsv_parts(out), expected)


# name -> (job, checker of what the job returned)
WORKLOADS = {
    "mr_wordcount": (run_mr_wordcount, check_mr_wordcount_output),
    "neardup_dedup": (run_neardup_dedup, check_neardup_dedup),
}
