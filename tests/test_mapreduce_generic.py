"""Differential tests for the generic map_reduce escape hatch.

The three reference example jobs (mr/examples/{wordcount,grep,
inverted_index}) are re-expressed as plain Python mapper/reducer
callables with the documented contract (mr/documentation.md:687-721)
and run through ``map_reduce``; outputs must match the native
Catalyst-expression operators on the same data. Also covers the
contract's error-tolerance semantics and the run_job TSV round trip.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from honors_p1_mapreduce_spark.mapreduce import map_reduce, run_job
from honors_p1_mapreduce_spark.operators.grep import grep_count
from honors_p1_mapreduce_spark.operators.inverted_index import (
    inverted_index_from_lines,
)
from honors_p1_mapreduce_spark.operators.wordcount import wordcount
from honors_p1_mapreduce_spark.sources.tables import load_table

# --- user functions under test (reference contract: semantics per
# mr/examples/*, written fresh against the documented behavior) -------

_TOKEN_RE = re.compile(r"[a-z0-9_]+")


def wc_map(line):
    # tokenize lowercased line, emit (word, 1) per token
    # (mr/examples/wordcount/mapper.py:8-11 semantics)
    for tok in _TOKEN_RE.findall(line.lower()):
        yield tok, 1


def wc_reduce(key, values):
    # (mr/examples/wordcount/reducer.py:6-7 semantics)
    yield key, sum(int(v) for v in values)


def make_grep_map(pattern: str):
    rx = re.compile(pattern, re.IGNORECASE)

    def grep_map(line):
        # emit (stripped matching line, 1) (mr/examples/grep/mapper.py)
        if rx.search(line):
            yield line.strip(), 1

    return grep_map


def ii_map(line):
    # "doc_id: content"; skip malformed; per-doc dedup; len>2 words
    # (mr/examples/inverted_index/mapper.py:21-37 semantics)
    parts = line.split(":", 1)
    if len(parts) != 2 or not parts[0].strip() or not parts[1].strip():
        return
    doc_id = parts[0].strip()
    seen = set()
    for tok in _TOKEN_RE.findall(parts[1].lower()):
        if len(tok) > 2 and tok not in seen:
            seen.add(tok)
            yield tok, doc_id


def ii_reduce(key, values):
    # sorted distinct doc ids, comma-joined
    # (mr/examples/inverted_index/reducer.py:23-26 semantics)
    yield key, ",".join(sorted(set(values)))


# ------------------------------------------------------- differentials


def _doc_lines(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").select("text")


def test_wordcount_differential(spark, sf_dir):
    generic = {
        (r.key, int(r.value))
        for r in map_reduce(_doc_lines(spark, sf_dir), wc_map, wc_reduce).collect()
    }
    native = {(r.word, r.cnt) for r in wordcount(spark, sf_dir).collect()}
    assert generic == native


def test_grep_differential(spark, sf_dir):
    pat = "stream.*join"
    generic = {
        (r.key, int(r.value))
        for r in map_reduce(
            _doc_lines(spark, sf_dir), make_grep_map(pat), wc_reduce
        ).collect()
    }
    native = {(r.line, r.cnt) for r in grep_count(spark, sf_dir, pattern=pat).collect()}
    assert generic == native


def test_inverted_index_differential(spark):
    lines = spark.createDataFrame(
        [
            ("doc2: spark spark engine",),
            ("doc1: engine of spark",),
            ("no separator line",),
            ("doc3: ab of xy",),
        ],
        ["value"],
    )
    generic = {
        (r.key, r.value) for r in map_reduce(lines, ii_map, ii_reduce).collect()
    }
    native = {
        (r.word, r.doc_ids) for r in inverted_index_from_lines(spark, lines).collect()
    }
    assert generic == native


# --------------------------------------------------- contract semantics


def test_mapper_error_skips_line_only(spark):
    lines = spark.createDataFrame([("good a",), ("BOOM",), ("good b",)], ["value"])

    def mapper(line):
        if "BOOM" in line:
            raise ValueError("bad record")
        yield from wc_map(line)

    out = {(r.key, r.value) for r in map_reduce(lines, mapper, wc_reduce).collect()}
    assert out == {("good", "2"), ("a", "1"), ("b", "1")}


def test_reducer_error_skips_key_only(spark):
    lines = spark.createDataFrame([("a b",), ("a c",)], ["value"])

    def reducer(key, values):
        if key == "a":
            raise ValueError("bad key")
        yield key, sum(int(v) for v in values)

    out = {(r.key, r.value) for r in map_reduce(lines, wc_map, reducer).collect()}
    assert out == {("b", "1"), ("c", "1")}


def test_values_are_strings_and_multiset(spark):
    lines = spark.createDataFrame([("x",), ("x",)], ["value"])

    def reducer(key, values):
        # contract: engine hands list[str] (worker.py:156-159 analog)
        assert all(isinstance(v, str) for v in values)
        yield key, len(values)

    out = dict(
        (r.key, r.value)
        for r in map_reduce(lines, wc_map, reducer).collect()
    )
    assert out == {"x": "2"}


def test_empty_input_completes(spark):
    empty = spark.createDataFrame([], "value string")
    assert map_reduce(empty, wc_map, wc_reduce).count() == 0


def test_run_job_tsv_round_trip(spark, tmp_path):
    src = tmp_path / "in.txt"
    src.write_text("hello world\nhello spark\n")
    out_dir = str(tmp_path / "out")
    df = run_job(
        spark, str(src), wc_map, wc_reduce, out_dir, num_maps=2, num_reduces=2
    )
    assert {(r.key, r.value) for r in df.collect()} == {
        ("hello", "2"),
        ("world", "1"),
        ("spark", "1"),
    }
    from honors_p1_mapreduce_spark.sources.text import read_tsv_results

    back = read_tsv_results(spark, out_dir)
    assert {(r[0], r[1]) for r in back.collect()} == {
        ("hello", "2"),
        ("world", "1"),
        ("spark", "1"),
    }
    # results --limit N analog (mr/client/client.py:137-140)
    assert read_tsv_results(spark, out_dir, limit=2).count() == 2
    # one part file per reduce partition (mr/worker/worker.py:162-171):
    # sorted keys within each, every key in exactly one
    parts = sorted((tmp_path / "out").glob("part-*"))
    assert 1 <= len(parts) <= 2
    seen: list[str] = []
    for part in parts:
        keys = [line.split("\t")[0] for line in part.read_text().splitlines()]
        assert keys == sorted(keys)
        seen += keys
    assert sorted(seen) == ["hello", "spark", "world"]
