"""Generic MapReduce escape hatch (SURVEY.md §2.1 E3/E7/E12).

The reference engine's defining capability is running *arbitrary* user
``mapper(line)`` / ``reducer(key, values)`` Python functions shipped
as source (mr/worker/worker.py:177-192, mr/proto/mapreduce.proto:18-19).
Spark ships closures natively, so "dynamic code shipping" reduces to
passing plain Python callables; this module reproduces the execution
contract on top of Arrow-vectorized batches:

- ``mapper(line) -> Iterable[(k, v)]``, called once per input line
  (mr/worker/worker.py:104-109); a raising mapper SKIPS that line,
  the task still succeeds (worker.py:110-111).
- both key and value are coerced ``str()`` at the shuffle boundary
  (worker.py:124-125) — the engine's whole type system.
- ``reducer(key, values: list[str]) -> Iterable[(k, v)]`` gets the
  full multiset of values for its key, order unspecified
  (worker.py:145-159); a raising reducer SKIPS that key
  (worker.py:172-173).
- ``num_partitions`` mirrors ``num_reduces``: an explicit hash
  repartition on the key that the downstream group-by reuses (no
  second shuffle), exactly the role of ``hash(k) % R`` —
  deterministically, fixing the reference's PYTHONHASHSEED bug
  (worker.py:108; SURVEY.md §1.3).

This is the SLOW PATH by design: Python executes per record (batched
through Arrow, so ~10-100x better than the reference's row loop, but
still Python). Every first-class operator in ``operators/`` is pure
JVM Catalyst instead; use this only for semantics the DataFrame API
can't express. Each reducer key's values materialize in one pandas
group — the same per-key memory model as the reference's
``defaultdict(list)`` (worker.py:145), bounded by the hottest key.

Reading pyspark's task metrics for these jobs: the plan nodes' "time to
initialize Python workers" is not start-up cost. A reused worker starts
the clock for its next task (``boot_time`` in ``pyspark/worker.py``) as
soon as the previous task ends, so the figure also holds the worker's
idle time between tasks. The fixed per-task start-up cost is what
``pydaemon`` removes.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

Mapper = Callable[[str], Iterable[tuple[Any, Any]]]
Reducer = Callable[[str, list[str]], Iterable[tuple[Any, Any]]]

_KV_SCHEMA = "key string, value string"


def map_reduce(
    df: DataFrame,
    mapper: Mapper,
    reducer: Reducer,
    num_partitions: int | None = None,
    input_col: str | None = None,
) -> DataFrame:
    """Run a reference-contract MapReduce job over one string column.

    Returns DataFrame[key: string, value: string]. See module
    docstring for the exact semantics contract.
    """
    col = input_col or df.columns[0]
    lines = df.select(col)

    def _map_batches(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        for pdf in batches:
            keys: list[str] = []
            vals: list[str] = []
            for line in pdf[col]:
                try:
                    for k, v in mapper(line):
                        keys.append(str(k))
                        vals.append(str(v))
                except Exception:
                    continue  # per-line tolerance (worker.py:110-111)
            yield pd.DataFrame({"key": keys, "value": vals})

    mapped = lines.mapInPandas(_map_batches, schema=_KV_SCHEMA)
    if num_partitions is not None:
        # num_reduces analog; groupBy below reuses this partitioning
        mapped = mapped.repartition(num_partitions, "key")

    def _reduce_group(pdf: pd.DataFrame) -> pd.DataFrame:
        key = pdf["key"].iloc[0]
        values = pdf["value"].tolist()  # multiset, order unspecified
        try:
            out = [(str(k), str(v)) for k, v in reducer(key, values)]
        except Exception:
            return pd.DataFrame({"key": pd.Series(dtype=str), "value": pd.Series(dtype=str)})
        return pd.DataFrame(
            {"key": [k for k, _ in out], "value": [v for _, v in out]}
        )

    return mapped.groupBy("key").applyInPandas(_reduce_group, schema=_KV_SCHEMA)


def run_job(
    spark: SparkSession,
    input_path: str,
    mapper: Mapper,
    reducer: Reducer,
    output_path: str,
    num_maps: int | None = None,
    num_reduces: int | None = None,
) -> DataFrame:
    """The reference client's submit surface as one call
    (mr/client/client.py:52-72): text file in, per-job TSV dir out
    (honoring output_path as declared — SURVEY.md §1.3), sorted keys
    within each of ``num_reduces`` output partitions. Each key-hashed
    reduce partition ``map_reduce`` produced becomes one part file, with
    no second shuffle, as each reference reducer writes its own file
    (mr/worker/worker.py:162-171). Returns the result frame (also usable
    without writing).
    """
    from .sources.text import read_text_lines, write_tsv

    lines = read_text_lines(spark, input_path, min_partitions=num_maps)
    result = map_reduce(lines, mapper, reducer, num_partitions=num_reduces)
    write_tsv(result, output_path)
    return result
