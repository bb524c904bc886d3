"""The reference wordcount job as plain Python functions
(mr/examples/wordcount/mapper.py, reducer.py).

Kept in a module of its own that imports only ``re``: Spark's Python
workers import it by name to run the mapper and reducer, so it must not
pull in the benchmark's generator or the engine.
"""

import re

_WORD_RE = re.compile(r"\b\w+\b")


def wc_map(line):
    for word in _WORD_RE.findall(line.lower()):
        yield word, 1


def wc_reduce(key, values):
    yield key, sum(int(v) for v in values)
