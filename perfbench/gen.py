"""Seeded input generators for the benchmark corpora.

Each ``gen_<workload>(seed, out_dir)`` writes the files the program reads
and returns ``(info, expected)``: ``info`` records the input layout
(paths, bytes, rows) and ``expected`` is ground truth derived here, from
the generator's own Python code, never from the engine:

- ``mr_wordcount``: the exact word counter, by the reference mapper's
  ``\\b\\w+\\b`` tokenizer on the lowercased line.
- ``neardup_dedup``: the planted near-duplicate clusters.

Generation is never inside a timed span. Sizes come from ``spec.json``.
"""

from __future__ import annotations

import json
import os
import re
from collections import Counter
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SPEC_PATH = Path(__file__).resolve().parent / "spec.json"


def workload_spec(workload: str) -> dict:
    return json.loads(SPEC_PATH.read_text())["workloads"][workload]

# reference wordcount tokenizer (mr/examples/wordcount/mapper.py)
_WORD_RE = re.compile(r"\b\w+\b")

# consonant-vowel syllables: 20 x 5 = 100 syllables, 3 per word gives a
# 1 M pseudo-word space
_CONS = "bcdfghjklmnpqrstvwxz"
_VOWS = "aeiou"


def _pseudo_words(n: int, offset: int = 0) -> list[str]:
    words = []
    for i in range(offset, offset + n):
        syl = []
        for _ in range(3):
            i, r = divmod(i, 100)
            syl.append(_CONS[r // 5] + _VOWS[r % 5])
        words.append("".join(syl))
    return words


def _write_documents(path: Path, doc_ids: list[int], texts: list[str]) -> None:
    """Single file, single row group: the layout of the repo's test
    corpora (see ``sources/tables.py``), which scans as one task."""
    table = pa.table(
        {"doc_id": pa.array(doc_ids, pa.int64()), "text": pa.array(texts, pa.string())}
    )
    pq.write_table(table, path, row_group_size=max(1, len(texts)))


def gen_mr_wordcount(seed: int, out_dir: Path) -> tuple[dict, dict]:
    spec = workload_spec("mr_wordcount")
    vocab = spec["vocabulary"]
    rng = np.random.default_rng(seed)
    idx = rng.integers(0, len(vocab), size=(spec["lines"], spec["words_per_line"]))
    words = np.array(vocab, dtype=object)[idx]
    lines = [" ".join(row) for row in words]
    path = out_dir / "input.txt"
    path.write_text("\n".join(lines) + "\n")
    expected = Counter()
    for line in lines:
        expected.update(_WORD_RE.findall(line.lower()))
    info = {
        "input": str(path),
        "input_bytes": path.stat().st_size,
        "rows": len(lines),
        "num_maps": spec["num_maps"],
        "num_reduces": spec["num_reduces"],
    }
    return info, {"counts": dict(expected)}


def gen_neardup_dedup(seed: int, out_dir: Path) -> tuple[dict, dict]:
    """Base docs over a uniform vocabulary (two unrelated docs sharing a
    5-word shingle is vanishingly unlikely), plus planted clusters of
    edited copies. Each copy substitutes at most ``max_edits`` words of
    a doc of at least ``min_words`` words, so its 5-shingle Jaccard with
    the original is at least (S - 5e) / (S + 5e) with S = min_words - 4
    shingles: above the operator's 0.2 threshold by construction."""
    spec = workload_spec("neardup_dedup")
    rng = np.random.default_rng(seed)
    vocab = np.array(_pseudo_words(spec["vocab_size"], offset=7919), dtype=object)
    sizes = rng.integers(2, spec["max_cluster"] + 1, size=spec["clusters"])
    n_base = spec["docs"] - int((sizes - 1).sum())  # total stays spec["docs"]
    bases: list[list[str]] = []
    for _ in range(n_base):
        n = int(rng.integers(spec["min_words"], spec["max_words"] + 1))
        bases.append(list(vocab[rng.integers(0, len(vocab), size=n)]))
    texts = [" ".join(b) for b in bases]
    groups: list[list[int]] = []
    roots = rng.choice(n_base, size=spec["clusters"], replace=False)
    for root, size in zip(roots, sizes):
        members = [int(root)]
        for _ in range(int(size) - 1):
            copy = list(bases[root])
            n_edits = int(rng.integers(1, spec["max_edits"] + 1))
            for p in rng.choice(len(copy), size=n_edits, replace=False):
                copy[p] = vocab[rng.integers(0, len(vocab))]
            members.append(len(texts))
            texts.append(" ".join(copy))
        groups.append(members)
    # shuffle positions so copies are not adjacent to their original
    perm = rng.permutation(len(texts))
    doc_id_of = {old: new + 1 for new, old in enumerate(perm)}
    ordered = [""] * len(texts)
    for old, text in enumerate(texts):
        ordered[doc_id_of[old] - 1] = text
    doc_ids = list(range(1, len(texts) + 1))
    path = out_dir / "documents.parquet"
    _write_documents(path, doc_ids, ordered)

    clusters = {d: (d, 1) for d in doc_ids}
    for members in groups:
        ids = [doc_id_of[m] for m in members]
        for d in ids:
            clusters[d] = (min(ids), len(ids))
    info = {
        "input": str(path),
        "input_bytes": path.stat().st_size,
        "rows": len(texts),
        "planted_clusters": len(groups),
        "planted_docs": sum(len(g) for g in groups),
    }
    return info, {"clusters": clusters}


GENERATORS = {
    "mr_wordcount": gen_mr_wordcount,
    "neardup_dedup": gen_neardup_dedup,
}


def generate(workload: str, seed: int, out_dir: str | os.PathLike) -> tuple[dict, dict]:
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    return GENERATORS[workload](seed, out)
