"""Measure the traffic dimensions of a ``documents`` parquet table: the
numbers ``gen.corpus`` is built from.

    python3 perfbench/measure_corpus.py path/to/documents.parquet
"""

from __future__ import annotations

import collections
import json
import sys

import pyarrow.parquet as pq


def measure(path: str) -> dict:
    d = pq.read_table(path, columns=["text", "lang", "source"]).to_pydict()
    texts = d["text"]
    n = len(texts)
    seen = set(texts)
    words = [len(t.split()) for t in texts]
    near = sum(
        1 for t in texts if t.endswith(" dup") and t[: -len(" dup")] in seen
    )
    return {
        "rows": n,
        "lang": dict(collections.Counter(d["lang"]).most_common()),
        "source": dict(collections.Counter(d["source"]).most_common()),
        "exact_copies": n - len(seen),
        "near_copies_trailing_dup": near,
        "words_min": min(words),
        "words_max": max(words),
        "vocabulary": len({w for t in texts for w in t.split()}),
    }


if __name__ == "__main__":
    print(json.dumps(measure(sys.argv[1]), indent=1))
