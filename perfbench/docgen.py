"""Seeded document table for the corpus workload.

The distribution is the engine's documented ``documents`` test table: a
31-word soup, lengths uniform in [10, 100] words, 5% near duplicates (one to
three words of an earlier document replaced) and 0.16% exact duplicates.
The table carries no timestamps, so it does not depend on the host's time
zone.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

VOCAB = np.array([
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "batch", "part", "line", "order", "small", "sort", "fast",
    "scan", "a", "hash", "slow", "group", "agg", "filter", "query", "big",
    "key", "join", "shuffle", "cache", "read", "write", "plan",
])
EXACT_DUP_RATE = 0.0016
NEAR_DUP_RATE = 0.05


def documents(n: int, seed: int) -> pd.DataFrame:
    """``n`` rows of ``(doc_id long, text string)``; same seed, same table."""
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < EXACT_DUP_RATE:
            texts.append(texts[rng.integers(0, i)])
        elif i > 10 and r < NEAR_DUP_RATE:
            words = texts[rng.integers(0, i)].split()
            for _ in range(rng.integers(1, 4)):
                words[rng.integers(0, len(words))] = VOCAB[rng.integers(0, len(VOCAB))]
            texts.append(" ".join(words))
        else:
            length = rng.integers(10, 101)
            texts.append(" ".join(VOCAB[rng.integers(0, len(VOCAB), length)]))
    return pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64), "text": texts})
