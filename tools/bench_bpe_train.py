"""BPE trainer de-fixturing bench: the driver fixture's 31-word
vocabulary exhausts after 89 merges, so production merge counts can
only be demonstrated on a vocabulary that supports them. This tool
builds a DETERMINISTIC (seeded) Zipf word-frequency table — the
trainer's actual input shape; in production it comes from the
distributed word-count aggregate, and its size is bounded by
BPE_TOP_K regardless of corpus bytes — and measures:

- the incremental/heap trainer (the shipped ``train_bpe_merges``) at
  8,192 and 32,768 merges;
- the naive full-rescan spec trainer at a small merge count, with the
  linear extrapolation that motivates the incremental form;
- merge-for-merge parity between the two on the first N merges.

Usage: python tools/bench_bpe_train.py [n_words] [seed]
Prints one JSON line.
"""

from __future__ import annotations

import json
import random
import sys
import time


def main() -> None:
    import os

    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    n_words = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 42

    from wd2duckdb_spark.functions.bpe import (
        _train_bpe_merges_naive,
        train_bpe_merges,
    )

    rng = random.Random(seed)
    letters = "abcdefghijklmnopqrstuvwxyz"
    vocab = sorted(
        {
            "".join(rng.choice(letters) for _ in range(rng.randint(3, 14)))
            for _ in range(n_words)
        }
    )
    rng.shuffle(vocab)
    wf = [(w, max(1, 1_000_000 // (i + 1))) for i, w in enumerate(vocab)]

    out: dict = {"n_words": len(wf), "seed": seed}

    t0 = time.perf_counter()
    m8k = train_bpe_merges(wf, 8_192)
    out["incremental_8192"] = {
        "sec": round(time.perf_counter() - t0, 2),
        "merges": len(m8k),
    }
    t0 = time.perf_counter()
    m32k = train_bpe_merges(wf, 32_768)
    out["incremental_32768"] = {
        "sec": round(time.perf_counter() - t0, 2),
        "merges": len(m32k),
    }

    naive_n = 300
    t0 = time.perf_counter()
    mn = _train_bpe_merges_naive(wf, naive_n)
    naive_sec = time.perf_counter() - t0
    out["naive_300"] = {"sec": round(naive_sec, 2), "merges": len(mn)}
    out["naive_8192_extrapolated_sec"] = round(naive_sec * 8_192 / naive_n)

    out["parity_first_300"] = mn == m8k[:naive_n]
    out["prefix_property"] = m8k == m32k[: len(m8k)]

    print(json.dumps(out))


if __name__ == "__main__":
    main()
