"""Seeded benchmark inputs: a transcript-turn corpus written as parquet and
hot/mid/rare query batches.

Both are pure functions of their seed, so the same seed gives the same bytes
and the same queries. The engine only ever sees the parquet directory and the
``{query_id: text}`` dicts made here.
"""

from __future__ import annotations

import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from news_information_retrieval_system_spark.corpus import vocabulary

ZIPF_S = 1.1
MIN_LEN, MAX_LEN = 4, 48
MIN_FILES = 16
DOCS_PER_FILE = 16384  # one posting-block doc span per file at scale


def _zipf_cdf(n: int) -> np.ndarray:
    w = 1.0 / np.power(np.arange(1, n + 1, dtype=np.float64), ZIPF_S)
    return np.cumsum(w) / w.sum()


def ensure_corpus(work: Path, seed: int, n_turns: int, vocab_size: int) -> Path:
    """Write (once) and return a parquet dir of ``n_turns`` rows
    ``(doc_id long, text string)``.

    Turn lengths are uniform in [4, 48] tokens and tokens are Zipf(1.1) over
    the first ``vocab_size`` words of the package vocabulary. Files are
    contiguous doc-id ranges, the engine's ingest layout. The cache is keyed
    by (seed, turns, vocabulary size) and is not part of any timed region.
    """
    path = work / "corpus" / f"seed{seed}-n{n_turns}-v{vocab_size}"
    done = path / "_DONE"
    if done.exists():
        return path
    vocab = vocabulary()[:vocab_size]
    rng = np.random.default_rng([seed, n_turns, vocab_size])
    lengths = rng.integers(MIN_LEN, MAX_LEN + 1, n_turns)
    ranks = np.searchsorted(_zipf_cdf(vocab_size), rng.random(int(lengths.sum())))
    words = vocab[np.minimum(ranks, vocab_size - 1)]
    bounds = np.concatenate(([0], np.cumsum(lengths)))
    texts = [" ".join(words[bounds[i] : bounds[i + 1]]) for i in range(n_turns)]
    path.mkdir(parents=True, exist_ok=True)
    n_files = max(MIN_FILES, n_turns // DOCS_PER_FILE)
    per = -(-n_turns // n_files)
    for f in range(n_files):
        lo, hi = f * per, min(n_turns, (f + 1) * per)
        if lo >= hi:
            break
        table = pa.table(
            {
                "doc_id": pa.array(np.arange(lo, hi), pa.int64()),
                "text": pa.array(texts[lo:hi], pa.string()),
            }
        )
        tmp = path / f".part-{f:05d}.parquet"
        pq.write_table(table, tmp)
        os.replace(tmp, path / f"part-{f:05d}.parquet")
    done.write_text(str(n_turns))
    return path


def query_bands(vocab_size: int) -> list[tuple[int, int]]:
    """Rank bands [lo, hi) for hot, mid and rare query terms."""
    hot = max(8, vocab_size // 200)
    mid = max(hot + 16, vocab_size // 20)
    rare = max(mid + 32, vocab_size // 2)
    return [(0, hot), (mid, rare), (hot, mid)]


def make_queries(
    seed: int, stream: int, n: int, vocab_size: int, prefix: str = "q"
) -> dict[str, str]:
    """Batch number ``stream`` of ``n`` queries: one hot, one rare and (two
    times in three) one mid term, each drawn Zipf-weighted inside its band.
    Hot terms repeat across a batch, so batches share terms the way real
    query logs do."""
    vocab = vocabulary()[:vocab_size]
    rng = np.random.default_rng([seed, stream, n, vocab_size, 7])
    picks = []
    for lo, hi in query_bands(vocab_size):
        cdf = _zipf_cdf(hi - lo)
        picks.append(lo + np.minimum(np.searchsorted(cdf, rng.random(n)), hi - lo - 1))
    three = rng.random(n) < 2 / 3
    out = {}
    for i in range(n):
        terms = [vocab[picks[0][i]], vocab[picks[1][i]]]
        if three[i]:
            terms.append(vocab[picks[2][i]])
        out[f"{prefix}{i:05d}"] = " ".join(terms)
    return out


def delete_batch(seed: int, n_turns: int, share: float, span: int | None = None) -> list[int]:
    """A seeded, sorted sample of ``share`` of the doc ids. With ``span``,
    the sample is ``share`` of the last doc range ``[r*span, n_turns)``, so
    a purge rewrites that range's blocks and passes the others through."""
    rng = np.random.default_rng([seed, n_turns, 11])
    lo = 0 if span is None else span * ((n_turns - 1) // span)
    hi = n_turns
    k = max(1, int((hi - lo) * share))
    return sorted(lo + int(d) for d in rng.choice(hi - lo, size=k, replace=False))
