"""Doc-partitioned exhaustive BM25 batch scoring, and the scoring core it
shares with the block-max WAND kernel (query/wand.py).

The naive declarative batch plan (query/bm25.py) explodes each posting
once PER QUERY that contains its term, shuffles the full hit set on
(query_id, doc_id), then shuffles the scored set again for the per-query
window — two wide shuffles proportional to Σ_q Σ_t df(t).

This plan ships each matched posting across the wire ONCE regardless of
how many queries share the term, and finishes everything else inside one
partition pass:

    postings ⋈ BROADCAST(term → small int code)       — map-side
      → repartition(doc_id)                            — THE one shuffle,
                                                         ~df-sized not hit-sized
      → numpy kernel: rows carry only (tcode, doc_id,
        tf, dl); the (term → [(query, qtf)], idf)
        table is tiny and travels in the closure.
        Scores are EXACT per partition because all
        terms of a doc are co-located; per-partition
        top-k (ties at the boundary kept).
      → global top-k merge (``bm25.topk``) over a
        candidate set of ≤ partitions × |Q| × (k + ties) rows

The scoring core is whole-array numpy: one BM25 weight per posting
(``_bm25_weight``), the batch's (query, qtf) pairs of each term's postings
(``_Queries.pairs``), one ``bincount`` per (query, doc) and one
``np.partition`` per query for the top-k (``_score_topk``,
``_topk_keep``). No per-row Python; the loops run over chunks of whole
queries and over the queries with more than k candidates.

Same results as bm25.bm25_topk (tests/test_bm25_docpart.py); the WAND
kernel runs the same core over doc-range block groups, adding block
decode and pruning — this is the 'score everything' baseline for query
batches where pruning can't help (deep-k analytics exports, score dumps).
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..index.build import FulltextIndex
from .bm25 import topk

CANDIDATES = "query_id string, doc_id long, score double"
_CHUNK = 1 << 17  # postings a kernel expands at once, ~100 bytes each


def _bm25_weight(idf, tf, dl, k1: float, b: float, avgdl: float):
    """BM25 term weight per posting; with (max_tf, min_dl) it is the
    block's upper bound, since the weight rises with tf and falls with dl."""
    return idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))


def _ranges(start: np.ndarray, count: np.ndarray):
    """Concatenated ``arange(start[i], start[i] + count[i])`` and the ``i``
    each element came from."""
    owner = np.repeat(np.arange(count.size), count)
    return np.arange(owner.size) + np.repeat(start - np.cumsum(count) + count, count), owner


class _Queries(NamedTuple):
    """A query batch keyed by term code: code c's queries are
    ``qidx[ptr[c]:ptr[c + 1]]`` with weights ``qtf[...]``."""

    query_ids: np.ndarray  # qidx -> query_id
    idf: np.ndarray  # tcode -> idf
    ptr: np.ndarray
    qidx: np.ndarray
    qtf: np.ndarray

    def pairs(self, codes: np.ndarray):
        """(query index, qtf, item) of every (item, query) pair, item-major;
        item i has term code ``codes[i]``."""
        pos, item = _ranges(self.ptr[codes], self.ptr[codes + 1] - self.ptr[codes])
        return self.qidx[pos], self.qtf[pos], item

    def frame(self, q: np.ndarray, doc: np.ndarray, score: np.ndarray) -> pd.DataFrame:
        return pd.DataFrame({"query_id": self.query_ids[q], "doc_id": doc, "score": score})


def _query_batch(qrows: DataFrame, max_closure_rows: int = 2_000_000):
    """(term, idf, query_id[, qtf]) rows → (``_Queries``, a (term, tcode)
    DataFrame to join the postings or blocks with). The rows are collected
    to the driver and ship in the kernel's task closure, so their number
    is bounded: past ``max_closure_rows`` this raises ValueError."""
    if "qtf" not in qrows.columns:
        qrows = qrows.withColumn("qtf", F.lit(1))
    # checked AFTER the collect, still before any task closure ships: an
    # up-front count, or a limit+1 fetch (take() scans the partitions in
    # growing rounds, one job each), would add per-call jobs
    rows = qrows.select("term", "idf", "query_id", "qtf").collect()
    if len(rows) > max_closure_rows:
        raise ValueError(
            f"query batch expands to more than max_closure_rows={max_closure_rows} "
            "(query, term) closure rows. Split the batch into chunks (results "
            "union exactly) or use the broadcast-join plan in bm25.py."
        )
    terms = sorted({r["term"] for r in rows})
    query_ids = sorted({r["query_id"] for r in rows})
    code_of = {t: i for i, t in enumerate(terms)}
    qidx_of = {q: i for i, q in enumerate(query_ids)}
    code = np.array([code_of[r["term"]] for r in rows], dtype=np.int64)
    qidx = np.array([qidx_of[r["query_id"]] for r in rows], dtype=np.int64)
    idf = np.zeros(len(terms), dtype=np.float64)
    idf[code] = [r["idf"] for r in rows]
    order = np.lexsort((qidx, code))
    batch = _Queries(
        np.array(query_ids, dtype=object),
        idf,
        np.concatenate(([0], np.cumsum(np.bincount(code, minlength=len(terms))))),
        qidx[order],
        np.array([float(r["qtf"]) for r in rows], dtype=np.float64)[order],
    )
    # from pandas (Arrow), not a Python list: a list becomes an RDD scan,
    # which measured 0.2 s slower per call in a single-query WAND probe
    codes = qrows.sparkSession.createDataFrame(
        pd.DataFrame({"term": terms, "tcode": np.arange(len(terms), dtype=np.int32)}),
        "term string, tcode int",
    )
    return batch, codes


def _score_topk(q, qtf, start, count, dpos, w, width: int, k: int, n_queries: int):
    """Pairs (query index ``q``, weight ``qtf``, postings ``start`` ..
    ``start + count``), in term-code order, over postings with doc position
    ``dpos < width`` and BM25 weight ``w`` → (q, dpos, score) of every
    query's top-k docs, ties at the k-th score kept. Whole queries are
    scored about ``_CHUNK`` postings at a time, which bounds the kernel's
    memory; each (query, doc) adds its terms in pair order."""
    order = np.argsort(q, kind="stable")
    q, qtf, start, count = q[order], qtf[order], start[order], count[order]
    first = np.flatnonzero(np.diff(q, prepend=-1))  # each query's first pair
    bucket = (np.cumsum(count) - count)[first] // _CHUNK
    cuts = np.append(first[np.flatnonzero(np.diff(bucket, prepend=-1))], q.size)
    out = [(np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0))]
    for a, b in zip(cuts[:-1], cuts[1:]):
        post, pair = _ranges(start[a:b], count[a:b])
        pair += a
        key, inv = np.unique(q[pair] * width + dpos[post], return_inverse=True)
        # bincount-with-weights ≈ 5-10x faster than np.add.at
        score = np.bincount(inv, weights=w[post] * qtf[pair])
        keep, _ = _topk_keep(key // width, score, k, n_queries)
        out.append((key[keep] // width, key[keep] % width, score[keep]))
    return tuple(np.concatenate(c) for c in zip(*out))


def _topk_keep(q: np.ndarray, score: np.ndarray, k: int, n_queries: int):
    """Rows sorted by query index → (mask of the rows scoring ≥ their
    query's k-th best, the k-th best per query, -inf below k rows).
    Boundary ties all survive, so the global (score desc, doc_id asc)
    merge breaks them deterministically."""
    bounds = np.searchsorted(q, np.arange(n_queries + 1))
    kth = np.full(n_queries, -np.inf)
    for i in np.flatnonzero(np.diff(bounds) >= k):
        seg = score[bounds[i] : bounds[i + 1]]
        kth[i] = np.partition(seg, seg.size - k)[seg.size - k]
    return score >= kth[q], kth


def _concat(batches) -> pd.DataFrame | None:
    pdfs = [p for p in batches if len(p)]
    if not pdfs:
        return None
    return pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]


def _make_kernel(k: int, k1: float, b: float, avgdl: float, qb: _Queries):
    def kernel(batches):
        pdf = _concat(batches)
        if pdf is None:
            return
        # term-code order: every (query, doc) sum adds its terms in the
        # same order, so equal docs get bit-equal scores
        tcode = pdf["tcode"].to_numpy(np.int64)
        order = np.argsort(tcode, kind="stable")
        tcode = tcode[order]
        docs, dpos = np.unique(pdf["doc_id"].to_numpy(np.int64)[order], return_inverse=True)
        w = _bm25_weight(
            qb.idf[tcode],
            pdf["tf"].to_numpy(np.float64)[order],
            pdf["dl"].to_numpy(np.float64)[order],
            k1, b, avgdl,
        )
        run = np.flatnonzero(np.diff(tcode, prepend=-1))  # each term's postings
        q, qtf, r = qb.pairs(tcode[run])
        count = np.diff(np.append(run, tcode.size))
        q, d, s = _score_topk(q, qtf, run[r], count[r], dpos, w, docs.size, k, qb.query_ids.size)
        yield qb.frame(q, docs[d], s)

    return kernel


def bm25_topk_docpart(
    index: FulltextIndex,
    qterms: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    max_closure_rows: int = 2_000_000,
) -> DataFrame:
    """qterms(query_id, term[, qtf]) → (query_id, rank, doc_id, score).

    SCALE BOUND: the (query × matched-term) table is collected and ships
    in the task closure — |rows| ≤ Σ_q |distinct terms of q|, ~a few
    thousand for a 256-query batch, INDEPENDENT of corpus size. It is NOT
    bounded in the batch size: a 100k-query batch with 30 distinct terms
    each is 3M closure rows (~100 MB serialized). ``max_closure_rows``
    fails fast past the bound instead of silently building a task closure
    that every executor must deserialize; split the batch (the union of
    per-chunk results is exact — queries are independent) or use the
    broadcast-join plan in query/bm25.py for huge batches."""
    spark = index.postings.sparkSession
    _, avgdl = index.scalar_stats()
    qb, codes = _query_batch(
        index.term_stats.join(F.broadcast(qterms), "term"), max_closure_rows
    )
    hits = index.postings.join(F.broadcast(codes), "term").select(
        "tcode", "doc_id", "tf", "dl"
    )
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    cand = hits.repartition(parts, "doc_id").mapInPandas(
        _make_kernel(k, k1, b, avgdl, qb), schema=CANDIDATES
    )
    return topk(cand, k)
