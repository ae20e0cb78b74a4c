"""Block-max WAND / document-at-a-time BM25 top-k over compressed blocks.

Reference semantics: WAND with term upper bounds ``UB(t) = score(max_tf,
min_dl)`` and a top-k threshold θ
(src/ir/retrieval/query_optimization.py:76-410). Catalyst has no top-k
early termination (orderBy+limit = TakeOrderedAndProject, full scoring),
so the skipping lives in a grouped kernel; Spark handles the final k-way
merge.

Physical design (exact, not approximate):

* blocks are doc-range sharded (segments.py), so ALL postings of a doc —
  for every query term — share one ``block_key``: scores computed within a
  block group are FINAL scores, and per-group top-k is globally mergeable.
* the query batch is collected once and keyed by term code (``term →
  [(query index, qtf)]``, bm25_batch._query_batch), so each block row is
  shuffled and decoded at most ONCE no matter how many queries share the
  term — a 256-query batch sharing stopword terms costs the same decode
  work as one query.
* one shuffle: repartition by ``block_key``; the kernel (one Python call
  per partition) visits block groups by Σ upper bound descending. For each
  query it keeps every candidate scoring ≥ its k-th best so far; θ(q) is
  that k-th score, and a group is skipped for q when q's UB sum in the
  group is below θ(q). A group no query is live in is never decoded.
  Exact, because per-group scores are final, a skipped doc scores below
  k kept ones, and per-partition top-k ∪ merge is exact.
* scoring is the docpart kernel's numpy core (weight, query pairs,
  bincount, per-query partition); the final merge is ``bm25.topk`` over
  (score desc, doc_id asc).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..index.codec import decode_blocks
from ..index.segments import DEFAULT_SPAN_BITS
from .bm25 import topk
from .bm25_batch import (
    CANDIDATES,
    _bm25_weight,
    _concat,
    _query_batch,
    _Queries,
    _score_topk,
    _topk_keep,
)


def _make_kernel(
    k: int, k1: float, b: float, avgdl: float, span_bits: int, qb: _Queries, codec: str
):
    n_queries = qb.query_ids.size
    width = 1 << span_bits

    def kernel(batches):
        pdf = _concat(batches)
        if pdf is None:
            return
        # rows by (block_key, term code): each group's rows are contiguous,
        # and every sum below adds its terms in term-code order
        pdf = pdf.iloc[np.lexsort((pdf["tcode"].to_numpy(), pdf["block_key"].to_numpy()))]
        bk = pdf["block_key"].to_numpy(np.int64)
        code = pdf["tcode"].to_numpy(np.int64)
        n = pdf["n"].to_numpy(np.int64)
        data = pdf["data"].to_numpy(object)
        idf = qb.idf[code]
        ub = _bm25_weight(
            idf, pdf["max_tf"].to_numpy(np.float64), pdf["min_dl"].to_numpy(np.float64),
            k1, b, avgdl,
        )
        starts = np.flatnonzero(np.concatenate(([True], bk[1:] != bk[:-1])))
        # (row, query) pairs, row-major: a group's pairs are contiguous too
        pq, pqtf, prow = qb.pairs(code)
        pair_start = np.searchsorted(prow, np.append(starts, bk.size))
        theta = np.full(n_queries, -np.inf)
        kept_q = np.empty(0, np.int64)
        kept_d = np.empty(0, np.int64)
        kept_s = np.empty(0, np.float64)
        for g in np.argsort(-np.add.reduceat(ub, starts), kind="mergesort"):
            p = slice(pair_start[g], pair_start[g + 1])
            q, qtf, row = pq[p], pqtf[p], prow[p]
            q_ub = np.bincount(q, weights=qtf * ub[row], minlength=n_queries)
            live = q_ub[q] >= theta[q]
            if not live.any():
                continue
            q, qtf, row = q[live], qtf[live], row[live]
            rows, ri = np.unique(row, return_inverse=True)
            base = int(bk[rows[0]]) << span_bits
            d, tf, dl = decode_blocks(data[rows], n[rows], np.full(rows.size, base), codec)
            w = _bm25_weight(np.repeat(idf[rows], n[rows]), tf, dl, k1, b, avgdl)
            gq, gd, gs = _score_topk(
                q, qtf, (np.cumsum(n[rows]) - n[rows])[ri], n[rows][ri], d - base, w,
                width, k, n_queries,
            )
            all_q = np.concatenate((kept_q, gq))
            order = np.argsort(all_q, kind="stable")
            kept_q = all_q[order]
            kept_d = np.concatenate((kept_d, gd + base))[order]
            kept_s = np.concatenate((kept_s, gs))[order]
            keep, theta = _topk_keep(kept_q, kept_s, k, n_queries)
            kept_q, kept_d, kept_s = kept_q[keep], kept_d[keep], kept_s[keep]
        if kept_q.size:
            yield qb.frame(kept_q, kept_d, kept_s)

    return kernel


def wand_topk(
    blocks: DataFrame,
    qterms_with_idf: DataFrame,
    n_docs: int,
    avgdl: float,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    span_bits: int = DEFAULT_SPAN_BITS,
    codec: str = "varint",  # must match the codec the blocks were built with
) -> DataFrame:
    """blocks: segments.BLOCK_SCHEMA table. qterms_with_idf: (query_id,
    term, [qtf,] idf). → (query_id, rank, doc_id, score), exact BM25 top-k.

    One Spark plan: the query batch is collected (bounded as in
    ``bm25_topk_docpart``), block rows of its terms are joined with a
    broadcast term-code table, range-partitioned by ``block_key`` and
    scored by the pruning kernel; ``bm25.topk`` merges the candidates."""
    spark = blocks.sparkSession
    qb, codes = _query_batch(qterms_with_idf)
    rows = blocks.join(F.broadcast(codes), "term").select(
        "block_key", "tcode", "n", "data", "max_tf", "min_dl"
    )
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    cand = rows.repartitionByRange(parts, "block_key").mapInPandas(
        _make_kernel(k, k1, b, avgdl, span_bits, qb, codec), schema=CANDIDATES
    )
    return topk(cand, k)
