"""Doc-partitioned exhaustive BM25 kernel must be result-identical to the
declarative broadcast-join plan (query/bm25.py) — same doc_ids, same
scores, same deterministic tie-break."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from news_information_retrieval_system_spark.corpus import synth_transcripts
from news_information_retrieval_system_spark.docids import with_doc_ids
from news_information_retrieval_system_spark.index.build import build_index
from news_information_retrieval_system_spark.query.bm25 import bm25_topk, query_terms_df
from news_information_retrieval_system_spark.query.bm25_batch import bm25_topk_docpart


@pytest.fixture(scope="module")
def idx_and_queries(spark):
    docs = with_doc_ids(synth_transcripts(spark, 3000, seed=11), "dense")
    idx = build_index(docs.select("doc_id", "text")).persist()
    idx.postings.count()
    qs = {
        "qa": "the query spark index",
        "qb": "fast slow value",
        "qc": "w0007 w0042 table",
        "qd": "customer line",
    }
    return idx, query_terms_df(spark, qs).persist()


def _canon(df):
    """Cross-plan comparable form. The two plans sum per-doc contributions
    in different orders, so raw doubles differ by ~1 ulp and rank ties flip;
    compare (a) the exact doc set strictly above the boundary tie-group and
    (b) the multiset of 6dp scores including the boundary."""
    from collections import defaultdict

    by_q = defaultdict(list)
    for r in df.collect():
        by_q[r["query_id"]].append((round(r["score"], 6), r["doc_id"]))
    out = {}
    for q, rows in by_q.items():
        rows.sort(key=lambda t: (-t[0], t[1]))
        kth = rows[-1][0]
        strict = frozenset((d, s) for s, d in rows if s > kth)
        out[q] = (strict, tuple(sorted(s for s, _ in rows)))
    return out


def test_docpart_matches_declarative(idx_and_queries):
    idx, qdf = idx_and_queries
    a = _canon(bm25_topk(idx, qdf, k=10))
    b = _canon(bm25_topk_docpart(idx, qdf, k=10))
    assert a == b


def test_docpart_deep_k(idx_and_queries):
    idx, qdf = idx_and_queries
    a = _canon(bm25_topk(idx, qdf, k=100))
    b = _canon(bm25_topk_docpart(idx, qdf, k=100))
    assert a == b


def test_docpart_qtf_weighting(spark, idx_and_queries):
    idx, _ = idx_and_queries
    qdf = query_terms_df(spark, {"qq": "spark spark index"})  # qtf=2 on spark
    a = _canon(bm25_topk(idx, qdf, k=10))
    b = _canon(bm25_topk_docpart(idx, qdf, k=10))
    assert a == b


def test_docpart_closure_bound_fails_fast(spark, mini_docs):
    from news_information_retrieval_system_spark.index.build import build_index
    from news_information_retrieval_system_spark.query.bm25 import query_terms_df
    from news_information_retrieval_system_spark.query.bm25_batch import (
        bm25_topk_docpart,
    )

    idx = build_index(mini_docs)
    q = query_terms_df(spark, {"q1": "fast index scan"})
    with pytest.raises(ValueError, match="max_closure_rows"):
        bm25_topk_docpart(idx, q, k=3, max_closure_rows=2)
    # at/below the bound: normal results
    out = bm25_topk_docpart(idx, q, k=3, max_closure_rows=100)
    assert out.count() > 0
