"""MMR diversification + duplicate collapse (query/diversify.py).

Hand-checkable selection behavior on a planted corpus, plus full
DuckDB-oracle equality for both driver entries at sf0.001 (the sf0.01
check runs in tests/run_oracle_harness.py / the driver gate)."""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import Window
from pyspark.sql import functions as F

from news_information_retrieval_system_spark import entry_queries_r12 as R12
from news_information_retrieval_system_spark.index.build import build_index
from news_information_retrieval_system_spark.query.bm25 import score_bm25, topk
from news_information_retrieval_system_spark.query.diversify import (
    collapse_results,
    mmr_rerank,
)
from news_information_retrieval_system_spark.query.vsm import (
    build_tfidf_weights,
)

SF_DIR = "/root/testdata/sf0.001"


def _qterms(spark, queries):
    rows = [
        (qid, t, 1) for qid, text in queries.items() for t in text.split()
    ]
    return spark.createDataFrame(
        rows, "query_id string, term string, qtf int"
    )


def test_mmr_demotes_exact_duplicate(spark):
    # docs 1 and 2 are identical; doc 3 has the same relevance (same tf
    # and dl for both query terms) but different filler terms. MMR must
    # pick 1 (doc asc tie), then 3 (diverse), then 2 (redundant) — the
    # duplicate's sim-to-selected is 1.0, the diverse doc's is < 1.
    docs = spark.createDataFrame(
        [(1, "x y a a"), (2, "x y a a"), (3, "x y b b")],
        "doc_id long, text string",
    )
    idx = build_index(docs)
    scored = score_bm25(idx, _qterms(spark, {"q1": "x y"}))
    out = (
        mmr_rerank(scored, build_tfidf_weights(idx), k=3, pool=3, lam=0.7)
        .orderBy("mmr_rank")
        .collect()
    )
    assert [r["doc_id"] for r in out] == [1, 3, 2]
    # step 1 carries mmr = λ·rel = 0.7 exactly (rel of the top doc is 1)
    assert out[0]["score_5dp"] == 70000


def test_mmr_first_pick_is_retrieval_top1(spark):
    idx = build_index(
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
    )
    q = _qterms(spark, {"q1": "fast table scan", "q2": "spark join"})
    scored = score_bm25(idx, q)
    top1 = {
        r["query_id"]: r["doc_id"]
        for r in topk(scored, k=1).collect()
    }
    first = {
        r["query_id"]: r["doc_id"]
        for r in mmr_rerank(
            scored, build_tfidf_weights(idx), k=5, pool=10
        )
        .filter(F.col("mmr_rank") == 1)
        .collect()
    }
    assert first == top1


def test_mmr_lambda_one_is_pure_relevance(spark):
    # λ=1 removes the redundancy term entirely: the MMR order must equal
    # the BM25 (score desc, doc asc) order over the pool
    docs = spark.createDataFrame(
        [(1, "x y a a"), (2, "x y a a"), (3, "x y b b"), (4, "x c c c")],
        "doc_id long, text string",
    )
    idx = build_index(docs)
    scored = score_bm25(idx, _qterms(spark, {"q1": "x y"}))
    bm25_order = [
        r["doc_id"] for r in topk(scored, k=4).orderBy("rank").collect()
    ]
    mmr_order = [
        r["doc_id"]
        for r in mmr_rerank(
            scored, build_tfidf_weights(idx), k=4, pool=4, lam=1.0
        )
        .orderBy("mmr_rank")
        .collect()
    ]
    assert mmr_order == bm25_order


def test_mmr_pool_smaller_than_k(spark):
    # a query matching fewer docs than k yields exactly that many rows
    docs = spark.createDataFrame(
        [(1, "x q"), (2, "x w"), (3, "z z")], "doc_id long, text string"
    )
    idx = build_index(docs)
    scored = score_bm25(idx, _qterms(spark, {"q1": "x"}))
    out = mmr_rerank(
        scored, build_tfidf_weights(idx), k=10, pool=10
    ).collect()
    assert sorted(r["doc_id"] for r in out) == [1, 2]
    assert sorted(r["mmr_rank"] for r in out) == [1, 2]


def test_mmr_pool_cut_on_9dp_grid(spark):
    # docs 1 and 3 tie on the 9dp grid; the raw double prefers 3 by 1e-12.
    # The pool is cut on round(score, 9) desc, doc_id asc, so a one-doc
    # pool holds doc 1, and its rel is its raw score over the pool max.
    scored = spark.createDataFrame(
        [("q1", 1, 1.0), ("q1", 2, 0.5), ("q1", 3, 1.0 + 1e-12)],
        "query_id string, doc_id long, score double",
    )
    weights = spark.createDataFrame(
        [("x", d, 1.0) for d in (1, 2, 3)],
        "term string, doc_id long, w_norm double",
    )
    out = mmr_rerank(scored, weights, k=1, pool=1, lam=0.7).collect()
    assert [(r["doc_id"], r["score_5dp"]) for r in out] == [(1, 70000)]


def test_collapse_keeps_best_and_counts(spark):
    docs = spark.createDataFrame(
        [(1, "aa"), (2, "bb"), (3, "aa"), (4, "cc"), (5, "bb")],
        "doc_id long, text string",
    )
    results = spark.createDataFrame(
        [("q1", 1, 3, 9.0), ("q1", 2, 1, 8.0), ("q1", 3, 2, 7.0),
         ("q1", 4, 4, 6.0), ("q1", 5, 5, 5.0)],
        "query_id string, rank int, doc_id long, score double",
    )
    out = {
        r["doc_id"]: r
        for r in collapse_results(results, docs, k=10).collect()
    }
    # doc 3 (rank 1) wins the "aa" group over doc 1; doc 2 wins "bb"
    assert set(out) == {3, 2, 4}
    assert out[3]["n_collapsed"] == 2 and out[3]["rank"] == 1
    assert out[2]["n_collapsed"] == 2 and out[2]["rank"] == 2
    assert out[4]["n_collapsed"] == 1 and out[4]["rank"] == 3


@pytest.mark.parametrize("name", ["mmr_topk", "collapsed_topk", "deleted_bm25"])
def test_entries_match_oracle_sf0001(spark, name):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{SF_DIR}/documents.parquet'"
    )

    def norm(df: pd.DataFrame) -> pd.DataFrame:
        df = df[sorted(df.columns)].astype(object).where(
            pd.notnull(df), None
        )
        return df.sort_values(
            by=list(df.columns), kind="mergesort"
        ).reset_index(drop=True)

    sdf = norm(R12.registry()[name](spark, SF_DIR).toPandas())
    odf = norm(con.execute(R12.ORACLES[name]).fetch_df())
    assert sdf.shape == odf.shape
    pd.testing.assert_frame_equal(sdf, odf)


def test_collapsed_pool_plants_real_duplicates(spark):
    # the derived corpus must actually exercise collapsing: at least one
    # surviving result absorbed its planted copy
    out = R12.q_collapsed_topk(spark, SF_DIR).toPandas()
    assert (out["n_collapsed"] > 1).any()
    # survivors of a collapsed group are originals (copy ids are offset)
    assert (
        out.loc[out["n_collapsed"] > 1, "doc_id"] < R12.COLLAPSE_OFFSET
    ).all()
