import math

from news_information_retrieval_system_spark.index.build import build_index, build_positional
from news_information_retrieval_system_spark.oracle import OracleIndex

from conftest import MINI_CORPUS


def test_postings_match_oracle(spark, mini_docs):
    idx = build_index(mini_docs)
    oracle = OracleIndex(MINI_CORPUS)
    got = {
        (r["term"], r["doc_id"]): (r["tf"], r["dl"])
        for r in idx.postings.collect()
    }
    want = {
        (t, d): (tf, oracle.dl[d])
        for t, p in oracle.postings.items()
        for d, tf in p.items()
    }
    assert got == want


def test_term_stats_and_corpus_stats(spark, mini_docs):
    idx = build_index(mini_docs)
    oracle = OracleIndex(MINI_CORPUS)
    n, avgdl = idx.scalar_stats()
    assert n == oracle.n_docs
    assert avgdl == oracle.avgdl
    got = {r["term"]: (r["df"], r["idf"]) for r in idx.term_stats.collect()}
    for term, df in oracle.df.items():
        assert got[term][0] == df
        assert math.isclose(got[term][1], oracle.idf[term], rel_tol=1e-12)


def test_positional_index(spark, mini_docs):
    pos = build_positional(mini_docs)
    got = {
        (r["term"], r["doc_id"]): list(r["positions"]) for r in pos.collect()
    }
    # doc 2: "fast queries need a fast index and a fast scan"
    assert got[("fast", 2)] == [0, 4, 8]
    assert got[("a", 2)] == [3, 7]
    assert got[("scan", 6)] == [0, 4]


def test_flat_postings_long_doc_path_identical(spark, mini_docs):
    """The sorted-run-length long-doc branch emits the exact same posting
    rows as the distinct-filter short-doc branch, and a dl≈5k doc goes
    through it without the quadratic path (threshold forces the branch)."""
    from pyspark.sql import functions as F

    from news_information_retrieval_system_spark.index.build import (
        flat_postings,
        tokens_df,
    )

    toks = tokens_df(mini_docs)
    short = {
        (r["term"], r["doc_id"], r["tf"], r["dl"])
        for r in flat_postings(toks, long_doc_threshold=10**6).collect()
    }
    long = {
        (r["term"], r["doc_id"], r["tf"], r["dl"])
        for r in flat_postings(toks, long_doc_threshold=0).collect()
    }
    assert short == long

    # a genuinely long doc: 5000 tokens over a 50-term vocab
    words = " ".join(f"w{i % 50:02d}" for i in range(5000))
    big = spark.createDataFrame([(0, words)], "doc_id long, text string")
    rows = flat_postings(tokens_df(big)).collect()  # default threshold 512
    assert len(rows) == 50
    assert all(r["tf"] == 100 and r["dl"] == 5000 for r in rows)


def test_flat_postings_long_docs_match_counter(spark):
    """4k- and 40k-token docs take the sorted-run-length branch: rows equal
    a driver-side Counter, and the 40k doc stays inside a generous bound
    (with the sort re-evaluated per element a 4k doc took 84 s)."""
    import random
    import time
    from collections import Counter

    from news_information_retrieval_system_spark.index.build import (
        flat_postings,
        tokens_df,
    )
    from news_information_retrieval_system_spark.tokenize import py_tokenize

    rng = random.Random(5)
    for n_tok in (4_000, 40_000):
        text = " ".join(f"w{rng.randrange(3000):04d}" for _ in range(n_tok))
        doc = spark.createDataFrame([(n_tok, text)], "doc_id long, text string")
        t0 = time.perf_counter()
        rows = flat_postings(tokens_df(doc)).collect()
        elapsed = time.perf_counter() - t0
        want = Counter(py_tokenize(text))
        assert sum(want.values()) == n_tok
        assert sorted((r["term"], r["doc_id"], r["tf"], r["dl"]) for r in rows) == sorted(
            (t, n_tok, tf, n_tok) for t, tf in want.items()
        )
        if n_tok == 40_000:
            assert elapsed < 15, elapsed
