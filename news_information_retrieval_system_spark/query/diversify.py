"""Search-result diversification and duplicate collapse.

Extensions beyond the reference's query surface (same family as the
champion/tiered/SDM additions): two post-retrieval passes a production
SERP runs between ranking and rendering.

* ``mmr_rerank`` — Maximal Marginal Relevance (Carbonell & Goldstein,
  SIGIR 1998): greedily re-rank a bounded candidate pool trading off
  relevance against redundancy, ``mmr(d) = λ·rel(d) − (1−λ)·max_{s∈S}
  sim(d, s)``. Relevance is the pool-normalized retrieval score; sim is
  TF-IDF (ltc) cosine between pool members (``query/vsm.py`` weights).
* ``collapse_results`` — duplicate-collapsed results: group a candidate
  pool by exact content hash (``ops/dedup.py`` md5 convention), keep the
  best-ranked member per group, re-rank densely, and report how many
  pool rows each survivor absorbed.

Scale shape: everything is bounded per query. The pool is ≤ ``pool``
docs/query, so pairwise-sim work is O(pool · terms-per-doc) join rows
and ≤ pool² sim cells per query; the greedy MMR loop runs inside ONE
``applyInPandas`` group per query (numpy over a pool×pool matrix — no
driver collect, queries parallelize freely). At 10^12 docs the pool per
query is still 30 rows, so the post-retrieval passes cost O(|Q|·pool²)
total regardless of corpus size.

Cross-engine determinism (DuckDB oracle re-derives every greedy step):
relevance and sim are fixed to e9 integer grids (round half away from
zero, matching DuckDB ``round``), each step's mmr is re-rounded onto
the e9 grid from the SAME double expression both engines evaluate, and
ties break doc_id asc — so the selection sequence is integer-exact
given e9-equal inputs (raw-float drift ~1e-15 is absorbed by the grid).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..index.build import FulltextIndex
from .vsm import build_tfidf_weights


def _round_away(x: np.ndarray) -> np.ndarray:
    """Round half away from zero → int64 (DuckDB round() semantics)."""
    return np.trunc(x + np.copysign(0.5, x)).astype(np.int64)


def pool_pairwise_cosine(
    pool: DataFrame, weights: DataFrame
) -> DataFrame:
    """(query_id, a, b, sim) TF-IDF cosine for every a < b doc pair
    inside each query's candidate pool. ``weights`` is the L2-normalized
    (term, doc_id, w_norm) table; the join replicates only POOL MEMBER
    weights per query (bounded), never the full weight table."""
    pw = weights.join(
        F.broadcast(pool.select("query_id", "doc_id").distinct()), "doc_id"
    )
    pa = pw.select(
        "query_id", F.col("doc_id").alias("a"), "term",
        F.col("w_norm").alias("wa"),
    )
    pb = pw.select(
        "query_id", F.col("doc_id").alias("b"), "term",
        F.col("w_norm").alias("wb"),
    )
    return (
        pa.join(pb, ["query_id", "term"])
        .filter(F.col("a") < F.col("b"))
        .groupBy("query_id", "a", "b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("sim"))
    )


def mmr_rerank(
    scored: DataFrame,
    weights: DataFrame,
    k: int = 10,
    pool: int = 30,
    lam: float = 0.7,
) -> DataFrame:
    """→ (query_id, mmr_rank, doc_id, score_5dp): greedy MMR selection
    of ``k`` results from the top-``pool`` candidates per query.

    ``scored``: (query_id, doc_id, score) from any retrieval scorer.
    Step 1 selects argmax λ·rel (empty selected set ⇒ redundancy 0);
    later steps subtract (1−λ)·max-sim-to-selected. score_5dp is the
    mmr value AT SELECTION TIME on the 5dp grid (step 1 = λ·rel, so a
    perfect-relevance doc scores λ·1e5).
    """
    one_minus_lam = 1.0 - lam
    # the pool is cut on the shared 9dp rank convention (round(score, 9)
    # desc, doc_id asc), so ulp-level near-ties at the cut agree across
    # engines; rel keeps the raw score
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("score", 9)), F.asc("doc_id")
    )
    cand = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= pool)
        .select("query_id", "rank", "doc_id", "score")
    )
    rel = cand.withColumn(
        "rel",
        F.col("score") / F.max("score").over(Window.partitionBy("query_id")),
    )
    sims = pool_pairwise_cosine(cand, weights)
    rel_rows = rel.select(
        "query_id",
        F.col("doc_id").alias("a"),
        F.lit(None).cast("long").alias("b"),
        F.col("rel").alias("val"),
    )
    sim_rows = sims.select("query_id", "a", "b", F.col("sim").alias("val"))
    inp = rel_rows.unionByName(sim_rows)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = pdf["query_id"].iloc[0]
        relm = pdf[pdf["b"].isna()]
        docs = np.sort(relm["a"].to_numpy(np.int64))
        n = docs.size
        pos = {int(d): i for i, d in enumerate(docs)}
        rel_e9 = np.zeros(n, dtype=np.int64)
        rel_raw = relm["val"].to_numpy(np.float64)
        for d, v in zip(relm["a"].to_numpy(np.int64), rel_raw):
            rel_e9[pos[int(d)]] = _round_away(np.float64(v) * 1e9)
        sim_e9 = np.zeros((n, n), dtype=np.int64)
        simm = pdf[pdf["b"].notna()]
        for a, b, v in zip(
            simm["a"].to_numpy(np.int64),
            simm["b"].to_numpy(np.int64),
            simm["val"].to_numpy(np.float64),
        ):
            e = _round_away(np.float64(v) * 1e9)
            sim_e9[pos[int(a)], pos[int(b)]] = e
            sim_e9[pos[int(b)], pos[int(a)]] = e
        taken = np.zeros(n, dtype=bool)
        maxsim = np.zeros(n, dtype=np.int64)
        out = []
        for step in range(1, min(k, n) + 1):
            # identical double expression to the oracle SQL, re-gridded
            mmr = _round_away(lam * rel_e9 - one_minus_lam * maxsim)
            mmr[taken] = np.iinfo(np.int64).min
            j = int(np.argmax(mmr))  # docs sorted asc → ties pick low id
            out.append(
                (
                    qid,
                    step,
                    int(docs[j]),
                    int(_round_away(np.float64(mmr[j]) / 10000.0)),
                )
            )
            taken[j] = True
            maxsim = np.maximum(maxsim, sim_e9[:, j])
        return pd.DataFrame(
            out, columns=["query_id", "mmr_rank", "doc_id", "score_5dp"]
        )

    return inp.groupBy("query_id").applyInPandas(
        kernel,
        schema="query_id string, mmr_rank long, doc_id long, score_5dp long",
    )


def mmr_topk(
    index: FulltextIndex,
    qterms: DataFrame,
    k: int = 10,
    pool: int = 30,
    lam: float = 0.7,
    k1: float = 1.2,
    b: float = 0.75,
    weights: DataFrame | None = None,
) -> DataFrame:
    """BM25-relevance MMR over the index: convenience composition."""
    from .bm25 import score_bm25

    if weights is None:
        weights = build_tfidf_weights(index)
    return mmr_rerank(
        score_bm25(index, qterms, k1=k1, b=b),
        weights,
        k=k,
        pool=pool,
        lam=lam,
    )


def collapse_results(
    results: DataFrame,
    docs: DataFrame,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """→ (query_id, rank, doc_id, score, n_collapsed): collapse a ranked
    candidate pool by exact content hash, keeping the best-ranked member
    of each duplicate group and re-ranking densely.

    ``results``: (query_id, rank, doc_id, score) — e.g. ``topk(scored,
    k=pool)``. ``n_collapsed`` counts the pool rows the survivor
    absorbed (1 = no duplicate in pool). The group winner is min rank,
    which under the (score desc, doc_id asc) rank rule is the
    lowest-doc_id member of an identical-text group (identical text ⇒
    identical score)."""
    from ..ops.dedup import content_hash_col

    hashes = docs.select(
        F.col(id_col).alias("doc_id"), content_hash_col(F.col(text_col)).alias("h")
    )
    pooled = results.join(hashes, "doc_id")
    g = Window.partitionBy("query_id", "h")
    best = (
        pooled.withColumn("n_collapsed", F.count("*").over(g))
        .withColumn("_best", F.min("rank").over(g))
        .filter(F.col("rank") == F.col("_best"))
    )
    rerank = Window.partitionBy("query_id").orderBy(F.asc("rank"))
    return (
        best.withColumn("new_rank", F.row_number().over(rerank))
        .filter(F.col("new_rank") <= k)
        .select(
            "query_id",
            F.col("new_rank").alias("rank"),
            "doc_id",
            "score",
            "n_collapsed",
        )
    )
