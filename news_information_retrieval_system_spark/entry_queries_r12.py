"""Round-5 driver-contract entries: post-retrieval SERP passes
(query/diversify.py) — MMR diversification and duplicate collapse.

* mmr_topk — Maximal Marginal Relevance re-ranking of the BM25 top-30
  pool (λ=0.7). The oracle re-derives EVERY greedy step: pool, e9-grid
  relevance, pairwise TF-IDF cosines, then MMR_K chained CTE rounds
  (the bpe_merges unrolling pattern) each computing max-sim-to-selected
  and picking the argmax on the shared integer grid, ties doc_id asc.
* collapsed_topk — duplicate-collapsed results over a derived corpus
  with PLANTED exact duplicates (every COLLAPSE_EVERY-th doc unioned
  again under doc_id+COLLAPSE_OFFSET with identical text — the
  _derived_dup_docs convention from entry_queries_ops). Pool ranking
  uses the round9 rule on BOTH sides because planted ties are exact:
  the original must beat its copy by doc_id in both engines. The
  oracle re-derives tokenize→stats→BM25 over the union corpus, the
  hash groups, winner selection, and the dense re-rank.

Constants live here so the Spark entries and the SQL oracles cannot
drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .entry_queries import (
    _SQL_BASE,
    _SQL_BM25_SCORED,
    B,
    K1,
    _docs,
    _e5,
    _index,
    _qterms,
    _qterms_values_sql,
    _ranked_out,
)

MMR_K = 10
MMR_POOL = 30
MMR_LAM = 0.7
_OML = 1.0 - MMR_LAM  # embedded via repr so both engines use the same double

COLLAPSE_EVERY = 7
COLLAPSE_OFFSET = 200000
COLLAPSE_POOL = 30
COLLAPSE_K = 10

ORACLES: dict[str, str] = {}


# ------------------------------------------------------------------ MMR
def q_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .query.bm25 import score_bm25
    from .query.diversify import mmr_rerank
    from .query.vsm import build_tfidf_weights

    idx = _index(spark, sf_dir)
    scored = score_bm25(idx, _qterms(spark), k1=K1, b=B)
    return mmr_rerank(
        scored,
        build_tfidf_weights(idx),
        k=MMR_K,
        pool=MMR_POOL,
        lam=MMR_LAM,
    )


def _mmr_oracle() -> str:
    steps = []
    for i in range(2, MMR_K + 1):
        p = i - 1
        steps.append(f"""
cand{i} AS MATERIALIZED (
  SELECT r.query_id, r.doc_id,
         cast(round({MMR_LAM!r} * r.rel_e9
                    - {_OML!r} * coalesce(ms.maxsim_e9, 0)) AS BIGINT)
           AS mmr_e9
  FROM rel r
  LEFT JOIN (SELECT s.query_id, p.doc_id, max(p.sim_e9) AS maxsim_e9
             FROM simsym p JOIN sel{p} s
               ON p.query_id = s.query_id AND p.other = s.doc_id
             GROUP BY s.query_id, p.doc_id) ms
    ON ms.query_id = r.query_id AND ms.doc_id = r.doc_id
  WHERE NOT EXISTS (SELECT 1 FROM sel{p} s
                    WHERE s.query_id = r.query_id
                      AND s.doc_id = r.doc_id)
),
pick{i} AS MATERIALIZED (
  SELECT query_id, doc_id, mmr_e9, {i} AS mmr_rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY mmr_e9 DESC, doc_id ASC) AS rn
    FROM cand{i}) WHERE rn = 1
),
sel{i} AS MATERIALIZED (SELECT * FROM sel{p} UNION ALL SELECT * FROM pick{i})""")
    return f"""{_SQL_BASE},
{_SQL_BM25_SCORED},
rk AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(score, 9) DESC, doc_id ASC)
           AS rank
  FROM scored
),
pool AS MATERIALIZED (SELECT query_id, doc_id, score FROM rk WHERE rank <= {MMR_POOL}),
rel AS MATERIALIZED (
  SELECT query_id, doc_id,
         cast(round(score / max(score) OVER (PARTITION BY query_id) * 1e9)
              AS BIGINT) AS rel_e9
  FROM pool
),
w AS MATERIALIZED (
  SELECT tf.doc_id, tf.term, (1 + log10(tf.tf)) * idf.idf AS w
  FROM tf JOIN idf USING (term)
),
norms AS MATERIALIZED (SELECT doc_id, sqrt(sum(w * w)) AS norm FROM w GROUP BY doc_id),
wn AS MATERIALIZED (SELECT w.doc_id, w.term, w.w / norms.norm AS wn
       FROM w JOIN norms USING (doc_id)),
ps AS MATERIALIZED (
  SELECT p1.query_id, p1.doc_id AS a, p2.doc_id AS b,
         cast(round(sum(wa.wn * wb.wn) * 1e9) AS BIGINT) AS sim_e9
  FROM pool p1
  JOIN pool p2 ON p1.query_id = p2.query_id AND p1.doc_id < p2.doc_id
  JOIN wn wa ON wa.doc_id = p1.doc_id
  JOIN wn wb ON wb.doc_id = p2.doc_id AND wb.term = wa.term
  GROUP BY p1.query_id, p1.doc_id, p2.doc_id
),
simsym AS MATERIALIZED (
  SELECT query_id, a AS doc_id, b AS other, sim_e9 FROM ps
  UNION ALL
  SELECT query_id, b, a, sim_e9 FROM ps
),
cand1 AS MATERIALIZED (SELECT query_id, doc_id,
                 cast(round({MMR_LAM!r} * rel_e9) AS BIGINT) AS mmr_e9
          FROM rel),
sel1 AS MATERIALIZED (
  SELECT query_id, doc_id, mmr_e9, 1 AS mmr_rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY mmr_e9 DESC, doc_id ASC) AS rn
    FROM cand1) WHERE rn = 1
),{",".join(steps)}
SELECT query_id, cast(mmr_rank AS BIGINT) AS mmr_rank,
       cast(doc_id AS BIGINT) AS doc_id,
       cast(round(mmr_e9 / 10000.0) AS BIGINT) AS score_5dp
FROM sel{MMR_K}"""


ORACLES["mmr_topk"] = _mmr_oracle()


# ----------------------------------------------------------- collapse
def _collapse_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ EXACT copies of every COLLAPSE_EVERY-th doc — a
    corpus with known identical-text duplicate pairs, derivable
    identically in SQL."""
    d = _docs(spark, sf_dir)
    extra = d.filter(F.col("doc_id") % COLLAPSE_EVERY == 0).select(
        (F.col("doc_id") + COLLAPSE_OFFSET).alias("doc_id"), "text"
    )
    return d.select("doc_id", "text").unionByName(extra)


def q_collapsed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .index.build import build_index
    from .query.bm25 import score_bm25
    from .query.diversify import collapse_results

    dd = _collapse_docs(spark, sf_dir)
    idx = build_index(dd)
    scored = score_bm25(idx, _qterms(spark), k1=K1, b=B)
    # round9 pool rank: the planted duplicate pairs have EXACTLY equal
    # scores, so raw-double ordering could disagree across engines —
    # the 9dp grid forces the tie, and doc_id asc picks the original.
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("score", 9)), F.asc("doc_id")
    )
    pool = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= COLLAPSE_POOL)
        .select("query_id", "rank", "doc_id", "score")
    )
    out = collapse_results(pool, dd, k=COLLAPSE_K)
    return out.select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        _e5(),
        F.col("n_collapsed").cast("long").alias("n_collapsed"),
    )


ORACLES["collapsed_topk"] = f"""
WITH dd AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {COLLAPSE_OFFSET}, text FROM documents
  WHERE doc_id % {COLLAPSE_EVERY} = 0
),
toks AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
  FROM dd
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
dl AS (SELECT doc_id,
              len(list_filter(string_split(text, ' '), x -> x <> '')) AS dl
       FROM dd),
stats AS (SELECT cast(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl),
df AS (SELECT term, cast(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
idf AS (SELECT term, df, ln(1 + (s.n_docs - df + 0.5)/(df + 0.5)) AS idf
        FROM df CROSS JOIN stats s),
{_qterms_values_sql()},
{_SQL_BM25_SCORED.strip()},
rk AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(score, 9) DESC, doc_id ASC)
           AS rank
  FROM scored
),
pool AS (SELECT * FROM rk WHERE rank <= {COLLAPSE_POOL}),
h AS (SELECT doc_id, md5(text) AS h FROM dd),
grp AS (
  SELECT p.query_id, p.rank, p.doc_id, p.score,
         count(*) OVER (PARTITION BY p.query_id, h.h) AS n_collapsed,
         min(p.rank) OVER (PARTITION BY p.query_id, h.h) AS best
  FROM pool p JOIN h USING (doc_id)
),
fin AS (
  SELECT query_id, doc_id, score, n_collapsed,
         row_number() OVER (PARTITION BY query_id ORDER BY rank ASC)
           AS new_rank
  FROM grp WHERE rank = best
)
SELECT query_id, cast(new_rank AS BIGINT) AS rank,
       cast(doc_id AS BIGINT) AS doc_id,
       cast(round(score * 100000) AS BIGINT) AS score_5dp,
       cast(n_collapsed AS BIGINT) AS n_collapsed
FROM fin WHERE new_rank <= {COLLAPSE_K}
"""


# ---------------------------------------------------------- tombstones
DEL_EVERY = 11  # delete every 11th doc — the planted deletion set


def q_deleted_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 over the tombstone-MASKED index (index/tombstones.py
    apply_tombstones). The oracle is a from-scratch derivation over the
    SURVIVING docs only, so a green row proves delete ≡ rebuild —
    including the recomputed df/idf/avgdl statistics."""
    from .index.tombstones import apply_tombstones
    from .query.bm25 import score_bm25

    tomb = (
        _docs(spark, sf_dir)
        .filter(F.col("doc_id") % DEL_EVERY == 0)
        .select("doc_id")
    )
    idx = apply_tombstones(_index(spark, sf_dir), tomb)
    return _ranked_out(score_bm25(idx, _qterms(spark), k1=K1, b=B), k=10)


ORACLES["deleted_bm25"] = f"""
WITH dd AS (
  SELECT doc_id, text FROM documents WHERE doc_id % {DEL_EVERY} <> 0
),
toks AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
  FROM dd
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
dl AS (SELECT doc_id,
              len(list_filter(string_split(text, ' '), x -> x <> '')) AS dl
       FROM dd),
stats AS (SELECT cast(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl),
df AS (SELECT term, cast(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
idf AS (SELECT term, df, ln(1 + (s.n_docs - df + 0.5)/(df + 0.5)) AS idf
        FROM df CROSS JOIN stats s),
{_qterms_values_sql()},
{_SQL_BM25_SCORED.strip()},
rk AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(score, 9) DESC, doc_id ASC)
           AS rank
  FROM scored
)
SELECT query_id, cast(rank AS BIGINT) AS rank,
       cast(doc_id AS BIGINT) AS doc_id,
       cast(round(score * 100000) AS BIGINT) AS score_5dp
FROM rk WHERE rank <= 10
"""


def registry():
    return {
        "mmr_topk": q_mmr_topk,
        "collapsed_topk": q_collapsed_topk,
        "deleted_bm25": q_deleted_bm25,
    }
