"""Independent oracle: the same index statistics and BM25 top-k computed by
DuckDB SQL straight from the corpus parquet, plus the comparison rule every
check uses.

Nothing here imports the engine. Tokens are lowercase runs of ``[a-z0-9_]``,
which is what the engine's tokenizer yields on the generated ASCII corpus.
"""

from __future__ import annotations

import re

import duckdb
import pandas as pd

K1, B = 1.2, 0.75
SLACK = 5  # extra oracle rows so ties at the k-th score can be judged
_TOKEN = re.compile(r"[a-z0-9_]+")


def tokens(text: str) -> list[str]:
    return _TOKEN.findall(text.lower())


class DuckOracle:
    def __init__(self, corpus_dir, excluded: list[int] = ()):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 4")
        self.con.execute(
            f"CREATE TABLE docs AS SELECT doc_id, text "
            f"FROM read_parquet('{corpus_dir}/*.parquet')"
        )
        if excluded:
            gone = pd.DataFrame({"doc_id": list(excluded)})
            self.con.register("gone", gone)
            self.con.execute("DELETE FROM docs WHERE doc_id IN (SELECT doc_id FROM gone)")
        self.con.execute(
            """
            CREATE TABLE post AS
            SELECT term, doc_id, count(*)::BIGINT AS tf FROM (
              SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9_]+')) AS term
              FROM docs)
            WHERE term <> '' GROUP BY term, doc_id
            """
        )
        self.con.execute(
            "CREATE TABLE dl AS SELECT doc_id, sum(tf)::BIGINT AS dl FROM post GROUP BY doc_id"
        )
        n, total, n_post = self.con.execute(
            "SELECT (SELECT count(*) FROM docs), (SELECT sum(tf) FROM post), "
            "(SELECT count(*) FROM post)"
        ).fetchone()
        self.n_docs, self.n_postings = int(n), int(n_post)
        self.avgdl = float(total) / self.n_docs
        self.con.execute(
            f"""
            CREATE TABLE ts AS SELECT term, count(*) AS df,
              ln(1.0 + ({self.n_docs} - count(*) + 0.5) / (count(*) + 0.5)) AS idf
            FROM post GROUP BY term
            """
        )

    def block_count(self, span_bits: int) -> int:
        """Number of (term, doc-range) groups, i.e. encoded block rows."""
        return int(
            self.con.execute(
                f"SELECT count(*) FROM (SELECT DISTINCT term, doc_id >> {span_bits} FROM post)"
            ).fetchone()[0]
        )

    def term_stats(self) -> dict[str, tuple[int, float]]:
        """term -> (df, idf)."""
        rows = self.con.execute("SELECT term, df, idf FROM ts").fetchall()
        return {t: (int(df), float(idf)) for t, df, idf in rows}

    def postings_of_docs(self, doc_ids: list[int]) -> int:
        """Number of postings rows of the given docs."""
        self.con.register("ids", pd.DataFrame({"doc_id": list(doc_ids)}))
        return int(
            self.con.execute(
                "SELECT count(*) FROM post WHERE doc_id IN (SELECT doc_id FROM ids)"
            ).fetchone()[0]
        )

    def postings_of(self, term: str, lo: int, hi: int) -> list[tuple[int, int, int]]:
        """(doc_id, tf, dl) of ``term`` for doc ids in [lo, hi], doc order."""
        return [
            tuple(int(x) for x in r)
            for r in self.con.execute(
                "SELECT p.doc_id, p.tf, d.dl FROM post p JOIN dl d USING (doc_id) "
                "WHERE p.term = ? AND p.doc_id BETWEEN ? AND ? ORDER BY p.doc_id",
                [term, lo, hi],
            ).fetchall()
        ]

    def topk(self, queries: dict[str, str], k: int) -> dict[str, list[tuple[int, float]]]:
        """qid -> [(doc_id, round(score, 9))], the best k + SLACK rows ordered
        by (rounded score desc, doc_id asc)."""
        rows = []
        for qid, text in queries.items():
            counts: dict[str, int] = {}
            for t in tokens(text):
                counts[t] = counts.get(t, 0) + 1
            rows += [(qid, t, c) for t, c in counts.items()]
        self.con.register("q", pd.DataFrame(rows, columns=["query_id", "term", "qtf"]))
        res = self.con.execute(
            f"""
            WITH s AS (
              SELECT q.query_id, p.doc_id, round(sum(q.qtf * ts.idf * (p.tf * {K1 + 1.0})
                / (p.tf + {K1} * (1.0 - {B} + {B} * d.dl / {self.avgdl!r}))), 9) AS score
              FROM q JOIN ts USING (term) JOIN post p USING (term) JOIN dl d USING (doc_id)
              GROUP BY q.query_id, p.doc_id),
            r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY score DESC, doc_id ASC) AS rk FROM s)
            SELECT query_id, doc_id, score FROM r WHERE rk <= {k + SLACK}
            ORDER BY query_id, rk
            """
        ).fetchall()
        out: dict[str, list[tuple[int, float]]] = {q: [] for q in queries}
        for qid, doc, score in res:
            out[qid].append((int(doc), float(score)))
        return out


def ranked(rows) -> dict[str, list[tuple[int, float]]]:
    """Engine result rows (query_id, rank, doc_id, score) -> qid ->
    [(doc_id, round(score, 9))] in (rounded score desc, doc_id asc) order."""
    out: dict[str, list[tuple[int, float]]] = {}
    for r in rows:
        out.setdefault(r["query_id"], []).append((int(r["doc_id"]), round(float(r["score"]), 9)))
    for v in out.values():
        v.sort(key=lambda x: (-x[1], x[0]))
    return out


def same_topk(got: list[tuple[int, float]], want: list[tuple[int, float]], k: int) -> bool:
    """True when ``got`` is a correct top-k against the oracle's k + SLACK
    rows: same length, same rounded scores rank by rank, the same docs above
    the k-th score, and docs tied at the k-th score drawn from the oracle's
    docs with that score."""
    want_k = want[:k]
    if len(got) != len(want_k):
        return False
    if [s for _, s in got] != [s for _, s in want_k]:
        return False
    if not got:
        return True
    cut = want_k[-1][1]
    if {d for d, s in got if s > cut} != {d for d, s in want_k if s > cut}:
        return False
    return {d for d, s in got if s == cut} <= {d for d, s in want if s == cut}
