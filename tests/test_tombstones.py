"""Tombstone deletes (index/tombstones.py): the masked live index must
equal a from-scratch rebuild without the deleted docs — frame by frame,
including the floating-point statistics — and the block-store purge
must be byte-identical to re-encoding the surviving postings."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F

from news_information_retrieval_system_spark.index.build import build_index
from news_information_retrieval_system_spark.index.segments import (
    build_blocked_postings,
)
from news_information_retrieval_system_spark.index.tombstones import (
    apply_tombstones,
    load_tombstones,
    purge_blocks,
    write_tombstones,
)
from news_information_retrieval_system_spark.query.bm25 import (
    bm25_topk,
    query_terms_df,
)

SF_DIR = "/root/testdata/sf0.001"
DELETED = [0, 7, 13, 42, 100, 311]


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )


def test_apply_equals_rebuild_exactly(spark, docs):
    tomb = spark.createDataFrame([(d,) for d in DELETED], "doc_id long")
    masked = apply_tombstones(build_index(docs), tomb)
    rebuilt = build_index(
        docs.filter(~F.col("doc_id").isin(DELETED))
    )
    for attr, cols in [
        ("postings", ["term", "doc_id", "tf", "dl"]),
        ("doc_stats", ["doc_id", "dl"]),
        ("term_stats", ["term", "df", "idf"]),  # idf bit-exact: int inputs
        ("stats", ["n_docs", "avgdl"]),
    ]:
        assert _rows(getattr(masked, attr), cols) == _rows(
            getattr(rebuilt, attr), cols
        ), attr


def test_deleted_docs_never_rank(spark, docs):
    tomb = spark.createDataFrame([(d,) for d in DELETED], "doc_id long")
    idx = apply_tombstones(build_index(docs), tomb)
    q = query_terms_df(spark, {"q1": "fast table scan", "q2": "spark join"})
    hits = {r["doc_id"] for r in bm25_topk(idx, q, k=50).collect()}
    assert hits.isdisjoint(DELETED)


def test_purge_blocks_equals_reencode(spark, docs):
    tomb = spark.createDataFrame([(d,) for d in DELETED], "doc_id long")
    idx = build_index(docs)
    idx.postings.persist().count()
    blocked = build_blocked_postings(idx.postings, span_bits=6)
    purged = purge_blocks(blocked, tomb, span_bits=6)
    rebuilt = build_blocked_postings(
        idx.postings.join(F.broadcast(tomb), "doc_id", "left_anti"),
        span_bits=6,
    )
    cols = ["term", "block_key", "n", "min_doc", "max_doc", "max_tf",
            "min_dl", "nbytes", "data"]
    a, b = _rows(purged, cols), _rows(rebuilt, cols)
    assert a == b  # byte-identical incl. the encoded payloads
    # the deletion actually touched blocks (span_bits=6 → 64-doc spans)
    assert _rows(blocked, cols) != a


def test_masked_segment_dir_equals_rebuild_ranking(spark, docs, tmp_path):
    """The full operational path: resumable segment build → tombstone
    write → load_masked_index ≡ rankings of a from-scratch build over
    the surviving docs."""
    from news_information_retrieval_system_spark.index.segments import (
        build_resumable,
    )
    from news_information_retrieval_system_spark.index.tombstones import (
        load_masked_index,
    )

    out = str(tmp_path / "seg")
    build_resumable(spark, docs, out, num_buckets=3)
    write_tombstones(spark, out, DELETED)
    masked = load_masked_index(spark, out, docs)
    rebuilt = build_index(docs.filter(~F.col("doc_id").isin(DELETED)))
    q = query_terms_df(spark, {"q1": "fast table scan", "q2": "spark join"})
    cols = ["query_id", "rank", "doc_id"]
    a = _rows(bm25_topk(masked, q, k=20), cols)
    b = _rows(bm25_topk(rebuilt, q, k=20), cols)
    assert a == b and len(a) == 40


def test_write_load_roundtrip_appends_and_dedupes(spark, tmp_path):
    out = str(tmp_path / "seg")
    write_tombstones(spark, out, [1, 2, 3])
    write_tombstones(spark, out, [3, 4])
    got = sorted(r["doc_id"] for r in load_tombstones(spark, out).collect())
    assert got == [1, 2, 3, 4]


def test_load_missing_dir_is_empty(spark, tmp_path):
    empty = load_tombstones(spark, str(tmp_path / "nope"))
    assert empty.count() == 0 and empty.columns == ["doc_id"]


def test_load_corrupt_tombstones_raises(spark, tmp_path):
    """Only a missing directory reads as "no deletes": a damaged
    tombstone file must fail the read, not hide the deletes."""
    out = str(tmp_path / "seg")
    write_tombstones(spark, out, [1, 2])
    (tmp_path / "seg" / "tombstones" / "part-99999-corrupt.parquet").write_bytes(
        b"not a parquet file"
    )
    with pytest.raises(Exception):
        load_tombstones(spark, out).count()
