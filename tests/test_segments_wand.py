"""Blocked index build, segment merge, resumable lineage, WAND exactness."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from news_information_retrieval_system_spark.corpus import synth_transcripts
from news_information_retrieval_system_spark.docids import with_doc_ids
from news_information_retrieval_system_spark.index.build import build_index
from news_information_retrieval_system_spark.index.segments import (
    build_blocked_postings,
    build_resumable,
    explode_blocks,
    load_merged_blocks,
    merge_segments,
)
from news_information_retrieval_system_spark.query.bm25 import bm25_topk, query_terms_df
from news_information_retrieval_system_spark.query.wand import wand_topk

SPAN = 6  # tiny blocks (64-doc ranges) to force multi-block terms in tests


@pytest.fixture(scope="module")
def corpus(spark):
    docs = with_doc_ids(synth_transcripts(spark, 400, seed=7), method="dense")
    docs = docs.select("doc_id", "text").persist()
    docs.count()
    return docs


def test_blocked_roundtrip(spark, corpus):
    idx = build_index(corpus)
    blocks = build_blocked_postings(idx.postings, span_bits=SPAN)
    flat2 = explode_blocks(blocks, span_bits=SPAN)
    a = set(map(tuple, idx.postings.collect()))
    b = set(map(tuple, flat2.collect()))
    assert a == b


def test_block_invariants(spark, corpus):
    idx = build_index(corpus)
    blocks = build_blocked_postings(idx.postings, span_bits=SPAN).persist()
    bad = blocks.filter(
        (F.col("min_doc") > F.col("max_doc"))
        | (F.shiftright("min_doc", SPAN) != F.col("block_key"))
        | (F.shiftright("max_doc", SPAN) != F.col("block_key"))
        | (F.col("n") <= 0)
    )
    assert bad.count() == 0
    # hot terms must span multiple blocks (the skew-sharding property)
    hot = blocks.groupBy("term").count().orderBy(F.desc("count")).first()
    assert hot["count"] > 1


BLOCK_COLS = ["term", "block_key", "n", "min_doc", "max_doc", "max_tf",
              "min_dl", "nbytes", "data"]


def _block_rows(df):
    return sorted(
        tuple(bytes(r[c]) if c == "data" else r[c] for c in BLOCK_COLS)
        for r in df.collect()
    )


@pytest.mark.parametrize("codec", ["varint", "pfor", "ef"])
def test_merge_segments_identity(spark, corpus, codec):
    # split the corpus by doc-id hash, so nearly every (term, block_key)
    # group straddles both segments with interleaved doc ids; the merged
    # rows, payload bytes included, must equal a one-shot build
    idx = build_index(corpus)
    left = idx.postings.filter(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 0)
    right = idx.postings.filter(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 1)
    seg = build_blocked_postings(left, SPAN, codec=codec).unionByName(
        build_blocked_postings(right, SPAN, codec=codec)
    )
    merged = merge_segments(seg, SPAN, codec=codec)
    whole = build_blocked_postings(idx.postings, SPAN, codec=codec)
    assert _block_rows(merged) == _block_rows(whole)


def test_explode_blocks_ef_roundtrip_with_empty_partition(spark, corpus):
    idx = build_index(corpus)
    blocks = build_blocked_postings(idx.postings, SPAN, codec="ef")
    sc = spark.sparkContext
    rdd = sc.parallelize(blocks.collect(), 1).union(sc.parallelize([], 1))
    two = spark.createDataFrame(rdd, blocks.schema)
    assert two.rdd.getNumPartitions() == 2
    got = sorted(map(tuple, explode_blocks(two, SPAN, codec="ef").collect()))
    assert got == sorted(map(tuple, idx.postings.collect()))


def test_wand_exact_vs_bm25(spark, corpus):
    idx = build_index(corpus)
    n_docs, avgdl = idx.scalar_stats()
    blocks = build_blocked_postings(idx.postings, span_bits=SPAN)
    queries = {"q1": "the query spark", "q2": "data table", "q3": "index search fast"}
    qdf = query_terms_df(spark, queries)
    qidf = qdf.join(idx.term_stats.select("term", "idf"), "term")
    got = wand_topk(blocks, qidf, n_docs, avgdl, k=10, span_bits=SPAN).collect()
    want = bm25_topk(idx, qdf, k=10).collect()
    gm = {(r["query_id"], r["rank"]): (r["doc_id"], r["score"]) for r in got}
    wm = {(r["query_id"], r["rank"]): (r["doc_id"], r["score"]) for r in want}
    assert gm.keys() == wm.keys()
    for key in wm:
        assert gm[key][0] == wm[key][0], (key, gm[key], wm[key])
        assert gm[key][1] == pytest.approx(wm[key][1], rel=1e-9)


def test_resumable_build(spark, corpus, tmp_path):
    out = str(tmp_path / "idx")
    summary = build_resumable(spark, corpus, out, num_buckets=4, span_bits=SPAN)
    assert summary["buckets"] == 4
    assert summary["docs"] == corpus.count()
    # restart: nothing to do, lineage unchanged
    summary2 = build_resumable(spark, corpus, out, num_buckets=4, span_bits=SPAN)
    assert summary2 == summary
    # merged blocks == direct build
    merged = load_merged_blocks(spark, out, SPAN)
    idx = build_index(corpus)
    whole = build_blocked_postings(idx.postings, SPAN)
    a = set(map(tuple, explode_blocks(merged, SPAN).collect()))
    b = set(map(tuple, explode_blocks(whole, SPAN).collect()))
    assert a == b


def test_resumable_skips_completed_buckets(spark, corpus, tmp_path, monkeypatch):
    import json
    from pathlib import Path

    out = tmp_path / "idx2"
    out.mkdir()
    # pretend buckets 0-2 are done; only bucket 3 should build
    fake = [
        {"bucket": b, "status": "ok", "doc_count": 0, "n_blocks": 0,
         "n_postings": 0, "bytes": 0, "term_range": [None, None],
         "n_terms": 0, "wall_time_sec": 0.0}
        for b in range(3)
    ]
    (out / "lineage.jsonl").write_text("\n".join(json.dumps(r) for r in fake) + "\n")
    build_resumable(spark, corpus, str(out), num_buckets=4, span_bits=SPAN)
    lines = [json.loads(x) for x in (out / "lineage.jsonl").read_text().splitlines()]
    assert [r["bucket"] for r in lines] == [0, 1, 2, 3]
    segs = list((out / "segments").glob("bucket=*"))
    assert [p.name for p in segs] == ["bucket=3"]


def test_narrow_blocked_build_equals_raw_shuffle_under_fragmentation(spark):
    """Segment-then-merge (default) must emit byte-identical blocks to the
    raw-shuffle plan even when the input is adversarially scattered so
    every (term, block_key) group fragments across many partitions."""
    from news_information_retrieval_system_spark.index.build import build_index
    from news_information_retrieval_system_spark.index.segments import (
        build_blocked_postings,
    )

    docs = spark.range(0, 400).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.lit("alpha"),
            F.concat(F.lit("t"), (F.col("id") % 7).cast("string")),
            F.concat(F.lit("u"), (F.col("id") % 13).cast("string")),
        ).alias("text"),
    )
    idx = build_index(docs)
    scattered = idx.postings.repartition(16)  # round-robin: max fragmentation
    a = (
        build_blocked_postings(scattered, span_bits=6, term_dict=idx.term_stats,
                               raw_shuffle=True)
        .orderBy("term", "block_key")
        .collect()
    )
    b = (
        build_blocked_postings(scattered, span_bits=6, term_dict=idx.term_stats,
                               raw_shuffle=False)
        .orderBy("term", "block_key")
        .collect()
    )
    assert len(a) == len(b) and len(a) > 20
    for ra, rb in zip(a, b):
        assert (ra["term"], ra["block_key"]) == (rb["term"], rb["block_key"])
        assert bytes(ra["data"]) == bytes(rb["data"])
        assert (ra["n"], ra["min_doc"], ra["max_doc"], ra["max_tf"], ra["min_dl"]) == (
            rb["n"], rb["min_doc"], rb["max_doc"], rb["max_tf"], rb["min_dl"]
        )


def test_resumable_staging_manifest_guard(spark, corpus, tmp_path):
    """A restart whose corpus or bucketing config differs from the staged
    input must not silently reuse the stale staging: with lineage already
    recorded it refuses; with no lineage it restages (round-2 ADVICE)."""
    import json as _json
    import pytest as _pytest

    out = tmp_path / "idx3"
    build_resumable(spark, corpus, str(out), num_buckets=4, span_bits=SPAN)
    assert (out / "staging_manifest.json").exists()
    # different num_buckets + completed lineage → hard refusal
    with _pytest.raises(ValueError, match="different corpus/configuration"):
        build_resumable(spark, corpus, str(out), num_buckets=8, span_bits=SPAN)
    # different corpus + completed lineage → hard refusal
    other = corpus.limit(corpus.count() - 5)
    with _pytest.raises(ValueError, match="different corpus/configuration"):
        build_resumable(spark, other, str(out), num_buckets=4, span_bits=SPAN)
    # same corpus/config → clean no-op resume, manifest unchanged
    m0 = _json.loads((out / "staging_manifest.json").read_text())
    build_resumable(spark, corpus, str(out), num_buckets=4, span_bits=SPAN)
    assert _json.loads((out / "staging_manifest.json").read_text()) == m0
    # fresh dir, no lineage: a config change just restages
    out2 = tmp_path / "idx4"
    build_resumable(spark, corpus, str(out2), num_buckets=2, span_bits=SPAN)
    (out2 / "lineage.jsonl").unlink()
    build_resumable(spark, corpus, str(out2), num_buckets=4, span_bits=SPAN)
    m2 = _json.loads((out2 / "staging_manifest.json").read_text())
    assert m2["num_buckets"] == 4


def test_pfor_codec_end_to_end(spark, corpus):
    """codec="pfor" (PForDelta blocks) is a drop-in for the varint default:
    identical exploded postings, identical WAND top-k (both raw-shuffle and
    segment-merge plans), and at least comparable compressed size on the
    dense-doc-id corpus."""
    idx = build_index(corpus)
    n_docs, avgdl = idx.scalar_stats()
    flat = set(map(tuple, idx.postings.collect()))
    queries = {"q1": "the query spark", "q2": "data table"}
    qdf = query_terms_df(spark, queries)
    qidf = qdf.join(idx.term_stats.select("term", "idf"), "term")
    blocks = build_blocked_postings(idx.postings, span_bits=SPAN)
    want = {
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in wand_topk(
            blocks, qidf, n_docs, avgdl, k=10, span_bits=SPAN
        ).collect()
    }
    for raw in (True, False):
        pblocks = build_blocked_postings(
            idx.postings, span_bits=SPAN, raw_shuffle=raw, codec="pfor"
        ).persist()
        got_flat = set(
            map(tuple, explode_blocks(pblocks, span_bits=SPAN, codec="pfor").collect())
        )
        assert got_flat == flat
        got = {
            (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
            for r in wand_topk(
                pblocks, qidf, n_docs, avgdl, k=10, span_bits=SPAN, codec="pfor"
            ).collect()
        }
        assert got == want
        pblocks.unpersist()


def _ranked(df):
    return sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9)) for r in df.collect()
    )


def test_wand_skips_group_below_theta(spark, monkeypatch):
    """Two doc ranges: the first fills the top-k with scores above the
    second range's upper bound, so the kernel never decodes the second
    group, and its rows still equal bm25_topk."""
    from news_information_retrieval_system_spark.query import wand
    from news_information_retrieval_system_spark.query.bm25_batch import (
        _bm25_weight,
        _query_batch,
    )

    k = 3
    texts = [(d, "a a a a a x x x x x") for d in range(10)]  # tf 5, dl 10
    texts += [(64 + d, "a " + "y " * 99) for d in range(6)]  # tf 1, dl 100
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    idx = build_index(docs)
    _, avgdl = idx.scalar_stats()
    qdf = query_terms_df(spark, {"q": "a"})
    qb, codes = _query_batch(qdf.join(idx.term_stats.select("term", "idf"), "term"))
    batch = (
        build_blocked_postings(idx.postings, span_bits=SPAN)
        .join(codes, "term")
        .toPandas()
    )
    assert sorted(batch["block_key"]) == [0, 1]
    want = _ranked(bm25_topk(idx, qdf, k=k))
    ub = _bm25_weight(
        qb.idf[batch["tcode"].to_numpy()], batch["max_tf"].to_numpy(),
        batch["min_dl"].to_numpy(), 1.2, 0.75, avgdl,
    )
    assert ub[batch["block_key"].to_numpy() == 1].max() < want[-1][3]  # below θ

    decoded = []
    real = wand.decode_blocks

    def counting(data, n, base, codec):
        decoded.append(int(base[0]) >> SPAN)
        return real(data, n, base, codec)

    monkeypatch.setattr(wand, "decode_blocks", counting)
    kernel = wand._make_kernel(k, 1.2, 0.75, avgdl, SPAN, qb, "varint")
    cand = pd.concat(list(kernel(iter([batch]))))
    assert decoded == [0]
    cand = cand.sort_values(["score", "doc_id"], ascending=[False, True]).head(k)
    got = [("q", i + 1, int(d), round(s, 9))
           for i, (d, s) in enumerate(zip(cand["doc_id"], cand["score"]))]
    assert got == want


def test_topk_ties_across_groups_and_partitions(spark, corpus):
    """Duplicate texts in four doc ranges tie at the k-th place: every
    kernel keeps the lowest doc ids, with the same 9dp scores."""
    from news_information_retrieval_system_spark.query.bm25_batch import bm25_topk_docpart

    dup = "zzdup spark index query table"
    dups = [5, 70, 140, 200]
    docs = corpus.withColumn(
        "text", F.when(F.col("doc_id").isin(dups), F.lit(dup)).otherwise(F.col("text"))
    )
    idx = build_index(docs)
    n_docs, avgdl = idx.scalar_stats()
    qdf = query_terms_df(
        spark, {"q1": "zzdup", "q2": "zzdup spark index", "q3": "zzdup table spark query"}
    )
    qidf = qdf.join(idx.term_stats.select("term", "idf"), "term")
    for k in (2, 3):
        want = _ranked(bm25_topk(idx, qdf, k=k))
        assert [r[2] for r in want if r[0] == "q1"] == dups[:k]
        assert _ranked(bm25_topk_docpart(idx, qdf, k=k)) == want
        for codec in ("varint", "pfor"):
            blocks = build_blocked_postings(idx.postings, span_bits=SPAN, codec=codec)
            got = wand_topk(blocks, qidf, n_docs, avgdl, k=k, span_bits=SPAN, codec=codec)
            assert _ranked(got) == want, (k, codec)
