"""Headline benchmark. Prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Setup (untimed, cached across runs): a deterministic synthetic transcript
corpus with dense doc_ids is materialized to parquet — the engine's real
input is an Iceberg-style table (BASELINE.json input_hint), so the timed
pipeline starts at the table scan, exactly as it would at 100 TB.

Timed phases at $SPARK_GRAFT_SF_DIR / local[$SPARK_GRAFT_CPUS]:
  build_flat    — parquet scan → tokenize → flat postings + stats
  build_blocked — delta+varint block encoding (mapInPandas vectorized)
  bm25_batch      — 256-query BM25 batch (naive declarative plan: two
                    wide shuffles proportional to the hit count — kept as
                    the small-batch declarative baseline only)
  bm25_docpart    — 256-query batch, doc-partitioned exhaustive kernel
                    (each posting shipped once, per-partition top-k)
  bm25_docpart_1024 / wand_batch_1024 — the HEADLINE regime: the engine
                    amortizes per-job overhead across the batch, so the
                    1024-query numbers are where its real throughput
                    lives (256-query rows are dominated by documented
                    host memory-bandwidth drift — BENCH/BASELINE.md r3).
  wand_batch      — 256-query batch through the block-max WAND kernel
  docs_bm25       — driver-contract BM25 batch over documents.parquet

Extra keys: turns, build_turns_per_sec, qps_* (qps_wand/qps_docpart come
from the 1024 batch; *_256 variants report the small batch), cores,
batch_sizes. Env: SPARK_GRAFT_TURNS overrides corpus size (default
2M × sf); SPARK_GRAFT_QUERIES overrides the headline batch size.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent))

from news_information_retrieval_system_spark.corpus import synth_transcripts, vocabulary  # noqa: E402
from news_information_retrieval_system_spark.docids import with_doc_ids  # noqa: E402
from news_information_retrieval_system_spark.index.build import build_index  # noqa: E402
from news_information_retrieval_system_spark.index.segments import build_blocked_postings  # noqa: E402
from news_information_retrieval_system_spark.query.bm25 import bm25_topk, query_terms_df  # noqa: E402
from news_information_retrieval_system_spark.query.bm25_batch import bm25_topk_docpart  # noqa: E402
from news_information_retrieval_system_spark.query.wand import wand_topk  # noqa: E402
from news_information_retrieval_system_spark.session import default_cores, get_spark  # noqa: E402

N_QUERIES = int(os.environ.get("SPARK_GRAFT_QUERIES", "1024"))  # headline batch
N_SMALL = int(os.environ.get("SPARK_GRAFT_SMALL_QUERIES", str(min(256, N_QUERIES))))
# the naive declarative plan's cost is ∝ queries × corpus; cap it separately
# so big-batch scaling runs don't spend their whole budget on the baseline
N_NAIVE = int(os.environ.get("SPARK_GRAFT_NAIVE_QUERIES", str(min(256, N_QUERIES))))
TURNS_PER_SF = 2_000_000
CORPUS_CACHE = "/tmp/spark_graft_bench"


def bench_queries(n: int = N_QUERIES) -> dict[str, str]:
    """Deterministic query mix: hot+mid+rare term combinations."""
    vocab = vocabulary()
    qs = {}
    for i in range(n):
        hot = vocab[i % 40]
        mid = vocab[40 + (i * 7) % 400]
        rare = vocab[500 + (i * 131) % 4000]
        qs[f"b{i:03d}"] = f"{hot} {mid} {rare}" if i % 3 else f"{hot} {mid}"
    return qs


def ensure_corpus(spark, n_turns: int) -> str:
    """Materialize the deterministic corpus once; reuse across runs so both
    parallelism levels in a scaling comparison read identical bytes."""
    path = f"{CORPUS_CACHE}/turns={n_turns}/v3"
    marker = Path(path) / "_SUCCESS"
    if not marker.exists():
        docs = with_doc_ids(synth_transcripts(spark, n_turns, seed=42), "dense")
        # doc-range clustered layout — the engine's ingest contract (stable
        # (conv_id, turn_idx) ordering ⇒ dense doc-id ranges per file).
        # Every scan split of a range-sorted parquet file is itself a
        # contiguous doc range, so the flat build stays a narrow pipeline
        # AND the blocked build can encode per-partition segments without
        # shuffling raw postings (only encoded blocks shuffle to merge
        # boundary straddlers). File count scales with the corpus
        # (~one 2^14-doc block span per file, floor 64 for parallelism);
        # identical layout at every parallelism level of a scaling
        # comparison.
        n_files = max(64, n_turns // 16384)
        (
            docs.repartitionByRange(n_files, "doc_id")
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite")
            .parquet(path)
        )
    return path


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = default_cores()
    sf = float(Path(sf_dir).name.replace("sf", "") or 0.1)
    n_turns = int(
        os.environ.get("SPARK_GRAFT_TURNS", max(10_000, int(TURNS_PER_SF * sf)))
    )
    spark = get_spark("nirs-bench", cores=cores)
    times: dict[str, float] = {}

    def timed(name, fn):
        t0 = time.time()
        out = fn()
        times[name] = round(time.time() - t0, 3)
        return out

    # Untimed warmup at 1/10 scale: JIT/codegen compilation, python-worker
    # spin-up, and first-touch page faults (pathologically slow on this VM
    # class — see package __init__) are one-time session costs, not
    # steady-state throughput. Phases below measure the warm engine.
    warm_turns = max(10_000, n_turns // 10)
    warm_path = ensure_corpus(spark, warm_turns)
    wdocs = spark.read.parquet(warm_path).select("doc_id", "text")
    widx = build_index(wdocs).materialize()
    wblk = build_blocked_postings(widx.postings, term_dict=widx.term_stats).persist()
    wblk.count()
    wq = query_terms_df(spark, bench_queries(32)).persist()
    bm25_topk(widx, wq, k=10).count()
    bm25_topk_docpart(widx, wq, k=10).count()
    wn, wavg = widx.scalar_stats()
    wqi = wq.join(widx.term_stats.select("term", "idf"), "term")
    wand_topk(wblk, wqi, wn, wavg, k=10).count()
    measure_curation = os.environ.get("SPARK_GRAFT_CURATION", "1") != "0"
    if measure_curation:
        # curation-path warmup: its expression trees (quality heuristic,
        # minhash aggregates) carry their own codegen/JIT first-run cost
        # — measured 88 s cold vs 8 s warm at 200k turns
        from news_information_retrieval_system_spark.ops.curation import (
            duplicate_spans,
            pack_sequences,
        )
        from news_information_retrieval_system_spark.ops.pipeline import (
            curate_corpus,
        )

        pack_sequences(wdocs, seq_len=2048).count()
        curate_corpus(wdocs, None, redact_pii=True)
        duplicate_spans(wdocs, k=5).count()
    for df in (wblk, wq):
        df.unpersist()
    widx.unpersist()

    corpus_path = ensure_corpus(spark, n_turns)
    docs = spark.read.parquet(corpus_path).select("doc_id", "text")
    idx = build_index(docs)

    def _build_flat():
        # full index materialization: postings (the tokenize+shuffle pass)
        # plus doc/term/corpus stats, all derived from the postings cache
        idx.materialize()
        return idx.postings.count()

    n_postings = timed("build_flat", _build_flat)
    n_docs, avgdl = idx.scalar_stats()

    def _build_blocked():
        blk = build_blocked_postings(idx.postings, term_dict=idx.term_stats).persist()
        return blk, blk.count()

    blocks, n_blocks = timed("build_blocked", _build_blocked)

    # query frames: the headline batch and the small-batch prefix subset
    # (bench_queries is deterministic, so the first N_SMALL ids of the big
    # batch ARE the small batch — one persist serves both regimes)
    qdf = query_terms_df(spark, bench_queries()).persist()
    qdf.count()

    def _subset(n):
        if n == N_QUERIES:
            return qdf
        ids = list(bench_queries(n))
        sub = qdf.filter(F.col("query_id").isin(ids)).persist()
        sub.count()
        return sub

    qnaive = _subset(N_NAIVE)
    qsmall = _subset(N_SMALL)
    timed("bm25_batch", lambda: bm25_topk(idx, qnaive, k=10).count())
    timed("bm25_docpart", lambda: bm25_topk_docpart(idx, qsmall, k=10).count())
    timed("bm25_docpart_1024", lambda: bm25_topk_docpart(idx, qdf, k=10).count())
    qidf_small = qsmall.join(idx.term_stats.select("term", "idf"), "term").persist()
    qidf_small.count()
    timed("wand_batch", lambda: wand_topk(blocks, qidf_small, n_docs, avgdl, k=10).count())
    qidf = qdf.join(idx.term_stats.select("term", "idf"), "term").persist()
    qidf.count()
    timed("wand_batch_1024", lambda: wand_topk(blocks, qidf, n_docs, avgdl, k=10).count())

    from news_information_retrieval_system_spark import entry_queries as EQ

    timed("docs_bm25", lambda: EQ.q_bm25_topk(spark, sf_dir).count())

    total = round(sum(times.values()), 3)

    # ------------- curation face (reported separately: NOT part of the
    # headline value/queries keys, so cross-round suite comparisons and
    # the north-rule metric stay apples-to-apples). SPARK_GRAFT_CURATION=0
    # skips it — scaling runs measure the north-rule phases only (the
    # full pipeline at 4M turns on 2 pinned cores would dominate their
    # wall budget); scripts/scaling_pack.py covers packing scaling.
    curation: dict = {}
    if measure_curation:
        ctimes: dict[str, float] = {}
        t0 = time.time()
        n_placed = pack_sequences(docs, seq_len=2048).count()
        ctimes["pack"] = round(time.time() - t0, 3)
        t0 = time.time()
        _, cstats = curate_corpus(docs, None, redact_pii=True)
        ctimes["curate"] = round(time.time() - t0, 3)
        t0 = time.time()
        n_span_docs = duplicate_spans(docs, k=5).count()
        ctimes["dup_spans"] = round(time.time() - t0, 3)
        curation = {
            "times": ctimes,
            "pack_turns_per_sec": round(n_placed / ctimes["pack"], 1),
            "curate_turns_per_sec": round(n_turns / ctimes["curate"], 1),
            "dup_spans_turns_per_sec": round(n_turns / ctimes["dup_spans"], 1),
            "n_span_docs": n_span_docs,
            "curate_stats": cstats,
        }
    build_sec = times["build_flat"] + times["build_blocked"]
    result = {
        "metric": "index_build_plus_query_suite_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "turns": n_turns,
        "n_postings": n_postings,
        "n_blocks": n_blocks,
        "cores": cores,
        "n_queries": N_QUERIES,
        "n_naive": N_NAIVE,
        "batch_sizes": {
            "bm25_batch": N_NAIVE,
            "bm25_docpart": N_SMALL,
            "bm25_docpart_1024": N_QUERIES,
            "wand_batch": N_SMALL,
            "wand_batch_1024": N_QUERIES,
        },
        "build_turns_per_sec": round(n_turns / build_sec, 1),
        "qps_bm25": round(N_NAIVE / times["bm25_batch"], 2),
        "qps_docpart": round(N_QUERIES / times["bm25_docpart_1024"], 2),
        "qps_docpart_256": round(N_SMALL / times["bm25_docpart"], 2),
        "qps_wand": round(N_QUERIES / times["wand_batch_1024"], 2),
        "qps_wand_256": round(N_SMALL / times["wand_batch"], 2),
        "curation": curation,
    }
    spark.stop()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
