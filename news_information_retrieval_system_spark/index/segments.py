"""Blocked (compressed) index build, shuffle-aware segment merge,
hot-term skew handling, and resumable builds with per-partition lineage.

North-rule machinery (BASELINE.json): sharded posting lists with docID
delta + varint blocks; per-partition segment indexes merged via a
shuffle-aware merge; term-hash partitioning with doc-range sharding for
hot-term (stopword-frequency) skew; resumable from per-partition
checkpoints with lineage rows (partition id, term range, doc count, bytes,
wall time).

Key design: blocks are keyed by (term, block_key) where
``block_key = doc_id >> span_bits``. Effects:

* a hot term's postings split across many doc-range groups — THE salting
  strategy: no single reducer ever materializes a stopword's full posting
  list (bounded by 2^span_bits docs per group), cf. reference's monolithic
  per-term lists (src/ir/index/inverted_index.py:44-66);
* blocks stay doc_id-sorted globally (block_key is a prefix of doc_id),
  preserving the reference's sorted-postings invariant (:52-54) which
  powers both delta compression and DAAT merging;
* segment merge across builds is a (term, block_key) concat — sorted
  runs merge by construction;
* a document's postings for ALL terms share one block_key, so per-group
  BM25 scores are exact — the WAND kernel's per-group top-k is globally
  mergeable without rescoring.
"""

from __future__ import annotations

import json
import shutil
import time
from pathlib import Path
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tokenize import tokenizer
from .build import FulltextIndex, derive_stats, flat_postings
from .codec import decode_blocks, encode_blocks

DEFAULT_SPAN_BITS = 14  # ≤ 16384 docs per (term, block) group

BLOCK_SCHEMA = (
    "term string, block_key long, n int, min_doc long, max_doc long, "
    "max_tf int, min_dl int, nbytes int, data binary"
)


_KEY = ("tid", "tid2", "block_key")
_BLOCK_COLS = ("block_key", "n", "min_doc", "max_doc", "max_tf", "min_dl", "nbytes", "data")


def _concat(batches: Iterator[pd.DataFrame]) -> pd.DataFrame | None:
    pdfs = [p for p in batches if len(p)]
    if not pdfs:
        return None
    return pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]


def _new_group(tid, tid2, bk) -> np.ndarray:
    """True where a row starts a new (tid, tid2, block_key) run."""
    new = np.ones(len(tid), dtype=bool)
    new[1:] = (tid[1:] != tid[:-1]) | (tid2[1:] != tid2[:-1]) | (bk[1:] != bk[:-1])
    return new


def _encode_sorted(
    tid, tid2, bk, d, tf, dl, span_bits: int, codec: str
) -> pd.DataFrame:
    """Postings sorted by (tid, tid2, block_key, doc_id) → one block row
    per (tid, tid2, block_key) group, all groups encoded in one
    ``encode_blocks`` call."""
    n = len(d)
    starts = np.flatnonzero(_new_group(tid, tid2, bk))
    ends = np.append(starts[1:], n)
    sizes = ends - starts
    data = encode_blocks(d, tf, dl, sizes, bk[starts] << span_bits, codec)
    return pd.DataFrame(
        {
            "tid": tid[starts],
            "tid2": tid2[starts],
            "block_key": bk[starts],
            "n": sizes.astype(np.int32),
            "min_doc": d[starts],
            "max_doc": d[ends - 1],
            "max_tf": np.maximum.reduceat(tf, starts).astype(np.int32),
            "min_dl": np.minimum.reduceat(dl, starts).astype(np.int32),
            "nbytes": np.fromiter(map(len, data), np.int32, len(data)),
            "data": data,
        }
    )


def _encode_partition(
    batches: Iterator[pd.DataFrame], span_bits: int, codec: str = "varint"
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: ONE call per partition (not per group — per-group
    Arrow round-trips were ~500µs each, dominating encode time for small
    groups). Rows arrive hash-partitioned by (tid, tid2, block_key) and
    sorted by (tid, tid2, block_key, doc_id); ONLY fixed-width ints cross
    the Arrow boundary (string terms cost ~20s/40M rows in Python object
    materialization — they're re-attached JVM-side afterwards)."""
    pdf = _concat(batches)
    if pdf is not None:
        cols = (*_KEY, "doc_id", "tf", "dl")
        yield _encode_sorted(
            *(pdf[c].to_numpy(np.int64) for c in cols), span_bits, codec
        )


_TID_BLOCK_SCHEMA = (
    "tid long, tid2 long, block_key long, n int, min_doc long, max_doc long, "
    "max_tf int, min_dl int, nbytes int, data binary"
)


def _merge_tid_partition(
    batches: Iterator[pd.DataFrame], span_bits: int, codec: str = "varint"
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel merging duplicate (tid, tid2, block_key) block
    fragments within a partition. Rows arrive hash-partitioned by the key
    triple and sorted by (tid, tid2, block_key, min_doc). Singleton groups
    (the overwhelming majority when the input was doc-range clustered)
    pass through WITHOUT decoding — pure memcpy; all straddler fragments
    decode in one ``decode_blocks`` call, sort by (group, doc_id) and
    re-encode through the partition encoder, which reproduces the exact
    bytes a one-shot group encode would emit."""
    pdf = _concat(batches)
    if pdf is None:
        return
    tid, tid2, bk = (pdf[c].to_numpy(np.int64) for c in _KEY)
    group = np.cumsum(_new_group(tid, tid2, bk)) - 1
    straddler = np.bincount(group)[group] > 1
    out = [pdf[~straddler]]
    if straddler.any():
        frag = pdf[straddler]
        n = frag["n"].to_numpy(np.int64)
        d, tf, dl = decode_blocks(
            frag["data"].to_numpy(object), n, bk[straddler] << span_bits, codec
        )
        fgroup = group[straddler]
        order = np.lexsort((d, np.repeat(fgroup, n)))
        keys = (np.repeat(k[straddler], n)[order] for k in (tid, tid2, bk))
        merged = _encode_sorted(*keys, d[order], tf[order], dl[order], span_bits, codec)
        # any other column (merge_segments' term) rides along from each
        # group's first fragment
        first = np.flatnonzero(np.diff(fgroup, prepend=-1))
        for c in pdf.columns.difference(merged.columns):
            merged[c] = frag[c].to_numpy()[first]
        out.append(merged)
    yield pd.concat(out, ignore_index=True)


def _term_ids() -> list:
    """(tid, tid2): the 128-bit term hash the int-only kernels key on."""
    return [F.xxhash64("term").alias("tid"), F.xxhash64(F.lit(1), F.col("term")).alias("tid2")]


def _merge_blocks(
    seg: DataFrame, parts: int | None, span_bits: int, codec: str,
    schema: str = _TID_BLOCK_SCHEMA,
) -> DataFrame:
    """Block rows keyed by (tid, tid2, block_key), possibly fragmented →
    one block row per key (``_merge_tid_partition``). ``parts=None``
    lets adaptive execution size the shuffle."""
    return (
        seg.repartition(*([parts] if parts else []), *_KEY)
        .sortWithinPartitions(*_KEY, "min_doc")
        .mapInPandas(
            lambda it: _merge_tid_partition(it, span_bits, codec),
            schema=schema,
        )
    )


def build_blocked_postings(
    postings: DataFrame,
    span_bits: int = DEFAULT_SPAN_BITS,
    num_partitions: int | None = None,
    term_dict: DataFrame | None = None,
    raw_shuffle: bool | None = None,
    overlap_threshold: float = 2.0,
    codec: str = "varint",
) -> DataFrame:
    """Flat postings (term, doc_id, tf, dl) → compressed block rows.

    Segment-then-merge plan (the Lucene-style shape): each input
    partition sorts locally and encodes its own blocks (NO raw-row
    shuffle), producing per-partition SEGMENTS; only the ~10-50× smaller
    encoded block rows are then term-hash shuffled, and fragments of a
    (term, block_key) group that straddled partitions merge in a
    vectorized kernel (singletons pass through as memcpy). Output is
    byte-identical to a one-shot global group encode. When the input is
    doc-range clustered (dense doc_ids written in order — the engine's
    ingest layout), almost every group is a singleton and the shuffled
    volume is just the compressed index. Scattered input stays CORRECT
    but fragments heavily; there ``raw_shuffle=True`` shuffles the raw
    rows once up front instead (the v1 plan).

    ``raw_shuffle=None`` (default) AUTO-SELECTS:

    * **local masters → raw_shuffle.** On ``local[N]`` a shuffle is an
      intra-process memcpy, so segment-merge's smaller shuffle volume
      buys nothing while its second Python pass costs a full extra
      decode/merge. Measured (interleaved min-of-N, same cached
      postings): raw 3.76s vs merge 4.99s at 200k turns/local[32], and
      raw 37.6s vs merge 59.3s at 4M turns/pinned local[8] — raw wins
      at both parallelism levels and both corpus sizes.
    * **cluster masters → layout probe.** Over a network, shuffling the
      ~10-50× smaller encoded blocks instead of raw postings is the
      win segment-merge exists for — IF the input is doc-range
      clustered (else every group fragments). One narrow probe job
      computes each input partition's doc-id span; overlap factor =
      Σ per-partition spans / global span ≈ 1 for clustered input,
      ≈ n_partitions for scattered — above ``overlap_threshold`` the
      raw-shuffle plan wins because nearly every (term, block_key)
      group would fragment across partitions. The probe re-runs the
      postings subtree once, so call it with postings cached (the
      normal build flow materializes them first) or pass the plan
      explicitly.

    Either way, hot terms fan out over doc ranges instead of hitting a
    single reducer. Terms traverse the Python kernels as a 128-bit hash
    pair (tid, tid2) = xxhash64(term) ⊕ xxhash64(1, term) — collision odds
    ~2^-128-scale even at billions of terms — and the string is
    re-attached with a JVM join afterwards. NOTE: doc-range blocking
    presumes DENSE doc_ids (docids.with_doc_ids method='dense'); sparse
    hash ids degenerate to one-posting blocks.
    """
    blocked = postings.select(
        *_term_ids(),
        F.shiftright(F.col("doc_id"), span_bits).alias("block_key"),
        "doc_id", "tf", "dl",
    )
    # follow the session's shuffle-partition sizing (data-dependent), not
    # the core count — shuffles' plan shape must not change between
    # parallelism levels of a scaling comparison
    parts = num_partitions or int(
        postings.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    if raw_shuffle is None:
        if postings.sparkSession.sparkContext.master.startswith("local"):
            raw_shuffle = True  # shuffle is memcpy-cheap; see docstring
        else:
            prof = (
                blocked.groupBy(F.spark_partition_id().alias("pid"))
                .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
                .collect()
            )
            if prof:
                g_lo = min(r["lo"] for r in prof)
                g_hi = max(r["hi"] for r in prof)
                span_sum = sum(r["hi"] - r["lo"] + 1 for r in prof)
                overlap = span_sum / max(g_hi - g_lo + 1, 1)
                raw_shuffle = overlap > overlap_threshold
            else:
                raw_shuffle = False
    if raw_shuffle:
        blocked = blocked.repartition(parts, *_KEY)
    seg = blocked.sortWithinPartitions(*_KEY, "doc_id").mapInPandas(
        lambda it: _encode_partition(it, span_bits, codec),
        schema=_TID_BLOCK_SCHEMA,
    )
    enc = seg if raw_shuffle else _merge_blocks(seg, parts, span_bits, codec)
    # term-id → term string map for re-attachment after the int-only kernel.
    # Pass the (tiny, already-materialized) term dictionary when you have
    # one — e.g. FulltextIndex.term_stats — otherwise this costs a full
    # distinct() pass over the postings table.
    src = term_dict if term_dict is not None else postings
    term_map = src.select("term", *_term_ids()).distinct()
    return enc.join(term_map, ["tid", "tid2"]).select("term", *_BLOCK_COLS)


def merge_segments(
    segments: DataFrame, span_bits: int = DEFAULT_SPAN_BITS, codec: str = "varint"
) -> DataFrame:
    """Shuffle-aware merge of per-segment block tables, through the same
    kernel as ``build_blocked_postings``' segment merge: (term, block_key)
    groups present in one segment pass through undecoded (the common case
    when segments partition the doc-id space); fragments from several
    segments decode → concat-sort → re-encode. Output rows equal a
    one-shot ``build_blocked_postings`` over the union, byte for byte.
    The term string rides through the kernel next to its hash (block
    rows are few next to postings), so no term-map join follows."""
    blocks = segments.select("term", *_term_ids(), *_BLOCK_COLS)
    schema = f"term string, {_TID_BLOCK_SCHEMA}"
    return _merge_blocks(blocks, None, span_bits, codec, schema).select(
        "term", *_BLOCK_COLS
    )


def index_from_blocks(
    blocks: DataFrame,
    docs: DataFrame,
    span_bits: int = DEFAULT_SPAN_BITS,
    codec: str = "varint",
) -> FulltextIndex:
    """Hydrate a queryable FulltextIndex from a (possibly merged) block
    table: decode → flat postings, then re-derive df/idf/dl/avgdl — the
    reference's ``finalize()`` (incremental_builder.py:456-470) over
    segment-built indexes. ``docs`` supplies n_docs (token-less docs count
    toward avgdl's denominator, matching build_index) and hydration.
    Append ≡ rebuild: an index hydrated from merged segments reproduces
    the flat full-corpus build's rankings exactly (driver entry
    ``incremental_bm25`` checks this against the full-corpus oracle)."""
    postings = explode_blocks(blocks, span_bits, codec)
    term_agg, stats, term_stats, doc_stats = derive_stats(postings, docs)
    return FulltextIndex(postings, term_stats, doc_stats, stats, docs, term_agg)


def explode_blocks(
    blocks: DataFrame, span_bits: int = DEFAULT_SPAN_BITS, codec: str = "varint"
) -> DataFrame:
    """Decode block rows back to flat postings (term, doc_id, tf, dl) —
    the read path of segment hydration (``index_from_blocks``), the
    masked read (``tombstones.load_masked_index``) and the purge of
    deleted docs (``tombstones.purge_blocks``). Each Arrow batch of block
    rows decodes in one ``decode_blocks`` call."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            n = pdf["n"].to_numpy(np.int64)
            base = pdf["block_key"].to_numpy(np.int64) << span_bits
            d, tf, dl = decode_blocks(pdf["data"].to_numpy(object), n, base, codec)
            term = np.repeat(pdf["term"].to_numpy(object), n)
            yield pd.DataFrame({"term": term, "doc_id": d, "tf": tf, "dl": dl})

    return blocks.mapInPandas(gen, schema="term string, doc_id long, tf long, dl long")


# ---------------------------------------------------------- resumable build
def build_resumable(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    num_buckets: int = 8,
    span_bits: int = DEFAULT_SPAN_BITS,
    text_col: str = "text",
    id_col: str = "doc_id",
    tokenizer_mode: str = "fast",
) -> dict:
    """Checkpointed index build: the corpus is split into ``num_buckets``
    doc-hash buckets; each bucket builds + writes its block segment and
    appends a lineage row. A restart skips buckets already recorded in the
    lineage log (semantics of the reference's incremental checkpoint,
    src/ir/index/incremental_builder.py:508-567, re-expressed as
    partition-level idempotent batch jobs).

    Returns the lineage summary dict over the live segments.
    """
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    done = {r["bucket"] for r in _read_lineage(out) if r.get("status") == "ok"}
    # Stage the input ONCE, hive-partitioned by bucket: each bucket job then
    # scans only its own partition directory (partition pruning) instead of
    # re-scanning the whole corpus num_buckets times. Idempotent: the staged
    # copy is reused on restart — but ONLY when it was staged from the same
    # build configuration. A manifest (doc count + corpus content hash +
    # bucketing/tokenizer params) guards the reuse: a restart with different
    # docs or num_buckets would otherwise silently read a stale staging
    # whose bucket membership disagrees with the lineage log.
    staged = out / "staged_input"
    manifest_path = out / "staging_manifest.json"
    corpus_sig = docs.select(
        F.count("*").alias("n"),
        # order-insensitive content signature: SIGNED SUM of per-row
        # xxhash64 % 1000000007 (Spark's % keeps the sign of negative
        # hashes — any independent re-implementation, e.g. a DuckDB
        # oracle, must reproduce the signed-remainder semantics)
        F.expr(f"cast(sum(xxhash64({id_col}, {text_col}) % 1000000007) as long)").alias("sig"),
    ).first()
    manifest = {
        "n_docs": corpus_sig["n"],
        "corpus_sig": int(corpus_sig["sig"] or 0),
        "num_buckets": num_buckets,
        "id_col": id_col,
        "text_col": text_col,
        "tokenizer_mode": tokenizer_mode,
    }
    stale = True
    if (staged / "_SUCCESS").exists() and manifest_path.exists():
        stale = json.loads(manifest_path.read_text()) != manifest
        if stale and done:
            raise ValueError(
                "build_resumable: staged input at "
                f"{staged} was built from a different corpus/configuration "
                f"than this call, but {len(done)} bucket(s) are already "
                "recorded in the lineage log. Refusing to mix: use a fresh "
                "out_dir (or delete the lineage log to rebuild)."
            )
    if stale:
        (
            docs.withColumn(
                "bucket", F.pmod(F.xxhash64(F.col(id_col)), F.lit(num_buckets))
            )
            .repartition(num_buckets, "bucket")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(str(staged))
        )
        manifest_path.write_text(json.dumps(manifest))
    spark_ref = docs.sparkSession
    tok = tokenizer(tokenizer_mode)
    for b in range(num_buckets):
        if b in done:
            continue
        t0 = time.time()
        subset = spark_ref.read.parquet(str(staged)).filter(F.col("bucket") == b)
        toks = subset.select(
            F.col(id_col).alias("doc_id"), tok(text_col).alias("tokens")
        )
        flat = flat_postings(toks)
        blocks = build_blocked_postings(flat, span_bits)
        seg_path = out / "segments" / f"bucket={b}"
        blocks.write.mode("overwrite").parquet(str(seg_path))
        _append_lineage(out, [{
            "bucket": b,
            "status": "ok",
            "doc_count": subset.count(),
            **_segment_stats(spark, seg_path),
            "wall_time_sec": round(time.time() - t0, 3),
        }])
    live = _live_segments(_read_lineage(out)).values()
    return {
        "buckets": len(live),
        "docs": sum(r["doc_count"] for r in live),
        "postings": sum(r["n_postings"] for r in live),
        "bytes": sum(r["bytes"] for r in live),
        "lineage": str(out / "lineage.jsonl"),
    }


def _read_lineage(out: Path) -> list[dict]:
    path = out / "lineage.jsonl"
    return [json.loads(x) for x in path.read_text().splitlines()] if path.exists() else []


def _append_lineage(out: Path, recs: list[dict]) -> None:
    """Append ``recs`` to the lineage log in ONE write: a compaction's
    retire and create rows land together or not at all."""
    with (out / "lineage.jsonl").open("a") as f:
        f.write("".join(json.dumps(r) + "\n" for r in recs))


def _live_segments(rows: list[dict]) -> dict[int, dict]:
    """bucket id → its 'ok' lineage row, for segments not superseded."""
    live: dict[int, dict] = {}
    for r in rows:
        if r.get("status") == "ok":
            live[r["bucket"]] = r
        elif r.get("status") == "superseded":
            live.pop(r["bucket"], None)
    return live


def _segment_stats(spark: SparkSession, path: Path) -> dict:
    """Lineage facts of one written segment."""
    st = spark.read.parquet(str(path)).agg(
        F.count("*").alias("n_blocks"),
        F.sum("n").alias("n_postings"),
        F.sum("nbytes").alias("bytes"),
        F.min("term").alias("term_min"),
        F.max("term").alias("term_max"),
        F.countDistinct("term").alias("n_terms"),
    ).first()
    return {
        "n_blocks": st["n_blocks"],
        "n_postings": int(st["n_postings"] or 0),
        "bytes": int(st["bytes"] or 0),
        "term_range": [st["term_min"], st["term_max"]],
        "n_terms": st["n_terms"],
    }


def _read_segments(spark: SparkSession, out: Path, buckets) -> DataFrame:
    return spark.read.parquet(*(str(out / "segments" / f"bucket={b}") for b in sorted(buckets)))


def load_merged_blocks(spark: SparkSession, out_dir: str, span_bits: int = DEFAULT_SPAN_BITS) -> DataFrame:
    """The merged block table over the segments the lineage log marks
    live. A directory the log does not commit — an interrupted
    compaction's output, or an input it retired but has not yet
    deleted — is never read."""
    out = Path(out_dir)
    live = _live_segments(_read_lineage(out))
    return merge_segments(_read_segments(spark, out, live), span_bits)


def plan_compaction(
    lineage_rows: list[dict],
    max_per_tier: int = 4,
    tier_factor: int = 8,
    floor_bytes: int = 1 << 20,
) -> list[list[int]]:
    """Size-tiered compaction plan over live lineage rows (the classic
    LSM policy Lucene-style engines run after many incremental appends):
    tier(segment) = floor(log_{tier_factor}(max(bytes, floor)/floor));
    any tier holding more than ``max_per_tier`` live segments merges ALL
    of them into one. Pure metadata logic over the lineage log — O(num
    segments), no Spark. Returns bucket-id groups, smallest tier first
    (small merges are cheap and free the most segment count).
    """
    import math

    tiers: dict[int, list[int]] = {}
    for b, r in _live_segments(lineage_rows).items():
        size = max(int(r.get("bytes", 0)), floor_bytes)
        t = int(math.log(size / floor_bytes) / math.log(tier_factor))
        tiers.setdefault(t, []).append(b)
    return [sorted(v) for _, v in sorted(tiers.items()) if len(v) > max_per_tier]


def compact_segments_dir(
    spark: SparkSession,
    out_dir: str,
    max_per_tier: int = 4,
    tier_factor: int = 8,
    floor_bytes: int = 1 << 20,
    span_bits: int = DEFAULT_SPAN_BITS,
) -> dict:
    """Execute a size-tiered compaction over a ``build_resumable`` output
    directory: each planned group's segments are re-merged block-wise
    (``merge_segments``) into ONE new segment. What compaction buys is
    segment COUNT — query-time merge work and per-segment open cost scale
    with live segments; ``load_merged_blocks`` returns the same merged
    block table before and after.

    Commit order, per group (the lineage log is the commit log):

    1. write the merged segment under its final ``bucket=<id>`` name —
       not yet in the log, so no reader opens it;
    2. append the group's 'superseded' rows and the new segment's 'ok'
       row (with ``merged_from``) in ONE write — the commit;
    3. delete the input directories.

    A crash before step 2 leaves the old segments live (a retry
    overwrites the uncommitted output); a crash after it leaves retired
    inputs that no reader opens, which the next run deletes. Either way
    ``load_merged_blocks`` returns the same blocks. On a real deployment
    the same shape is an Iceberg rewrite-files commit.
    """
    out = Path(out_dir)
    rows = _read_lineage(out)
    for r in rows:  # finish step 3 of an earlier, interrupted run
        retired = out / "segments" / f"bucket={r['bucket']}"
        if r.get("status") == "superseded" and retired.exists():
            shutil.rmtree(retired)
    live = _live_segments(rows)
    next_id = max((r["bucket"] for r in rows), default=-1) + 1
    merged_groups = []
    for group in plan_compaction(rows, max_per_tier, tier_factor, floor_bytes):
        t0 = time.time()
        seg_path = out / "segments" / f"bucket={next_id}"
        merged = merge_segments(_read_segments(spark, out, group), span_bits)
        merged.write.mode("overwrite").parquet(str(seg_path))
        _append_lineage(out, [
            *({"bucket": b, "status": "superseded", "into": next_id} for b in group),
            {
                "bucket": next_id,
                "status": "ok",
                "merged_from": group,
                "doc_count": sum(live[b]["doc_count"] for b in group),
                **_segment_stats(spark, seg_path),
                "wall_time_sec": round(time.time() - t0, 3),
            },
        ])
        for b in group:
            shutil.rmtree(out / "segments" / f"bucket={b}")
        merged_groups.append({"merged_from": group, "into": next_id})
        next_id += 1
    n_live = len(live) - sum(len(g["merged_from"]) - 1 for g in merged_groups)
    return {"groups": merged_groups, "live_segments": n_live}
