"""Document deletion: tombstone sets over the live index and the
segment store.

Extension beyond the reference's index surface (the reference rebuilds
to remove documents — incremental_builder.py adds only): at 10^12 turns
a rebuild per deletion batch is not an option, and redaction/takedown
(the PII story's enforcement half) requires deletes that take effect
immediately and are eventually purged from storage. The standard
engine answer (Lucene-style) is:

* **tombstone set** — deleted doc_ids accumulate as an append-only
  parquet table next to the segment lineage log;
* **query-time masking** — ``apply_tombstones`` filters the live
  ``FulltextIndex`` and re-derives every statistic from the surviving
  postings, producing results IDENTICAL to a from-scratch rebuild
  without the deleted docs (bit-exact, not approximately: postings are
  row-local per doc, df/n_docs are integer aggregates, and idf/avgdl
  are computed from those integers by the same expressions);
* **compaction-time purge** — ``purge_blocks`` rewrites ONLY the
  compressed blocks whose doc-range span contains a deleted doc
  (decode → filter → re-encode through the SAME segment encoder), so
  storage reclamation costs O(affected doc-spans · vocab-per-span),
  never a corpus rewrite.

Scale shape: deletion sets are broadcast (they are tiny next to the
corpus; pass ``broadcast=False`` for pathological bulk deletes and the
anti-joins become ordinary shuffled joins). The purge's re-encode
touches ``|affected block_keys| × terms-per-span`` block rows — for a
single deleted doc that is one 2^span_bits doc range.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .build import FulltextIndex, derive_stats
from .segments import DEFAULT_SPAN_BITS, build_blocked_postings, explode_blocks

TOMBSTONE_SUBDIR = "tombstones"


def write_tombstones(
    spark: SparkSession,
    out_dir: str,
    doc_ids: "Iterable[int] | DataFrame",
) -> None:
    """Append a deletion batch to ``out_dir``'s tombstone table.

    Append-only parquet (the lineage-log discipline — no read-modify-
    write, safe to call from concurrent delete batches; ``load_
    tombstones`` dedupes on read)."""
    if isinstance(doc_ids, DataFrame):
        df = doc_ids.select(F.col("doc_id").cast("long"))
    else:
        df = spark.createDataFrame(
            [(int(d),) for d in doc_ids], "doc_id long"
        )
    df.write.mode("append").parquet(f"{out_dir}/{TOMBSTONE_SUBDIR}")


def load_tombstones(spark: SparkSession, out_dir: str) -> DataFrame:
    """The deduplicated deletion set. Only a missing tombstone directory
    means "no deletes" (an empty frame); any other read error — a
    corrupt file, a permission error — propagates."""
    try:
        t = spark.read.parquet(f"{out_dir}/{TOMBSTONE_SUBDIR}")
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        return spark.createDataFrame([], "doc_id long")
    return t.select("doc_id").distinct()


def apply_tombstones(
    index: FulltextIndex,
    tombstones: DataFrame,
    broadcast: bool = True,
) -> FulltextIndex:
    """Live-index deletion mask: → a ``FulltextIndex`` whose every table
    equals the one ``build_index`` would produce over the surviving
    docs.

    Exactness argument (tested frame-by-frame in
    tests/test_tombstones.py): postings rows are per-doc row-local, so
    ``postings ∖ deleted ≡ rebuild postings``; df/n_docs are integer
    counts over identical rows; avgdl = Σtf/n_docs and the BM25 idf are
    the same double expressions (``build.derive_stats``, shared with the
    build) over those identical integers — so even the floating-point
    statistics match bit-for-bit.
    """
    t = tombstones.select("doc_id").distinct()
    tb = F.broadcast(t) if broadcast else t
    postings = index.postings.join(tb, "doc_id", "left_anti")
    docs = index.docs.join(tb, "doc_id", "left_anti")
    term_agg, stats, term_stats, doc_stats = derive_stats(postings, docs)
    return FulltextIndex(postings, term_stats, doc_stats, stats, docs, term_agg)


def load_masked_index(
    spark: SparkSession,
    out_dir: str,
    docs: DataFrame,
    span_bits: int = DEFAULT_SPAN_BITS,
    codec: str = "varint",
) -> FulltextIndex:
    """The operational read path for a segment directory with deletes:
    hydrate the merged block store (``segments.load_merged_blocks`` +
    ``index_from_blocks``) and mask it with the directory's tombstone
    table. Equivalent to a rebuild over the surviving docs (the
    apply_tombstones guarantee composed with the append ≡ rebuild
    guarantee of the segment merge)."""
    from .segments import index_from_blocks, load_merged_blocks

    idx = index_from_blocks(
        load_merged_blocks(spark, out_dir, span_bits), docs, span_bits, codec
    )
    return apply_tombstones(idx, load_tombstones(spark, out_dir))


def purge_blocks(
    blocked: DataFrame,
    tombstones: DataFrame,
    span_bits: int = DEFAULT_SPAN_BITS,
    codec: str = "varint",
) -> DataFrame:
    """Physically remove deleted docs from a compressed block store.

    Only blocks whose ``block_key`` (doc-range span) contains a deleted
    doc are decoded, filtered, and re-encoded through the same segment
    encoder; every other block row passes through untouched. Output
    rows equal ``build_blocked_postings`` over the surviving flat
    postings byte-for-byte (blocks are deterministic per (term,
    block_key) group), so a purged store is indistinguishable from a
    rebuilt one — the invariant tests/test_tombstones.py pins.

    Blocks emptied entirely by the deletion vanish (the re-encode of
    zero rows yields no block row)."""
    t = tombstones.select("doc_id").distinct()
    affected = t.select(
        F.shiftright(F.col("doc_id"), span_bits).alias("block_key")
    ).distinct()
    hit = blocked.join(F.broadcast(affected), "block_key")
    keep = blocked.join(F.broadcast(affected), "block_key", "left_anti")
    survivors = explode_blocks(hit, span_bits, codec).join(
        F.broadcast(t), "doc_id", "left_anti"
    )
    reenc = build_blocked_postings(
        survivors, span_bits=span_bits, codec=codec
    )
    return keep.unionByName(reenc)
