"""Size-tiered segment compaction: pure-logic planner tests + an
end-to-end equality check — load_merged_blocks returns the SAME merged
block table before and after compaction (compaction is semantically
idempotent; it only reduces live segment count)."""

import shutil

import pytest
from pyspark.sql import functions as F

from news_information_retrieval_system_spark.index import segments
from news_information_retrieval_system_spark.index.segments import (
    build_resumable,
    compact_segments_dir,
    load_merged_blocks,
    plan_compaction,
)

SF_DIR = "/root/testdata/sf0.001"


def _rows(buckets_bytes, status="ok"):
    return [
        {"bucket": b, "status": status, "bytes": n, "doc_count": 1}
        for b, n in buckets_bytes
    ]


def test_plan_groups_small_tier_only():
    rows = _rows([(0, 100), (1, 200), (2, 300), (3, 400), (4, 500),
                  (5, 1 << 30)])
    # five segments in tier 0 (> max 4) merge; the 1 GiB one stays
    assert plan_compaction(rows, max_per_tier=4) == [[0, 1, 2, 3, 4]]


def test_plan_respects_supersession():
    rows = _rows([(b, 100) for b in range(6)])
    rows += [{"bucket": 0, "status": "superseded", "into": 9}]
    rows += _rows([(9, 600)])
    # bucket 0 retired → tier 0 holds 1..5 (5 live) + bucket 9
    assert plan_compaction(rows, max_per_tier=4) == [[1, 2, 3, 4, 5, 9]]
    assert plan_compaction(rows, max_per_tier=6) == []


def test_compaction_preserves_merged_blocks(spark, tmp_path):
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "text")
    )
    out = str(tmp_path / "idx")
    build_resumable(spark, docs, out, num_buckets=6)
    cols = ["term", "block_key", "n", "min_doc", "max_doc", "max_tf", "min_dl"]
    before = sorted(map(tuple, load_merged_blocks(spark, out).select(cols).collect()))
    # every segment is tiny → all six land in tier 0 and merge into one
    res = compact_segments_dir(spark, out, max_per_tier=2)
    assert res["groups"] and res["groups"][0]["merged_from"] == [0, 1, 2, 3, 4, 5]
    assert res["live_segments"] == 1
    after = sorted(map(tuple, load_merged_blocks(spark, out).select(cols).collect()))
    assert before == after
    # idempotent: a second compaction run plans nothing
    assert compact_segments_dir(spark, out, max_per_tier=2)["groups"] == []


def _merged(spark, out):
    return sorted(
        tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v for v in r)
        for r in load_merged_blocks(spark, str(out)).collect()
    )


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "text")
    )
    out = tmp_path_factory.mktemp("pristine") / "idx"
    build_resumable(spark, docs, str(out), num_buckets=3)
    return out, _merged(spark, out)


@pytest.mark.parametrize("step", ["write", "commit", "delete"])
def test_compaction_crash_at_each_step(spark, store, tmp_path, monkeypatch, step):
    """A compaction that dies at any of its three steps (output written
    under its final name / lineage commit / input deletion) leaves
    load_merged_blocks returning the same blocks, payloads included; a
    rerun then completes it and leaves only live segments on disk."""
    pristine, before = store
    out = tmp_path / "idx"
    shutil.copytree(pristine, out)

    def crash(*_a, **_k):
        raise RuntimeError(f"crash at {step}")

    if step == "write":  # output fully written, commit not reached
        monkeypatch.setattr(segments, "_segment_stats", crash)
    elif step == "commit":
        monkeypatch.setattr(segments, "_append_lineage", crash)
    else:  # committed; dies after deleting the first input
        rmtree, deleted = shutil.rmtree, []

        def rmtree_once(path, *a, **k):
            if deleted:
                crash()
            deleted.append(path)
            rmtree(path, *a, **k)

        monkeypatch.setattr(segments.shutil, "rmtree", rmtree_once)
    with pytest.raises(RuntimeError, match=f"crash at {step}"):
        compact_segments_dir(spark, str(out), max_per_tier=2)
    monkeypatch.undo()
    assert _merged(spark, out) == before
    res = compact_segments_dir(spark, str(out), max_per_tier=2)
    assert res["live_segments"] == 1
    assert _merged(spark, out) == before
    rows = segments._read_lineage(out)
    live = sorted(f"bucket={b}" for b in segments._live_segments(rows))
    assert sorted(p.name for p in (out / "segments").iterdir()) == live
