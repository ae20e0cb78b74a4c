"""The repository benchmark: the build_query and maintain workloads driven
through the package's public functions, every result checked against an
independent DuckDB oracle.

    python3 perfbench/run.py --workload {build_query,maintain} --seed N \
        --seconds S --trace {0,1}

Run it from the repository root. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` reports the
end-to-end metrics of BENCHMARK.json and ``--trace 1`` the per-layer ones.
The line before it, ``{"detail": ...}``, carries host facts, the per-workload
named metrics, every layer row and every failed check. See README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import zlib
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / "_work"
sys.path.insert(0, str(ROOT))

# the package first: without it the benchmark must fail before printing
import news_information_retrieval_system_spark  # noqa: E402,F401

import numpy as np  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import duck_oracle  # noqa: E402
import inputs  # noqa: E402
import spans  # noqa: E402
from news_information_retrieval_system_spark.index.build import build_index, tokens_df  # noqa: E402
from news_information_retrieval_system_spark.index.codec import decode_block, encode_block  # noqa: E402
from news_information_retrieval_system_spark.index.segments import (  # noqa: E402
    DEFAULT_SPAN_BITS,
    build_blocked_postings,
    build_resumable,
    compact_segments_dir,
    index_from_blocks,
    load_merged_blocks,
)
from news_information_retrieval_system_spark.index.tombstones import (  # noqa: E402
    apply_tombstones,
    load_masked_index,
    load_tombstones,
    purge_blocks,
    write_tombstones,
)
from news_information_retrieval_system_spark.query.bm25 import bm25_topk, query_terms_df  # noqa: E402
from news_information_retrieval_system_spark.query.bm25_batch import bm25_topk_docpart  # noqa: E402
from news_information_retrieval_system_spark.query.wand import wand_topk  # noqa: E402
from news_information_retrieval_system_spark.session import get_spark  # noqa: E402

K = 10
CHECK_SAMPLE = 8  # queries per batch checked against the oracle
CODEC_SAMPLE = 2048  # block rows in the driver-side codec probe
# workload -> corpus turns, vocabulary size, bulk batch, declarative batch
SIZES = {
    # 32,768 turns = two 2^14-doc block ranges: WAND gets one group per
    # range, and the delete batch falls in the last range, so purge
    # rewrites that range's blocks and passes the other range's through
    "build_query": dict(turns=32_768, vocab=8192, bulk=256, decl=16),
    "maintain": dict(turns=2_000, vocab=200, bulk=64, decl=16),
}
TINY = {
    "build_query": dict(turns=18_000, vocab=2048, bulk=64, decl=16),  # two ranges
    "maintain": dict(turns=600, vocab=200, bulk=16, decl=8),
}
SINGLES_PER_ROUND = 3  # single-query WAND calls after each round of batches
MAINTAIN_BUCKETS = 2  # segments per ingest; compaction fires at > 1 per tier
DELETE_SHARE = 0.02
HEAP_SHARE = 0.25  # driver heap as a share of MemTotal, within [1g, 16g]


# ---------------------------------------------------------------- host
def mem_total_mb() -> int:
    for line in Path("/proc/meminfo").read_text().splitlines():
        if line.startswith("MemTotal:"):
            return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def host_facts(cores: int, heap_mb: int) -> dict:
    import pandas
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {
        "cores": cores,
        "mem_total_mb": mem_total_mb(),
        "driver_heap_mb": heap_mb,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "numpy": np.__version__,
        "pandas": pandas.__version__,
        "git_commit": commit,
    }


def configure_env(run_dir: Path, trace: bool, heap_mb: int) -> None:
    """Everything Spark reads at JVM launch: heap, a private config dir
    (event log on when tracing), and scratch dirs inside the run dir."""
    conf_dir = run_dir / "conf"
    conf_dir.mkdir(parents=True, exist_ok=True)
    lines = ["spark.ui.showConsoleProgress false"]
    if trace:
        log_dir = run_dir / "eventlog"
        log_dir.mkdir()
        lines += [
            "spark.eventLog.enabled true",
            f"spark.eventLog.dir file://{log_dir}",
            "spark.eventLog.compress false",
            "spark.eventLog.rolling.enabled false",
        ]
    (conf_dir / "spark-defaults.conf").write_text("\n".join(lines) + "\n")
    tmp = run_dir / "tmp"
    tmp.mkdir()
    os.environ.update(
        SPARK_DRIVER_MEM=f"{heap_mb}m",
        SPARK_CONF_DIR=str(conf_dir),
        SPARK_LOCAL_DIRS=str(tmp),
        TMPDIR=str(tmp),
        PYTHONPATH=os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        ),
        SPARK_SUBMIT_OPTS=" ".join(
            p
            for p in (
                os.environ.get("SPARK_SUBMIT_OPTS"),
                f"-Djava.io.tmpdir={tmp}",
                "-XX:-UsePerfData",
            )
            if p
        ),
    )


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for p in Path("/proc").iterdir():
        if p.name.isdigit():
            try:
                ppid = int((p / "stat").read_text().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(p.name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Sum of VmHWM over this process, the JVM and the Python workers."""
    total_kb = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every process it started."""
    from pyspark import SparkContext

    pids = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline:
        alive = [p for p in pids if Path(f"/proc/{p}").exists()]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


# ---------------------------------------------------------------- helpers
def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs):
    """The highest percentile with at least ten samples beyond it."""
    n = len(xs)
    if n < 11:
        return {"value": None, "percentile": None, "n": n}
    s = sorted(xs)
    idx = n - 11
    return {"value": s[idx], "percentile": round(100 * (idx + 1) / n, 1), "n": n}


def frame_digest(df, cols):
    """(rows, order-free content hash) of a DataFrame."""
    r = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols) % 1_000_000_007).alias("h"),
    ).first()
    return int(r["n"]), int(r["h"] or 0)


OFF = spans.Tracer(None, enabled=False)
BLOCK_COLS = ["term", "block_key", "n", "min_doc", "max_doc", "max_tf", "min_dl", "nbytes", "data"]


class Bench:
    """One run's sizes, failure ledger, named metrics and per-call counts."""

    def __init__(self, args, run_dir: Path):
        self.args = args
        self.run_dir = run_dir
        self.size = (TINY if args.tiny else SIZES)[args.workload]
        self.attempted = 0  # timed operations
        self.checks = 0  # output checks
        self.failures: list[str] = []
        self.named: dict[str, object] = {}  # the per-workload metrics
        self.counts: dict[str, list] = {}  # per-layer counts, per call
        self.op_s: dict[str, list[float]] = {}  # wall time of each timed op, by kind
        self.inject = args.inject_wrong

    # -- ledger
    def op(self, kind: str, fn, tag: str = ""):
        """Run one timed operation; an exception counts as a failed op."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as e:  # noqa: BLE001 - every op failure is counted
            self.failures.append(f"{tag} {kind}: {type(e).__name__}: {e}"[:500])
            return None, time.perf_counter() - t0
        dt = time.perf_counter() - t0
        self.op_s.setdefault(kind, []).append(dt)
        return out, dt

    def expect(self, ok: bool, what: str) -> bool:
        self.checks += 1
        if not ok:
            self.failures.append(what)
        return ok

    def count(self, name: str, value) -> None:
        self.counts.setdefault(name, []).append(value)

    def injected(self, tag: str) -> bool:
        """True once: the self-test's wrong-result injection point."""
        if self.inject == tag:
            self.inject = None
            return True
        return False

    # -- checks
    def check_topk(self, what: str, rows, oracle, queries: dict, sample: list) -> bool:
        got = duck_oracle.ranked(rows)
        if self.injected("topk") and got:
            q = sorted(got)[0]
            got[q] = [(d + 1, s) for d, s in got[q]]
        want = oracle.topk({q: queries[q] for q in sample}, K)
        bad = [q for q in sample if not duck_oracle.same_topk(got.get(q, []), want[q], K)]
        return self.expect(not bad, f"{what}: top-{K} differs from the oracle for {bad[:5]}")

    def sample_ids(self, queries: dict, stream: int, n: int = CHECK_SAMPLE) -> list:
        rng = np.random.default_rng([self.args.seed, stream, 3])
        ids = sorted(queries)
        return sorted(rng.choice(ids, size=min(n, len(ids)), replace=False).tolist())


# ---------------------------------------------------------------- layers
def term_shape(index, blocks=None):
    """term -> (df, block rows, doc-range keys), for per-call work counts;
    without ``blocks``, only df is filled in."""
    dfs = {r["term"]: int(r["df"]) for r in index.term_stats.select("term", "df").collect()}
    if blocks is None:
        return {t: (df, 0, set()) for t, df in dfs.items()}
    rows = blocks.groupBy("term").agg(
        F.count(F.lit(1)).alias("rows"), F.collect_set("block_key").alias("keys")
    ).collect()
    return {r["term"]: (dfs.get(r["term"], 0), int(r["rows"]), set(r["keys"])) for r in rows}


def batch_counts(bench: Bench, shape, queries: dict, kernel: str) -> None:
    """Work each kernel is handed for one batch, derived from the inputs."""
    pairs = []
    for qid, text in queries.items():
        pairs += [(qid, t) for t in set(duck_oracle.tokens(text)) if t in shape]
    terms = {t for _, t in pairs}
    postings = sum(shape[t][0] for t in terms)
    if kernel == "bm25":
        bench.count("query.bm25.hit_rows", sum(shape[t][0] for _, t in pairs))
    elif kernel == "docpart":
        bench.count("query.bm25_batch.closure_rows", len(pairs))
        bench.count("query.bm25_batch.postings_in", postings)
    else:
        bench.count("query.wand.block_rows_in", sum(shape[t][1] for t in terms))
        bench.count("query.wand.postings_in", postings)
        bench.count("query.wand.groups", len(set().union(*(shape[t][2] for t in terms))))


KERNEL_LAYER = {"docpart": "query.bm25_batch", "wand": "query.wand", "bm25": "query.bm25"}


def kernel_batch(bench: Bench, tr, kind, index, blocks, queries, check_ids, oracle, shape, tag):
    """One batch through one kernel, timed as one op; its rows are checked
    against the oracle on ``check_ids``. Returns the rows, or None."""
    spark = index.postings.sparkSession
    qdf = query_terms_df(spark, queries)
    if kind == "wand":
        n_docs, avgdl = index.scalar_stats()
        idf = index.term_stats.select("term", "idf")
        call = lambda: wand_topk(blocks, qdf.join(idf, "term"), n_docs, avgdl, k=K).collect()  # noqa: E731
    elif kind == "docpart":
        call = lambda: bm25_topk_docpart(index, qdf, k=K).collect()  # noqa: E731
    else:
        call = lambda: bm25_topk(index, qdf, k=K).collect()  # noqa: E731
    with tr.span(KERNEL_LAYER[kind], batch=len(queries)):
        rows, _ = bench.op(kind, call, tag)
    if rows is not None:
        bench.check_topk(f"{tag} {kind}", rows, oracle, queries, check_ids)
    if tr.enabled:
        batch_counts(bench, shape, queries, kind)
    return rows


def run_kernels(bench: Bench, tr, index, blocks, queries, decl_ids, oracle, shape, tag,
                kinds=("docpart", "wand", "bm25")):
    """docpart and WAND over ``queries`` and declarative BM25 over
    ``decl_ids``, each checked on a seeded sample plus ``decl_ids``."""
    sample = bench.sample_ids(queries, zlib.crc32(tag.encode())) + decl_ids
    for kind in kinds:
        if kind == "bm25":
            kernel_batch(bench, tr, kind, index, blocks, {q: queries[q] for q in decl_ids},
                         decl_ids, oracle, shape, tag)
        else:
            kernel_batch(bench, tr, kind, index, blocks, queries, sample, oracle, shape, tag)


def probe_tokenize(bench: Bench, tr, spark, corpus) -> None:
    t0 = time.perf_counter()
    with tr.span("tokenize"):
        n = tokens_df(spark.read.parquet(str(corpus))).select(
            F.sum(F.size("tokens")).alias("n")
        ).first()["n"]
    bench.named["tokenize.s"] = time.perf_counter() - t0
    bench.named["tokenize.tokens"] = int(n)


def probe_codec(bench: Bench, tr, blocks) -> None:
    """Driver-side decode and encode over a seeded sample of real blocks;
    every sampled block must re-encode to its own bytes."""
    with tr.span("index.codec"):
        rows = (
            blocks.select("block_key", "n", "data")
            .orderBy(F.xxhash64("block_key", "data", F.lit(bench.args.seed)))
            .limit(CODEC_SAMPLE)
            .collect()
        )
        data = [(bytes(r["data"]), int(r["n"]), int(r["block_key"]) << DEFAULT_SPAN_BITS) for r in rows]
        mb = sum(len(d) for d, _, _ in data) / 2**20
        t0 = time.perf_counter()
        decoded = [decode_block(d, n, base) for d, n, base in data]
        t_dec = time.perf_counter() - t0
        t0 = time.perf_counter()
        encoded = [encode_block(d, tf, dl, base) for (d, tf, dl), (_, _, base) in zip(decoded, data)]
        t_enc = time.perf_counter() - t0
    bench.expect(
        all(bytes(e) == d for e, (d, _, _) in zip(encoded, data)),
        "codec: a sampled block does not re-encode to its own bytes",
    )
    bench.named["index.codec.decode_mb_s"] = mb / t_dec
    bench.named["index.codec.encode_mb_s"] = mb / t_enc


def probe_index(bench: Bench, tr, index, blocks, oracle) -> None:
    """Checks and counts of one built index and its blocks, untimed."""
    sc = index.postings.sparkSession.sparkContext
    n_docs, avgdl = index.scalar_stats()
    n_post = index.postings.count()
    agg = blocks.agg(F.count(F.lit(1)).alias("rows"), F.sum("nbytes").alias("bytes")).first()
    bench.expect(
        (n_docs, n_post) == (oracle.n_docs, oracle.n_postings)
        and math.isclose(avgdl, oracle.avgdl, rel_tol=1e-12),
        f"index stats ({n_docs}, {n_post}, {avgdl}) != oracle "
        f"({oracle.n_docs}, {oracle.n_postings}, {oracle.avgdl})",
    )
    bench.expect(
        int(agg["rows"]) == oracle.block_count(DEFAULT_SPAN_BITS),
        f"block rows {agg['rows']} != oracle {oracle.block_count(DEFAULT_SPAN_BITS)}",
    )
    if tr.enabled:
        bench.named["index.build.postings"] = n_post
        bench.named["index.segments.blocks"] = int(agg["rows"])
        bench.named["index.segments.bytes_per_posting"] = int(agg["bytes"]) / n_post
        bench.named["index.build.cache_mb"] = sum(
            i.memSize() for i in sc._jsc.sc().getRDDStorageInfo()
        ) / 2**20


def deep_check_blocks(bench: Bench, what: str, blocks, oracle, terms: list[str], gone=frozenset()) -> None:
    """Decode every block of a few seeded terms and compare with the
    oracle's postings of the same doc range, less the docs in ``gone``."""
    rows = blocks.filter(F.col("term").isin(terms)).collect()
    bad = 0
    for r in rows:
        base = int(r["block_key"]) << DEFAULT_SPAN_BITS
        d, tf, dl = decode_block(bytes(r["data"]), int(r["n"]), base)
        want = oracle.postings_of(r["term"], base, base + (1 << DEFAULT_SPAN_BITS) - 1)
        got = list(zip(d.tolist(), tf.tolist(), dl.tolist()))
        meta = (r["n"], r["min_doc"], r["max_doc"], r["max_tf"], r["min_dl"], r["nbytes"])
        bad += got != [p for p in want if p[0] not in gone] or meta != (
            len(d), d[0], d[-1], tf.max(), dl.min(), len(r["data"])
        )
    bench.expect(bad == 0 and bool(rows), f"{what}: {bad} of {len(rows)} decoded blocks differ from the oracle")


def purge_counts(bench: Bench, blocks, dels: list[int]) -> None:
    """Block rows handed to purge_blocks and the ones it must rewrite."""
    affected = sorted({d >> DEFAULT_SPAN_BITS for d in dels})
    bench.named["index.tombstones.blocks_total"] = blocks.count()
    bench.named["index.tombstones.blocks_rewritten"] = blocks.filter(
        F.col("block_key").isin(affected)
    ).count()


# ---------------------------------------------------------------- workloads
def build_once(tr, spark, corpus):
    with tr.span("index.build"):
        index = build_index(spark.read.parquet(str(corpus))).materialize()
    with tr.span("index.segments.encode"):
        blocks = build_blocked_postings(index.postings, term_dict=index.term_stats).persist()
        blocks.count()
    return index, blocks


def warm_up(bench: Bench, spark, corpus) -> float:
    """One cold build of the corpus and one small call of each kernel, so
    the timed ops do not pay class loading, codegen or Python-worker start.
    Returns its wall time, which is part of ``setup_s``."""
    t0 = time.perf_counter()
    index, blocks = build_once(OFF, spark, corpus)
    bench.named["warm_up_build_s"] = time.perf_counter() - t0
    n_docs, avgdl = index.scalar_stats()
    qdf = query_terms_df(spark, inputs.make_queries(bench.args.seed, 10_000, 16, bench.size["vocab"], "w"))
    bm25_topk_docpart(index, qdf, k=K).collect()
    wand_topk(blocks, qdf.join(index.term_stats.select("term", "idf"), "term"), n_docs, avgdl, k=K).collect()
    bm25_topk(index, qdf, k=K).collect()
    blocks.unpersist()
    index.unpersist()
    return time.perf_counter() - t0


def rate(bench: Bench, kind: str, per_op: int) -> float:
    """Items per second over every successful op of ``kind``."""
    times = bench.op_s.get(kind, [])
    return per_op * len(times) / sum(times) if times else float("nan")


QUERY_OPS = ("docpart", "wand", "bm25", "single wand")


def workload_build_query(bench: Bench, tr, spark, corpus, oracle) -> dict:
    size, seconds, seed = bench.size, bench.args.seconds, bench.args.seed
    setup = warm_up(bench, spark, corpus)
    dels = inputs.delete_batch(seed, size["turns"], DELETE_SHARE, span=1 << DEFAULT_SPAN_BITS)
    tombstones = spark.createDataFrame([(d,) for d in dels], "doc_id long")

    def single(stream: int):
        q = inputs.make_queries(seed, stream, 1, size["vocab"], f"s{stream}_")
        with tr.span("query.wand.single"):
            rows, _ = bench.op(
                "single wand",
                lambda: wand_topk(
                    blocks, query_terms_df(spark, q).join(idf, "term"), n_docs, avgdl, k=K
                ).collect(),
            )
        if rows is not None:
            single_rows.extend(rows)
            single_q.update(q)

    # phase 1: full rebuilds for a quarter of the seconds; phase 2: query
    # rounds over the last index for half of them; then one purge of the
    # delete batch. Each phase runs at least once.
    index = blocks = None
    while index is None or sum(bench.op_s["rebuild"]) < seconds / 4:
        if index is not None:
            blocks.unpersist()
            index.unpersist()
        with tr.span("op"):
            out, _ = bench.op("rebuild", lambda: build_once(tr, spark, corpus))
        if out is None:
            raise RuntimeError(f"rebuild failed: {bench.failures[-1]}")
        index, blocks = out
        probe_index(bench, tr, index, blocks, oracle)
    n_docs, avgdl = index.scalar_stats()
    idf = index.term_stats.select("term", "idf").persist()
    idf.count()
    shape = term_shape(index, blocks) if tr.enabled else None
    single_rows, single_q = [], {}
    rounds = 0
    while not rounds or sum(sum(bench.op_s.get(k, [])) for k in QUERY_OPS) < seconds / 2:
        queries = inputs.make_queries(seed, rounds, size["bulk"], size["vocab"], f"r{rounds}_")
        decl = sorted(queries)[: size["decl"]]
        with tr.span("op"):
            run_kernels(bench, tr, index, blocks, queries, decl, oracle, shape, f"round {rounds}")
            for j in range(SINGLES_PER_ROUND):
                single(1_000_000 + rounds * 100 + j)
        rounds += 1
    if tr.enabled:
        purge_counts(bench, blocks, dels)

    def purge():
        df = purge_blocks(blocks, tombstones).persist()
        df.count()
        return df

    with tr.span("op"):
        with tr.span("index.tombstones.purge"):
            purged, _ = bench.op("purge", purge)
    if single_q:
        bench.check_topk("single wand", single_rows, oracle, single_q, sorted(single_q))
    if purged is not None:  # the first range passes through purge unchanged
        terms = sorted({t for q in list(queries.values())[:4] for t in duck_oracle.tokens(q)})
        deep_check_blocks(bench, "purged", purged, oracle, terms, frozenset(dels))
        n_left = purged.agg(F.sum("n")).first()[0]
        want = oracle.n_postings - oracle.postings_of_docs(dels)
        bench.expect(n_left == want, f"purged blocks hold {n_left} postings, oracle {want}")
    if tr.enabled:
        probe_tokenize(bench, tr, spark, corpus)
        probe_codec(bench, tr, blocks)
    bench.named.update(rounds=rounds, deleted_docs=len(dels), latency_tail_s=tail(bench.op_s.get("single wand", [])))
    return {
        "setup_extra_s": setup,
        "build_turns_per_s": rate(bench, "rebuild", size["turns"]),
        "wand_qps": rate(bench, "wand", size["bulk"]),
        "docpart_qps": rate(bench, "docpart", size["bulk"]),
        "bm25_qps": rate(bench, "bm25", size["decl"]),
        "latency_p50_s": median(bench.op_s.get("single wand", [])),
        "purge_s": median(bench.op_s.get("purge", [])),
    }


def maintain_cycle(bench: Bench, tr, spark, docs, store: str, dels: list[int], queries: dict, oracle, tag: str):
    """ingest -> delete batch made visible (tombstones + masked index + a
    docpart batch with the deleted docs verified absent) -> purge -> WAND
    over the purged blocks and declarative BM25 over the masked index ->
    compaction, each step one timed op. Returns, unless a step failed,
    (masked index, merged blocks, purged blocks)."""

    def mask():
        write_tombstones(spark, store, dels)
        return load_masked_index(spark, store, docs).materialize()

    def purge():
        merged = load_merged_blocks(spark, store).persist()
        purged = purge_blocks(merged, load_tombstones(spark, store)).persist()
        purged.count()
        return merged, purged

    decl = sorted(queries)[: bench.size["decl"]]
    with tr.span("op"):
        with tr.span("index.segments.resumable"):
            bench.op(
                "ingest", lambda: build_resumable(spark, docs, store, num_buckets=MAINTAIN_BUCKETS), tag
            )
        with tr.span("index.tombstones.visible"):
            masked, _ = bench.op("mask", mask, tag)
            shape = term_shape(masked) if tr.enabled and masked is not None else None
            rows = None if masked is None else kernel_batch(
                bench, tr, "docpart", masked, None, queries, bench.sample_ids(queries, 1) + decl,
                oracle, shape, tag,
            )
        if rows is not None:
            if bench.injected("delete"):
                rows.append({"query_id": "x", "rank": 1, "doc_id": dels[0], "score": 1.0})
            leaked = {int(r["doc_id"]) for r in rows} & set(dels)
            bench.expect(not leaked, f"{tag}: deleted docs visible: {sorted(leaked)[:5]}")
        if tr.enabled:
            purge_counts(bench, load_merged_blocks(spark, store), dels)
        with tr.span("index.tombstones.purge"):
            blocks, _ = bench.op("purge", purge, tag)
        if rows is None or blocks is None:
            return None
        merged, purged = blocks
        shape = term_shape(masked, purged) if tr.enabled else None
        run_kernels(bench, tr, masked, purged, queries, decl, oracle, shape, tag, kinds=("wand", "bm25"))
        if tr.enabled:  # before compaction rewrites the segments
            seg = spark.read.parquet(f"{store}/segments")
            bench.named["index.segments.fragmented_groups"] = (
                seg.count() - seg.select("term", "block_key").distinct().count()
            )
        with tr.span("index.segments.compact"):
            res, _ = bench.op("compact", lambda: compact_segments_dir(spark, store, max_per_tier=1), tag)
    bench.expect(res is not None and len(res["groups"]) == 1, f"{tag}: compaction did not fire: {res}")
    return masked, merged, purged


def workload_maintain(bench: Bench, tr, spark, corpus, oracle) -> dict:
    size, seconds, seed = bench.size, bench.args.seconds, bench.args.seed
    setup = warm_up(bench, spark, corpus)
    dels = inputs.delete_batch(seed, size["turns"], DELETE_SHARE)
    docs = spark.read.parquet(str(corpus))
    cycles = 0
    out = None
    while not cycles or sum(map(sum, bench.op_s.values())) < seconds:
        if out is not None:
            for df in out:
                df.unpersist()
        store = str(bench.run_dir / f"store{cycles}")
        queries = inputs.make_queries(seed, cycles, size["bulk"], size["vocab"], f"m{cycles}_")
        out = maintain_cycle(bench, tr, spark, docs, store, dels, queries, oracle, f"cycle {cycles}")
        cycles += 1
        if out is None:
            break
    if out is not None:
        maintain_checks(bench, tr, spark, corpus, store, dels, out, oracle)
    # delete-to-visible: tombstone write and masked load, then the checked batch
    visible = [a + b for a, b in zip(bench.op_s.get("mask", []), bench.op_s.get("docpart", []))]
    bench.named.update(
        compact_s=median(bench.op_s.get("compact", [])),
        cycles=cycles,
        deleted_docs=len(dels),
    )
    return {
        "setup_extra_s": setup,
        "build_turns_per_s": rate(bench, "ingest", size["turns"]),
        "wand_qps": rate(bench, "wand", size["bulk"]),
        "docpart_qps": rate(bench, "docpart", size["bulk"]),
        "bm25_qps": rate(bench, "bm25", size["decl"]),
        "latency_p50_s": median(visible),
        "purge_s": median(bench.op_s.get("purge", [])),
    }


def maintain_checks(bench, tr, spark, corpus, store, dels, out, oracle):
    """The masked index and the purged blocks against the oracle over the
    surviving docs; the compacted store against the store before
    compaction. Traced runs also build the survivors with Spark and compare
    the purged blocks with that rebuild byte for byte."""
    masked, merged, purged = out
    n_docs, avgdl = masked.scalar_stats()
    bench.expect(
        n_docs == oracle.n_docs and math.isclose(avgdl, oracle.avgdl, rel_tol=1e-12),
        f"masked stats ({n_docs}, {avgdl}) != oracle ({oracle.n_docs}, {oracle.avgdl})",
    )
    want = oracle.term_stats()
    got = {r["term"]: (int(r["df"]), float(r["idf"])) for r in masked.term_stats.collect()}
    bench.expect(
        got.keys() == want.keys()
        and all(got[t][0] == want[t][0] and math.isclose(got[t][1], want[t][1], rel_tol=1e-12) for t in got),
        "masked term stats differ from the oracle",
    )
    deep_check_blocks(bench, "purged", purged, oracle, sorted(want))
    bench.expect(
        purged.count() == oracle.block_count(DEFAULT_SPAN_BITS),
        "purged block rows differ from the oracle's (term, doc-range) groups",
    )
    bench.expect(
        frame_digest(load_merged_blocks(spark, store), BLOCK_COLS) == frame_digest(merged, BLOCK_COLS),
        "compacted store differs from the store before compaction",
    )
    if tr.enabled:
        survivors = spark.read.parquet(str(corpus)).filter(~F.col("doc_id").isin(dels))
        rebuild, rblocks = build_once(tr, spark, survivors_path(bench, survivors))
        bench.expect(
            frame_digest(purged, BLOCK_COLS) == frame_digest(rblocks, BLOCK_COLS),
            "purged blocks differ from the rebuilt blocks",
        )
        probe_index(bench, tr, rebuild, rblocks, oracle)
        probe_tokenize(bench, tr, spark, corpus)
        probe_codec(bench, tr, purged)
        t0 = time.perf_counter()
        with tr.span("index.segments.hydrate"):
            hydrated = index_from_blocks(load_merged_blocks(spark, store), spark.read.parquet(str(corpus)))
            hydrated.persist().materialize()
        bench.named["index.segments.hydrate_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        with tr.span("index.tombstones.apply"):
            apply_tombstones(hydrated, load_tombstones(spark, store)).persist().materialize()
        bench.named["index.tombstones.apply_s"] = time.perf_counter() - t0
        lineage = [json.loads(x) for x in Path(store, "lineage.jsonl").read_text().splitlines()]
        written = sum(r.get("bytes", 0) for r in lineage if r.get("status") == "ok")
        live = sum(r.get("bytes", 0) for r in lineage if "merged_from" in r)
        bench.named["index.segments.write_amp"] = written / live if live else float("nan")


def survivors_path(bench: Bench, survivors) -> Path:
    """The surviving docs as their own parquet table, so the rebuild
    oracle scans a table exactly as a fresh build would."""
    path = bench.run_dir / "survivors"
    survivors.write.mode("overwrite").parquet(str(path))
    return path


WORKLOADS = {"build_query": workload_build_query, "maintain": workload_maintain}


# ---------------------------------------------------------------- report
E2E_UNITS = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "build_turns_per_s": "turns/s",
    "wand_qps": "q/s",
    "docpart_qps": "q/s",
    "bm25_qps": "q/s",
    "latency_p50_s": "s",
    "purge_s": "s",
}
LAYER_UNITS = {
    "session.start_s": "s",
    "tokenize.s": "s",
    "tokenize.tokens": "count",
    "index.build.postings_s": "s",
    "index.build.stats_s": "s",
    "index.build.postings": "count",
    "index.build.cpu_s": "s",
    "index.build.gc_s": "s",
    "index.build.cache_mb": "MB",
    "index.segments.encode_s": "s",
    "index.segments.blocks": "count",
    "index.segments.bytes_per_posting": "B",
    "index.segments.shuffle_mb": "MB",
    "index.segments.python_s": "s",
    "index.codec.decode_mb_s": "MB/s",
    "index.codec.encode_mb_s": "MB/s",
    "index.tombstones.purge_s": "s",
    "index.tombstones.blocks_rewritten": "count",
    "index.tombstones.blocks_total": "count",
    "query.bm25.s": "s",
    "query.bm25.hit_rows": "count",
    "query.bm25.shuffle_mb": "MB",
    "query.bm25.jobs_per_call": "count",
    "query.bm25_batch.s": "s",
    "query.bm25_batch.closure_rows": "count",
    "query.bm25_batch.postings_in": "count",
    "query.bm25_batch.python_s": "s",
    "query.bm25_batch.arrow_mb": "MB",
    "query.bm25_batch.jobs_per_call": "count",
    "query.wand.s": "s",
    "query.wand.block_rows_in": "count",
    "query.wand.postings_in": "count",
    "query.wand.groups": "count",
    "query.wand.busy_partitions": "count",
    "query.wand.python_s": "s",
    "query.wand.jobs_per_call": "count",
    "trace.overhead_s": "s",
}


def layer_metrics(bench: Bench, layers: dict, session_s: float, overhead_s: float) -> dict:
    def row(name, key, default=0.0):
        return layers.get(name, {}).get(key, default)

    def per_call(name):
        xs = bench.counts.get(name, [])
        return sum(xs) / len(xs) if xs else 0

    build = "index.build"
    post_s = row(build, "scan_stage_s_per_call")
    out = {
        "session.start_s": session_s,
        "index.build.postings_s": post_s,
        "index.build.stats_s": row(build, "self_mean_s") - post_s,
        "index.build.cpu_s": row(build, "cpu_s_per_call"),
        "index.build.gc_s": row(build, "gc_s_per_call"),
        "index.segments.encode_s": row("index.segments.encode", "self_s"),
        "index.segments.shuffle_mb": row("index.segments.encode", "shuffle_write_mb_per_call"),
        "index.segments.python_s": row("index.segments.encode", "python_s_per_call"),
        "index.tombstones.purge_s": row("index.tombstones.purge", "self_s"),
        "query.bm25.s": row("query.bm25", "self_s"),
        "query.bm25.shuffle_mb": row("query.bm25", "shuffle_write_mb_per_call"),
        "query.bm25.jobs_per_call": row("query.bm25", "jobs_per_call"),
        "query.bm25_batch.s": row("query.bm25_batch", "self_s"),
        "query.bm25_batch.python_s": row("query.bm25_batch", "python_s_per_call"),
        "query.bm25_batch.arrow_mb": row("query.bm25_batch", "arrow_in_mb_per_call"),
        "query.bm25_batch.jobs_per_call": row("query.bm25_batch", "jobs_per_call"),
        "query.wand.s": row("query.wand", "self_s"),
        "query.wand.busy_partitions": row("query.wand", "busy_python_tasks_per_call"),
        "query.wand.python_s": row("query.wand", "python_s_per_call"),
        "query.wand.jobs_per_call": row("query.wand", "jobs_per_call"),
        "trace.overhead_s": overhead_s,
    }
    for name in LAYER_UNITS:
        if name not in out:
            out[name] = bench.named[name] if name in bench.named else per_call(name)
    return out


def untraced_reference(args) -> dict:
    """The same run with tracing off: one untraced child run of the same
    seed and code, which ends before this process starts its own JVM."""
    cmd = [
        sys.executable, str(Path(__file__).resolve()),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", "0",
    ]
    if args.corpus_seed is not None:
        cmd += ["--corpus-seed", str(args.corpus_seed)]
    if args.tiny:
        cmd.append("--tiny")
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=150)
    if proc.returncode != 0:
        raise RuntimeError(f"untraced run failed:\n{proc.stderr[-2000:]}")
    lines = proc.stdout.strip().splitlines()
    return {"op_s": json.loads(lines[-2])["detail"]["op_s"], "result": json.loads(lines[-1])}


def tracing_overhead(traced: dict, untraced: dict) -> dict:
    """Traced minus untraced wall time over the timed ops both runs made:
    for each op kind, its first n calls in each run, n the smaller count."""
    t = u = 0.0
    for kind in traced.keys() & untraced.keys():
        n = min(len(traced[kind]), len(untraced[kind]))
        t += sum(traced[kind][:n])
        u += sum(untraced[kind][:n])
    return {"traced_ops_s": t, "untraced_ops_s": u, "overhead_s": t - u}


def finite(x):
    return x is not None and isinstance(x, (int, float)) and math.isfinite(x)


def run(args, run_dir: Path) -> tuple[dict, dict]:
    cores = len(os.sched_getaffinity(0))
    heap_mb = max(1024, min(16384, int(mem_total_mb() * HEAP_SHARE)))
    size = (TINY if args.tiny else SIZES)[args.workload]
    corpus_seed = args.seed if args.corpus_seed is None else args.corpus_seed
    untraced = untraced_reference(args) if args.trace else None
    wall = {"start": time.perf_counter()}
    # inputs and the oracle are made before the session: not part of setup
    corpus = inputs.ensure_corpus(WORK, corpus_seed, size["turns"], size["vocab"])
    excluded = (
        inputs.delete_batch(args.seed, size["turns"], DELETE_SHARE)
        if args.workload == "maintain"
        else ()
    )
    oracle = duck_oracle.DuckOracle(corpus, excluded=excluded)
    configure_env(run_dir, bool(args.trace), heap_mb)
    bench = Bench(args, run_dir)
    wall["session"] = t0 = time.perf_counter()
    spark = get_spark("perfbench", cores=cores)
    session_s = time.perf_counter() - t0
    try:
        tr = spans.Tracer(spark.sparkContext, bool(args.trace))
        e2e = WORKLOADS[args.workload](bench, tr, spark, corpus, oracle)
        rss = peak_rss_mb()
    finally:
        wall["stop"] = time.perf_counter()
        stop_spark(spark)
    wall["end"] = time.perf_counter()
    setup_s = session_s + e2e["setup_extra_s"]
    failed = len(bench.failures)
    attempted = max(1, bench.attempted + bench.checks)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "corpus_seed": corpus_seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "sizes": size,
        "host": host_facts(cores, heap_mb),
        "session_start_s": session_s,
        "setup_s": setup_s,
        "peak_rss_mb": rss,
        "error_rate": failed / attempted,
        "named": bench.named,
        "op_s": bench.op_s,
        "wall_s": {  # where the run's time went, besides setup_s and op_s
            "inputs": wall["session"] - wall["start"],
            "workload": wall["stop"] - wall["session"],
            "stop": wall["end"] - wall["stop"],
        },
        "failures": bench.failures[:20],
    }
    if args.trace:
        groups = spans.read_eventlog(run_dir / "eventlog")
        layers = spans.layer_rows(tr, groups)
        overhead = tracing_overhead(bench.op_s, untraced["op_s"])
        metrics = layer_metrics(bench, layers, session_s, overhead["overhead_s"])
        units = LAYER_UNITS
        keep = WORK / "trace" / f"{args.workload}-seed{args.seed}"
        shutil.rmtree(keep, ignore_errors=True)
        keep.mkdir(parents=True)
        tr.write(keep / "spans.jsonl")
        for f in (run_dir / "eventlog").iterdir():
            shutil.move(str(f), keep / f"eventlog-{f.name}")
        detail.update(
            layers=layers,
            untraced=untraced["result"],
            tracing_overhead=overhead,
            spans_file=str(keep.relative_to(ROOT) / "spans.jsonl"),
        )
    else:
        metrics = {"setup_s": setup_s, "peak_rss_mb": rss}
        metrics.update((k, e2e[k]) for k in E2E_UNITS if k in e2e)
        units = E2E_UNITS
    bad = [k for k, v in metrics.items() if not finite(v)]
    if bad:
        bench.failures.append(f"metrics not measured: {bad}")
        failed += 1
    line = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": v if finite(v) else None, "unit": units[k]} for k, v in metrics.items()
        },
    }
    return detail, line


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True, help="query, delete and check seed")
    p.add_argument("--corpus-seed", type=int, help="corpus seed (default: --seed)")
    p.add_argument("--seconds", type=float, required=True, help="timed work per run")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="self-test sizes")
    p.add_argument(
        "--inject-wrong", choices=("topk", "delete"),
        help="self-test only: corrupt one observed result",
    )
    return p.parse_args(argv)


def main() -> int:
    args = parse_args()
    WORK.mkdir(exist_ok=True)
    run_dir = WORK / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    try:
        detail, line = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
