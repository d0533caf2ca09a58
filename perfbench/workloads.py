"""The workloads. Each runs in a closed loop with one client.

Every workload builds its index with the code under test, runs a timed
region, then checks its results outside the timed region. Each returns a
``Run`` whose fields feed the end-to-end and per-layer metrics.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np

import cputime
import gen
import tracing

K = 10                        # top-k of every query
VOCAB = 100_000               # identifier vocabulary (Zipf ranks)
VERIFY_DOCS = 300             # traced ingest-mixed: index audited by verify_index
SERVE_DOCS = 5_000            # serve: index size
WARMUP_QUERIES = 300          # serve: untimed prefix that fills the caches
MIN_SERVE_QUERIES = 1_000     # p99 keeps >= 10 samples beyond it
TRACE_WINDOW = 600            # serve: queries whose counts are reported
SPARK_SINGLE = 1              # serve: sampled queries sent through Searcher.topk,
                              # with strategy "auto" and again with "scoreall"
SPARK_BATCH = 8               # serve: sampled queries sent through topk_many
INGEST_BASE = 1_500           # ingest-mixed: initial index size
INGEST_BATCH = 500            # docs appended per round
INGEST_DELETES = 25           # ids deleted per round: 5% of a batch, the
                              # delete-to-append ratio of the measured 2k/100 case
ROUND_QUERIES = 334           # distinct queries after each mutation
INGEST_GATE = 2               # ingest-mixed: sampled queries checked vs oracle
# serve.postings_cache budget during serve and ingest-mixed. The package
# default (256 MiB) is sized for ~10^5-doc indexes; the benchmark's
# indexes are 20-50x smaller, so the budget is scaled down with them to
# keep serve's decoded working set above it and ingest-mixed's below.
CACHE_BUDGET = 3 << 20
POSTING_BYTES = 24            # decoded doc id int64 + tf float64 + dl float64


@dataclass
class Run:
    spark: object
    work: str
    seed: int
    seconds: float
    tracer: object = None         # tracing.Tracer in the traced run
    setup_s: float = 0.0
    build_cpu_ms_per_doc: float = 0.0  # the set-up build of the workload's index
    op_s: list = field(default_factory=list)     # topk_local wall latencies
    op_cpu_s: list = field(default_factory=list)  # topk_local CPU times
    op_kind: list = field(default_factory=list)  # query class of each op_s
    item_cpu_ms: float = 0.0      # CPU per unit of the timed work
    attempted: int = 0
    failed: int = 0
    checks: dict = field(default_factory=dict)   # gate name -> ok
    report: dict = field(default_factory=dict)   # name -> (value, unit)
    marks: dict = field(default_factory=dict)    # inputs of per-layer metrics
    bit_mismatches: int = 0       # checked results equal only within SCORE_TOL

    def group(self, name: str) -> None:
        """Label the Spark jobs of the next call (traced run only)."""
        if self.tracer is not None:
            self.spark.sparkContext.setJobGroup(name, name)

    def mark(self, key: str, value) -> None:
        self.marks.setdefault(key, []).append(value)

    def same(self, got, want) -> bool:
        """Rank identity of one checked result; counts results whose
        scores differ from the reference in the last bits."""
        if got is None or want is None or not _same(got, want):
            return False
        self.bit_mismatches += not _bits_same(got, want)
        return True

    def check(self, name: str, ok: bool, ops: int = 1) -> None:
        """Record a correctness gate; a failed gate counts ``ops`` wrong
        operations."""
        self.checks[name] = self.checks.get(name, True) and bool(ok)
        if not ok:
            self.failed += ops


def _corpus_parquet(run: Run, name: str, n: int, first_id: int = 0):
    """Generate a corpus batch, write it as parquet in the run directory
    and return (Spark DataFrame, pandas frame)."""
    pdf = gen.corpus(run.seed, n, VOCAB, first_id)
    path = os.path.join(run.work, "input", f"{name}.parquet")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pdf.to_parquet(path, index=False)
    return run.spark.read.parquet(path), pdf


def _build(run: Run, docs, path: str, group: str):
    from elasticsearch_osmosis_plugin_spark.plans.build import build_index

    shutil.rmtree(path, ignore_errors=True)
    run.group(group)
    c0 = cputime.tree_cpu_s()
    t0 = time.perf_counter()
    meta = build_index(run.spark, docs, path, id_col="doc_id")
    wall = time.perf_counter() - t0
    cpu = cputime.tree_cpu_s() - c0
    rec = {"group": group, "meta": meta, "wall_s": wall, "cpu_s": cpu}
    if run.tracer is not None:
        rec["bytes"] = {t: tree_bytes(os.path.join(path, t))
                        for t in ("docstats", "postings", "dictionary")}
        rec["posting_rows"] = posting_rows(path)
    run.mark("builds", rec)
    return meta, wall, cpu


SCORE_TOL = 1e-9              # the package's own tests compare scores to 1e-9


def _same(a: list, b: list) -> bool:
    """Rank identity as the package's tests define it: the same doc ids
    in the same order, scores equal within ``SCORE_TOL``."""
    return len(a) == len(b) and all(
        int(da) == int(db) and abs(float(sa) - float(sb)) < SCORE_TOL
        for (da, sa), (db, sb) in zip(a, b))


def _bits_same(a: list, b: list) -> bool:
    return [(int(d), float(s)) for d, s in a] == [(int(d), float(s)) for d, s in b]


def tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def posting_rows(path: str) -> int:
    """Exact posting-row count from the parquet footers."""
    import pyarrow.parquet as pq

    n = 0
    for d, _, files in os.walk(os.path.join(path, "postings")):
        for f in files:
            if f.endswith(".parquet"):
                n += pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
    return n


def _serve_loop(run: Run, searcher, stream: list[str], start: int, stop: int,
                min_count: int, deadline: float, window: int | None = None) -> list:
    """Run the distinct topk_local queries ``stream[start:stop]`` until
    ``deadline`` has passed and at least ``min_count`` ran. In the traced
    run the first ``window`` queries are traced; the trace snapshot is
    taken after them."""
    results = []
    tr = run.tracer
    for i, q in enumerate(stream[start:stop]):
        if i >= min_count and time.perf_counter() >= deadline:
            break
        if tr is not None:
            tr.qid = i
            if "caches_start" not in run.marks:
                run.marks["caches_start"] = tracing.cache_counters()
            if window is not None:
                tr.active = i < window
                if i == window:
                    _snapshot(run, window)
        run.attempted += 1
        c0 = time.process_time()
        t0 = time.perf_counter()
        try:
            with _maybe_span(tr, "serve.query"):
                hits = searcher.topk_local(q, K)
        except Exception:
            run.failed += 1
            hits = None
        run.op_s.append(time.perf_counter() - t0)
        run.op_cpu_s.append(time.process_time() - c0)
        run.op_kind.append(gen.query_kind(start + i))
        results.append((q, hits))
    if tr is not None and window is not None:
        if len(results) <= window:
            _snapshot(run, len(results))
        tr.active = False
    return results


def _maybe_span(tr, name):
    return tr.span(name) if tr is not None else contextlib.nullcontext()


def _snapshot(run: Run, queries: int) -> None:
    """Freeze the traced serve counters after ``queries`` queries."""
    from elasticsearch_osmosis_plugin_spark.operators import serve

    run.marks["serve_window"] = {
        "counts": dict(run.tracer.counts),
        "spans": len(run.tracer.spans),
        "caches": tracing.cache_counters(),
        "cache_bytes": serve.postings_cache.bytes,
        "queries": queries,
    }


def _working_set(searcher, queries: list[str]) -> int:
    """Decoded bytes of every distinct indexed term the queries touch."""
    from elasticsearch_osmosis_plugin_spark.operators import query, serve

    terms = sorted({t for q in queries for t in query.query_terms(q, searcher.meta)})
    rows = serve.local_dictionary_rows(searcher.index_path, searcher.meta, terms)
    return POSTING_BYTES * sum(int(r["df"]) for r in rows.values())


def _reset_caches(budget: int) -> None:
    from elasticsearch_osmosis_plugin_spark.operators import serve

    serve.postings_cache.max_bytes = budget
    for c in (serve.postings_cache, serve.merge_cache, serve.weight_cache,
              serve.dictionary_cache, serve.listing_cache):
        c.clear()


# ------------------------------------------------------------------ set-up

def _setup_index(run: Run, n: int):
    """Build the workload's index of ``n`` documents; its wall gives the
    build throughput. It is the JVM's first build, so it includes JIT and
    Python-worker start-up, as a fresh session's first build does.
    Returns (pandas rows, index path)."""
    docs, pdf = _corpus_parquet(run, "corpus", n)
    idx = os.path.join(run.work, "idx")
    _, wall, cpu = _build(run, docs, idx, "build:0")
    run.build_cpu_ms_per_doc = cpu * 1e3 / n
    src = int(pdf["content"].str.len().sum())   # ASCII text: chars == bytes
    run.report.update({
        "build_docs_per_s": (n / wall, "docs/s"),
        "build_cpu_ms_per_doc": (run.build_cpu_ms_per_doc, "ms"),
        "build_s": (wall, "s"),
        "index_bytes_per_source_byte": (tree_bytes(idx) / src, "ratio"),
        "index_docs": (n, "count"),
    })
    return pdf, idx


# ------------------------------------------------------------------ serve

def serve(run: Run) -> None:
    """Searcher.topk_local over a stream of distinct queries; afterwards a
    sample of them goes through the Spark path for the rank-identity
    check and the Spark-path figures."""
    from elasticsearch_osmosis_plugin_spark.operators.query import Searcher

    t0 = time.perf_counter()
    _, idx = _setup_index(run, SERVE_DOCS)
    searcher = Searcher(run.spark, idx)
    _reset_caches(CACHE_BUDGET)
    stream = gen.queries(run.seed, WARMUP_QUERIES + 12_000, VOCAB)
    for q in stream[:WARMUP_QUERIES]:
        searcher.topk_local(q, K)
    run.setup_s = time.perf_counter() - t0

    t1 = time.perf_counter()
    done = _serve_loop(run, searcher, stream, WARMUP_QUERIES, len(stream),
                       MIN_SERVE_QUERIES, t1 + run.seconds, TRACE_WINDOW)
    wall = time.perf_counter() - t1
    ws = _working_set(searcher, stream[:WARMUP_QUERIES + len(done)])

    spark_s, batch_qps = _spark_path(run, searcher, done)
    searcher.close()
    run.item_cpu_ms = sum(run.op_cpu_s) * 1e3 / len(done)
    run.report.update(_latencies(run, "serve"))
    run.report.update({
        "serve_qps": (len(done) / wall, "1/s"),
        "serve_cpu_ms_per_query": (run.item_cpu_ms, "ms"),
        "serve_queries": (len(done), "count"),
        "spark_topk_p50_s": (statistics.median(spark_s) if spark_s else float("nan"), "s"),
        "spark_batch_qps": (batch_qps, "1/s"),
        "decoded_working_set_bytes": (ws, "bytes"),
        "cache_budget_bytes": (CACHE_BUDGET, "bytes"),
        "working_set_to_budget": (ws / CACHE_BUDGET, "ratio"),
    })


def _latencies(run: Run, name: str) -> dict:
    """Median and p99 wall latency of the timed queries (p99 keeps >= 10
    samples beyond it: both workloads time >= 1,000), the median CPU time,
    and both medians per query class, so the effect of the assumed class
    mix can be seen."""
    ms = np.array(run.op_s) * 1e3
    cpu = np.array(run.op_cpu_s) * 1e3
    kinds = np.array(run.op_kind)
    out = {f"{name}_p50_ms": (float(np.median(ms)), "ms"),
           f"{name}_p99_ms": (float(np.percentile(ms, 99)), "ms"),
           f"{name}_cpu_p50_ms": (float(np.median(cpu)), "ms")}
    for k in gen.QUERY_KINDS:
        out[f"{name}_p50_ms.{k}"] = (float(np.median(ms[kinds == k])), "ms")
        out[f"{name}_cpu_p50_ms.{k}"] = (float(np.median(cpu[kinds == k])), "ms")
    return out


def _spark_collect(run: Run, call) -> list | None:
    """One checked Spark-path call: its (doc_id, score) rows, or None if
    it raised."""
    run.attempted += 1
    try:
        return [(r["doc_id"], r["score"]) for r in call().collect()]
    except Exception:
        run.failed += 1
        return None


def _spark_path(run: Run, searcher, done: list) -> tuple[list, float]:
    """Send a seeded sample of the served queries through
    Searcher.topk(strategy="auto") one at a time and one
    Searcher.topk_many batch; both must match the topk_local answers.
    The single-query sample also runs through the reference path,
    topk(strategy="scoreall"), which topk_local must match, so a mismatch
    shows whether the local path or the pruning is wrong.
    Returns the single-query walls and the batch queries per second."""
    # drawn from the queries every run times, so a seed always checks the
    # same ones
    g = np.random.default_rng(run.seed)
    picks = g.choice(MIN_SERVE_QUERIES, size=SPARK_SINGLE + SPARK_BATCH, replace=False)
    tr = run.tracer
    if tr is not None:
        tr.active = True
    walls, wrong, ref_wrong = [], 0, 0
    for i in picks[:SPARK_SINGLE]:
        q, hits = done[i]
        run.group(f"q:{i}")
        s0, t = time.time(), time.perf_counter()
        rows = _spark_collect(run, lambda: searcher.topk(q, K))
        if rows is not None:
            walls.append(time.perf_counter() - t)
            run.mark("spark_queries", {"group": f"q:{i}", "start": s0, "end": time.time()})
            wrong += not run.same(rows, hits)
        # the reference path is a check, not a measured layer: untraced
        if tr is not None:
            tr.active = False
        run.group(f"ref:{i}")
        ref = _spark_collect(run, lambda: searcher.topk(q, K, strategy="scoreall"))
        ref_wrong += ref is not None and not run.same(hits, ref)
        if tr is not None:
            tr.active = True
    run.check("topk_vs_local", wrong == 0, wrong)
    run.check("local_vs_scoreall", ref_wrong == 0, ref_wrong)

    batch = {f"q{i}": done[i][0] for i in picks[SPARK_SINGLE:]}
    run.group("batch:0")
    run.attempted += 1
    t = time.perf_counter()
    try:
        rows = searcher.topk_many(batch, K).collect()
    except Exception:
        rows = None
    bwall = time.perf_counter() - t
    if tr is not None:
        tr.active = False
    run.mark("spark_batches", {"group": "batch:0", "n": len(batch)})
    got: dict = {name: [] for name in batch}
    for r in rows or []:
        got[r["query_id"]].append((r["doc_id"], r["score"]))
    ok = rows is not None and all([run.same(got[f"q{i}"], done[i][1])
                                   for i in picks[SPARK_SINGLE:]])
    run.check("topk_many_vs_local", ok)
    return walls, len(batch) / bwall


# ----------------------------------------------------------- ingest-mixed

def ingest_mixed(run: Run) -> None:
    """Rounds of append, delete, refresh and distinct queries, then a
    compaction and more queries."""
    from elasticsearch_osmosis_plugin_spark.operators.bm25 import bm25_oracle
    from elasticsearch_osmosis_plugin_spark.operators.query import Searcher
    from elasticsearch_osmosis_plugin_spark.plans.build import (
        append_index_group,
        delete_docs,
    )
    from elasticsearch_osmosis_plugin_spark.plans.merge import compact_index

    rounds = max(2, int(run.seconds // 3))
    t0 = time.perf_counter()
    pdf, idx = _setup_index(run, INGEST_BASE)
    searcher = Searcher(run.spark, idx)
    _reset_caches(CACHE_BUDGET)
    # no warm-up: the first round's queries meet cold caches, as the
    # queries after every later mutation meet partly invalidated ones
    stream = gen.queries(run.seed, (rounds + 1) * ROUND_QUERIES, VOCAB, stream=3)
    run.setup_s = time.perf_counter() - t0

    tr = run.tracer
    if tr is not None:
        tr.active = True
    frames = [pdf]
    live = list(pdf["doc_id"])
    dead: list[int] = []
    g = np.random.default_rng(run.seed)
    appends, append_cpu, deletes, served = [], [], [], []
    pos = 0
    for r in range(rounds):
        first = INGEST_BASE + r * INGEST_BATCH
        batch, bpdf = _corpus_parquet(run, f"batch{r}", INGEST_BATCH, first)
        frames.append(bpdf)
        run.group(f"append:{r}")
        run.attempted += 1
        c0 = cputime.tree_cpu_s()
        t = time.perf_counter()
        try:
            append_index_group(run.spark, batch, idx, id_col="doc_id")
            live.extend(bpdf["doc_id"])
        except Exception:
            run.failed += 1
        appends.append(time.perf_counter() - t)
        append_cpu.append(cputime.tree_cpu_s() - c0)
        run.mark("appends", {"group": f"append:{r}", "wall_s": appends[-1]})

        gone = [int(x) for x in g.choice(live, size=INGEST_DELETES, replace=False)]
        run.group(f"delete:{r}")
        run.attempted += 1
        t = time.perf_counter()
        try:
            delete_docs(run.spark, idx, gone)
            dead.extend(gone)
            live = sorted(set(live) - set(gone))
        except Exception:
            run.failed += 1
        deletes.append(time.perf_counter() - t)
        run.mark("deletes", {"wall_s": deletes[-1]})

        run.group(f"refresh:{r}")
        searcher.refresh()
        served += _serve_loop(run, searcher, stream, pos, pos + ROUND_QUERIES,
                              ROUND_QUERIES, 0.0)
        pos += ROUND_QUERIES

    run.group("compact")
    run.attempted += 1
    t = time.perf_counter()
    try:
        compact_index(run.spark, idx)
    except Exception:
        run.failed += 1
    compact_s = time.perf_counter() - t
    run.mark("compact", {"group": "compact", "wall_s": compact_s})
    run.group("refresh:final")
    searcher.refresh()
    final = _serve_loop(run, searcher, stream, pos, pos + ROUND_QUERIES,
                        ROUND_QUERIES, 0.0)
    served += final
    if tr is not None:
        _snapshot(run, len(served))
        tr.active = False

    # oracle: deletes are tombstones, so corpus statistics still count
    # the deleted docs (Lucene semantics); the oracle ranks every indexed
    # row and drops the deleted ids from its hit list
    import pandas as pd

    allrows = pd.concat(frames)
    rows = list(zip(allrows["doc_id"].astype(int), allrows["content"]))
    dead_set = set(dead)
    picks = sorted(g.choice(len(final), size=min(INGEST_GATE, len(final)), replace=False))
    wrong = 0
    for i in picks:
        q, hits = final[i]
        ranked = bm25_oracle(rows, q, k=len(rows))
        want = [(d, s) for d, s in ranked if d not in dead_set][:K]
        wrong += not run.same(hits, want)
    run.check("ingest_vs_oracle", wrong == 0, wrong)
    if run.tracer is not None:
        _verify_fresh_index(run)
    ws = _working_set(searcher, stream[:pos + ROUND_QUERIES])
    searcher.close()

    run.item_cpu_ms = sum(append_cpu) * 1e3 / (rounds * INGEST_BATCH)
    run.report.update(_latencies(run, "mixed_serve"))
    run.report.update({
        "ingest_docs_per_s": (rounds * INGEST_BATCH / sum(appends), "docs/s"),
        "ingest_cpu_ms_per_doc": (run.item_cpu_ms, "ms"),
        "delete_p50_s": (statistics.median(deletes), "s"),
        "compact_s": (compact_s, "s"),
        "mixed_queries": (len(served), "count"),
        "rounds": (rounds, "count"),
        "decoded_working_set_bytes": (ws, "bytes"),
        "cache_budget_bytes": (CACHE_BUDGET, "bytes"),
        "working_set_to_budget": (ws / CACHE_BUDGET, "ratio"),
    })


def _verify_fresh_index(run: Run) -> None:
    """Audit a freshly built index with verify_index, including the sha256
    row invariant. The audit decodes every posting row in Python (about
    4 ms per document on a 4-vCPU host) and runs several Spark jobs, so
    only the traced run pays for it, on a small index."""
    from elasticsearch_osmosis_plugin_spark.plans.build import build_index
    from elasticsearch_osmosis_plugin_spark.plans.merge import verify_index

    docs, _ = _corpus_parquet(run, "verify", VERIFY_DOCS, first_id=10**9)
    path = os.path.join(run.work, "verify_idx")
    run.group("verify")
    build_index(run.spark, docs, path, id_col="doc_id")
    res = verify_index(run.spark, path, docs, id_col="doc_id", text_col="content")
    run.check("verify_index", bool(res.get("ok")) and "row_invariant" in res)


WORKLOADS = {
    "serve": serve,
    "ingest-mixed": ingest_mixed,
}
