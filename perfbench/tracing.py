"""Tracing for the benchmark's ``--trace 1`` run.

Two sources, both outside the package:

- driver-side spans: the benchmark rebinds module attributes of
  ``operators.serve`` (``_read_filtered``, ``vb_decode``,
  ``_score_from_postings``, ``local_dictionary_rows``) and
  ``operators.query`` (``query_terms`` and the two pruning strategies) to
  timing wrappers, and restores them afterwards;
- Spark-side task metrics: the Spark event log (enabled through
  ``get_session(extra_conf=...)``), grouped by the job group the
  benchmark sets around each call.

Spans carry name, start, end, parent and query id. They stay in memory
and are written to a JSON-lines file when the run ends.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from collections import defaultdict


class Tracer:
    """In-memory spans plus per-name counters.

    ``active`` gates recording, so wrappers stay installed while a pass
    runs untraced; ``qid`` tags spans with the query that caused them."""

    def __init__(self):
        self.spans: list[tuple] = []   # (id, name, start, end, parent, qid)
        self.counts: dict[str, float] = defaultdict(float)
        self.active = False
        self.qid = None
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(None)
        self._stack.append(sid)
        t0 = time.time()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid] = (sid, name, t0, time.time(), parent, self.qid)

    def add(self, name: str, value: float = 1.0) -> None:
        if self.active:
            self.counts[name] += value

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                if s is not None:
                    f.write(json.dumps(dict(zip(
                        ("id", "name", "start", "end", "parent", "qid"), s))) + "\n")


def self_times(spans: list[tuple]) -> dict[str, float]:
    """Sum of each span name's self time: its duration minus the part its
    direct children cover."""
    child: dict[int, float] = defaultdict(float)
    for s in spans:
        if s[4] is not None:
            child[s[4]] += s[3] - s[2]
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s[1]] += (s[3] - s[2]) - child[s[0]]
    return out


@contextlib.contextmanager
def patched(tracer: Tracer):
    """Rebind the serve/query module attributes to timing wrappers for
    the duration of the block."""
    from elasticsearch_osmosis_plugin_spark.operators import query, serve

    orig = {
        (serve, "_read_filtered"): serve._read_filtered,
        (serve, "vb_decode"): serve.vb_decode,
        (serve, "_score_from_postings"): serve._score_from_postings,
        (serve, "local_dictionary_rows"): serve.local_dictionary_rows,
        (query, "query_terms"): query.query_terms,
        (query, "_topk_maxscore"): query._topk_maxscore,
        (query, "_topk_single_term_blockmax"): query._topk_single_term_blockmax,
    }

    def timed(name, fn, after=None):
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            with tracer.span(name):
                out = fn(*args, **kwargs)
            if after is not None:
                after(args, out)
            return out
        return wrapper

    def after_read(args, tbl):
        tracer.add("read_calls")
        tracer.add("read_files", len(args[0]))
        if tbl is not None:
            tracer.add("read_rows", tbl.num_rows)
            tracer.add("read_bytes", tbl.nbytes)

    def decode(buf):
        if not tracer.active:
            return orig[(serve, "vb_decode")](buf)
        t0 = time.perf_counter()
        out = orig[(serve, "vb_decode")](buf)
        tracer.add("decode_s", time.perf_counter() - t0)
        tracer.add("decode_calls")
        tracer.add("decoded_values", out.size)
        return out

    def after_score(args, hits):
        live, posts = args[0], args[1]
        tracer.add("postings_scored",
                   sum(posts[t][0].size for t in set(live) if t in posts))
        tracer.add("hits", len(hits))

    def counted(name, fn):
        def wrapper(*args, **kwargs):
            tracer.add(name)
            return fn(*args, **kwargs)
        return wrapper

    new = {
        (serve, "_read_filtered"): timed("serve.read", serve._read_filtered, after_read),
        (serve, "vb_decode"): decode,
        (serve, "_score_from_postings"): timed(
            "serve.score", serve._score_from_postings, after_score),
        (serve, "local_dictionary_rows"): timed(
            "serve.dictionary", serve.local_dictionary_rows),
        (query, "query_terms"): timed("query.query_terms", query.query_terms),
        (query, "_topk_maxscore"): counted("strategy.maxscore", query._topk_maxscore),
        (query, "_topk_single_term_blockmax"): counted(
            "strategy.blockmax", query._topk_single_term_blockmax),
    }
    for (mod, attr), fn in new.items():
        setattr(mod, attr, fn)
    try:
        yield
    finally:
        for (mod, attr), fn in orig.items():
            setattr(mod, attr, fn)


def cache_counters() -> dict[str, tuple[int, int]]:
    """(hits, misses) of each serving cache, for before/after deltas."""
    from elasticsearch_osmosis_plugin_spark.operators import serve

    return {name: (c.hits, c.misses) for name, c in (
        ("postings_cache", serve.postings_cache),
        ("merge_cache", serve.merge_cache),
        ("weight_cache", serve.weight_cache),
        ("dictionary_cache", serve.dictionary_cache))}


# ---------------------------------------------------------------- event log

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"


class EventLog:
    """Jobs, stages and tasks of one Spark application's event log,
    keyed by the job group the benchmark set around each call."""

    def __init__(self, log_dir: str):
        # Spark 4 rolls the log by default: eventlog_v2_<app>/events_<n>_<app>
        files = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True),
                       key=lambda p: int(os.path.basename(p).split("_")[1]))
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: dict[int, list[dict]] = defaultdict(list)
        self.plans: dict[int, str] = {}
        for path in files:
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = ev["Job ID"]
            ex = props.get("spark.sql.execution.id")
            self.jobs[job] = {"group": props.get("spark.jobGroup.id"),
                              "execution": int(ex) if ex is not None else None,
                              "stages": ev.get("Stage IDs", [])}
            for s in self.jobs[job]["stages"]:
                self.stage_job[s] = job
        elif kind == "SparkListenerTaskEnd":
            info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
            self.tasks[ev["Stage ID"]].append({
                "start": info.get("Launch Time", 0) / 1e3,
                "end": info.get("Finish Time", 0) / 1e3,
                "run_s": m.get("Executor Run Time", 0) / 1e3,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "gc_s": m.get("JVM GC Time", 0) / 1e3,
                "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0),
                "input": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                "output": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
            })
        elif kind == SQL_START:
            self.plans[ev["executionId"]] = ev.get("physicalPlanDescription", "")

    def jobs_in(self, group: str) -> list[int]:
        return [j for j, v in self.jobs.items() if v["group"] == group]

    def stage_tasks(self, group: str, plan_has: str | None = None) -> list[list[dict]]:
        """Per-stage task lists of the jobs in ``group``; with
        ``plan_has``, only jobs whose SQL plan contains that operator.
        A stage listed by several jobs (AQE re-lists skipped map
        stages) counts once."""
        stages: set[int] = set()
        for j in self.jobs_in(group):
            job = self.jobs[j]
            if plan_has is None or plan_has in self.plans.get(job["execution"], ""):
                stages.update(job["stages"])
        return [self.tasks[s] for s in sorted(stages) if self.tasks.get(s)]

    def tasks_in(self, group: str, plan_has: str | None = None) -> list[dict]:
        return [t for ts in self.stage_tasks(group, plan_has) for t in ts]


def busy_union(tasks: list[dict], lo: float, hi: float) -> float:
    """Length of the union of task intervals clipped to [lo, hi]."""
    iv = sorted((max(t["start"], lo), min(t["end"], hi)) for t in tasks)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def task_sum(tasks: list[dict], key: str) -> float:
    return float(sum(t[key] for t in tasks))


def skew(tasks: list[dict]) -> float:
    """max / median task duration (1.0 when there are no tasks)."""
    d = [t["end"] - t["start"] for t in tasks]
    if not d:
        return 1.0
    med = statistics.median(d)
    return max(d) / med if med > 0 else 1.0
