"""Per-layer metrics of a traced run.

Values come from three places: the build manifests ``build_index``
returns, the Spark event log grouped by job group, and the driver-side
spans and counters of ``tracing.Tracer``. A layer the workload does not
exercise reports 0. Per-query figures are means over the traced queries.
"""

from __future__ import annotations

import tracing


def _mean(xs) -> float:
    xs = list(xs)
    return float(sum(xs) / len(xs)) if xs else 0.0


def _ratio(a: float, b: float) -> float:
    return float(a / b) if b else 0.0


def _build_layers(run, log) -> dict[str, float]:
    out: dict[str, float] = {}
    builds = run.marks.get("builds", [])

    def stage(meta, pred):
        return sum(m["wall_s"] for m in meta.get("metrics", []) if pred(m["stage"]))

    out["plans.build.docstats_s"] = _mean(
        stage(b["meta"], lambda s: s == "docstats") for b in builds)
    out["plans.build.postings_s"] = _mean(
        stage(b["meta"], lambda s: s.startswith("postings:")) for b in builds)
    out["plans.build.dictionary_s"] = _mean(
        stage(b["meta"], lambda s: s == "dictionary") for b in builds)

    spimi, write, cpu, shuffle, spill, gc, skews = [], [], [], [], [], [], []
    for b in builds:
        stages = log.stage_tasks(b["group"], "MapInPandas")
        is_map = [any(t["shuffle_write"] > 0 for t in ts) for ts in stages]
        spimi.append(sum(tracing.task_sum(ts, "run_s")
                         for ts, m in zip(stages, is_map) if m))
        write.append(sum(tracing.task_sum(ts, "run_s")
                         for ts, m in zip(stages, is_map) if not m))
        skews.append(max([tracing.skew(ts) for ts in stages if len(ts) > 1] or [1.0]))
        tasks = log.tasks_in(b["group"])
        cpu.append(tracing.task_sum(tasks, "cpu_s"))
        shuffle.append(tracing.task_sum(tasks, "shuffle_write"))
        spill.append(tracing.task_sum(tasks, "spill"))
        gc.append(tracing.task_sum(tasks, "gc_s"))
    out["plans.build.spimi_map_task_s"] = _mean(spimi)
    out["plans.build.postings_write_task_s"] = _mean(write)
    out["plans.build.executor_cpu_s"] = _mean(cpu)
    out["plans.build.shuffle_write_bytes"] = _mean(shuffle)
    out["plans.build.spill_bytes"] = _mean(spill)
    out["plans.build.gc_s"] = _mean(gc)
    out["plans.build.task_skew"] = _mean(skews)
    for table in ("docstats", "postings", "dictionary"):
        out[f"plans.build.bytes.{table}"] = _mean(b["bytes"][table] for b in builds)
    out["plans.build.posting_rows"] = _mean(b["posting_rows"] for b in builds)

    appends = run.marks.get("appends", [])
    out["plans.build.append_s"] = _mean(a["wall_s"] for a in appends)
    out["plans.build.append_cpu_s"] = _mean(
        tracing.task_sum(log.tasks_in(a["group"]), "cpu_s") for a in appends)
    out["plans.build.delete_s"] = _mean(d["wall_s"] for d in run.marks.get("deletes", []))
    compact = run.marks.get("compact", [])
    out["plans.merge.compact_s"] = _mean(c["wall_s"] for c in compact)
    out["plans.merge.compact_bytes_written"] = _mean(
        tracing.task_sum(log.tasks_in(c["group"]), "output") for c in compact)
    return out


def _serve_layers(run, tracer) -> dict[str, float]:
    out: dict[str, float] = {}
    w = run.marks.get("serve_window") or {"counts": {}, "spans": 0,
                                          "caches": None, "queries": 0}
    n, c = w["queries"], w["counts"]
    spans = [s for s in tracer.spans[:w["spans"]] if s is not None]
    self_t = tracing.self_times(spans)
    out["operators.serve.dictionary_s"] = _ratio(self_t.get("serve.dictionary", 0.0), n)
    out["operators.serve.read_s"] = _ratio(self_t.get("serve.read", 0.0), n)
    out["operators.serve.read_rows"] = _ratio(c.get("read_rows", 0), n)
    out["operators.serve.read_bytes"] = _ratio(c.get("read_bytes", 0), n)
    out["functions.varbyte.decode_s"] = _ratio(c.get("decode_s", 0.0), n)
    out["functions.varbyte.decode_calls"] = _ratio(c.get("decode_calls", 0), n)
    out["functions.varbyte.decoded_values"] = _ratio(c.get("decoded_values", 0), n)
    out["operators.serve.score_s"] = _ratio(self_t.get("serve.score", 0.0), n)
    out["operators.serve.postings_scored_per_hit"] = _ratio(
        c.get("postings_scored", 0), c.get("hits", 0))
    out["operators.serve.files_per_bucket"] = _ratio(
        c.get("read_files", 0), c.get("read_calls", 0))
    start, end = run.marks.get("caches_start"), w["caches"]
    for name in ("postings_cache", "merge_cache", "weight_cache", "dictionary_cache"):
        hits = misses = 0
        if start and end:
            hits = end[name][0] - start[name][0]
            misses = end[name][1] - start[name][1]
        out[f"operators.serve.{name}.hit_ratio"] = _ratio(hits, hits + misses)
    out["operators.serve.postings_cache.bytes"] = float(w.get("cache_bytes", 0))
    return out


def _query_layers(run, tracer, log) -> dict[str, float]:
    out: dict[str, float] = {}
    terms = [d for d in (s[3] - s[2] for s in tracer.spans
                         if s is not None and s[1] == "query.query_terms")]
    out["operators.query.query_terms_s"] = _mean(terms)
    qs = run.marks.get("spark_queries", [])
    jobs, task, cpu, non_task, inp = [], [], [], [], []
    for q in qs:
        tasks = log.tasks_in(q["group"])
        jobs.append(len(log.jobs_in(q["group"])))
        task.append(tracing.task_sum(tasks, "run_s"))
        cpu.append(tracing.task_sum(tasks, "cpu_s"))
        inp.append(tracing.task_sum(tasks, "input"))
        non_task.append((q["end"] - q["start"])
                        - tracing.busy_union(tasks, q["start"], q["end"]))
    out["operators.query.jobs_per_query"] = _mean(jobs)
    out["operators.query.task_s"] = _mean(task)
    out["operators.query.executor_cpu_s"] = _mean(cpu)
    out["operators.query.non_task_s"] = _mean(non_task)
    out["operators.query.input_bytes"] = _mean(inp)
    batches = run.marks.get("spark_batches", [])
    out["operators.query.batch_task_s"] = _ratio(
        sum(tracing.task_sum(log.tasks_in(b["group"]), "run_s") for b in batches),
        sum(b["n"] for b in batches))
    ms = tracer.counts.get("strategy.maxscore", 0)
    bm = tracer.counts.get("strategy.blockmax", 0)
    out["operators.query.strategy.maxscore"] = float(ms)
    out["operators.query.strategy.blockmax"] = float(bm)
    out["operators.query.strategy.scoreall"] = float(max(0, len(qs) - ms - bm))
    return out


def per_layer(run, tracer, log, session_s: float, e2e: dict) -> dict[str, float]:
    out = {"session.start_s": session_s}
    out.update(_build_layers(run, log))
    out.update(_serve_layers(run, tracer))
    out.update(_query_layers(run, tracer, log))
    out["trace.query_cpu_p50_ms"] = e2e["query_cpu_p50_ms"]
    out["trace.item_cpu_ms"] = e2e["item_cpu_ms"]
    return out
