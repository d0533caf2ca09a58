"""Benchmark entry point.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 4 --trace 0

Run from the repository root. Workloads: serve and ingest-mixed (see
README.md in this directory). ``--trace 0`` prints the
end-to-end metrics named in ``BENCHMARK.json``; ``--trace 1`` enables the
Spark event log and the driver-side wrappers and prints the per-layer
metrics instead.

Every line before the last is a human-readable report: the workload's own
named metrics with units, correctness checks and the host. The last line
is one JSON object with the keys ``correct``, ``attempted``, ``failed``
and ``metrics``. Scratch files go to ``.perfbench_work/`` under the
repository root; traces and per-run results stay there after the run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _steal_s() -> float:
    """Host CPU time stolen from this VM so far (/proc/stat, seconds)."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _host(steal0: float) -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {"nproc": len(os.sched_getaffinity(0)),
            "steal_cpu_s": round(_steal_s() - steal0, 2),
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "numpy": numpy.__version__}


def _session(work: str, event_dir: str | None):
    from elasticsearch_osmosis_plugin_spark.session import get_session

    nproc = len(os.sched_getaffinity(0))
    conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false"}
    if event_dir is not None:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_dir,
                     "spark.eventLog.compress": "false"})
    return get_session(app_name="perfbench", master=f"local[{nproc}]",
                       extra_conf=conf)


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def end_to_end(run, session_s: float) -> dict[str, float]:
    return {"setup_s": session_s + run.setup_s,
            "build_cpu_ms_per_doc": run.build_cpu_ms_per_doc,
            "query_cpu_p50_ms": statistics.median(run.op_cpu_s) * 1e3,
            "item_cpu_ms": run.item_cpu_ms}


def result(spec: dict, run, values: dict[str, float], trace: bool) -> dict:
    """The final JSON object; every metric of the chosen kind, with units
    from BENCHMARK.json."""
    kind = spec["per_layer"] if trace else spec["end_to_end"]
    missing = [m["name"] for m in kind if m["name"] not in values]
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    return {"correct": run.failed == 0 and all(run.checks.values()),
            "attempted": int(run.attempted), "failed": int(run.failed),
            "metrics": {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                        for m in kind}}


def report(name: str, run, host: dict, session_s: float) -> dict:
    """The human-readable record: the workload's own metrics by name."""
    metrics = {"setup_s": {"value": session_s + run.setup_s, "unit": "s"},
               "error_rate": {"value": run.failed / max(1, run.attempted),
                              "unit": "ratio"},
               "score_bit_mismatches": {"value": run.bit_mismatches, "unit": "count"}}
    metrics.update({k: {"value": v, "unit": u} for k, (v, u) in run.report.items()})
    return {"workload": name, "seed": run.seed, "metrics": metrics,
            "checks": run.checks, "host": host}


def _overhead(base: str, workload: str, seed: int, traced: dict) -> dict | None:
    """Relative difference of the traced end-to-end figures to the
    untraced run of the same workload and seed, if one was saved."""
    path = os.path.join(base, "results", f"{workload}-seed{seed}-trace0.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        plain = json.load(f)["result"]["metrics"]
    return {k: traced[k] / plain[k]["value"] - 1 for k in ("query_cpu_p50_ms", "item_cpu_ms")}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import elasticsearch_osmosis_plugin_spark  # noqa: F401  (fails fast outside a checkout)
    import layers
    import tracing
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    spec = _spec()
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    event_dir = os.path.join(work, "events") if args.trace else None
    if event_dir:
        os.makedirs(event_dir)

    steal0 = _steal_s()
    tracer = tracing.Tracer() if args.trace else None
    t0 = time.perf_counter()
    spark = _session(work, event_dir)
    session_s = time.perf_counter() - t0
    run = workloads.Run(spark=spark, work=work, seed=args.seed,
                        seconds=args.seconds, tracer=tracer)
    t1 = time.perf_counter()
    try:
        if tracer is not None:
            with tracing.patched(tracer):
                workloads.WORKLOADS[args.workload](run)
        else:
            workloads.WORKLOADS[args.workload](run)
    finally:
        t2 = time.perf_counter()
        _stop(spark)
    phases = {"python_s": t0 - T_START, "session_s": session_s,
              "workload_s": t2 - t1, "stop_s": time.perf_counter() - t2}

    e2e = end_to_end(run, session_s)
    values = e2e
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if tracer is not None:
        values = layers.per_layer(run, tracer, tracing.EventLog(event_dir), session_s, e2e)
        tracer.write(os.path.join(base, "traces", f"{tag}.jsonl"))
    rep = report(args.workload, run, _host(steal0), session_s)
    rep["phases_s"] = phases
    if tracer is not None:
        rep["trace_overhead"] = _overhead(base, args.workload, args.seed, e2e)
    out = result(spec, run, values, bool(args.trace))
    os.makedirs(os.path.join(base, "results"), exist_ok=True)
    with open(os.path.join(base, "results", f"{tag}.json"), "w") as f:
        json.dump({"report": rep, "result": out}, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(rep))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
