"""Self-tests of the benchmark's own code. They need no Spark session.

    python3 perfbench/selftest.py        (or: python3 -m pytest perfbench/selftest.py)
"""

from __future__ import annotations

import json
import os
import re
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402
import run as runner  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402


def _run(trace: bool = False) -> workloads.Run:
    r = workloads.Run(spark=None, work="", seed=1, seconds=1.0,
                      tracer=tracing.Tracer() if trace else None)
    r.op_s = [0.002, 0.003, 0.004]
    r.op_cpu_s = [0.003, 0.004, 0.005]
    r.item_cpu_ms = 4.0
    r.build_cpu_ms_per_doc = 30.0
    r.attempted = 3
    return r


def test_same_seed_same_inputs():
    a, b, c = gen.corpus(5, 300, 1000), gen.corpus(5, 300, 1000), gen.corpus(6, 300, 1000)
    assert gen.digest(a) == gen.digest(b)
    assert gen.digest(a) != gen.digest(c)
    v = workloads.VOCAB
    assert gen.queries(5, 200, v) == gen.queries(5, 200, v)
    assert gen.queries(5, 200, v) != gen.queries(6, 200, v)
    assert gen.queries(5, 200, v, stream=1) != gen.queries(5, 200, v)
    later = gen.corpus(5, 300, 1000, first_id=300)
    assert later["doc_id"].min() == 300 and gen.digest(later) != gen.digest(a)


def test_corpus_shape():
    pdf = gen.corpus(1, 2000, workloads.VOCAB)
    assert list(pdf.columns) == ["doc_id", "repo", "path", "commit", "lang", "content"]
    docs = [set(t for t in c.split() if re.fullmatch(r"t\d+", t)) for c in pdf["content"]]
    df: dict[str, int] = {}
    for d in docs:
        for t in d:
            df[t] = df.get(t, 0) + 1
    ordered = sorted(df.values())
    assert len(df) > 20_000                      # heavy tail: many distinct ids
    assert ordered[len(ordered) // 2] <= 2       # median df is tiny
    assert df["t1"] > 0.9 * len(docs)            # head term in nearly every doc
    mega = (pdf["repo"] == gen.MEGA_REPO).mean()
    assert 0.25 < mega < 0.35
    langs = pdf["lang"].value_counts()
    assert list(langs.index) == list(gen.LANGS)  # Zipf-weighted, java first
    assert abs(langs["java"] / len(pdf) - gen.LANG_WEIGHTS[0]) < 0.05
    qs = gen.queries(1, 500, workloads.VOCAB)
    assert len(set(qs)) == 500
    assert all(1 <= len(q.split()) <= 3 for q in qs)
    kinds = [gen.query_kind(i) for i in range(len(qs))]
    assert all(kinds.count(k) == 100 for k in gen.QUERY_KINDS)   # equal shares
    assert all(len(q.split()) == 1 for q, k in zip(qs, kinds) if k == "rare")
    assert all(q.split()[0] in gen.CROSS_TERMS for q, k in zip(qs, kinds) if k == "cross")


def test_every_metric_printed_with_unit():
    spec = runner._spec()
    for trace, kind in ((False, "end_to_end"), (True, "per_layer")):
        r = _run(trace)
        values = runner.end_to_end(r, 1.0)
        if trace:
            with tempfile.TemporaryDirectory() as d:
                values = layers.per_layer(r, r.tracer, tracing.EventLog(d), 1.0, values)
        out = json.loads(json.dumps(runner.result(spec, r, values, trace)))
        assert set(out) == {"correct", "attempted", "failed", "metrics"}
        want = {m["name"]: m["unit"] for m in spec[kind]}
        assert {k: v["unit"] for k, v in out["metrics"].items()} == want
        assert all(isinstance(v["value"], float) for v in out["metrics"].values())
    rep = runner.report("serve", _run(), {"nproc": 1}, 1.0)
    assert {"setup_s", "error_rate", "score_bit_mismatches"} <= set(rep["metrics"])
    assert all("unit" in v for v in rep["metrics"].values())


def test_perturbed_result_raises_error_rate():
    spec = runner._spec()
    want = [(7, 2.5), (3, 1.25), (9, 1.25)]
    for bad in ([(7, 2.5 + 1e-6), (3, 1.25), (9, 1.25)],    # wrong score
                [(3, 1.25), (7, 2.5), (9, 1.25)],           # wrong order
                [(7, 2.5), (3, 1.25)],                      # missing hit
                None,                                       # failed call
                "no reference"):                            # reference call failed
        r = _run()
        r.check("gate", r.same(list(want), None) if bad == "no reference"
                else r.same(bad, want))
        rep = runner.report("serve", r, {}, 1.0)
        out = runner.result(spec, r, runner.end_to_end(r, 1.0), False)
        assert rep["metrics"]["error_rate"]["value"] > 0
        assert out["failed"] == 1 and out["correct"] is False
    r = _run()
    r.check("gate", r.same(list(want), want))
    out = runner.result(spec, r, runner.end_to_end(r, 1.0), False)
    assert out["failed"] == 0 and out["correct"] is True


def test_last_bit_difference_is_counted_not_failed():
    r = _run()
    a = [(1, (0.1 + 0.2) + 0.3)]
    b = [(1, 0.1 + (0.2 + 0.3))]
    assert a != b
    assert r.same(a, b)
    assert r.bit_mismatches == 1


def test_span_self_time():
    t = tracing.Tracer()
    t.active = True
    with t.span("outer"):
        with t.span("inner"):
            pass
    assert [(n, p) for _, n, _, _, p, _ in t.spans] == [("outer", None), ("inner", 0)]
    spans = [(0, "outer", 0.0, 10.0, None, 1), (1, "inner", 2.0, 5.0, 0, 1)]
    assert tracing.self_times(spans) == {"outer": 7.0, "inner": 3.0}


def test_busy_union_and_skew():
    tasks = [{"start": 1.0, "end": 3.0}, {"start": 2.0, "end": 4.0},
             {"start": 6.0, "end": 7.0}]
    assert tracing.busy_union(tasks, 0.0, 10.0) == 4.0
    assert tracing.busy_union(tasks, 2.5, 6.5) == 2.0
    assert tracing.skew(tasks) == 1.0
    assert tracing.skew([{"start": 0.0, "end": d} for d in (1.0, 1.0, 3.0)]) == 3.0


def test_contract_shape():
    spec = runner._spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    names = [m["name"] for kind in ("workloads", "end_to_end", "per_layer")
             for m in spec[kind]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    assert all(len(w["why"]) <= 200 for w in spec["workloads"])
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())


def main() -> int:
    tests = [(n, f) for n, f in sorted(globals().items()) if n.startswith("test_")]
    failed = 0
    for name, fn in tests:
        try:
            fn()
            print(f"ok   {name}")
        except Exception as e:  # report every test, then fail the run
            failed += 1
            print(f"FAIL {name}: {type(e).__name__}: {e}")
    print(f"{len(tests) - failed}/{len(tests)} passed")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
