"""Self-tests of the benchmark.

    python3 perfbench/selftest.py           # unit checks + smoke runs (~3 min)
    python3 perfbench/selftest.py --quick   # unit checks only (seconds)

Unit checks cover the span/self-time arithmetic, the event-log parser
(on a hand-written event log), the process-tree sampler, input
determinism, the metric lists in BENCHMARK.json, and the refusal to
run outside a checkout.  The smoke runs drive run.py end to end on the
sf0.001-sized inputs and tiny synthetic graphs: every workload traced
(event log parsed from a real run), one untraced.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import procstat  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402


def close(a: float, b: float) -> bool:
    return abs(a - b) < 1e-9


def test_span_arithmetic() -> None:
    s = [
        spans.Span("job", 0.0, 10.0, None, 0, "job#0"),
        spans.Span("a", 1.0, 4.0, 0, 0, "a#0"),
        spans.Span("b", 3.0, 6.0, 0, 0, "b#0"),  # overlaps a
        spans.Span("c", 9.0, 12.0, 0, 0, "c#0"),  # runs past its parent
        spans.Span("a.x", 1.5, 2.0, 1, 0, "x#0"),
    ]
    assert close(spans.union_length([(1, 4), (3, 6), (9, 12)]), 8.0)
    assert close(spans.union_length([(5, 5), (2, 1)]), 0.0)
    st = spans.self_times(s)
    assert close(st[0], 10.0 - (5.0 + 1.0)), st  # children cover 1-6 and 9-10
    assert close(st[1], 3.0 - 0.5) and close(st[2], 3.0) and close(st[4], 0.5), st
    top = [spans.Span("p", 0.0, 2.0, None, 0, "p"), spans.Span("q", 3.0, 9.0, None, 0, "q")]
    assert close(spans.coverage(top, 0.0, 10.0), 0.8)
    assert close(spans.coverage(top + s[1:2], 1.0, 3.0), 0.5)


def test_tracer_disabled() -> None:
    tr = spans.Tracer(enabled=False)
    with tr.span("x"):
        pass
    assert tr.spans == []
    tr = spans.Tracer(enabled=True)
    tr.rep = 3
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    assert [(x.name, x.parent, x.rep, x.group) for x in tr.spans] == [
        ("outer", None, 3, "outer#3"), ("inner", 0, 3, "inner#3")
    ]
    with tempfile.TemporaryDirectory() as d:
        tr.dump(os.path.join(d, "t.json"))
        with open(os.path.join(d, "t.json")) as f:
            dumped = json.load(f)
    assert [x["name"] for x in dumped] == ["outer", "inner"] and all("self_s" in x for x in dumped)


def _task(stage: int, launch: int, finish: int, cpu_ns: int, failed: bool = False) -> dict:
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish, "Failed": failed},
        "Task Metrics": {
            "Executor CPU Time": cpu_ns, "Executor Run Time": finish - launch,
            "JVM GC Time": 10, "Disk Bytes Spilled": 2**20,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 2**21},
        },
    }


def test_event_log() -> None:
    ev = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "g#0"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 5000,
         "Stage IDs": [2], "Properties": {"spark.jobGroup.id": "other#0"}},
        _task(0, 1000, 1100, 50_000_000),
        _task(0, 1000, 1300, 50_000_000),
        _task(1, 1500, 2500, 100_000_000),
        _task(1, 1500, 1700, 100_000_000),
        _task(1, 1500, 1600, 100_000_000, failed=True),
        _task(2, 5000, 5100, 1),
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Submission Time": 1000, "Completion Time": 1300}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 1, "Submission Time": 1500, "Completion Time": 2500}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 5100},
    ]
    with tempfile.TemporaryDirectory() as d:
        with open(os.path.join(d, "local-1"), "w") as f:
            f.write("\n".join(json.dumps(e) for e in ev) + "\n")
        log = spans.EventLog(spans.read_event_log(d))
    m = log.call_metrics("g#0", 0.5, 4.0)
    assert m["tasks"] == 5 and close(m["exec_cpu_s"], 0.4), m
    assert close(m["exec_run_s"], 0.1 + 0.3 + 1.0 + 0.2 + 0.1), m
    assert close(m["task_skew"], 1.0 / 0.2), m  # stage 1 is longest: max 1.0 s, median 0.2 s
    assert close(m["driver_gap_s"], 3.5 - 2.0), m  # job 0 covers 1.0-3.0 of 0.5-4.0
    assert close(m["shuffle_write_mb"], 10.0) and close(m["spill_mb"], 5.0), m
    assert close(m["gc_s"], 0.05), m
    assert log.failed_tasks == 1
    assert sorted(m) == sorted(run.SPARK_UNITS)


def test_sampler() -> None:
    s = procstat.TreeSampler(interval_s=0.05).start()
    mark = s.cpu_mark()
    for _ in range(3):  # short-lived children: CPU must survive their exit
        subprocess.run([sys.executable, "-c", "sum(range(3_000_000))"], check=True)
    cpu = s.cpu_since(mark)
    s.stop()
    assert cpu > 0.05, cpu
    assert s.peak_pss_mb > 1.0
    keys = list(s._last)
    assert len(keys) == len(set(keys)) and all(isinstance(k, tuple) for k in keys)


def test_inputs_deterministic() -> None:
    for fn, args in ((inputs.lineitem, (1000, 200, 50)), (inputs.documents, (40,)),
                     (inputs.embeddings, (40,))):
        assert fn(7, *args).equals(fn(7, *args))
        assert not fn(7, *args).equals(fn(8, *args))
    assert inputs.query_ids(7, 100, 5) == inputs.query_ids(7, 100, 5)


def test_benchmark_json() -> None:
    import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    assert sorted(names) == sorted(workloads.WORKLOADS), names
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER


def test_refuses_outside_checkout() -> None:
    with tempfile.TemporaryDirectory() as d:
        shutil.copytree(HERE, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "census_dense",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=d, capture_output=True, text=True, timeout=120,
        )
    assert p.returncode != 0 and '"correct"' not in p.stdout, (p.returncode, p.stdout)


def smoke(workload: str, trace: int) -> dict:
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--size", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 2, p.stderr[-3000:]
    want = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    m = {k: v["value"] for k, v in res["metrics"].items()}
    if trace:
        assert m["trace.coverage"] >= 0.9, m["trace.coverage"]
        assert m["session.start_s"] > 0 and m["trace.job_s"] > 0
    else:
        assert all(v > 0 for v in m.values()), m
    print(f"  smoke {workload} trace={trace}: ok in {time.time() - t0:.0f}s", flush=True)
    return m


def main() -> int:
    tests = [v for k, v in sorted(globals().items()) if k.startswith("test_")]
    for t in tests:
        t()
        print(f"  {t.__name__}: ok", flush=True)
    if "--quick" not in sys.argv:
        import workloads

        for w in workloads.WORKLOADS:
            smoke(w, trace=1)
        smoke("census_dense", trace=0)
    print("selftest: all passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
