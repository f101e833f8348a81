"""pgd_spark benchmark runner.

    python3 perfbench/run.py --workload census_dense --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  One process: start a Spark session on
local[nproc], set the workload up from ``--seed``, run the workload's unmeasured
warm jobs, then repeat the checked job until ``--seconds`` have passed
and the workload's ``min_reps`` jobs have run (closed loop, one job at
a time).  The last line of stdout is the
result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics (END_TO_END);
``--trace 1`` alternates traced and untraced reps, records a span and
a Spark job group around every public call, enables the Spark event
log, and reports the per-layer metrics (PER_LAYER).  Layers a workload
never calls report 0.

setup_s = session start (JVM, package ship) + the median of several
input set-ups (generate the seeded inputs, load, prepare) + the warm
jobs (codegen, JIT, Python workers, the per-machine CSR and compiled
kernel).
Work done only to compute the reference answers of the output checks
is not part of any metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
    "job_cpu_s": "s",
    "peak_pss_mb": "MB",
}

SPARK_CALLS = (
    "sources.derive", "graphlets.edge_counts", "pregel.pagerank", "pregel.cc",
    "pregel.lpa", "dedup.minhash", "similarity.neardup",
)
SPAN_TIMES = {
    "sources.derive_s": "sources.derive",
    "sources.read_s": "sources.read",
    "graphlets.edge_counts_s": "graphlets.edge_counts",
    "graphlets.macro_s": "graphlets.macro",
    "pregel.pagerank_s": "pregel.pagerank",
    "pregel.cc_s": "pregel.cc",
    "pregel.lpa_s": "pregel.lpa",
    "dedup.minhash_s": "dedup.minhash",
    "dedup.dup_clusters_s": "dedup.dup_clusters",
    "similarity.neardup_s": "similarity.neardup",
    "similarity.cosine_topk_s": "similarity.cosine_topk",
}
PROBE_METRICS = {
    "sources.synthetic_s": "s",
    "graph.degrees_s": "s",
    "graph.oriented_s": "s",
    "graph.adjacency_s": "s",
    "kernels.csr_build_s": "s",
    "ckernel.us_per_edge": "us",
    "kernels.loop_us_per_edge": "us",
    "kernels.vec_us_per_edge": "us",
    "pregel.prepare_s": "s",
}
SPARK_UNITS = {
    "exec_cpu_s": "s", "exec_run_s": "s", "shuffle_write_mb": "MB", "spill_mb": "MB",
    "gc_s": "s", "task_skew": "ratio", "driver_gap_s": "s", "tasks": "count",
}
PER_LAYER = {
    "session.start_s": "s",
    "setup.prep_s": "s",
    "setup.warm_job_s": "s",
    **{k: "s" for k in SPAN_TIMES},
    **PROBE_METRICS,
    "graphlets.edges_per_s": "1/s",
    "graphlets.boundary_us_per_edge": "us",
    "pregel.iters_per_s": "1/s",
    "pregel.cc_rounds": "count",
    "pregel.lpa_rounds": "count",
    "pregel.checkpoint_mb": "MB",
    "dedup.minhash_pairs": "count",
    "similarity.neardup_pairs": "count",
    **{f"{c}.spark.{f}": u for c in SPARK_CALLS for f, u in SPARK_UNITS.items()},
    "spark.failed_tasks": "count",
    "leaked_persists": "count",
    "trace.coverage": "ratio",
    "trace.job_s": "s",
    "trace.untraced_job_s": "s",
    "trace.overhead_frac": "ratio",
}

PREP_REPEATS = 3
# A run has 180 s.  No rep past the first starts if the last rep's time
# would take the run past this: on a host slowed 2.5x for a few minutes,
# one sparse_pipeline run with two reps took 161 s.
RUN_BUDGET_S = 140
# Fixed, pre-touched driver heap.  The session's default is 60% of
# MemAvailable, which moves with other tenants' memory on a shared host
# (8g and 9g on two consecutive runs of the same workload) and lets the
# tree's PSS pass 7 GB.  Without pre-touch, how much of the heap is
# resident depends on how far G1 grew the young generation in that run
# (peak PSS varied by 15% between runs of one workload); pre-touching
# 2 GiB costs ~0.6 s of set-up on a 4-vCPU VM.
DRIVER_MEM = "2g"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Ctx:
    def __init__(self, args, work: str):
        self.seed = args.seed
        self.size = args.size
        self.work = work
        self.data = os.path.join(work, "data")
        self.spark = None
        self.sampler = None
        self.rep_id = 0
        os.makedirs(self.data, exist_ok=True)


def persistent_rdds(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def release_leaks(spark, before: set[int]) -> int:
    """Unpersist RDDs a rep left persisted after the benchmark released
    everything it persisted through the public API; returns how many."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    leaked = persistent_rdds(spark) - before
    for rid in leaked:
        rdds.get(rid).unpersist(True)
    return len(leaked)


def start_session(args, work: str):
    from pgd_spark import get_spark

    nproc = len(os.sched_getaffinity(0))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
    spark = get_spark(
        app_name="pgd_perfbench", master=f"local[{nproc}]", shuffle_partitions=nproc,
        extra_conf=conf,
    )
    threads = spark.sparkContext.defaultParallelism
    if threads > nproc:
        stop_session(spark)
        raise SystemExit(f"refusing to run: {threads} task threads on {nproc} cores")
    return spark, nproc


def stop_session(spark) -> None:
    """Stop Spark, shut the JVM and wait until every child process ends."""
    import procstat
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
    me = os.getpid()
    deadline = time.time() + 20
    while True:
        kids = [p for p in procstat.tree(me) if p != me]
        if not kids:
            return
        if time.time() > deadline:
            for p in kids:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 10
        time.sleep(0.1)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def run(args) -> int:
    import procstat
    import spans as tracing
    import workloads

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PGD_SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PGD_SPARK_PRETOUCH"] = "1"
    # keep the JVM's temp files and perf-data file inside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    run_started = time.time()

    sampler = procstat.TreeSampler().start()
    ctx = Ctx(args, work)
    ctx.sampler = sampler
    wl = workloads.WORKLOADS[args.workload](ctx)
    attempted = failed = 0
    spark = None
    try:
        t0 = time.perf_counter()
        spark, nproc = start_session(args, work)
        session_s = time.perf_counter() - t0
        ctx.spark = spark
        from pgd_spark.operators.ckernel import available

        info = {
            "workload": args.workload, "seed": args.seed, "size": args.size,
            "nproc": nproc, "master": spark.sparkContext.master,
            "driver_memory": spark.conf.get("spark.driver.memory"),
            "spark": spark.version, "ckernel": available(),
        }
        log(f"session {session_s:.2f}s {info}")

        prep_s = []
        for i in range(PREP_REPEATS):
            if i:
                wl.release_prep()
            t0 = time.perf_counter()
            wl.prep()
            prep_s.append(time.perf_counter() - t0)
        wl.reference()

        off = tracing.Tracer(enabled=False)
        first = None
        warm_s = 0.0
        for i in range(wl.warm_passes):
            ctx.rep_id = -1 - i
            before = persistent_rdds(spark)
            attempted += 1
            t0 = time.perf_counter()
            try:
                out = wl.job(off)
                warm_s += time.perf_counter() - t0
                wl.check(out, first)
                first = first or out
            except Exception:
                warm_s += time.perf_counter() - t0
                failed += 1
                log("warm job failed:\n" + traceback.format_exc())
            release_leaks(spark, before)
        setup_s = session_s + median(prep_s) + warm_s
        log(f"setup {setup_s:.2f}s (session {session_s:.2f}, prep {prep_s}, warm {warm_s:.2f})")

        tracer = tracing.Tracer(spark, enabled=True)
        reps = []
        window_start = time.perf_counter()
        min_reps = max(wl.min_reps, 2 if args.trace else 1)
        while len(reps) < min_reps or time.perf_counter() - window_start < args.seconds:
            if reps and time.time() - run_started + reps[-1]["job_s"] > RUN_BUDGET_S:
                log(f"stopping after {len(reps)} reps: the next would pass {RUN_BUDGET_S} s")
                break
            i = len(reps)
            traced = bool(args.trace) and i % 2 == 0
            tracer.rep = i
            ctx.rep_id = i
            before = persistent_rdds(spark)
            mark = sampler.cpu_mark()
            t_start = time.time()
            t0 = time.perf_counter()
            attempted += 1
            rec = {"traced": traced, "ok": False, "out": None}
            try:
                rec["out"] = wl.job(tracer if traced else off)
                rec["job_s"] = time.perf_counter() - t0
                rec["cpu_s"] = sampler.cpu_since(mark)
                rec["start"], rec["end"] = t_start, time.time()
                wl.check(rec["out"], first)
                rec["ok"] = True
            except Exception:
                rec.setdefault("job_s", time.perf_counter() - t0)
                failed += 1
                log(f"rep {i} failed:\n" + traceback.format_exc())
            rec["leaked"] = release_leaks(spark, before)
            if persistent_rdds(spark) != before:
                failed += 1
                rec["ok"] = False
                log(f"rep {i}: persistent RDDs did not return to the pre-rep set")
            if first is None and rec["ok"]:
                first = rec["out"]
            if not reps:
                # peak over a fixed amount of work (set-up, warm jobs, one
                # rep): how far the heap gets touched grows with the rep count
                sampler.sample()
                peak_pss_mb = sampler.peak_pss_mb
            reps.append(rec)
            log(f"rep {i} {'traced' if traced else 'plain'} {rec['job_s']:.2f}s ok={rec['ok']} leaked={rec['leaked']}")

        ok = [r for r in reps if r["ok"]]
        plain = [r for r in ok if not r["traced"]]
        metrics = {}
        if not args.trace:
            metrics = {
                "setup_s": setup_s,
                "job_s": median([r["job_s"] for r in ok]),
                "job_cpu_s": median([r["cpu_s"] for r in ok]),
                "peak_pss_mb": peak_pss_mb,
            }
            units = END_TO_END
        else:
            tracer.rep = -2  # probe spans belong to no rep
            probes = wl.probes(tracer)
            traced = [r for r in ok if r["traced"]]
            stop_session(spark)
            spark = None
            elog = tracing.EventLog(tracing.read_event_log(os.path.join(work, "eventlog")))
            metrics = layer_metrics(traced, plain, tracer, elog, probes, reps)
            metrics["session.start_s"] = session_s
            metrics["setup.prep_s"] = median(prep_s)
            metrics["setup.warm_job_s"] = warm_s
            units = PER_LAYER
            os.makedirs(os.path.join(ROOT, ".perfbench_work", "traces"), exist_ok=True)
            tracer.dump(os.path.join(
                ROOT, ".perfbench_work", "traces", f"{args.workload}-seed{args.seed}.json"
            ))
        info.update(reps=len(reps), samples=sampler.samples, wall_s=time.time() - run_started)
        print(json.dumps(info))
        correct = failed == 0 and len(ok) > 0
        result = {
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in units.items()},
        }
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            sampler.stop()
            shutil.rmtree(work, ignore_errors=True)
            cleanup_shm(run_started)
    print(json.dumps(result))
    return 0


def layer_metrics(traced, plain, tracer, elog, probes, reps) -> dict:
    import spans as tracing

    out = dict(probes)
    per_rep = []
    for r in traced:
        rs = tracer.rep_spans(reps.index(r))
        d = {}
        for key, name in SPAN_TIMES.items():
            d[key] = sum(s.dur for s in rs if s.name == name)
        d["trace.coverage"] = tracing.coverage(rs, r["start"], r["end"])
        for call in SPARK_CALLS:
            for s in rs:
                if s.name == call:
                    for f, v in elog.call_metrics(s.group, s.start, s.end).items():
                        d[f"{call}.spark.{f}"] = d.get(f"{call}.spark.{f}", 0.0) + v
        o = r["out"]
        if "census_s" in o:
            d["graphlets.edges_per_s"] = o["m"] / o["census_s"]
            if o["strategy"] == "broadcast":
                d["graphlets.boundary_us_per_edge"] = (
                    o["edge_counts_cpu_s"] / o["m"] * 1e6 - probes["ckernel.us_per_edge"]
                )
        if "pagerank_s" in o:
            d["pregel.iters_per_s"] = o["rounds"]["pagerank"] / o["pagerank_s"]
            d["pregel.cc_rounds"] = o["rounds"]["cc"]
            d["pregel.lpa_rounds"] = o["rounds"]["lpa"]
            d["pregel.checkpoint_mb"] = o["checkpoint_mb"]
        if "minhash" in o:
            d["dedup.minhash_pairs"] = len(o["minhash"])
            d["similarity.neardup_pairs"] = len(o["neardup"])
        per_rep.append(d)
    keys = {k for d in per_rep for k in d}
    for k in keys:
        out[k] = median([d.get(k, 0.0) for d in per_rep])
    out["trace.job_s"] = median([r["job_s"] for r in traced])
    out["trace.untraced_job_s"] = median([r["job_s"] for r in plain])
    if out["trace.untraced_job_s"] > 0:
        out["trace.overhead_frac"] = out["trace.job_s"] / out["trace.untraced_job_s"] - 1.0
    out["spark.failed_tasks"] = elog.failed_tasks
    out["leaked_persists"] = median([r["leaked"] for r in reps])
    return out


def cleanup_shm(since: float) -> None:
    """Remove the per-machine CSR files the program wrote during this
    run, so every run builds its CSR as the first run on a host does."""
    import glob

    for path in glob.glob("/dev/shm/pgd_csr_*"):
        try:
            if os.path.getmtime(path) >= since:
                if os.path.isdir(path):
                    os.rmdir(path)
                else:
                    os.remove(path)
        except OSError:
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "pgd_spark", "__init__.py")):
        log(f"no pgd_spark package at {ROOT}: run from the root of a pgd_spark checkout")
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads

    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}")
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
