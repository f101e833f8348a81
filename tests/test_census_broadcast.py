"""Job economy of the broadcast census and the C-kernel build protocol.

The broadcast strategy runs one Python task per core and takes the
vertex and edge counts from the edge arrays the driver collects, so a
census over a fresh Graph never runs the degrees() shuffle.  A failed
compile of the C kernel leaves a marker that later builds stop on.
"""

import os
import time
import uuid

from pgd_spark.operators.graphlets import edge_graphlet_counts, macro_counts
from tests.conftest import make_graph

EDGES = [(0, 1), (0, 2), (1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (5, 6), (4, 6), (6, 7)]


def test_broadcast_runs_one_task_per_core(spark):
    par = spark.sparkContext.defaultParallelism
    for edges in (EDGES, EDGES[:2]):
        g = make_graph(spark, edges)
        out = edge_graphlet_counts(g, strategy="broadcast")
        assert out.rdd.getNumPartitions() == min(par, len(edges))


def test_broadcast_macro_counts_skips_degrees_job(spark):
    dirty = EDGES + [(9, 9), (2, 0)]  # a self-loop and a duplicate, both dropped
    g = make_graph(spark, dirty)
    totals = macro_counts(g, strategy="broadcast")
    assert g._degrees is None
    assert totals["total_2_1edge"] == len(EDGES)
    fresh = make_graph(spark, dirty)
    assert g.num_vertices() == fresh.degrees().count() == 8
    assert g.num_edges() == fresh.edges.count() == len(EDGES)


def _fresh_ckernel(monkeypatch):
    """Point the C-kernel build at a fresh source token (no library or
    marker exists for it yet) and a compiler that always fails."""
    import pgd_spark.operators.ckernel as ck

    source = ck._C_SOURCE + f"\n/* {uuid.uuid4().hex} */\n"
    monkeypatch.setattr(ck, "_C_SOURCE", source)
    monkeypatch.setattr(ck, "_compiler", lambda: "false")  # exits 1
    token = ck.hashlib.md5(source.encode()).hexdigest()[:16]
    tmp = "/dev/shm" if os.path.isdir("/dev/shm") else ck.tempfile.gettempdir()
    return ck, os.path.join(tmp, f"pgd_ckernel_{token}.so")


def _remove_build_files(so_path):
    for suffix in (".failed", ".c"):
        if os.path.exists(so_path + suffix):
            os.remove(so_path + suffix)
    if os.path.isdir(so_path + ".lock"):
        os.rmdir(so_path + ".lock")


def test_failed_ckernel_compile_fails_fast(monkeypatch):
    ck, so_path = _fresh_ckernel(monkeypatch)
    try:
        assert ck._build_lib() is None
        assert os.path.exists(so_path + ".failed")
        assert os.path.isdir(so_path + ".lock")  # the lock stays held
        t0 = time.perf_counter()
        assert ck._build_lib() is None
        assert time.perf_counter() - t0 < 1.0
    finally:
        _remove_build_files(so_path)


def test_ckernel_waiter_stops_on_failed_marker(monkeypatch):
    """A process already waiting on another's compile returns as soon
    as that compile fails, not after the 30 s wait."""
    import threading

    ck, so_path = _fresh_ckernel(monkeypatch)
    os.mkdir(so_path + ".lock")  # another process is compiling
    result = []
    waiter = threading.Thread(target=lambda: result.append(ck._build_lib()))
    try:
        waiter.start()
        time.sleep(0.3)
        with open(so_path + ".failed", "w") as f:
            f.write("compile failed")
        t0 = time.perf_counter()
        waiter.join(timeout=5)
        assert not waiter.is_alive()
        assert result == [None]
        assert time.perf_counter() - t0 < 1.0
    finally:
        waiter.join(timeout=60)
        _remove_build_files(so_path)
