"""Broadcast-CSR numpy kernel for the per-edge graphlet counts.

This is the Spark analog of the reference's shared-memory fast path:
the whole (normalized) graph is small enough to broadcast, so every
executor holds the CSR arrays read-only and each Arrow batch of edges
is processed with vectorized numpy "mark" semantics identical to the
reference kernels:

  * triangles/wedges:  mark N(v)\\{u}, scan N(u)  (graphlet_core.cpp:1136-1152)
  * 4-clique:          adjacent pairs inside T_vu (graphlet_core.cpp:1230-1240)
  * 4-cycle:           adjacency between W_u and N(v)\\N(u)\\{u}
                       (graphlet_core.cpp:1167-1176)

The reference selects a dense-adjacency variant for small dense graphs
(cpp:602-611); here the CSR + int8 mark array covers both cases — the
mark array IS the perfect hash (cpp:1069-1088).

Per-edge outputs are exact and identical to the distributed path; the
choice is purely physical (see graphlets.edge_graphlet_counts).
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import numpy as np
import pandas as pd


def build_csr(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Canonical edges (numpy int64, src<dst) → (uniq_ids, indptr, indices).

    ``uniq_ids`` maps dense id → original id (sorted); ``indices`` holds
    dense neighbor ids, sorted within each vertex slice.
    """
    both = np.concatenate([src, dst])
    uniq, inv = np.unique(both, return_inverse=True)
    m = len(src)
    s, d = inv[:m], inv[m:]
    n = len(uniq)
    heads = np.concatenate([s, d])
    tails = np.concatenate([d, s])
    order = np.lexsort((tails, heads))
    indices = tails[order]
    deg = np.bincount(heads, minlength=n)
    indptr = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(deg, out=indptr[1:])
    # keep indices at intp width: numpy re-casts narrower index arrays
    # on every fancy-index, which costs more than the bandwidth saved
    return uniq, indptr, indices.astype(np.int64)


def _multi_slice_gather(indptr: np.ndarray, indices: np.ndarray, verts: np.ndarray) -> np.ndarray:
    """Concatenate neighbor slices of ``verts`` without a Python loop."""
    starts = indptr[verts]
    lens = (indptr[verts + 1] - starts).astype(np.int64)
    total = int(lens.sum())
    if total == 0:
        return np.empty(0, dtype=indices.dtype)
    # flat positions: for each vert k, starts[k] + 0..lens[k]-1
    rep_starts = np.repeat(starts, lens)
    offsets = np.arange(total, dtype=np.int64) - np.repeat(np.cumsum(lens) - lens, lens)
    return indices.take(rep_starts + offsets)


def edge_counts_batch(
    v_arr: np.ndarray,
    u_arr: np.ndarray,
    indptr: np.ndarray,
    indices: np.ndarray,
    n: int,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per-edge (tri, cliq, cyc) for a batch of degree-oriented dense-id edges."""
    k = len(v_arr)
    tri_out = np.zeros(k, dtype=np.int64)
    cliq_out = np.zeros(k, dtype=np.int64)
    cyc_out = np.zeros(k, dtype=np.int64)
    ind = np.zeros(n, dtype=np.int8)
    for i in range(k):
        v = v_arr[i]
        u = u_arr[i]
        nv = indices[indptr[v] : indptr[v + 1]]
        nu = indices[indptr[u] : indptr[u + 1]]
        # mark N(v)\{u} with 1 (cpp:1069-1074)
        ind[nv] = 1
        ind[u] = 0
        # scan N(u)\{v}: marked → triangle node, else wedge node (cpp:1136-1152)
        nu_f = nu[nu != v]
        marks = ind[nu_f]
        T = nu_f[marks == 1]
        W = nu_f[marks != 1]
        tri_out[i] = len(T)
        ind[T] = 3
        ind[W] = 2
        # 4-cycles: adjacency between W_u (marks==2) and Wv = N(v)\N(u)\{u}
        # (marks==1).  Count from the Wv side: degree orientation makes
        # |Wv| = deg_v - tri - 1 <= |W_u|, so its neighbor volume is the
        # cheaper gather in expectation (the reference always scans W_u).
        if len(W):
            nv_f = nv[nv != u]
            Wv = nv_f[ind[nv_f] == 1]
            if len(Wv):
                flat_x = _multi_slice_gather(indptr, indices, Wv)
                cyc_out[i] = int((ind[flat_x] == 2).sum())
        # 4-cliques: ordered adjacent pairs within T → /2 (cpp:1230-1240 unmarks
        # progressively to count unordered; counting ordered and halving is equal)
        if len(T) > 1:
            flat_t = _multi_slice_gather(indptr, indices, T)
            cliq_out[i] = int((ind[flat_t] == 3).sum()) // 2
        # reset marks (cpp:1086-1088 resets N(v); W ⊂ N(u) was marked 2)
        ind[nv] = 0
        ind[W] = 0
    return tri_out, cliq_out, cyc_out


# ---------------------------------------------------- vectorized kernel
# dense adjacency bitmap up to this vertex count (n=32768 → 128 MB,
# shared per machine via the mmap state); beyond it, membership testing
# falls back to binary search over packed (lo*n+hi) edge keys.
BITMAP_MAX_N = 32768

# measured crossover (see tests/test_kernels_vec.py rationale): the
# whole-batch vectorized kernel wins 5-13x on sparse graphs, where the
# per-edge loop drowns in numpy-call overhead on tiny neighbor slices;
# the loop wins ≥2x once slices are large enough to amortize that
# overhead L1-resident while the vectorized path streams wide DRAM
# temporaries.  Average degree is the discriminator.
VEC_MAX_AVG_DEG = 10.0


def _adjacency_membership(n: int, adjbm: np.ndarray, ekeys_pad: np.ndarray):
    """Vectorized adjacency test (a[i], b[i]) ∈ E — the batched analog
    of the reference's perfect-hash mark lookup (cpp:1069-1088)."""
    if len(adjbm):

        def member(a: np.ndarray, b: np.ndarray) -> np.ndarray:
            key = a * n + b  # bitmap stores both orders: no min/max
            return ((adjbm[key >> 3] >> (key & 7)) & 1).astype(bool)

    else:

        def member(a: np.ndarray, b: np.ndarray) -> np.ndarray:
            kq = np.minimum(a, b) * n + np.maximum(a, b)
            pos = np.searchsorted(ekeys_pad[:-1], kq)
            return ekeys_pad[pos] == kq

    return member


def _volume_chunks(eids: np.ndarray, verts: np.ndarray, indptr: np.ndarray, max_vol: int):
    """Split (eid, vert) pair lists so each chunk's Σdeg(vert) ≤ max_vol
    (bounds the flat-gather temporaries on dense graphs)."""
    if len(verts) == 0:
        return
    lens = (indptr[verts + 1] - indptr[verts]).astype(np.int64)
    cum = np.cumsum(lens)
    start = 0
    while start < len(verts):
        base = cum[start - 1] if start else 0
        end = int(np.searchsorted(cum, base + max_vol, side="right"))
        end = max(end, start + 1)  # always progress, even past a mega-hub
        yield eids[start:end], verts[start:end], lens[start:end]
        start = end


def edge_counts_batch_vec(
    v_arr: np.ndarray,
    u_arr: np.ndarray,
    indptr: np.ndarray,
    indices: np.ndarray,
    n: int,
    member,
    max_vol: int = 4_000_000,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Whole-batch vectorized (tri, cliq, cyc): identical semantics to
    ``edge_counts_batch`` with zero per-edge Python overhead.

    Pass 1 gathers N(v) for every edge at once; membership against
    N(u) classifies each neighbor as triangle node (T) or v-side wedge
    node (Wv).  Passes 2/3 gather the neighbors of all T / Wv nodes
    (volume-chunked) and count adjacency back into T / into Wu with two
    membership tests per element — the same work the reference does
    per-edge with O(1) marks, batched."""
    k = len(v_arr)
    deg_v = (indptr[v_arr + 1] - indptr[v_arr]).astype(np.int64)
    eid1 = np.repeat(np.arange(k, dtype=np.int64), deg_v)
    w1 = _multi_slice_gather(indptr, indices, v_arr)
    u1 = u_arr[eid1]
    in_e = member(w1, u1)  # w ∈ N(u); w == u is never adjacent to itself
    tri_out = np.bincount(eid1[in_e], minlength=k).astype(np.int64)
    cliq_out = np.zeros(k, dtype=np.int64)
    cyc_out = np.zeros(k, dtype=np.int64)

    # 4-cliques: for t ∈ T, count x ∈ N(t) with x ∈ T (ordered / 2)
    for eids_c, verts_c, lens_c in _volume_chunks(eid1[in_e], w1[in_e], indptr, max_vol):
        x = _multi_slice_gather(indptr, indices, verts_c)
        eid2 = np.repeat(eids_c, lens_c)
        hit = member(x, v_arr[eid2]) & member(x, u_arr[eid2])
        if hit.any():
            cliq_out += np.bincount(eid2[hit], minlength=k).astype(np.int64)
    cliq_out //= 2

    # 4-cycles: for w ∈ Wv = N(v)\N(u)\{u}, count x ∈ N(w) with
    # x ∈ Wu = N(u)\N(v)\{v}
    wv_mask = (~in_e) & (w1 != u1)
    for eids_c, verts_c, lens_c in _volume_chunks(eid1[wv_mask], w1[wv_mask], indptr, max_vol):
        x = _multi_slice_gather(indptr, indices, verts_c)
        eid2 = np.repeat(eids_c, lens_c)
        hit = member(x, u_arr[eid2]) & ~member(x, v_arr[eid2]) & (x != v_arr[eid2])
        if hit.any():
            cyc_out += np.bincount(eid2[hit], minlength=k).astype(np.int64)
    return tri_out, cliq_out, cyc_out


def _oriented_state(src: np.ndarray, dst: np.ndarray, need_member: bool = True):
    """CSR + degree-oriented dense edge arrays + adjacency-membership
    structures, built once per machine via _shared_state (privately
    by a task that times out waiting for another worker's build).
    ``need_member=False`` (loop kernel) skips the bitmap/packed-key
    build — the loop's mark array needs neither."""
    uniq, indptr, indices = build_csr(src, dst)
    deg = indptr[1:] - indptr[:-1]
    n = len(uniq)
    m = len(src)
    inv = np.searchsorted(uniq, np.concatenate([src, dst]))
    sd, dd = inv[:m], inv[m:]
    flip = (deg[dd] < deg[sd]) | ((deg[dd] == deg[sd]) & (dst < src))
    ov = np.where(flip, dd, sd)
    ou = np.where(flip, sd, dd)
    # deterministic shuffle of the edge order: tasks slice CONTIGUOUS
    # id ranges of these arrays, and input files cluster a hub's edges
    # together — one Arrow batch then owns most of the kernel work on a
    # skewed graph (observed: 58 s max task vs 1.9 s stage median).  A
    # hash permutation gives every range slice a uniform mix; per-edge
    # outputs are keyed by (v, u), so order is semantically free.
    perm = np.argsort(
        ov.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15) + ou.astype(np.uint64),
        kind="stable",
    )
    ov = ov[perm]
    ou = ou[perm]
    adjbm = np.zeros(0, dtype=np.uint8)
    ekeys_pad = np.zeros(0, dtype=np.int64)
    if need_member:
        # packed canonical edge keys (sd < dd since the dense relabel is
        # monotonic), sentinel-padded for branch-free searchsorted probes
        ekeys = np.sort(sd * np.int64(n) + dd)
        ekeys_pad = np.append(ekeys, np.int64(-1))
        if n <= BITMAP_MAX_N:
            adjbm = np.zeros((n * n + 7) // 8, dtype=np.uint8)
            both = np.concatenate([sd * np.int64(n) + dd, dd * np.int64(n) + sd])
            np.bitwise_or.at(adjbm, both >> 3, (1 << (both & 7)).astype(np.uint8))
    return uniq, indptr, indices, ov, ou, deg, adjbm, ekeys_pad


_STATE_NAMES = ["uniq", "indptr", "indices", "ov", "ou", "deg", "adjbm", "ekeys_pad"]


def _shared_state(token: str, bc_edges, wait_secs: float = 60.0, need_member: bool = True):
    """Build-once-per-MACHINE CSR state, mmap'd read-only by every
    worker process.

    Each Python worker holding a private CSR copy multiplies the
    kernel's working set by the worker count and evicts it from the
    shared LLC (measured: census scaling collapsed once
    workers × CSR size outgrew L3).  Writing the arrays to tmpfs once
    and np.load(mmap_mode='r')-ing them gives all workers the same
    physical pages — on a real cluster this is one build per executor
    host instead of per core.
    """
    import glob
    import tempfile
    import time as _time

    tmp = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
    base = os.path.join(tmp, f"pgd_csr_{token}")
    done = base + ".done"
    if not os.path.exists(done):
        try:
            os.mkdir(base + ".lock")  # atomic: first worker builds
            # GC stale states from earlier jobs
            now = _time.time()
            for old in glob.glob(os.path.join(tmp, "pgd_csr_*")):
                try:
                    if now - os.path.getmtime(old) > 3600:
                        os.remove(old) if os.path.isfile(old) else os.rmdir(old)
                except OSError:
                    pass
            src, dst = bc_edges.value
            state = _oriented_state(src, dst, need_member)
            for name, arr in zip(_STATE_NAMES, state):
                np.save(f"{base}.{name}.npy", arr)
            with open(done, "w") as f:
                f.write("ok")
            return state
        except FileExistsError:
            for _ in range(max(int(wait_secs / 0.1), 1)):
                if os.path.exists(done):
                    break
                _time.sleep(0.1)
            else:
                # builder still running after 60s (huge graph) or died
                # holding the lock: build privately from the broadcast —
                # correct, just loses the shared-pages optimization for
                # this worker.  Never np.load() without the done marker.
                src, dst = bc_edges.value
                return _oriented_state(src, dst, need_member)
    return tuple(
        np.load(f"{base}.{name}.npy", mmap_mode="r") for name in _STATE_NAMES
    )


def make_range_kernel(
    bc_edges, sample: tuple[int, int, int] | None = None, impl: str = "vec"
):
    """mapInPandas over ``spark.range(m)``: workers slice the broadcast
    edge arrays by row id — no edge data moves through a shuffle at all.

    ``sample`` = (denom, limit, seed): keep edge iff
    mix64(v,u,seed) % denom < limit (the approximate-census filter),
    evaluated in numpy before any kernel work.

    ``impl``: "c" (compiled mark kernel, see ckernel.py — fastest
    everywhere a C toolchain exists), "vec" (whole-batch vectorized —
    wins big on sparse graphs) or "loop" (the per-edge numpy mark
    kernel — wins on dense ones); callers pick via ckernel.available()
    then VEC_MAX_AVG_DEG (see edge_graphlet_counts).
    """
    import hashlib

    # CONTENT-derived state token: repeat censuses of the same graph
    # (strategy comparisons, micro after macro, bench reps) reuse the
    # per-machine mmap CSR instead of paying the ~30 s builder task
    # again (a uuid-per-call token made every call a cold build).  The
    # layout version bumps on any change to _STATE_NAMES semantics.
    src, dst = bc_edges.value
    h = hashlib.md5()
    h.update(b"v2" + (b"m" if impl == "vec" else b"_"))
    h.update(src.tobytes())
    h.update(dst.tobytes())
    token = h.hexdigest()

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        state = _shared_state(token, bc_edges, need_member=(impl == "vec"))
        uniq, indptr, indices, ov, ou, deg, adjbm, ekeys_pad = state
        n = len(uniq)
        member = _adjacency_membership(n, adjbm, ekeys_pad) if impl == "vec" else None
        scratch = None
        if impl == "c":
            from pgd_spark.operators.ckernel import edge_counts_batch_c

            # mmap'd state arrays are read-only; the C kernel needs
            # C-contiguous int64 views (no copy for .npy files) and one
            # zeroed per-task mark scratch reused across batches
            indptr = np.ascontiguousarray(indptr, dtype=np.int64)
            indices = np.ascontiguousarray(indices, dtype=np.int64)
            scratch = np.zeros(n, dtype=np.int8)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            idx = pdf["id"].to_numpy()
            v = ov[idx]
            u = ou[idx]
            if sample is not None:
                # portable hash on the canonical endpoint pair — the
                # SAME arithmetic as the distributed strategy and the
                # SQL oracle (approximate.py SAMPLE_* constants); all
                # products stay < 2^63, no wraparound semantics needed
                denom, limit, seed = sample
                M = np.int64(2_147_483_647)
                a = np.minimum(uniq[v], uniq[u]).astype(np.int64) % M
                b = np.maximum(uniq[v], uniq[u]).astype(np.int64) % M
                h = (a * np.int64(1_103_515_245) % M
                     + b * np.int64(2_654_435_761) % M + np.int64(seed)) % M
                keep = (h % np.int64(denom)) < np.int64(limit)
                v, u = v[keep], u[keep]
                if len(v) == 0:
                    continue
            if impl == "c":
                tri, cliq, cyc = edge_counts_batch_c(
                    v, u, indptr, indices, n, ind=scratch
                )
            elif impl == "vec":
                tri, cliq, cyc = edge_counts_batch_vec(v, u, indptr, indices, n, member)
            else:
                tri, cliq, cyc = edge_counts_batch(v, u, indptr, indices, n)
            yield pd.DataFrame(
                {
                    "v": uniq[v],
                    "u": uniq[u],
                    "deg_v": deg[v].astype(np.int64),
                    "deg_u": deg[u].astype(np.int64),
                    "tri": tri,
                    "cliq": cliq,
                    "cyc": cyc,
                }
            )

    return fn
