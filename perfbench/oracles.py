"""Single-threaded NumPy oracles for the benchmark's output checks.

Same semantics as ``tests/oracles.py`` (the reference spec the test suite
pins), vectorised so they run on the benchmark's graphs in well under a
second. All inputs are the collected symmetric adjacency
``(src, dst, weight)`` over dense vertex ids ``0..n-1``.
"""

from __future__ import annotations

import numpy as np


def ppr(n, src, dst, w, reset, damping, tol=1e-6, max_iter=100):
    """Power iteration of ``tests/oracles.ppr_reference``: reset normalised
    (uniform when it sums to 0), r0 = 1/n, dangling mass re-enters through
    the reset vector, stop when the L1 change drops below ``tol``."""
    reset = np.clip(np.nan_to_num(np.asarray(reset, dtype=np.float64)), 0.0, None)
    s = reset.sum()
    reset = reset / s if s > 0 else np.full(n, 1.0 / n)
    strength = np.bincount(src, weights=w, minlength=n)
    dangling = strength == 0.0
    inv = np.zeros(n)
    inv[~dangling] = 1.0 / strength[~dangling]
    coef = w * inv[src]
    r = np.full(n, 1.0 / n)
    for _ in range(max_iter):
        nxt = (1.0 - damping + damping * r[dangling].sum()) * reset
        nxt += damping * np.bincount(dst, weights=r[src] * coef, minlength=n)
        delta = np.abs(nxt - r).sum()
        r = nxt
        if delta < tol:
            break
    return r


def components(n, src, dst):
    """Min vertex id of each vertex's connected component."""
    lab = np.arange(n)
    while True:
        new = lab.copy()
        np.minimum.at(new, dst, lab[src])
        new = new[new]  # pointer jump: a label is a vertex of the same component
        if np.array_equal(new, lab):
            return lab
        lab = new


def label_propagation(n, src, dst, w, max_iter):
    """``tests/oracles.lp_reference``: synchronous, a vertex takes the
    neighbour label of largest summed weight, ties to the smallest label;
    isolated vertices keep theirs; stop at a fixed point or ``max_iter``."""
    lab = np.arange(n)
    for _ in range(max_iter):
        v, l = dst, lab[src]
        order = np.lexsort((l, v))
        v, l, ww = v[order], l[order], w[order]
        head = np.ones(len(v), dtype=bool)
        head[1:] = (v[1:] != v[:-1]) | (l[1:] != l[:-1])
        starts = np.flatnonzero(head)
        gv, gl = v[starts], l[starts]
        gw = np.add.reduceat(ww, starts) if len(starts) else ww[:0]
        # best (vertex, label) group: max weight, then min label
        order = np.lexsort((gl, -gw, gv))
        gv, gl = gv[order], gl[order]
        first = np.ones(len(gv), dtype=bool)
        first[1:] = gv[1:] != gv[:-1]
        new = lab.copy()
        new[gv[first]] = gl[first]
        if np.array_equal(new, lab):
            break
        lab = new
    return lab
