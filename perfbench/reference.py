"""Engine-free reference answers for the benchmark's output checks.

Everything here works on a plain ``(src, dst)`` edge list collected to the
driver and uses only numpy and the standard library, so a defect in the
engine's kernels cannot hide in its own check.
"""

from __future__ import annotations

import math

import numpy as np


class Adjacency:
    """Forward CSR of a directed edge list over vertices ``0..n-1``."""

    def __init__(self, n: int, src: np.ndarray, dst: np.ndarray) -> None:
        src = np.asarray(src, dtype=np.int64)
        dst = np.asarray(dst, dtype=np.int64)
        order = np.argsort(src, kind="stable")
        self.n = n
        self.offsets = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(np.bincount(src, minlength=n), out=self.offsets[1:])
        self.targets = dst[order]

    def neighbours(self, frontier: np.ndarray) -> np.ndarray:
        starts = self.offsets[frontier]
        counts = self.offsets[frontier + 1] - starts
        total = int(counts.sum())
        if total == 0:
            return np.empty(0, dtype=np.int64)
        first = np.repeat(starts - np.cumsum(counts) + counts, counts)
        return self.targets[first + np.arange(total, dtype=np.int64)]

    def distances(self, seed: int) -> np.ndarray:
        """Hop distance from ``seed`` to every vertex; -1 where unreachable."""
        dist = np.full(self.n, -1, dtype=np.int64)
        dist[seed] = 0
        frontier = np.array([seed], dtype=np.int64)
        level = 0
        while frontier.size:
            level += 1
            nxt = np.unique(self.neighbours(frontier))
            nxt = nxt[dist[nxt] < 0]
            dist[nxt] = level
            frontier = nxt
        return dist


def seed_stats(dist: np.ndarray) -> tuple[int, int, int]:
    """``(dia, dist_sum, reached)`` of one BFS, the seed itself not counted."""
    hit = dist[dist > 0]
    return (int(hit.max()) if hit.size else 0, int(hit.sum()), int(hit.size))


def batch_adist(stats: list[tuple[int, int, int]], n: int) -> tuple[float | None, int]:
    """Pooled ``Σdist / (Σreached · (n-1))`` and max diameter of one batch."""
    dia = max((s[0] for s in stats), default=0)
    s = sum(x[1] for x in stats)
    c = sum(x[2] for x in stats)
    return (s / (c * (n - 1)) if c else None), dia


def uniform_batches(n: int, eps: float, slot: int, seed: int,
                    max_batches: int | None) -> list[np.ndarray]:
    """The uniform (K5) sampler's seed batches: ``k = ⌈log2 n / 2ε²⌉`` iid
    uniform draws from ``default_rng(seed)``, cut into batches of ``slot``."""
    k = math.ceil(math.log2(n) / (2.0 * eps * eps))
    rng = np.random.default_rng(seed)
    out: list[np.ndarray] = []
    while k > 0 and (max_batches is None or len(out) < max_batches):
        cur = min(slot, k)
        out.append(rng.integers(0, n, size=cur, dtype=np.int64))
        k -= cur
    return out


def harmonic(adj: Adjacency, seeds: np.ndarray, sample_size: int):
    """Per-vertex ``(harmonic, coverage)`` arrays of sampled harmonic centrality:
    ``Σ_seeds mult/(1+d)`` over vertices at distance ≥ 1, over ``sample_size``."""
    uniq, mult = np.unique(np.asarray(seeds, dtype=np.int64), return_counts=True)
    harm = np.zeros(adj.n, dtype=np.float64)
    cov = np.zeros(adj.n, dtype=np.int64)
    for s, w in zip(uniq.tolist(), mult.tolist()):
        d = adj.distances(s)
        hit = d > 0
        harm[hit] += w / (1.0 + d[hit])
        cov[hit] += w
    return harm / float(sample_size), cov


def weak_components(n: int, src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """Union-find over the undirected edges: label = min vertex id of the component."""
    parent = list(range(n))

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for u, v in zip(src.tolist(), dst.tolist()):
        ru, rv = find(u), find(v)
        if ru != rv:
            # the smaller id stays root, so every root is its set's minimum
            if ru < rv:
                parent[rv] = ru
            else:
                parent[ru] = rv
    return np.array([find(x) for x in range(n)], dtype=np.int64)


def strong_components(adj: Adjacency) -> np.ndarray:
    """Iterative Tarjan: label = min vertex id of each strongly connected component."""
    n = adj.n
    offsets = adj.offsets.tolist()
    targets = adj.targets.tolist()
    index = [-1] * n
    low = [0] * n
    on_stack = [False] * n
    stack: list[int] = []
    label = np.empty(n, dtype=np.int64)
    counter = 0
    for root in range(n):
        if index[root] >= 0:
            continue
        work = [(root, offsets[root])]
        index[root] = low[root] = counter
        counter += 1
        stack.append(root)
        on_stack[root] = True
        while work:
            v, i = work[-1]
            if i < offsets[v + 1]:
                work[-1] = (v, i + 1)
                w = targets[i]
                if index[w] < 0:
                    index[w] = low[w] = counter
                    counter += 1
                    stack.append(w)
                    on_stack[w] = True
                    work.append((w, offsets[w]))
                elif on_stack[w]:
                    low[v] = min(low[v], index[w])
                continue
            work.pop()
            if work:
                u = work[-1][0]
                low[u] = min(low[u], low[v])
            if low[v] == index[v]:
                members = []
                while True:
                    w = stack.pop()
                    on_stack[w] = False
                    members.append(w)
                    if w == v:
                        break
                label[members] = min(members)
    return label


def describe(labels: np.ndarray) -> dict:
    """The label fingerprint the benchmark also computes in Spark."""
    return {
        "rows": int(labels.size),
        "distinct": int(np.unique(labels).size),
        "label_sum": int(labels.sum()),
    }
