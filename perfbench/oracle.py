"""Reference answers for the benchmark inputs, computed without Spark.

Every generated graph is the FIXTURES F2 rule (plus planted hubs for the
``pagerank`` workload) under a seeded bijective relabelling of vertex ids.
The answers below do not depend on the labels, so they are computed once
on the unrelabelled graph and pinned in ``workloads.py``; the self-test
recomputes them at a tiny size and compares them with Spark's output.

Run ``python3 perfbench/oracle.py`` from the repository root to print the
pinned answers for the sizes in ``workloads.SIZES``.
"""

from __future__ import annotations

import numpy as np


def f2_edges(n: int) -> tuple[np.ndarray, np.ndarray]:
    """(src, dst) of ``sources.pages.generate_edges(n)``: vertex k links to
    (7k + 13i + 1) mod n for i < xxhash64(k) mod 8."""
    from fog_spark.hashing import xxhash64_vec

    k = np.arange(n, dtype=np.int64)
    deg = xxhash64_vec(k) % 8
    src, dst = [], []
    for i in range(8):
        ks = k[deg > i]
        src.append(ks)
        dst.append((ks * 7 + i * 13 + 1) % n)
    return np.concatenate(src), np.concatenate(dst)


def hub_edges(n: int, hubs: int, degree: int) -> tuple[np.ndarray, np.ndarray]:
    """Planted hub edges: hub j is vertex j * (n // hubs) and links
    ``degree`` times to (97i + 31j + 1) mod n (repeats are real multi-edges)."""
    ids = np.arange(hubs * degree, dtype=np.int64)
    j, i = ids % hubs, ids // hubs
    return j * (n // hubs), (i * 97 + j * 31 + 1) % n


def _vertices(src: np.ndarray, dst: np.ndarray, n: int) -> np.ndarray:
    present = np.zeros(n, dtype=bool)
    present[src] = True
    present[dst] = True
    return present


def fog_pagerank(src, dst, n: int, iters: int, d: float = 0.85) -> np.ndarray:
    """Ranks of every vertex after ``iters`` FogPageRank iterations:
    rank += sum over in-edges of d * rank(u) / outdeg(u) + (1 - d)."""
    outdeg = np.bincount(src, minlength=n)
    rank = np.ones(n)
    for _ in range(iters):
        contrib = d * rank[src] / outdeg[src] + (1.0 - d)
        rank = rank + np.bincount(dst, weights=contrib, minlength=n)
    return rank[_vertices(src, dst, n)]


def fog_pagerank_milli(src, dst, n: int, iters: int) -> np.ndarray:
    """FogPageRankMilli in exact integer arithmetic."""
    outdeg = np.bincount(src, minlength=n).astype(np.int64)
    rank = np.full(n, 1_000_000, dtype=np.int64)
    for _ in range(iters):
        contrib = (850 * rank[src]) // (1000 * outdeg[src]) + 150_000
        nxt = rank.copy()
        np.add.at(nxt, dst, contrib)
        rank = nxt
    return rank[_vertices(src, dst, n)]


def weak_components(src, dst, n: int) -> tuple[int, int]:
    """(component count, largest component size) over vertices with an edge."""
    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(src.tolist(), dst.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    roots = [find(v) for v in np.flatnonzero(_vertices(src, dst, n)).tolist()]
    sizes = np.unique(roots, return_counts=True)[1]
    return len(sizes), int(sizes.max())


def strong_components(src, dst, n: int) -> tuple[int, int]:
    """(SCC count, largest SCC size) by iterative Tarjan."""
    order = np.argsort(src, kind="stable")
    starts = np.searchsorted(src[order], np.arange(n + 1))
    d_sorted = dst[order]
    adj = [d_sorted[starts[v]:starts[v + 1]].tolist() for v in range(n)]
    index = [-1] * n
    low = [0] * n
    on_stack = [False] * n
    stack: list[int] = []
    sizes: list[int] = []
    counter = 0
    for root in np.flatnonzero(_vertices(src, dst, n)).tolist():
        if index[root] >= 0:
            continue
        work = [(root, 0)]
        while work:
            v, pos = work.pop()
            if pos == 0:
                index[v] = low[v] = counter
                counter += 1
                stack.append(v)
                on_stack[v] = True
            nbrs = adj[v]
            descended = False
            while pos < len(nbrs):
                w = nbrs[pos]
                pos += 1
                if index[w] < 0:
                    work.append((v, pos))
                    work.append((w, 0))
                    descended = True
                    break
                if on_stack[w]:
                    low[v] = min(low[v], index[w])
            if descended:
                continue
            if low[v] == index[v]:
                size = 0
                while True:
                    w = stack.pop()
                    on_stack[w] = False
                    size += 1
                    if w == v:
                        break
                sizes.append(size)
            if work:
                u = work[-1][0]
                low[u] = min(low[u], low[v])
    return len(sizes), max(sizes)


def pinned_answers(sizes: dict) -> dict:
    """Every label-invariant answer the workloads check, keyed by workload."""
    pr = sizes["pagerank"]
    s, d = f2_edges(pr["docs"])
    hs, hd = hub_edges(pr["docs"], pr["hubs"], pr["hub_degree"])
    s, d = np.concatenate([s, hs]), np.concatenate([d, hd])
    ranks = fog_pagerank(s, d, pr["docs"], pr["iters"])

    cc = sizes["connectivity"]
    cs, cd = f2_edges(cc["docs"])
    n_cc, big_cc = weak_components(cs, cd, cc["docs"])
    n_scc, big_scc = strong_components(cs, cd, cc["docs"])

    e2e = sizes["pages_e2e"]
    es, ed = f2_edges(e2e["docs"])
    milli = fog_pagerank_milli(es, ed, e2e["docs"], e2e["iters"])
    return {
        "pagerank": {
            "edges": len(s),
            "vertices": len(ranks),
            "topk": [float(x) for x in np.sort(ranks)[::-1][: pr["topk"]]],
        },
        "connectivity": {
            "edges": len(cs),
            "components": n_cc,
            "largest_component": big_cc,
            "sccs": n_scc,
            "largest_scc": big_scc,
        },
        "pages_e2e": {
            "edges": len(es),
            "vertices": len(milli),
            "rank_milli_sum": int(milli.sum()),
            "topk_milli": [int(x) for x in np.sort(milli)[::-1][: e2e["topk"]]],
        },
    }


if __name__ == "__main__":
    import json
    import os
    import sys

    sys.path.insert(0, os.getcwd())
    from workloads import SIZES

    print(json.dumps(pinned_answers(SIZES), indent=1))
