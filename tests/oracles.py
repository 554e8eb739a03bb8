"""NumPy reference oracles (FIXTURES.md F5) — independent serial
implementations of each algorithm's exact semantics, used to verify the
Spark operators.  No NetworkX, no GPU, no reference code: written from the
published algorithm definitions (Batagelj–Zaveršnik peel for coreness, power
iteration with the reference's r₀=1 un-normalized PageRank formula, plain
BFS/union-find/etc.).
"""

from __future__ import annotations

import numpy as np


def _adj(edges: list[tuple[int, int]], symmetric: bool) -> dict[int, set[int]]:
    adj: dict[int, set[int]] = {}
    for s, d in edges:
        if s == d:
            continue
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set())
        if symmetric:
            adj[d].add(s)
            adj.setdefault(s, set())
    return adj


def coreness(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Exact k-core via iterative peeling (Batagelj–Zaveršnik semantics):
    repeatedly remove all vertices of degree ≤ k at the smallest remaining
    degree k; removed vertices get coreness k."""
    adj = _adj(edges, symmetric=True)
    deg = {v: len(ns) for v, ns in adj.items()}
    core: dict[int, int] = {}
    alive = set(adj)
    k = 0
    while alive:
        mn = min(deg[v] for v in alive)
        k = max(k, mn)
        peel = [v for v in alive if deg[v] <= k]
        while peel:
            v = peel.pop()
            if v not in alive:
                continue
            core[v] = k
            alive.discard(v)
            for u in adj[v]:
                if u in alive:
                    deg[u] -= 1
                    if deg[u] <= k:
                        peel.append(u)
    return core


def pagerank(
    edges: list[tuple[int, int]],
    iters: int | None = None,
    tol: float = 1e-6,
    damping: float = 0.85,
    dangling: bool = False,
    max_iter: int = 1000,
    simple: bool = True,
    seeds: list[int] | None = None,
) -> dict[int, float]:
    """Reference D1/D2 formula: r0=1; r' = 0.15 + 0.85·Σ r_u/outdeg_u
    (+ damping·Σ r_dead/N when dangling=True).  Edge set semantics match the
    engine's ingest: dedup + self-loop removal.  ``simple=False`` takes the
    rows as an edge table holds them instead: every endpoint is a vertex
    and every row, duplicate or self-loop, counts in the out-degree and
    sends a message.  ``seeds`` makes it personalized: with ``p = 1/k`` on
    each seed that is a vertex (0 elsewhere), k the number of distinct
    seeds, r0 = p and the base term is (1 − damping)·p."""
    if simple:
        edges = sorted({(s, d) for s, d in edges if s != d})
    verts = sorted({v for e in edges for v in e})
    idx = {v: i for i, v in enumerate(verts)}
    n = len(verts)
    out = np.zeros(n)
    for s, _ in edges:
        out[idx[s]] += 1
    base, r = 1 - damping, np.ones(n)
    if seeds is not None:
        seeds = set(seeds)
        p = np.array([1.0 / len(seeds) if v in seeds else 0.0 for v in verts])
        base, r = (1 - damping) * p, p
    it = 0
    while True:
        msg = np.zeros(n)
        for s, d in edges:
            msg[idx[d]] += r[idx[s]] / out[idx[s]]
        if dangling:
            mass = r[out == 0].sum() / n
            new = base + damping * (msg + mass)
        else:
            new = base + damping * msg
        delta = np.abs(new - r).max()
        r = new
        it += 1
        if iters is not None:
            if it >= iters:
                break
        elif delta <= tol or it >= max_iter:
            break
    return {v: float(r[idx[v]]) for v in verts}


def components(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Union-find; labels normalized to min member id."""
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in edges:
        for v in (s, d):
            parent.setdefault(v, v)
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[max(rs, rd)] = min(rs, rd)
    return {v: find(v) for v in parent}


def bfs(
    edges: list[tuple[int, int]], source: int, symmetric: bool = True, simple: bool = True
) -> dict[int, int | None]:
    """Distances from ``source`` (None: unreachable).  ``simple=False``:
    every endpoint of the rows is a vertex, one whose only row is a
    self-loop included."""
    adj = _adj(edges, symmetric=symmetric)
    if not simple:
        adj = {v: set() for e in edges for v in e} | adj
    dist = {v: None for v in adj}
    if source in dist:
        dist[source] = 0
        frontier = [source]
        d = 0
        while frontier:
            d += 1
            nxt = []
            for v in frontier:
                for u in adj[v]:
                    if dist[u] is None:
                        dist[u] = d
                        nxt.append(u)
            frontier = nxt
    return dist


def sssp(
    edges: list[tuple[int, int, float]], source: int
) -> dict[int, float | None]:
    """Bellman-Ford on the directed weighted edge list."""
    verts = {v for e in edges for v in e[:2]}
    dist = {v: None for v in verts}
    if source not in verts:
        return dist
    dist[source] = 0.0
    for _ in range(len(verts)):
        changed = False
        for s, d, w in edges:
            if dist[s] is not None and (dist[d] is None or dist[s] + w < dist[d]):
                dist[d] = dist[s] + w
                changed = True
        if not changed:
            break
    return dist


def lpa(edges: list[tuple[int, int]], rounds: int, simple: bool = True) -> dict[int, int]:
    """Synchronous LPA, deterministic tie-break: (count desc, label asc).
    ``simple=False`` takes ``edges`` as the rows of a symmetric edge table:
    each row ``(u, v)``, a self-loop or a duplicate too, is one vote of
    ``u``'s label for ``v``."""
    if simple:
        adj = {v: list(ns) for v, ns in _adj(edges, symmetric=True).items()}
    else:
        adj = {v: [] for e in edges for v in e}
        for u, v in edges:
            adj[v].append(u)
    label = {v: v for v in adj}
    for _ in range(rounds):
        new = {}
        for v in adj:
            if not adj[v]:
                new[v] = label[v]
                continue
            counts: dict[int, int] = {}
            for u in adj[v]:
                counts[label[u]] = counts.get(label[u], 0) + 1
            new[v] = min(counts, key=lambda l: (-counts[l], l))
        label = new
    return label


def triangles(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Per-vertex triangle counts on the undirected simple graph."""
    adj = _adj(edges, symmetric=True)
    tri = {v: 0 for v in adj}
    for v in adj:
        for u in adj[v]:
            if u <= v:
                continue
            common = adj[v] & adj[u]
            for w in common:
                if w > u:
                    tri[v] += 1
                    tri[u] += 1
                    tri[w] += 1
    return tri


def ktruss(edges: list[tuple[int, int]], k: int) -> set[tuple[int, int]]:
    """Canonical (a < b) edges of the k-truss of the undirected simple
    graph: repeatedly drop every edge in fewer than k−2 triangles of the
    remaining edges until none drops."""
    cur = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    while True:
        adj: dict[int, set[int]] = {}
        for a, b in cur:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        nxt = {(a, b) for a, b in cur if len(adj[a] & adj[b]) >= k - 2}
        if nxt == cur:
            return cur
        cur = nxt


def hindex_rounds(edges: list[tuple[int, int]], rounds: int) -> dict[int, int]:
    """Fixed rounds of the h-operator (est0 = degree)."""
    adj = _adj(edges, symmetric=True)
    est = {v: len(ns) for v, ns in adj.items()}
    for _ in range(rounds):
        new = {}
        for v in adj:
            vals = sorted((est[u] for u in adj[v]), reverse=True)
            h = 0
            for i, x in enumerate(vals, start=1):
                h = max(h, min(x, i))
            new[v] = min(est[v], h)
        est = new
    return est


def block_cascade(
    degs: dict[int, int], rows: list[tuple[int, int]], k: int, span: int
) -> list[tuple[int, int, int]]:
    """One block of the hybrid peel at level k, serially.  ``degs`` maps
    the block's alive ids (all in one ``id // span`` block) to their
    residual degrees; ``rows`` are the block's edge rows, stale ones
    included (a dead src, or a dead dst in the block).  Every alive vertex
    of degree ≤ k peels at k, and each peel decrements its alive in-block
    neighbors at once.  A block with no row to another block is closed: it
    goes on past k, raising k to the least remaining degree.  Returns the
    sorted (kind, id, val) rows: 0 peeled (coreness), 1 survivor (residual
    degree), 2 per target in another block, the peeled rows to it."""
    blk = next(iter(degs)) // span
    deg = dict(degs)
    alive = set(deg)
    local: dict[int, list[int]] = {v: [] for v in alive}
    external: dict[int, list[int]] = {v: [] for v in alive}
    for s, d in rows:
        if s not in alive:
            continue
        if d // span != blk:
            external[s].append(d)
        elif d in alive:
            local[s].append(d)
    closed = not any(external.values())
    core: dict[int, int] = {}
    while alive:
        mn = min(deg[v] for v in alive)
        if mn > k:
            if not closed:
                break
            k = mn
        peel = [v for v in alive if deg[v] <= k]
        while peel:
            v = peel.pop()
            if v not in alive:
                continue
            core[v] = k
            alive.discard(v)
            for u in local[v]:
                if u in alive:
                    deg[u] -= 1
                    if deg[u] <= k:
                        peel.append(u)
    decs: dict[int, int] = {}
    for v in core:
        for t in external[v]:
            decs[t] = decs.get(t, 0) + 1
    return sorted(
        [(0, v, c) for v, c in core.items()]
        + [(1, v, deg[v]) for v in alive]
        + [(2, t, c) for t, c in decs.items()]
    )


def hits(
    edges: list[tuple[int, int]],
    max_iter: int = 50,
    tol: float = 1e-4,
) -> dict[int, tuple[float, float]]:
    """HITS with per-step global L2 normalization — mirrors the reference
    loop (``TCR/src/demo/HITS.py:14-82``) and the engine's step order:
    auth from current hubs, normalize, hub from NEW auths, normalize."""
    edges = sorted({(s, d) for s, d in edges if s != d})
    verts = sorted({v for e in edges for v in e})
    idx = {v: i for i, v in enumerate(verts)}
    n = len(verts)
    hub = np.ones(n)
    auth = np.ones(n)
    for _ in range(max_iter):
        old_hub, old_auth = hub.copy(), auth.copy()
        auth = np.zeros(n)
        for s, d in edges:
            auth[idx[d]] += hub[idx[s]]
        norm = np.sqrt((auth * auth).sum()) or 1.0
        auth = auth / norm
        hub = np.zeros(n)
        for s, d in edges:
            hub[idx[s]] += auth[idx[d]]
        norm = np.sqrt((hub * hub).sum()) or 1.0
        hub = hub / norm
        delta = max(np.abs(hub - old_hub).max(), np.abs(auth - old_auth).max())
        if delta <= tol:
            break
    return {v: (float(hub[idx[v]]), float(auth[idx[v]])) for v in verts}


def louvain_phase1(
    edges: list[tuple[int, int]],
    max_rounds: int = 10,
    gain_threshold: float = 0.012,
) -> dict[int, int]:
    """Synchronous Louvain phase 1 with the reference's gain formula and
    0.012 threshold (``TCR/src/demo/Louvain.py:40-67,33``); all round-i
    decisions read the round-(i-1) assignment (the engine's documented
    synchronous deviation from the reference's sequential apply).
    Tie-break: highest gain, then smallest community id."""
    sym = sorted({(s, d) for s, d in edges if s != d} | {(d, s) for s, d in edges if s != d})
    verts = sorted({v for e in sym for v in e})
    w = 1.0
    m = w * len(sym)
    two_m = 2.0 * m
    k = {v: 0.0 for v in verts}
    for s, _ in sym:
        k[s] += w
    comm = {v: v for v in verts}
    for _ in range(max_rounds):
        sum_tot: dict[int, float] = {}
        for v in verts:
            sum_tot[comm[v]] = sum_tot.get(comm[v], 0.0) + k[v]
        sum_in: dict[int, float] = {}
        for s, d in sym:
            if comm[s] == comm[d]:
                sum_in[comm[s]] = sum_in.get(comm[s], 0.0) + w
        k_i_in: dict[int, dict[int, float]] = {v: {} for v in verts}
        for s, d in sym:
            c = comm[d]
            k_i_in[s][c] = k_i_in[s].get(c, 0.0) + w
        new = dict(comm)
        moved = False
        for u in verts:
            best_gain, best_c = gain_threshold, None
            for c, kin in sorted(k_i_in[u].items()):
                if c == comm[u]:
                    continue
                si = sum_in.get(c, 0.0)
                st = sum_tot.get(c, 0.0)
                gain = ((si + 2.0 * kin) / two_m - ((st + k[u]) / two_m) ** 2) - (
                    si / two_m - (st / two_m) ** 2 - (k[u] / two_m) ** 2
                )
                if gain > best_gain or (gain == best_gain and best_c is not None and c < best_c):
                    best_gain, best_c = gain, c
            if best_c is not None:
                new[u] = best_c
                moved = True
        comm = new
        if not moved:
            break
    return comm


def _louvain_phase1_weighted(
    entries: list[tuple[int, int, float]],
    max_rounds: int,
    gain_threshold: float,
) -> dict[int, int]:
    """Synchronous phase 1 over a WEIGHTED symmetric entry table (self
    entries appear once, carrying internal community weight) — the exact
    rule tcr_kcore_spark.operators.louvain_phase1 implements for level-2+
    condensed graphs."""
    verts = sorted({v for s, d, _ in entries for v in (s, d)})
    m = sum(w for _, _, w in entries)
    two_m = 2.0 * m
    k = {v: 0.0 for v in verts}
    for s, _, w in entries:
        k[s] += w
    comm = {v: v for v in verts}
    for _ in range(max_rounds):
        sum_tot: dict[int, float] = {}
        for v in verts:
            sum_tot[comm[v]] = sum_tot.get(comm[v], 0.0) + k[v]
        sum_in: dict[int, float] = {}
        for s, d, w in entries:
            if comm[s] == comm[d]:
                sum_in[comm[s]] = sum_in.get(comm[s], 0.0) + w
        k_i_in: dict[int, dict[int, float]] = {v: {} for v in verts}
        for s, d, w in entries:
            c = comm[d]
            k_i_in[s][c] = k_i_in[s].get(c, 0.0) + w
        new = dict(comm)
        moved = False
        for u in verts:
            best_gain, best_c = gain_threshold, None
            for c, kin in sorted(k_i_in[u].items()):
                if c == comm[u]:
                    continue
                si = sum_in.get(c, 0.0)
                st = sum_tot.get(c, 0.0)
                gain = ((si + 2.0 * kin) / two_m - ((st + k[u]) / two_m) ** 2) - (
                    si / two_m - (st / two_m) ** 2 - (k[u] / two_m) ** 2
                )
                if gain > best_gain or (
                    gain == best_gain and best_c is not None and c < best_c
                ):
                    best_gain, best_c = gain, c
            if best_c is not None:
                new[u] = best_c
                moved = True
        comm = new
        if not moved:
            break
    return comm


def louvain_full(
    edges: list[tuple[int, int]],
    max_levels: int = 10,
    max_rounds: int = 10,
    gain_threshold: float = 0.012,
) -> dict[int, int]:
    """Multi-level Louvain mirroring tcr_kcore_spark.operators.louvain:
    phase1 → condense (canonical (min,max) pairs, (c,c) self-weights kept)
    → phase1 on the symmetric closure, until a level makes no move."""
    entries = [
        (s, d, 1.0)
        for s, d in sorted(
            {(s, d) for s, d in edges if s != d} | {(d, s) for s, d in edges if s != d}
        )
    ]
    mapping: dict[int, int] | None = None
    for _ in range(max_levels):
        comm = _louvain_phase1_weighted(entries, max_rounds, gain_threshold)
        mapping = comm if mapping is None else {v: comm[c] for v, c in mapping.items()}
        if all(c == v for v, c in comm.items()):
            break
        canon: dict[tuple[int, int], float] = {}
        for s, d, w in entries:
            key = (min(comm[s], comm[d]), max(comm[s], comm[d]))
            canon[key] = canon.get(key, 0.0) + w
        entries = sorted(
            [(s, d, w) for (s, d), w in canon.items()]
            + [(d, s, w) for (s, d), w in canon.items() if s != d]
        )
    return mapping


def modularity(edges: list[tuple[int, int]], comm: dict[int, int]) -> float:
    """Q = Σ_C (Σin_C/(2m) − (Σtot_C/(2m))²) over the symmetric table."""
    sym = sorted({(s, d) for s, d in edges if s != d} | {(d, s) for s, d in edges if s != d})
    m = float(len(sym))
    k: dict[int, float] = {}
    for s, _ in sym:
        k[s] = k.get(s, 0.0) + 1.0
    sum_tot: dict[int, float] = {}
    for v, c in comm.items():
        sum_tot[c] = sum_tot.get(c, 0.0) + k.get(v, 0.0)
    sum_in: dict[int, float] = {}
    for s, d in sym:
        if comm[s] == comm[d]:
            sum_in[comm[s]] = sum_in.get(comm[s], 0.0) + 1.0
    return sum(
        sum_in.get(c, 0.0) / (2 * m) - (sum_tot[c] / (2 * m)) ** 2 for c in sum_tot
    )


# -- deterministic synthetic graphs (FIXTURES.md F4) ------------------------


def er_graph(n: int = 300, avg_deg: int = 8, seed: int = 42) -> list[tuple[int, int]]:
    rng = np.random.default_rng(seed)
    m = n * avg_deg // 2
    src = rng.integers(0, n, size=m)
    dst = rng.integers(0, n, size=m)
    return [(int(s), int(d)) for s, d in zip(src, dst) if s != d]


def zipf_hub_graph(n: int = 800, m: int = 4000, seed: int = 42) -> list[tuple[int, int]]:
    """Skewed graph: destinations Zipf-distributed → a few heavy hubs."""
    rng = np.random.default_rng(seed)
    src = rng.integers(0, n, size=m)
    ranks = rng.zipf(1.3, size=m) % n
    return [(int(s), int(d)) for s, d in zip(src, ranks) if s != d]
