"""Independent NumPy/pandas oracles for every result the benchmark checks.

Nothing here imports the engine: each function recomputes an operator's
documented semantics from the plain edge arrays, so a wrong engine result
cannot also be a wrong expected result.  Vertex ids are int64; results are
arrays aligned with the graph's sorted vertex ids.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd


class Graph:
    """Edge arrays plus the sorted vertex set (endpoints of any edge)."""

    def __init__(self, src, dst):
        e = pd.DataFrame({"src": np.asarray(src, np.int64), "dst": np.asarray(dst, np.int64)})
        e = e[e.src != e.dst].drop_duplicates()
        self.src = e.src.to_numpy()
        self.dst = e.dst.to_numpy()
        self.ids = np.unique(np.concatenate([self.src, self.dst]))
        # dense positions 0..V-1 for array-based kernels
        self.s = np.searchsorted(self.ids, self.src)
        self.d = np.searchsorted(self.ids, self.dst)

    @property
    def n(self) -> int:
        return len(self.ids)

    def symmetric(self) -> "Graph":
        return Graph(np.concatenate([self.src, self.dst]), np.concatenate([self.dst, self.src]))


# -- inputs ------------------------------------------------------------------


def cooccurrence_edges(orderkey, partkey) -> Graph:
    """Distinct ordered part pairs sharing an order (the relational source's
    documented self-join), computed with a pandas merge."""
    li = pd.DataFrame({"o": orderkey, "p": partkey}).drop_duplicates()
    pairs = li.merge(li, on="o")
    pairs = pairs[pairs.p_x != pairs.p_y]
    return Graph(pairs.p_x.to_numpy(), pairs.p_y.to_numpy())


_INTRA = re.compile(r'(?:from|import)\s+"?src[./]m(\d+)')
_CROSS = re.compile(r"ext[./]([A-Za-z0-9_]+)[./]m(\d+)")


def corpus_edges(corpus: pd.DataFrame) -> Graph:
    """Import graph of a synthetic corpus: dense file ids in (repo, path)
    order, an edge per resolvable import, self-imports dropped."""
    files = corpus.sort_values(["repo", "path"]).reset_index(drop=True)
    fid = {(r, p): i for i, (r, p) in enumerate(zip(files.repo, files.path))}
    by_num = {(r, int(re.search(r"m(\d+)\.", p).group(1))): i for (r, p), i in fid.items()}
    slug = {r.replace("/", "_"): r for r in files.repo.unique()}
    src, dst = [], []
    for r, p, content in zip(files.repo, files.path, files.content):
        me = fid[(r, p)]
        targets = [(r, int(j)) for j in _INTRA.findall(content)]
        targets += [(slug[s], int(j)) for s, j in _CROSS.findall(content) if s in slug]
        for t in targets:
            if t in by_num:
                src.append(me)
                dst.append(by_num[t])
    return Graph(src, dst)


# -- operators -----------------------------------------------------------------


def pagerank(g: Graph, tol: float, max_iter: int, damping: float = 0.85) -> np.ndarray:
    """Rank per vertex: r0 = 1, r' = (1-d) + d * sum r_u / outdeg_u over
    in-edges, stopping after the first step whose max |delta| <= tol."""
    outdeg = np.bincount(g.s, minlength=g.n).astype(np.float64)
    w = damping / outdeg[g.s]
    r = np.ones(g.n)
    for _ in range(max_iter):
        new = (1.0 - damping) + np.bincount(g.d, weights=w * r[g.s], minlength=g.n)
        delta = np.abs(new - r).max()
        r = new
        if delta <= tol:
            break
    return r


def components(g: Graph) -> np.ndarray:
    """Weakly connected components labelled by their minimum vertex id."""
    lab = np.arange(g.n)
    while True:
        new = lab.copy()
        np.minimum.at(new, g.d, lab[g.s])
        np.minimum.at(new, g.s, lab[g.d])
        new = new[new]  # pointer jump
        if np.array_equal(new, lab):
            return g.ids[lab]
        lab = new


def coreness(g: Graph) -> np.ndarray:
    """Core number per vertex of the symmetrized graph (layered peel)."""
    u = g.symmetric()
    deg = np.bincount(u.s, minlength=u.n)
    core = np.zeros(u.n, np.int64)
    alive = np.ones(u.n, bool)
    s, d = u.s, u.d
    k = 0
    while alive.any():
        peel = alive & (deg <= k)
        if not peel.any():
            k = int(deg[alive].min())
            continue
        core[peel] = k
        alive[peel] = False
        hit = peel[s] & alive[d]
        deg -= np.bincount(d[hit], minlength=u.n)
        keep = alive[s] & alive[d]
        s, d = s[keep], d[keep]
    return core


def hindex_rounds(g: Graph) -> int:
    """Synchronous rounds of the h-index operator, started from the degree,
    until no estimate changes (the last, unchanged round included): the
    superstep count of a distributed h-index k-core."""
    u = g.symmetric()
    order = np.argsort(u.s, kind="stable")
    s, d = u.s[order], u.d[order]
    start = np.searchsorted(s, np.arange(u.n))
    est = np.bincount(s, minlength=u.n)
    rounds = 0
    while True:
        x = est[d]
        o = np.lexsort((-x, s))  # each vertex's neighbour estimates, descending
        rank = np.arange(len(s)) - start[s[o]] + 1
        ok = x[o] >= rank
        h = np.zeros(u.n, np.int64)
        np.maximum.at(h, s[o][ok], rank[ok])
        new = np.minimum(est, h)
        rounds += 1
        if np.array_equal(new, est):
            return rounds
        est = new


def triangles(g: Graph) -> np.ndarray:
    """Triangles through each vertex of the symmetrized graph (dense A^2*A)."""
    u = g.symmetric()
    a = np.zeros((u.n, u.n), np.float64)
    a[u.s, u.d] = 1.0
    return np.rint(((a @ a) * a).sum(axis=1) / 2).astype(np.int64)


def bfs(g: Graph, source: int) -> np.ndarray:
    """Hop distance from ``source`` along directed edges; -1 = unreached."""
    dist = np.full(g.n, -1, np.int64)
    dist[np.searchsorted(g.ids, source)] = 0
    frontier = dist == 0
    level = 0
    while frontier.any():
        level += 1
        reached = np.zeros(g.n, bool)
        reached[g.d[frontier[g.s]]] = True
        frontier = reached & (dist < 0)
        dist[frontier] = level
    return dist


def lpa(g: Graph, rounds: int) -> np.ndarray:
    """Synchronous label propagation on the symmetrized graph: each vertex
    takes its neighbours' most frequent label, ties to the smallest."""
    u = g.symmetric()
    lab = u.ids.copy()
    for _ in range(rounds):
        votes = pd.DataFrame({"v": u.d, "l": lab[u.s]})
        cnt = votes.groupby(["v", "l"]).size().reset_index(name="c")
        best = cnt.sort_values(["v", "c", "l"], ascending=[True, False, True]).drop_duplicates("v")
        new = lab.copy()
        new[best.v.to_numpy()] = best.l.to_numpy()
        lab = new
    return lab


def scc_supersteps(g: Graph) -> int:
    """Supersteps of forward-backward SCC colouring, the work the engine's
    ``scc`` does: each outer round counts its trim levels (the last,
    unchanged one included), then the rounds of a forward and a backward
    min-label fixpoint, each round one hop plus one pointer jump (the last,
    unchanged round included); vertices whose two labels agree retire."""
    alive = np.ones(g.n, bool)
    steps = 0
    while alive.any():
        while alive.any():
            live = alive[g.s] & alive[g.d]
            keep = alive & (np.bincount(g.d[live], minlength=g.n) > 0) & (
                np.bincount(g.s[live], minlength=g.n) > 0
            )
            steps += 1
            if keep.sum() == alive.sum():
                break
            alive = keep
        if not alive.any():
            break
        live = alive[g.s] & alive[g.d]
        labels = []
        for s, d in ((g.s[live], g.d[live]), (g.d[live], g.s[live])):
            lab, chg = np.arange(g.n), alive.copy()
            while True:
                steps += 1
                m = lab.copy()
                np.minimum.at(m, d[chg[s]], lab[s[chg[s]]])
                new = np.minimum(m, m[m])
                chg, lab = new < lab, new
                if not chg.any():
                    break
            labels.append(lab)
        alive &= labels[0] != labels[1]
    return steps


def scc(g: Graph) -> np.ndarray:
    """Strongly connected components labelled by their minimum vertex id
    (iterative Tarjan)."""
    adj = [[] for _ in range(g.n)]
    for a, b in zip(g.s.tolist(), g.d.tolist()):
        adj[a].append(b)
    index = [-1] * g.n
    low = [0] * g.n
    on = [False] * g.n
    stack, comp, nxt = [], np.zeros(g.n, np.int64), 0
    for root in range(g.n):
        if index[root] >= 0:
            continue
        work = [(root, 0)]
        while work:
            v, i = work.pop()
            if i == 0:
                index[v] = low[v] = nxt
                nxt += 1
                stack.append(v)
                on[v] = True
            if i < len(adj[v]):
                work.append((v, i + 1))
                w = adj[v][i]
                if index[w] < 0:
                    work.append((w, 0))
                elif on[w]:
                    low[v] = min(low[v], index[w])
                continue
            if low[v] == index[v]:
                members = []
                while True:
                    w = stack.pop()
                    on[w] = False
                    members.append(w)
                    if w == v:
                        break
                comp[members] = g.ids[min(members)]
            if work:
                parent = work[-1][0]
                low[parent] = min(low[parent], low[v])
    return comp
