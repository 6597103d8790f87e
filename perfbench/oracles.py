"""Independent reference evaluations the benchmark checks outputs against.

Pure Python / NumPy / pandas, written from the definitions rather than
from the engine's code, and run on the driver over the collected inputs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def influence_edges(turns: pd.DataFrame) -> list[tuple]:
    """The influence rule over raw transcript rows
    ``(conv_id, turn_idx, role, tool, ts_us)``: for every turn t other than
    the conversation's first, one edge from each other participant u whose
    first turn is strictly earlier in time than t, or who opened the
    conversation. Participant = ``tool`` when set and non-empty, else
    ``role``. Returns sorted ``(conv_id, src_turn, dst_turn, ts, orig_turn)``
    tuples."""
    out = []
    for conv, g in turns.groupby("conv_id", sort=False):
        g = g.sort_values("turn_idx")
        who = [
            tool if isinstance(tool, str) and tool else role
            for role, tool in zip(g["role"], g["tool"])
        ]
        idx = g["turn_idx"].tolist()
        ts = g["ts_us"].tolist()
        first: dict[str, tuple[int, int]] = {}
        for p, i, t in zip(who, idx, ts):
            first.setdefault(p, (i, t))
        orig_turn, orig_p = idx[0], who[0]
        for p, i, t in zip(who[1:], idx[1:], ts[1:]):
            for u, (a_turn, a_ts) in first.items():
                if u != p and (a_ts < t or u == orig_p):
                    out.append((conv, a_turn, i, t, orig_turn))
    return sorted(out)


def _index(src: np.ndarray, dst: np.ndarray):
    vids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    return vids, inv[: len(src)], inv[len(src):]


def pagerank(src: np.ndarray, dst: np.ndarray, iterations: int,
             alpha: float = 0.85) -> tuple[np.ndarray, np.ndarray]:
    """Power iteration with dangling-mass redistribution,
    ``rank' = (1-a)/N + a*(in_contrib + dangling/N)``, for exactly
    ``iterations`` supersteps. Returns (sorted vids, ranks)."""
    vids, s, d = _index(src, dst)
    n = len(vids)
    outdeg = np.bincount(s, minlength=n).astype(np.float64)
    rank = np.full(n, 1.0 / n)
    for _ in range(iterations):
        dangling = rank[outdeg == 0].sum()
        in_sum = np.bincount(d, weights=rank[s] / outdeg[s], minlength=n)
        rank = (1 - alpha) / n + alpha * (in_sum + dangling / n)
    return vids, rank


def components(src: np.ndarray, dst: np.ndarray) -> dict[int, int]:
    """Undirected connected components by union-find; component id = the
    smallest vertex id in the component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(src.tolist(), dst.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in list(parent)}


def triangles(src: np.ndarray, dst: np.ndarray) -> dict[int, int]:
    """Per-vertex triangle counts of the undirected simple graph (loops and
    duplicate edges ignored)."""
    adj: dict[int, set[int]] = {}
    for a, b in zip(src.tolist(), dst.tolist()):
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    # orient each edge towards the higher (degree, id) end: every triangle
    # is found once, from its lowest vertex, with small out-sets
    key = {v: (len(n), v) for v, n in adj.items()}
    out = {v: {u for u in n if key[u] > key[v]} for v, n in adj.items()}
    per = dict.fromkeys(adj, 0)
    for v, ov in out.items():
        for u in ov:
            for w in ov & out[u]:
                per[v] += 1
                per[u] += 1
                per[w] += 1
    return per
