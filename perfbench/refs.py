"""Seeded inputs and independent numpy references for the benchmark.

Nothing here calls into the Spark engine: the vector generator, the
PageRank / components / triangle / kNN references and the edge-table
derivation are re-implemented in plain numpy and pandas so that a defect
in the engine cannot hide in its own check.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

_M31 = 1 << 31


_SALTS = (13, 29, 7)  # coarse, fine, per-point terms of the original


def _salts(seed: int) -> tuple[int, int, int]:
    """The original generator's hash salts for seed 0; otherwise odd
    salts drawn from the seed, so each seed hashes with new multipliers
    instead of shifting seed 0's values."""
    if seed == 0:
        return _SALTS
    drawn = np.random.default_rng(seed).integers(0, 1 << 20, size=3)
    return tuple(int(2 * s + 1) for s in drawn)


def _u(x: np.ndarray, salt: int) -> np.ndarray:
    # tools/knn_midscale_bench._u in numpy (x * A stays far below 2^63)
    h = x * np.int64(2654435761 + salt * 97)
    return np.mod(h, _M31) / float(_M31) - 0.5


def hier_vectors(n: int, dim: int, seed: int) -> np.ndarray:
    """Seeded copy of tools/knn_midscale_bench.synth_vectors_hier.

    Same two-level cluster structure (fine clusters of ~64 points, 64
    fine per coarse) and 1/(1+j/4)-decaying noise; seed 0 reproduces the
    original generator's values exactly.
    """
    ids = np.arange(n, dtype=np.int64)
    fine_n = max(64, n // 64)
    coarse_n = max(16, fine_n // 64)
    fine = (ids % fine_n)[:, None]
    coarse = fine % coarse_n
    j = np.arange(dim, dtype=np.int64)[None, :]
    s_coarse, s_fine, s_point = _salts(seed)
    x = (
        _u(coarse * dim + j, s_coarse) * 2.0
        + _u(fine * dim + j, s_fine) * 0.8
        + _u(ids[:, None] * dim + j, s_point) * (1.5 / (1.0 + j / 4.0))
    )
    return x.astype(np.float32)


def write_vectors(path: str, ids: np.ndarray, x: np.ndarray) -> None:
    """(vec_id long, embedding array<float>) parquet, as Spark reads it."""
    flat = pa.array(np.ascontiguousarray(x).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, x.size + 1, x.shape[1], dtype=np.int32))
    table = pa.table({
        "vec_id": pa.array(ids.astype(np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
    })
    pq.write_table(table, path)


# --- graph references ----------------------------------------------------


def derived_edges(tx: pd.DataFrame) -> dict:
    """Reply and handoff edges re-derived in pandas, plus the tool-edge
    totals (tool vertex ids are md5 hashes, so only their count and
    weight sum are compared)."""
    conv = tx["conv_id"].str.slice(4).astype(np.int64).to_numpy()
    turn = tx["turn_idx"].to_numpy(np.int64)
    vid = conv * (1 << 20) + turn
    keep = turn > 0
    reply = sorted(zip((vid[keep] - 1).tolist(), vid[keep].tolist()))

    codes = {"user": 1, "assistant": 2, "tool": 3,
             "agent:planner": 4, "agent:executor": 5}
    seq = tx.assign(conv=conv).sort_values(["conv", "turn_idx"])
    role = seq["role"].map(codes).fillna(6).astype(np.int64).to_numpy()
    sconv = seq["conv"].to_numpy()
    same = np.r_[False, sconv[1:] == sconv[:-1]]
    prev = np.r_[0, role[:-1]]
    hand = same & (prev != role)
    pairs = pd.Series(list(zip(-(prev[hand] * 4 + 1), -(role[hand] * 4 + 1))))
    handoff = sorted((int(s), int(d), float(c))
                     for (s, d), c in pairs.value_counts().items())

    tools = tx[tx["tool"].notna()]
    return {
        "reply": reply,
        "handoff": handoff,
        "tool_edges": int(tools.groupby([tools["conv_id"], tools["tool"]]).ngroups),
        "tool_weight": float(len(tools)),
    }


def pagerank_np(src, dst, w, n_iters: int, damping: float = 0.85):
    """Power iteration with dangling-mass redistribution, exactly
    ``n_iters`` updates; returns (vertex ids, scores)."""
    verts, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    n = len(verts)
    si, di = inv[: len(src)], inv[len(src):]
    wsum = np.bincount(si, weights=w, minlength=n)
    wn = w / wsum[si]
    dangling = wsum == 0.0
    p = np.full(n, 1.0 / n)
    for _ in range(n_iters):
        contrib = np.bincount(di, weights=p[si] * wn, minlength=n)
        p = (1.0 - damping) / n + damping * (contrib + p[dangling].sum() / n)
    return verts, p


def components_np(src, dst):
    """Union-find over the undirected edges; label = minimum vertex id."""
    verts, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    parent = np.arange(len(verts))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    m = len(src)
    for a, b in zip(inv[:m].tolist(), inv[m:].tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            # vertex ids are sorted, so the smaller index is the smaller id
            parent[max(ra, rb)] = min(ra, rb)
    roots = np.array([find(i) for i in range(len(verts))])
    return verts, verts[roots]


def triangles_np(src, dst) -> int:
    """Exact triangle count of the undirected simple graph."""
    a, b = np.minimum(src, dst), np.maximum(src, dst)
    und = np.unique(np.stack([a[a != b], b[a != b]], 1), axis=0)
    if len(und) == 0:
        return 0
    verts, inv = np.unique(und, return_inverse=True)
    u, v = inv.reshape(-1, 2).T  # u < v, rows sorted by (u, v)
    n = len(verts)
    keys = u.astype(np.int64) * n + v
    ends = np.searchsorted(u, np.arange(n), side="right")
    # wedges (u; v1 < v2) from pairs of later out-neighbours of u
    later = ends[u] - np.arange(len(u)) - 1
    e1 = np.repeat(np.arange(len(u)), later)
    off = np.arange(len(e1)) - np.repeat(np.cumsum(later) - later, later)
    e2 = e1 + 1 + off
    q = v[e1].astype(np.int64) * n + v[e2]
    pos = np.searchsorted(keys, q)
    pos[pos == len(keys)] = 0
    return int(np.count_nonzero(keys[pos] == q))


# --- kNN references ------------------------------------------------------


def exact_knn(x: np.ndarray, queries: np.ndarray, k: int) -> np.ndarray:
    """Exact top-k ids (excluding the query itself) by squared L2."""
    xd = x.astype(np.float64)
    q = xd[queries]
    d2 = (q * q).sum(1)[:, None] - 2.0 * q @ xd.T + (xd * xd).sum(1)[None, :]
    d2[np.arange(len(queries)), queries] = np.inf
    part = np.argpartition(d2, k, axis=1)[:, :k]
    return part


def recall_at_k(graph: pd.DataFrame, x: np.ndarray, queries: np.ndarray,
                k: int) -> float:
    """|approx ∩ exact| / (queries · k) over the sampled query ids."""
    truth = exact_knn(x, queries, k)
    got = graph[graph["src"].isin(queries)].groupby("src")["dst"].apply(set)
    hits = sum(len(got.get(q, set()) & set(t.tolist()))
               for q, t in zip(queries.tolist(), truth))
    return hits / (len(queries) * k)


def graph_defects(graph: pd.DataFrame, x: np.ndarray, k: int) -> list[str]:
    """Invariants of a maintained kNN graph: <= k neighbours per vertex,
    no self edges, stored distances equal to exact squared L2."""
    bad = []
    deg = graph.groupby("src").size()
    if (deg > k).any():
        bad.append(f"{int((deg > k).sum())} vertices with more than {k} neighbours")
    if (graph["src"] == graph["dst"]).any():
        bad.append("self edges present")
    s = graph["src"].to_numpy(np.int64)
    d = graph["dst"].to_numpy(np.int64)
    diff = x[s].astype(np.float64) - x[d].astype(np.float64)
    exact = np.einsum("ij,ij->i", diff, diff)
    if not np.allclose(graph["dist"].to_numpy(), exact, rtol=1e-6, atol=1e-9):
        bad.append("stored distances differ from exact squared L2")
    return bad
