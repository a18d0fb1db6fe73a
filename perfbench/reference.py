"""Independent reference results and the comparisons against them.

The R-MAT references use numpy and networkx only; the graph queries are
checked against each query's DuckDB oracle SQL over the same parquet
files, compared as an order-insensitive multiset of canonicalized values
(floats to 9 significant digits), as tools/check_oracle.py does.
"""

from __future__ import annotations

import math
from collections import Counter
from datetime import datetime, timezone

import numpy as np

# ----------------------------------------------------------- engine output


def relabel(ids: np.ndarray, hashed: np.ndarray, old: np.ndarray) -> np.ndarray:
    """Map engine vertex ids (xxhash64 of the original key) back to the
    original keys, given the vertex table's (id, old_id) columns."""
    order = np.argsort(hashed)
    pos = np.searchsorted(hashed, ids, sorter=order)
    pos = np.minimum(pos, len(order) - 1)
    found = hashed[order[pos]] == ids
    if not found.all():
        raise ValueError(f"{int((~found).sum())} ids not in the vertex table")
    return old[order[pos]]


def same_partition(n: int, keys_a, labels_a, labels_b) -> str | None:
    """None when labelling ``labels_a`` of vertices ``keys_a`` and the
    reference labelling ``labels_b`` of range(n) induce the same
    partition (labels may differ, membership must not)."""
    seen = np.zeros(n, bool)
    seen[keys_a] = True
    if len(keys_a) != n or not seen.all():
        return f"{len(keys_a)} output rows cover {int(seen.sum())} of {n} vertices"
    la = np.empty(n, np.int64)
    la[keys_a] = labels_a
    pairs = np.unique(np.stack([la, labels_b], 1), axis=0)
    na, nb = len(np.unique(la)), len(np.unique(labels_b))
    if len(pairs) != na or len(pairs) != nb:
        return f"partition differs: {na} groups vs {nb} in the reference"
    return None


# ------------------------------------------------------- R-MAT references


def min_label_components(n: int, edges: np.ndarray) -> np.ndarray:
    """Weak components by min-label propagation over undirected edges."""
    label = np.arange(n, dtype=np.int64)
    s, d = edges[:, 0], edges[:, 1]
    while True:
        nxt = label.copy()
        np.minimum.at(nxt, s, label[d])
        np.minimum.at(nxt, d, label[s])
        nxt = nxt[nxt]  # pointer jumping
        if np.array_equal(nxt, label):
            return label
        label = nxt


def undirected_nx(n: int, edges: np.ndarray):
    import networkx as nx

    g = nx.Graph()
    g.add_nodes_from(range(n))
    g.add_edges_from(edges.tolist())
    return g


def triangle_count(g_und) -> int:
    import networkx as nx

    return sum(nx.triangles(g_und).values()) // 3


def clustering(n: int, g_und) -> np.ndarray:
    import networkx as nx

    out = np.zeros(n)
    for v, c in nx.clustering(g_und).items():
        out[v] = c
    return out


def dense_adjacency(n: int, edges: np.ndarray) -> np.ndarray:
    a = np.zeros((n, n), np.float32)
    a[edges[:, 0], edges[:, 1]] = 1.0
    return a


def directed_three_cycles(adj: np.ndarray) -> int:
    """Closed directed walks of length 3 = trace(A^3); with no self-loops
    each is a 3-cycle counted once per rotation, as ``find`` reports."""
    return int(round(float(np.einsum("ij,ji->", adj @ adj, adj, dtype=np.float64))))


def common_out_neighbours(adj: np.ndarray) -> np.ndarray:
    return adj @ adj.T


def close(a: np.ndarray, b: np.ndarray, rel: float = 1e-9) -> bool:
    return bool(np.allclose(a, b, rtol=rel, atol=rel))


# ------------------------------------------------------------ DuckDB oracle


def canon(v):
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, datetime) and v.tzinfo is not None:
        v = v.astimezone(timezone.utc).replace(tzinfo=None)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canon_rows(cols: list[str], rows) -> list[tuple]:
    """Rows canonicalized, with columns in name order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [tuple(canon(r[i]) for i in order) for r in rows]


def oracle_rows(con, sql: str) -> dict:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return {"cols": cols, "rows": canon_rows(cols, cur.fetchall())}


def compare_oracle(oracle: dict, table) -> str | None:
    """None when the Arrow ``table`` matches the oracle's rows."""
    scols = table.column_names
    if sorted(scols) != sorted(oracle["cols"]):
        return f"columns {sorted(scols)} vs oracle {sorted(oracle['cols'])}"
    if table.num_rows != len(oracle["rows"]):
        return f"rows {table.num_rows} vs oracle {len(oracle['rows'])}"
    srows = zip(*(table.column(c).to_pylist() for c in scols))
    if Counter(canon_rows(scols, srows)) != Counter(map(tuple, oracle["rows"])):
        return "value multiset differs from the oracle"
    return None
