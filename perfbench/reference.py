"""Independent references, computed with pyarrow and numpy only.

Nothing here imports Spark or ``cminer_spark``: the references read
the benchmark's parquet inputs directly and re-derive every result
from its definition.

* edges: pure-pyarrow pairing of consecutive turns plus tool calls;
* PageRank: vectorised power iteration, stop rule L1 < N·tol;
* connected components: minimum vertex id per component;
* label propagation: synchronous, most frequent neighbour label,
  ties to the lowest label;
* triangles: per-vertex counts on the simple undirected projection.

Row sets are compared in canonical form: every column, rows sorted.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


def read_parquet(path, columns=None) -> pa.Table:
    return pq.read_table(str(path), columns=columns)


def canonical(table: pa.Table) -> pa.Table:
    """Rows sorted by every column, strings as ``string``, one chunk:
    two tables hold the same multiset of rows iff their canonical
    forms are equal."""
    cols = [
        pc.cast(c, pa.string()) if pa.types.is_large_string(c.type) else c
        for c in table.columns
    ]
    t = pa.table(cols, names=table.column_names)
    t = t.sort_by([(name, "ascending") for name in t.column_names])
    return pa.table(
        [c.combine_chunks() for c in t.columns], names=t.column_names
    )


def same_rows(got: pa.Table, want: pa.Table) -> bool:
    got = canonical(got.rename_columns(want.column_names))
    return got.num_rows == want.num_rows and all(
        a.equals(b) for a, b in zip(got.columns, want.columns)
    )


# ---------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------


def _turn_keys(conv: pa.Array, turn: pa.Array) -> pa.Array:
    return pc.binary_join_element_wise(conv, pc.cast(turn, pa.string()), "#")


def edge_rows(transcripts: pa.Table) -> pa.Table:
    """``(src_key, dst_key, type)`` of every edge ``extract_edges``
    must emit: turn i → turn i-1 within a conversation (by turn
    index), and every tool-call turn → ``tool:<name>``."""
    t = transcripts.select(["conv_id", "turn_idx", "tool"]).sort_by(
        [("conv_id", "ascending"), ("turn_idx", "ascending")]
    )
    conv = t.column("conv_id").combine_chunks()
    turn = t.column("turn_idx").combine_chunks()
    tool = t.column("tool").combine_chunks()
    keys = _turn_keys(conv, turn)
    n = len(keys)
    same = pc.equal(conv.slice(1), conv.slice(0, n - 1))
    replies = pa.table(
        {
            "src_key": pc.filter(keys.slice(1), same),
            "dst_key": pc.filter(keys.slice(0, n - 1), same),
        }
    )
    replies = replies.append_column(
        "type", pa.array(["replies_to"] * replies.num_rows, pa.string())
    )
    has_tool = pc.fill_null(pc.not_equal(tool, ""), False)
    invokes = pa.table(
        {
            "src_key": pc.filter(keys, has_tool),
            "dst_key": pc.binary_join_element_wise(
                pa.array(["tool:"] * len(tool), pa.string()),
                pc.fill_null(tool, ""),
                "",
            ).filter(has_tool),
        }
    )
    invokes = invokes.append_column(
        "type", pa.array(["invokes"] * invokes.num_rows, pa.string())
    )
    return pa.concat_tables([replies, invokes])


def vertex_rows(transcripts: pa.Table) -> pa.Table:
    """``(v_key, labels)`` of ``vertices_from_transcripts``: one row per
    turn labelled ``[role:<r>, turn]``, one per distinct tool ``[tool]``;
    labels joined with ``|``."""
    t = transcripts
    keys = _turn_keys(
        t.column("conv_id").combine_chunks(), t.column("turn_idx").combine_chunks()
    )
    labels = pc.binary_join_element_wise(
        pa.array(["role:"] * t.num_rows, pa.string()),
        t.column("role").combine_chunks(),
        "",
    )
    turn_rows = pa.table(
        {
            "v_key": keys,
            "labels": pc.binary_join_element_wise(
                labels, pa.array(["turn"] * t.num_rows, pa.string()), "|"
            ),
        }
    )
    tools = pc.unique(pc.drop_null(t.column("tool").combine_chunks()))
    tools = pc.filter(tools, pc.not_equal(tools, ""))
    tool_rows = pa.table(
        {
            "v_key": pc.binary_join_element_wise(
                pa.array(["tool:"] * len(tools), pa.string()), tools, ""
            ),
            "labels": pa.array(["tool"] * len(tools), pa.string()),
        }
    )
    return pa.concat_tables([turn_rows, tool_rows])


def joined_labels(vertices: pa.Table) -> pa.Table:
    """Engine vertex output ``(v_key, labels array)`` in the
    :func:`vertex_rows` shape."""
    return pa.table(
        {
            "v_key": vertices.column("v_key"),
            "labels": pc.binary_join(vertices.column("labels"), "|"),
        }
    )


def turn_count(edges_path) -> int:
    """Turns behind an edge table: its distinct non-tool vertex keys
    (every turn of a conversation of two or more turns has an edge)."""
    t = read_parquet(edges_path, ["src_key", "dst_key"])
    keys = pc.unique(
        pa.chunked_array(t.column("src_key").chunks + t.column("dst_key").chunks)
    )
    return len(keys) - int(pc.sum(pc.starts_with(keys, "tool:")).as_py() or 0)


# ---------------------------------------------------------------------
# graph algorithms
# ---------------------------------------------------------------------


class Graph:
    """Edge endpoints as indices into the sorted vertex id array."""

    def __init__(self, src: np.ndarray, dst: np.ndarray, weight: np.ndarray):
        self.ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
        self.n = len(self.ids)
        self.src = inv[: len(src)]
        self.dst = inv[len(src):]
        self.weight = weight.astype(np.float64)

    @classmethod
    def from_parquet(cls, path) -> "Graph":
        t = read_parquet(path, ["src", "dst", "weight"])
        return cls(
            t.column("src").to_numpy(),
            t.column("dst").to_numpy(),
            t.column("weight").to_numpy(),
        )

    def simple_undirected(self) -> tuple[np.ndarray, np.ndarray]:
        """Distinct ``(a, b)`` with ``a < b`` (self-loops dropped)."""
        keep = self.src != self.dst
        a = np.minimum(self.src[keep], self.dst[keep])
        b = np.maximum(self.src[keep], self.dst[keep])
        pairs = np.unique(a.astype(np.int64) * self.n + b)
        return pairs // self.n, pairs % self.n


def pagerank(
    g: Graph, damping: float = 0.85, tol: float = 1e-6, max_iter: int = 100
) -> tuple[np.ndarray, int]:
    """Ranks (aligned with ``g.ids``) and the superstep count. Parallel
    edges keep separate weight shares; dangling mass is redistributed
    uniformly; ``tol <= 0`` runs exactly ``max_iter`` supersteps."""
    out_w = np.bincount(g.src, weights=g.weight, minlength=g.n)
    p = g.weight / out_w[g.src]
    rank = np.full(g.n, 1.0 / g.n)
    it = 0
    for it in range(1, max_iter + 1):
        in_mass = np.bincount(g.dst, weights=p * rank[g.src], minlength=g.n)
        dmass = 1.0 - in_mass.sum()
        new = (1.0 - damping) / g.n + damping * (in_mass + dmass / g.n)
        delta = np.abs(new - rank).sum()
        rank = new
        if tol > 0 and delta < g.n * tol:
            break
    return rank, it


def components(g: Graph) -> np.ndarray:
    """Component of each vertex = its minimum vertex id."""
    a, b = g.simple_undirected()
    label = np.arange(g.n)
    while True:
        prev = label.copy()
        np.minimum.at(label, a, label[b])
        np.minimum.at(label, b, label[a])
        label = label[label]
        if np.array_equal(label, prev):
            return g.ids[label]


def label_propagation(g: Graph, max_rounds: int) -> tuple[np.ndarray, int]:
    """Synchronous LPA over the undirected simple projection; each
    vertex takes the most frequent neighbour label, ties to the lowest
    label; stops early when no label changes. Returns labels aligned
    with ``g.ids`` and the round count."""
    a, b = g.simple_undirected()
    to = np.concatenate([a, b])
    frm = np.concatenate([b, a])
    label = g.ids.copy()
    rounds = 0
    for rounds in range(1, max_rounds + 1):
        lab = label[frm]
        order = np.lexsort((lab, to))
        v, lab = to[order], lab[order]
        start = np.flatnonzero(np.r_[True, (v[1:] != v[:-1]) | (lab[1:] != lab[:-1])])
        count = np.diff(np.r_[start, len(v)])
        rv, rl = v[start], lab[start]
        best = np.lexsort((rl, -count, rv))
        rv, rl = rv[best], rl[best]
        first = np.r_[True, rv[1:] != rv[:-1]]
        new = label.copy()
        new[rv[first]] = rl[first]
        changed = int((new != label).sum())
        label = new
        if changed == 0:
            break
    return label, rounds


def triangles(g: Graph) -> np.ndarray:
    """Triangles through each vertex (aligned with ``g.ids``)."""
    a, b = g.simple_undirected()
    deg = np.bincount(np.concatenate([a, b]), minlength=g.n)
    # orient each edge from the lower (degree, id) endpoint
    lower_a = (deg[a] < deg[b]) | ((deg[a] == deg[b]) & (a < b))
    lo = np.where(lower_a, a, b)
    hi = np.where(lower_a, b, a)
    out: list[set] = [set() for _ in range(g.n)]
    for u, v in zip(lo.tolist(), hi.tolist()):
        out[u].add(v)
    tri = np.zeros(g.n, dtype=np.int64)
    for u in range(g.n):
        nbrs = out[u]
        for v in nbrs:
            for w in nbrs & out[v]:
                tri[u] += 1
                tri[v] += 1
                tri[w] += 1
    return tri
