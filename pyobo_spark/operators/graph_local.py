"""Driver-side kernels for bounded graphs — one implementation shared by
the rooted hierarchy sweep (:func:`hierarchy.reachable`, and the
catalog's per-prefix hierarchy index in ``api.py``) and connected
components (:func:`components.connected_components`).

Each collects a bounded table once, as Arrow (a capped collect that is
also its size gate, :func:`collect_bounded`), and solves it here: endpoint
values are dictionary-encoded to dense int32 ids once (pyarrow), the
graph work is vectorized numpy over those ids, and only the answer is
decoded back to values. Dense integer keys with vectorized probes
instead of hashing strings per step (*Analyzing Vectorized Hash Tables
Across CPU Architectures*, VLDB 2023).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc


def collect_bounded(df, bound: int) -> pa.Table | None:
    """The DataFrame ``df`` as one Arrow table when it has at most
    ``bound`` rows, else None. One capped collect — ``limit(bound + 1)``
    — is both the size gate and the input, so no count job runs first;
    ``bound`` 0 collects nothing."""
    cap = min(bound, 2**31 - 2)  # Spark's limit is a 32-bit int
    if cap <= 0:
        return None
    tbl = df.limit(cap + 1).toArrow()
    return tbl if tbl.num_rows <= cap else None


def values(arr) -> list:
    """The Python values of the Arrow (chunked) array ``arr``, NULL as
    None — through numpy's object conversion, ~10x faster than
    ``to_pylist`` for strings."""
    return arr.to_numpy(zero_copy_only=False).tolist()


def encode(tbl: pa.Table, sort: bool = False):
    """Dictionary-encode the two endpoint columns of the edge table
    ``tbl`` to dense int32 node ids. Returns ``(names, u, v)``:
    ``names[i]`` is node i's value, ``u``/``v`` the per-row endpoint
    ids, -1 where an endpoint is NULL. Every non-NULL endpoint is a
    node, also one whose partner is NULL.

    ``sort=True`` numbers the nodes in value order — for strings the
    unsigned byte order Spark compares them by — so the smallest id of
    any node set is its smallest value."""
    a, b = tbl.column(0), tbl.column(1)
    enc = pa.chunked_array(a.chunks + b.chunks, type=a.type)
    enc = enc.combine_chunks().dictionary_encode()
    names = enc.dictionary
    ids = pc.fill_null(enc.indices, -1).to_numpy().copy()
    if sort:
        order = pc.array_sort_indices(names).to_numpy()
        rank = np.empty(len(order), dtype=ids.dtype)
        rank[order] = np.arange(len(order), dtype=ids.dtype)
        names = names.take(pa.array(order))
        valid = ids >= 0
        ids[valid] = rank[ids[valid]]
    return names, ids[: len(a)], ids[len(a):]


def csr(n_nodes: int, src: np.ndarray, dst: np.ndarray):
    """CSR adjacency ``(indptr, nbrs)`` of the edges ``src`` → ``dst``
    over node ids ``0..n_nodes-1``: an argsort + bincount. A row with a
    -1 (NULL) endpoint is dropped, as a join on it would drop it."""
    ok = (src >= 0) & (dst >= 0)
    s, d = src[ok], dst[ok]
    nbrs = d[np.argsort(s, kind="stable")]
    indptr = np.zeros(n_nodes + 1, dtype=np.int64)
    np.cumsum(np.bincount(s, minlength=n_nodes), out=indptr[1:])
    return indptr, nbrs


class Digraph:
    """The (src, dst) edge table ``tbl`` encoded once (:func:`encode`)
    with a CSR adjacency in each direction, so any number of rooted
    sweeps reuse one encoding."""

    def __init__(self, tbl: pa.Table):
        self.names, u, v = encode(tbl)
        n = len(self.names)
        self._adj = (csr(n, u, v), csr(n, v, u))

    def node_ids(self, nodes: list[str]) -> list[int | None]:
        """Node id of each of ``nodes`` (None: not a node), by one hash
        probe over all node values — for a one-off sweep; a caller
        looking nodes up again and again keeps its own dict."""
        return pc.index_in(
            pa.array(nodes, type=self.names.type), value_set=self.names
        ).to_pylist()

    def sweep(
        self, root_ids: list[int | None], levels: int, reverse: bool = False
    ) -> list[set]:
        """Per-root level BFS along src → dst (dst → src with
        ``reverse``), at most ``levels`` levels: the set of values
        reached from each root id. Each level gathers the frontier's
        adjacency slices in one vectorized step. The seen-set starts
        empty (a root enters it only around a cycle), so duplicate edges
        and self-loops are absorbed and cycles terminate; a None root
        reaches nothing."""
        indptr, nbrs = self._adj[reverse]
        seen = np.zeros(len(self.names), dtype=bool)
        out: list[set] = []
        for rid in root_ids:
            reached = []
            frontier = np.array([] if rid is None else [rid], dtype=np.int64)
            for _ in range(levels):
                starts = indptr[frontier]
                cnt = indptr[frontier + 1] - starts
                total = int(cnt.sum())
                if not total:
                    break
                # concatenated adjacency slices of every frontier node
                gather = np.repeat(starts - np.cumsum(cnt) + cnt, cnt)
                nxt = np.unique(nbrs[gather + np.arange(total)])
                nxt = nxt[~seen[nxt]]
                if not len(nxt):
                    break
                seen[nxt] = True
                reached.append(nxt)
                frontier = nxt
            hit = np.concatenate(reached) if reached else np.empty(0, np.int32)
            seen[hit] = False  # reset for the next root
            out.append(set(values(self.names.take(pa.array(hit)))))
        return out


def min_labels(n_nodes: int, u: np.ndarray, v: np.ndarray) -> np.ndarray:
    """``lab[i]`` = the smallest node id in node i's connected component
    of the undirected edges (u, v). Min-hooking with pointer-jumping
    compression: each round the ROOT of every edge's endpoint tree
    hooks onto the smaller of the two roots, then every node jumps to
    its root. Labels only move to a node of the same component and only
    fall, so they settle on its minimum. Hooking roots rather than the
    endpoints themselves merges whole trees at once, so a long path or
    cycle takes a few rounds (14 for a 3.2M-node path with shuffled
    ids), not one round per hop."""
    lab = np.arange(n_nodes, dtype=np.int64)
    while len(u):
        ru, rv = lab[u], lab[v]  # roots: lab is fully compressed here
        m = np.minimum(ru, rv)
        np.minimum.at(lab, ru, m)
        np.minimum.at(lab, rv, m)
        while True:  # pointer jumping
            jumped = lab[lab]
            if np.array_equal(jumped, lab):
                break
            lab = jumped
        if np.array_equal(lab[u], lab[v]):
            break  # every edge agrees: converged
    return lab
