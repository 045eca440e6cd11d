"""Kernels for bounded graphs — one implementation shared by the rooted
hierarchy sweep (:func:`hierarchy.reachable`, and the catalog's
per-prefix hierarchy index in ``api.py``), the all-pairs closure
(:func:`hierarchy.ancestors` / ``descendants``, swept on the executors
from a broadcast of the encoded graph) and connected components
(:func:`components.connected_components`).

Each collects a bounded table once, as Arrow (a capped collect that is
also its size gate, :func:`collect_bounded`), and solves it here: endpoint
values are dictionary-encoded to dense int32 ids once (pyarrow), the
graph work runs over those ids, and only the answer is decoded back to
values. Dense integer keys instead of hashing strings per step
(*Analyzing Vectorized Hash Tables Across CPU Architectures*, VLDB 2023).

The closure and CC kernels are vectorized numpy throughout: they touch
every node. A rooted sweep usually touches a few, and a numpy call costs
microseconds at its boundary whatever its size (*Accelerating Python
UDFs in Vectorized Query Execution*, CIDR 2022), so
:meth:`Digraph.sweep` sizes each BFS level to its frontier: a small
frontier is walked in Python over zero-copy views of the CSR arrays, a
large one is one vectorized step, both over one seen-buffer.
"""

from __future__ import annotations

import functools

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


def gather(indptr: np.ndarray, nbrs: np.ndarray, frontier: np.ndarray):
    """The adjacency slices of the ``frontier`` node ids, concatenated in
    frontier order, and each slice's length: one vectorized step."""
    starts = indptr[frontier]
    cnt = indptr[frontier + 1] - starts
    idx = np.repeat(starts - np.cumsum(cnt) + cnt, cnt)
    return nbrs[idx + np.arange(len(idx))], cnt


#: A BFS level whose frontier has at most this many nodes is walked in
#: Python; a larger one is one vectorized gather step.
SMALL_FRONTIER = 64


class Digraph:
    """The (src, dst) edge table ``tbl`` encoded once (:func:`encode`)
    with a CSR adjacency in each direction, so any number of rooted
    sweeps reuse one encoding."""

    def __init__(self, tbl: pa.Table):
        self.names, u, v = encode(tbl)
        n = len(self.names)
        self._adj = (csr(n, u, v), csr(n, v, u))
        self._views = tuple(
            (memoryview(ip), memoryview(nb)) for ip, nb in self._adj
        )

    @functools.cached_property
    def labels(self) -> list:
        """``names`` as a Python list, decoded once on first use."""
        return values(self.names)

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
        reached from each root id. The seen-set starts empty (a root
        enters it only around a cycle), so duplicate edges and
        self-loops are absorbed and cycles terminate; a None root
        reaches nothing.

        Each level is sized to its frontier. A frontier of at most
        SMALL_FRONTIER nodes is walked in Python over zero-copy
        memoryviews of the CSR arrays, so a lookup that reaches a few
        nodes costs a few dict-speed steps, not a handful of numpy calls
        per level; a larger one is one vectorized gather step. Both mark
        one seen-buffer (a bytearray, viewed by numpy), reset after each
        root. An answer reached by Python steps alone is decoded from
        ``labels``, a larger one by one vectorized take."""
        indptr, nbrs = self._adj[reverse]
        ip, nb = self._views[reverse]
        seen = bytearray(len(indptr) - 1)
        seen_np = None  # numpy's view of seen, made on the first large step
        out: list[set] = []
        for rid in root_ids:
            small: list[int] = []  # ids reached by Python steps
            large: list[np.ndarray] = []  # ids reached by vectorized steps
            frontier = [] if rid is None else [rid]
            for _ in range(levels):
                if len(frontier) <= SMALL_FRONTIER:
                    nxt = []
                    for u in frontier:
                        for w in nb[ip[u]:ip[u + 1]]:
                            if not seen[w]:
                                seen[w] = 1
                                nxt.append(w)
                    small += nxt
                else:
                    if seen_np is None:
                        seen_np = np.frombuffer(seen, dtype=bool)
                    nxt = gather(indptr, nbrs, np.asarray(frontier))[0]
                    nxt = np.unique(nxt)
                    nxt = nxt[~seen_np[nxt]]
                    seen_np[nxt] = True
                    large.append(nxt)
                    if len(nxt) <= SMALL_FRONTIER:
                        nxt = nxt.tolist()
                if not len(nxt):
                    break
                frontier = nxt
            if not large:
                for w in small:  # reset for the next root
                    seen[w] = 0
                labels = self.labels
                out.append({labels[w] for w in small})
                continue
            hit = np.concatenate([np.array(small, dtype=nbrs.dtype), *large])
            seen_np[hit] = False  # reset for the next root
            out.append(set(values(self.names.take(pa.array(hit)))))
        return out


def closure(
    indptr: np.ndarray, nbrs: np.ndarray, sources: np.ndarray, levels: int
) -> tuple[np.ndarray, np.ndarray]:
    """Multi-source level BFS over the CSR ``(indptr, nbrs)``: every
    ``(source, node)`` pair with ``node`` reached from ``source`` within
    ``levels`` levels, as two int64 arrays. The same semantics as
    :meth:`Digraph.sweep` from each source, in one sweep for all of
    them: the seen-set is a sorted int64 array of ``source * n + node``
    keys, probed with ``searchsorted``, and the new keys are merged in
    at the probed positions, so each level is a handful of vectorized
    steps over the whole frontier of every source."""
    n = len(indptr) - 1
    src = node = np.asarray(sources, dtype=np.int64)
    seen = np.empty(0, dtype=np.int64)
    for _ in range(levels):
        nxt, cnt = gather(indptr, nbrs, node)
        keys = np.unique(np.repeat(src, cnt) * n + nxt)
        pos = np.searchsorted(seen, keys)
        old = pos < len(seen)
        old[old] = seen[pos[old]] == keys[old]
        keys = keys[~old]
        if not len(keys):
            break
        seen = np.insert(seen, pos[~old], keys)  # a linear merge
        src, node = np.divmod(keys, n)
    return np.divmod(seen, n)


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
