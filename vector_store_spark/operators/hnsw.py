"""Graph ANN: a genuine HNSW engine behind the strategy interface.

The reference's default vector engine is USearch HNSW
(crates/vector-store/src/vs_index/usearch.rs): a layered
navigable-small-world graph built incrementally (`expansion_add` beam per
insert, `connectivity` links per node, usearch.rs:74-92) and searched with a
best-first beam of width `expansion_search` (usearch.rs:203-248), with
restrictions evaluated *inside* traversal (usearch.rs:1108-1154) and deletes
handled as tombstones until compaction.  Until this module the rebuild
served those semantics through IVF/LSH substitutions; this is the direct
counterpart, so the three graph options stop being recorded-but-unmapped
(plans/catalog.py) and are actually consumed.

Spark-first shape
-----------------
A monolithic graph cannot live on a cluster, so the index is **sliced**:
rows hash to `num_slices` shards, each shard holds an independent HNSW
graph sized to executor memory, a query searches every shard's graph in
parallel and merges per-shard top-k with one TakeOrderedAndProject — the
standard sharded-HNSW serving layout (and exactly how the reference scales
too: one USearch index per partition for LOCAL indexes, lib.rs:677-680).

The persisted layout mirrors USearch's single memory-mapped file per index
(usearch.rs `save`/`load`): each slice's graph is ONE parquet row of packed
numpy buffers (ids / f32 vectors / levels / CSR adjacency / tombstone map)
partitioned by `slice`, plus a columnar per-node *payload* table (id, node,
filtering columns) for predicate evaluation.  Serving reads `num_slices`
blob rows — no shuffle, no per-query regroup; a cached blob DataFrame is
the analogue of the reference's resident index.  Filtered search evaluates
the predicate Spark-side on the columnar payload (pushed parquet filters),
reduces it to a per-slice allow-bitmap, and traversal collects only allowed
nodes while still walking the full graph — the reference's
predicate-inside-traversal, not post-filtering.

Build runs as one `applyInPandas` pass: each slice constructs its graph in
numpy (float64 scoring over float32 storage) with deterministic levels
(hash-derived, no RNG), deterministic insertion order (sorted by id) and a
level-0 connectivity repair (bridge stray components to their nearest main
node) so that `ef >= n` search is provably exhaustive.  Everything is
reproducible bit-for-bit, which the determinism test asserts on the raw
blobs.

At 100 TB: `num_slices` grows so each graph stays executor-sized; build is
embarrassingly parallel per slice; a query fans out `num_slices` graph
searches, each emitting k rows.  Unlike IVF there is no candidate-scan
pruning — the graph *is* the accelerator (O(ef·log n) distance evaluations
per slice instead of a full scan), which is the same trade the reference
makes.
"""

from __future__ import annotations

import heapq
import json
import os
from typing import Sequence

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vector_store_spark.functions.distance import similarity_expr
from vector_store_spark.sources.index_store import HadoopDir, parallel_legs
from vector_store_spark.types import SpaceType

#: level cap — slice-sized graphs essentially never exceed this
MAX_LEVEL = 6

_GRAPH_SCHEMA = (
    "slice int, n int, entry int, max_level int, ids binary, vecs binary, "
    "levels binary, nbr_counts binary, nbr_flat binary, deleted binary, "
    "qscale double"
)


def _levels_of(ids: np.ndarray, m: int) -> np.ndarray:
    """Deterministic HNSW level per node: the standard geometric law
    level = floor(-ln(u) * mL), mL = 1/ln(m) (usearch.rs / Malkov &
    Yashunin §4), with u a Knuth-hash of the id instead of an RNG so
    builds are reproducible and the level is re-derivable in oracle SQL:
    u = ((id * 2654435761) % 2^32 + 1) / (2^32 + 1)."""
    h = (ids.astype(np.uint64) * np.uint64(2654435761)) & np.uint64(0xFFFFFFFF)
    u = (h.astype(np.float64) + 1.0) / 4294967297.0
    ml = 1.0 / np.log(m)
    return np.minimum(np.floor(-np.log(u) * ml), MAX_LEVEL).astype(np.int8)


#: byte → set-bit count, for packed-B1 Hamming scoring
_POPCNT = np.unpackbits(
    np.arange(256, dtype=np.uint8)[:, None], axis=1
).sum(axis=1).astype(np.int64)


def _b1_pack_rows(v: np.ndarray) -> np.ndarray:
    """Sign-binarize (x > 0 ⇒ 1) and pack MSB-first into bytes, row-wise —
    the USearch B1 storage kind (usearch.rs:1179-1205), bit-identical to
    functions/quantize.b1_pack."""
    return np.packbits(np.asarray(v, dtype=np.float64) > 0, axis=-1)


def _prep_query(query, space: SpaceType, dims: int) -> np.ndarray:
    """The query vector in the slice's scoring form: f64 (unit-normalized
    for cosine, raw for dot/l2sq) or sign-packed uint8 for Hamming — the
    packed matrix XOR-popcounts against a packed query, never raw floats
    (the round-7 hole: an unpacked f64 query made bitwise_xor throw on the
    first Hamming distance eval).  Validates raw dims against the sidecar
    BEFORE packing, mirroring the reference's dimension check (P9)."""
    q = np.asarray(query, dtype=np.float64)
    if q.shape[-1] != dims:
        raise ValueError(
            f"query has {q.shape[-1]} dimensions, index stores {dims}")
    if space == SpaceType.HAMMING:
        return _b1_pack_rows(q[None, :])[0]
    if space == SpaceType.COSINE:
        qn = np.linalg.norm(q)
        return q / qn if qn else q
    return q


def _prep(vecs: np.ndarray, space: SpaceType) -> np.ndarray:
    """Scoring matrix per space (usearch.rs:463-487 metric kinds):
    cosine → unit-normalized f64 so dist = 1 - dot; dot_product → RAW f64
    (USearch "IP": dist = 1 - <a,b>, magnitudes matter); euclidean → raw
    f64 (L2sq); hamming → packed-B1 uint8 pass-through (already packed by
    the build path; XOR-popcount scoring)."""
    if space == SpaceType.HAMMING:
        return np.ascontiguousarray(vecs, dtype=np.uint8)
    v = vecs.astype(np.float64)
    if space == SpaceType.COSINE:
        n = np.linalg.norm(v, axis=1, keepdims=True)
        n[n == 0.0] = 1.0
        return v / n
    return v


def _dists(mat: np.ndarray, nodes, q: np.ndarray, space: SpaceType) -> np.ndarray:
    if space in (SpaceType.COSINE, SpaceType.DOT_PRODUCT):
        # same kernel, different _prep: cosine scores the normalized matrix,
        # dot_product the raw one (1 - <a,b>, usearch.rs "IP")
        return 1.0 - mat[nodes] @ q
    if space == SpaceType.HAMMING:
        return _POPCNT[np.bitwise_xor(mat[nodes], q)].sum(axis=1).astype(np.float64)
    d = mat[nodes] - q
    return np.einsum("ij,ij->i", d, d)


def _pairwise(mat: np.ndarray, rows: np.ndarray, cols: np.ndarray,
              space: SpaceType) -> np.ndarray:
    """Dense |rows|×|cols| distance block (repair-time bridging only —
    component sizes, not slice sizes)."""
    if space in (SpaceType.COSINE, SpaceType.DOT_PRODUCT):
        return 1.0 - mat[rows] @ mat[cols].T
    if space == SpaceType.HAMMING:
        x = np.bitwise_xor(mat[rows][:, None, :], mat[cols][None, :, :])
        return _POPCNT[x].sum(-1).astype(np.float64)
    return ((mat[rows, None, :] - mat[None, cols, :]) ** 2).sum(-1)


def _search_layer(mat, adj_at, q, entries, ef, space, allowed=None):
    """Best-first beam search on one layer (usearch.rs:203-248 semantics).

    ``allowed``: optional bool mask — traversal walks every node but only
    allowed ones enter the result heap (predicate-inside-traversal,
    usearch.rs:1108-1154).  Returns (nodes, dists) sorted ascending."""
    visited = set(entries)
    ed = _dists(mat, list(entries), q, space)
    cand = [(d, int(v)) for d, v in zip(ed, entries)]  # min-heap
    heapq.heapify(cand)
    res: list = []  # max-heap via negated dist
    for d, v in zip(ed, entries):
        if allowed is None or allowed[v]:
            heapq.heappush(res, (-d, int(v)))
    while cand:
        d, v = heapq.heappop(cand)
        if len(res) >= ef and d > -res[0][0]:
            break
        nbrs = [u for u in adj_at(v) if u not in visited]
        if not nbrs:
            continue
        visited.update(nbrs)
        nd = _dists(mat, nbrs, q, space)
        worst = -res[0][0] if len(res) >= ef else np.inf
        for du, u in zip(nd, nbrs):
            if du < worst or len(res) < ef:
                heapq.heappush(cand, (du, u))
                if allowed is None or allowed[u]:
                    heapq.heappush(res, (-du, u))
                    if len(res) > ef:
                        heapq.heappop(res)
                    worst = -res[0][0] if len(res) >= ef else np.inf
    out = sorted((-nd, u) for nd, u in res)
    return [u for _, u in out], [d for d, _ in out]


def _greedy_descend(mat, adj, q, entry, from_level, to_level, space):
    """Greedy single-link descent through the upper layers."""
    cur = entry
    cd = float(_dists(mat, [cur], q, space)[0])
    for lev in range(from_level, to_level, -1):
        changed = True
        while changed:
            changed = False
            nbrs = adj[cur][lev]
            if len(nbrs) == 0:
                break
            nd = _dists(mat, nbrs, q, space)
            j = int(np.argmin(nd))
            if nd[j] < cd:
                cd = float(nd[j])
                cur = int(nbrs[j])
                changed = True
    return cur, cd


def _build_graph(ids: np.ndarray, fvecs: np.ndarray, m: int, ef_construction: int,
                 space: SpaceType, alpha: float = 1.0):
    """Incremental HNSW construction over one slice (numpy, deterministic).

    Insertion order is ascending id; neighbor selection is plain
    nearest-M (the reference exposes no heuristic knob); back-links prune
    to Mmax = m (upper layers) / 2m (layer 0), the standard caps.  After
    all inserts, layer 0 is union-find checked and stray components are
    bridged to their nearest main-component node so ef>=n search is
    exhaustive (the determinism/exactness tests rely on this)."""
    n = len(ids)
    mat = _prep(fvecs, space)
    levels = _levels_of(ids, m)
    adj: list[list[np.ndarray]] = [
        [np.empty(0, dtype=np.int32) for _ in range(int(levels[i]) + 1)]
        for i in range(n)
    ]
    if n == 0:
        return levels, adj, -1, -1
    entry, max_lvl = _insert_nodes(
        mat, adj, levels, 0, int(levels[0]), 1, m, ef_construction, space)
    _repair_layer0(mat, adj, space, m, alpha)
    return levels, adj, entry, max_lvl


def _insert_nodes(mat, adj, levels, entry, max_lvl, start, m, efc, space):
    """Link nodes ``start..len(mat)-1`` into an existing graph with the
    standard HNSW insertion (greedy descend above the node's level, beam +
    nearest-M linking at and below, back-link pruning to the layer cap).
    Shared by the build-time loop, the incremental upsert, and the pure
    in-memory tests. Returns the updated (entry, max_lvl)."""
    m0 = 2 * m
    for i in range(start, len(mat)):
        li = int(levels[i])
        while len(adj) <= i:
            adj.append([np.empty(0, dtype=np.int32) for _ in range(li + 1)])
        q = mat[i]
        if entry < 0:
            entry, max_lvl = i, li
            continue
        cur, _ = _greedy_descend(mat, adj, q, entry, max_lvl, li, space)
        for lev in range(min(li, max_lvl), -1, -1):
            cands, _ = _search_layer(
                mat, lambda v, lev=lev: adj[v][lev] if lev < len(adj[v]) else (),
                q, [cur], efc, space)
            cap = m0 if lev == 0 else m
            nbrs = np.asarray(cands[:cap], dtype=np.int32)
            adj[i][lev] = nbrs
            for u in nbrs:
                newl = np.append(adj[u][lev], np.int32(i))
                if len(newl) > cap:
                    nd = _dists(mat, newl, mat[u], space)
                    keep = np.lexsort((newl, nd))[:cap]
                    newl = newl[np.sort(keep)]
                adj[u][lev] = newl
            if cands:
                cur = cands[0]
        if li > max_lvl:
            entry, max_lvl = i, li
    return entry, max_lvl


def _select_diverse(mat, u, nbrs, space, cap, alpha: float = 1.0):
    """The HNSW neighbor-selection heuristic (Malkov & Yashunin Alg. 4, the
    rule USearch inherits): scan candidates nearest-first, keep c only if it
    is closer to u than to every already-kept neighbor — this preserves the
    long-range "diverse" links pure nearest-k destroys (the round-7 recall
    regression) — then fill remaining slots with the nearest pruned
    candidates (keepPrunedConnections), so degrees stay at the cap.

    ``alpha`` is Vamana's RobustPrune slack (the reference's DiskANN-class
    engine variant, diskann.rs:452-464; DiskannAlpha validation
    lib.rs:161-168): a candidate is pruned only when some kept neighbor is
    more than alpha-times closer to it than the node is — alpha=1.0 is the
    plain HNSW rule, alpha>1 keeps more nearby candidates (denser local
    neighborhoods, the DiskANN default 1.2)."""
    nd = _dists(mat, nbrs, mat[u], space)
    order = np.lexsort((nbrs, nd))
    kept: list[int] = []
    pruned: list[int] = []
    for t in order:
        if len(kept) >= cap:
            break
        c = int(nbrs[t])
        if kept and np.any(
                alpha * _dists(mat, kept, mat[c], space) < nd[t]):
            pruned.append(c)
            continue
        kept.append(c)
    for c in pruned:
        if len(kept) >= cap:
            break
        kept.append(c)
    return set(kept)


def _repair_layer0(mat, adj, space, m: int | None = None,
                   alpha: float = 1.0) -> None:
    """Restore layer-0 navigability after back-link pruning: (1) symmetrize
    the bottom layer (beam search follows out-edges, so a pruned reverse
    link would leave nodes unreachable — the symmetric closure makes
    directed reachability equal undirected connectivity, at a small degree
    overshoot on hub nodes), (2) re-cap symmetrized degrees at 2m with the
    DIVERSIFIED selection rule (without a cap, repeated incremental upserts
    grow hub-node degrees — and blob size / per-hop beam cost — without
    bound; with pure nearest-k the cap severed the long-range links
    navigability needs and recall@10 regressed 0.9→0.8), then (3) bridge
    any remaining disconnected components to the seed component so ef>=n
    search is exhaustive. The cap runs BEFORE the component check so a
    cap-induced cut is immediately re-bridged."""
    n = len(adj)
    if n == 0:
        return
    incoming: list[list[int]] = [[] for _ in range(n)]
    for v in range(n):
        for u in adj[v][0]:
            incoming[int(u)].append(v)
    for u in range(n):
        have = set(int(x) for x in adj[u][0])
        missing = [v for v in incoming[u] if v not in have]
        if missing:
            adj[u][0] = np.append(adj[u][0],
                                  np.asarray(missing, dtype=np.int32))
    if m is not None:
        cap = 2 * m
        kept: list[set] = []
        over = False
        for u in range(n):
            nbrs = adj[u][0]
            if len(nbrs) > cap:
                kept.append(_select_diverse(mat, u, nbrs, space, cap, alpha))
                over = True
            else:
                kept.append({int(x) for x in nbrs})
        if over:
            # an edge survives if EITHER endpoint kept it: one-way-only
            # drops would break the symmetric-reachability argument, and
            # both-must-keep (round 7) shattered the layer into components
            # the bridger then re-wired through hubs. Either-keeps bounds
            # hub degree at cap + (edges other nodes insist on), which the
            # diversity rule keeps small in practice — the determinism test
            # pins the exact topology, the degree test pins the bound.
            for u in range(n):
                adj[u][0] = np.asarray(
                    sorted(kept[u] | {v for v in map(int, adj[u][0])
                                      if u in kept[v]}),
                    dtype=np.int32)
    comp = np.full(n, -1, dtype=np.int64)
    cid = 0
    for s in range(n):
        if comp[s] >= 0:
            continue
        stack = [s]
        comp[s] = cid
        while stack:
            v = stack.pop()
            for u in adj[v][0]:
                if comp[u] < 0:
                    comp[u] = cid
                    stack.append(int(u))
        cid += 1
    if cid == 1:
        return
    main = 0  # component of node 0 (the first insert seeds the graph)
    main_nodes = np.flatnonzero(comp == comp[main])
    for c in range(cid):
        if c == comp[main]:
            continue
        nodes = np.flatnonzero(comp == c)
        d = _pairwise(mat, nodes, main_nodes, space)
        i, j = np.unravel_index(np.argmin(d), d.shape)
        a, b = int(nodes[i]), int(main_nodes[j])
        adj[a][0] = np.append(adj[a][0], np.int32(b))
        adj[b][0] = np.append(adj[b][0], np.int32(a))


def _quantize_i8(v: np.ndarray, scale: float | None = None):
    """Symmetric linear i8 quantization (the USearch `quantization: i8`
    storage kind, usearch.rs:503-513): one scale per slice, values clipped
    to [-127, 127].  Deterministic; scoring dequantizes with the stored
    scale."""
    if scale is None:
        m = float(np.max(np.abs(v))) if v.size else 0.0
        scale = (m / 127.0) if m > 0 else 1.0
    iv = np.clip(np.round(v / scale), -127, 127).astype(np.int8)
    return iv, float(scale)


def _encode(slice_id, ids, fvecs, levels, adj, entry, max_lvl, deleted=None,
            qscale=0.0, quant="f32"):
    counts, flat = [], []
    for lists in adj:
        for nbrs in lists:
            counts.append(len(nbrs))
            flat.append(np.asarray(nbrs, dtype=np.int32))
    flat_arr = np.concatenate(flat) if flat else np.empty(0, dtype=np.int32)
    dele = (deleted if deleted is not None
            else np.zeros(len(ids), dtype=np.uint8))
    if quant == "i8":
        vec_bytes = fvecs.astype(np.int8).tobytes()
    elif quant == "b1":
        vec_bytes = fvecs.astype(np.uint8).tobytes()  # packed sign bits
    else:
        vec_bytes = fvecs.astype(np.float32).tobytes()
    return {
        "slice": int(slice_id), "n": int(len(ids)), "entry": int(entry),
        "max_level": int(max_lvl),
        "ids": ids.astype(np.int64).tobytes(),
        "vecs": vec_bytes,
        "levels": levels.astype(np.int8).tobytes(),
        "nbr_counts": np.asarray(counts, dtype=np.int32).tobytes(),
        "nbr_flat": flat_arr.tobytes(),
        "deleted": dele.tobytes(),
        "qscale": float(qscale),
    }


def _decode(row, dims: int, quant: str = "f32"):
    ids = np.frombuffer(row["ids"], dtype=np.int64)
    n = len(ids)
    if quant == "i8":
        iv = np.frombuffer(row["vecs"], dtype=np.int8).reshape(n, dims)
        fvecs = iv.astype(np.float32) * np.float32(row["qscale"])
    elif quant == "b1":
        # packed sign bits: the stored form IS the scoring form (XOR-popcount)
        fvecs = np.frombuffer(row["vecs"], dtype=np.uint8).reshape(
            n, (dims + 7) // 8)
    else:
        fvecs = np.frombuffer(row["vecs"], dtype=np.float32).reshape(n, dims)
    levels = np.frombuffer(row["levels"], dtype=np.int8)
    counts = np.frombuffer(row["nbr_counts"], dtype=np.int32)
    flat = np.frombuffer(row["nbr_flat"], dtype=np.int32)
    deleted = np.frombuffer(row["deleted"], dtype=np.uint8).copy()
    adj, pos, fpos = [], 0, 0
    for i in range(n):
        lists = []
        for _ in range(int(levels[i]) + 1):
            c = int(counts[pos]); pos += 1
            lists.append(flat[fpos:fpos + c]); fpos += c
        adj.append(lists)
    return ids, fvecs, levels, adj, int(row["entry"]), int(row["max_level"]), deleted


def hnsw_build(
    items: DataFrame,
    id_col: str,
    vec_col: str,
    path: str,
    m: int = 16,
    ef_construction: int = 128,
    num_slices: int = 4,
    space: SpaceType = SpaceType.COSINE,
    payload_cols: Sequence[str] = (),
    part_col: str | None = None,
    quantization: str = "f32",
    alpha: float = 1.0,
) -> dict:
    """Build the sliced HNSW layout at ``path``.

    ``m`` = the reference's `connectivity`, ``ef_construction`` =
    `expansion_add` (lib.rs:594-601).  Slice assignment is ``id %
    num_slices`` (SQL-re-derivable, unlike a seeded xxhash).  Writes:
    ``path/graph`` — one packed-blob row per slice, partitioned by slice;
    ``path/payload`` — columnar (slice, node, id, payload...) for
    predicate evaluation, partitioned by slice; ``path/_hnsw_meta.json``.
    Returns the meta dict.

    ``part_col`` switches to the LOCAL layout (lib.rs:677-680;
    usearch.rs:815-864 builds one USearch index per partition): slices are
    the distinct partition-key values (mapping persisted in the sidecar)
    instead of an id hash, so a partition-restricted query loads exactly
    one sub-graph directory — query with hnsw_search_local.

    ``quantization='i8'`` stores the graph's vectors as int8 with one
    per-slice scale (the USearch `quantization` index option,
    usearch.rs:503-513): 4x smaller blobs, graph links computed on the
    dequantized values, search scores approximately and recovers exact
    values via hnsw_search's ``rescore_with`` (the reference rescoring
    model: quantized index recall, original-vector values —
    quantization_and_rescoring.rs).

    ``space='hamming'`` requires (and implies) ``quantization='b1'``: the
    graph stores sign-packed bits (32x smaller) and traversal scores
    XOR-popcount — USearch's B1↦Hamming coupling (usearch.rs:1179-1205).
    Any other space/quantization combination that the graph cannot score
    raises here rather than silently falling back to l2sq."""
    from vector_store_spark.sources.index_store import fresh_dir

    _validate_space_quant(space, quantization)
    # DiskannAlpha validation (lib.rs:161-168): finite and > 0
    alpha = float(alpha)
    if not np.isfinite(alpha) or alpha <= 0:
        raise ValueError(f"alpha must be finite and > 0, got {alpha}")
    spark = items.sparkSession
    dims = None
    part_map = None
    if part_col is not None:
        vals = sorted(
            r[0] for r in items.select(part_col).distinct().collect()
        )  # metadata-sized: one entry per partition key
        part_map = {v: i for i, v in enumerate(vals)}
        num_slices = len(vals)
        map_expr = F.create_map(
            *[x for v, i in part_map.items() for x in (F.lit(v), F.lit(i))]
        )
        sliced = items.withColumn(
            "slice", map_expr[F.col(part_col)].cast("int"))
    else:
        sliced = items.withColumn(
            "slice", F.pmod(F.col(id_col), F.lit(num_slices)).cast("int"))
    # three consumers (graph build, payload write, dims probe) — under CDC
    # maintenance `items` is a snapshot-read + LWW-merge plan; cache once
    sliced = sliced.cache()

    def build(pdf):
        import pandas as pd

        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        fvecs = np.vstack(pdf[vec_col].to_numpy()).astype(np.float32)
        qscale = 0.0
        if quantization == "i8":
            iv, qscale = _quantize_i8(fvecs)
            fvecs = iv  # stored as int8; graph links score the dequantized
            scored = iv.astype(np.float32) * np.float32(qscale)
        elif quantization == "b1":
            fvecs = _b1_pack_rows(fvecs)  # packed bits are both store + score
            scored = fvecs
        else:
            scored = fvecs
        levels, adj, entry, max_lvl = _build_graph(
            ids, scored, m, ef_construction, space, alpha)
        return pd.DataFrame([_encode(int(pdf["slice"].iloc[0]), ids, fvecs,
                                     levels, adj, entry, max_lvl,
                                     qscale=qscale, quant=quantization)])

    fresh_dir(path)
    # ONE full-scan job materializes the sliced cache AND answers the dims
    # probe (vectors are uniform-width in any buildable input — vstack in
    # the build UDF enforces it — so max(size) IS the row width; the old
    # first()-probe read the same number). With the cache resident, the
    # graph and payload legs below are independent cache-read jobs over
    # DISJOINT output directories and run concurrently.
    dims_row = sliced.agg(
        F.max(F.size(F.col(vec_col).cast("array<double>")))).first()
    dims = int(dims_row[0]) if dims_row[0] is not None else 0

    # cache the blobs so the dead-stats census below reads the build output
    # straight from memory instead of re-scanning the just-written parquet
    # (one fewer job + footer read per build — the blobs are index-sized)
    graph = sliced.groupBy("slice").applyInPandas(build, _GRAPH_SCHEMA).cache()

    def _graph_leg():
        graph.write.partitionBy("slice").parquet(os.path.join(path, "graph"))

    def _payload_leg():
        w = Window.partitionBy("slice").orderBy(id_col)
        payload = sliced.withColumn(
            "node", F.row_number().over(w) - F.lit(1)
        ).select("slice", "node", id_col, *payload_cols)
        # the window already hash-partitions by slice, so each task holds
        # whole slices and partitionBy writes one file per slice — the extra
        # repartition("slice") exchange bought nothing (guide §2.4)
        payload.write.partitionBy("slice").parquet(
            os.path.join(path, "payload"))

    # payload hides under the graph compute (guide §1.2)
    parallel_legs(_graph_leg, _payload_leg)
    sliced.unpersist()
    meta = {
        "space": space.value, "m": m, "ef_construction": ef_construction,
        "num_slices": num_slices, "dims": dims, "id_col": id_col,
        "vec_col": vec_col,  # upsert selects it explicitly (never inferred)
        "payload_cols": list(payload_cols), "quantization": quantization,
        "alpha": alpha,  # Vamana RobustPrune slack (diskann.rs:452-464)
    }
    if part_map is not None:
        meta["part_col"] = part_col
        meta["partitions"] = [[v, i] for v, i in part_map.items()]
    # seed the per-slice tombstone census (all live at build time) from the
    # CACHED build output — same rows the write just persisted
    meta["dead_stats"] = {
        str(r["slice"]): [int(r["n"]), 0]
        for r in graph.select("slice", "n").collect()
    }
    graph.unpersist()
    with open(os.path.join(path, "_hnsw_meta.json"), "w") as f:
        json.dump(meta, f)
    return meta


def _validate_space_quant(space: SpaceType, quantization: str) -> None:
    """Reject space/quantization combinations the graph cannot score —
    previously any unknown space silently scored as l2sq (the round-6
    latent wrong-answer path). Mirrors USearch's metric-kind coupling:
    B1 storage is Hamming-only and Hamming is B1-only (usearch.rs:463-487,
    1179-1205); f32/i8 storage scores cosine / l2sq / IP."""
    if quantization not in ("f32", "i8", "b1"):
        raise ValueError(f"unknown hnsw quantization {quantization!r}")
    if space == SpaceType.HAMMING and quantization != "b1":
        raise ValueError(
            "hamming hnsw requires quantization='b1' (sign-packed bits; "
            "usearch.rs:1179-1205 scores Hamming over B1 storage)")
    if quantization == "b1" and space != SpaceType.HAMMING:
        raise ValueError(
            "quantization='b1' stores sign bits only — score it with "
            "space='hamming' (other metrics lose magnitude information)")
    if space not in (SpaceType.COSINE, SpaceType.EUCLIDEAN,
                     SpaceType.DOT_PRODUCT, SpaceType.HAMMING):
        raise ValueError(f"hnsw cannot score space {space!r}")


def _read_meta(path: str) -> dict:
    with open(os.path.join(path, "_hnsw_meta.json")) as f:
        return json.load(f)


def graph_fingerprint(path: str) -> tuple:
    """Cheap change detector for a persisted graph layout: (relpath, size,
    mtime_ns) of the meta file and every file under ``path``/graph. CRUD
    (upsert/delete/compact) rewrites touched slice parquet files and the
    meta, so any in-place mutation changes the tuple. Consumed by the
    serving cache's staleness check (engine.HnswServingCache) — a stat
    walk over num_slices files per request, microseconds."""
    out = []
    meta_p = os.path.join(path, "_hnsw_meta.json")
    if os.path.exists(meta_p):
        st = os.stat(meta_p)
        out.append(("_hnsw_meta.json", st.st_size, st.st_mtime_ns))
    gdir = os.path.join(path, "graph")
    for root, _dirs, files in os.walk(gdir):
        rel = os.path.relpath(root, gdir)
        for f in sorted(files):
            st = os.stat(os.path.join(root, f))
            out.append((os.path.join(rel, f), st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


def _dead_stats_from_blobs(blobs: DataFrame) -> dict:
    """{slice: [n, dead]} for every slice in a blob frame — the popcount
    runs executor-side over the (usually cached) blobs, only one tiny row
    per slice comes back."""
    import pandas as pd

    def counts(iterator):
        for pdf in iterator:
            yield pd.DataFrame({
                "slice": pdf["slice"],
                "n": pdf["n"],
                "dead": [int(np.frombuffer(b, dtype=np.uint8).sum())
                         for b in pdf["deleted"]],
            })

    return {
        int(r["slice"]): [int(r["n"]), int(r["dead"])]
        for r in blobs.select("slice", "n", "deleted")
        .mapInPandas(counts, "slice int, n int, dead long").collect()
    }


def _update_dead_stats(path: str, meta: dict, updates: dict) -> None:
    """Merge per-slice {slice: [n, dead]} updates into the sidecar's
    ``dead_stats`` and persist the meta. Every blob write keeps the stats
    current, so the compaction TRIGGER (hnsw_compact's per-slice dead
    fraction) is driver-side arithmetic on the sidecar — no graph scan —
    and a maintenance loop can poll it per batch for free."""
    stats = {int(k): list(v) for k, v in meta.get("dead_stats", {}).items()}
    stats.update({int(k): list(v) for k, v in updates.items()})
    meta["dead_stats"] = {str(k): v for k, v in sorted(stats.items())}
    with open(os.path.join(path, "_hnsw_meta.json"), "w") as f:
        json.dump(meta, f)


def _staged_payload_commit(spark, path: str, frame: DataFrame, touched) -> None:
    """Rewrite the ``touched`` slices of ``path/payload`` with ``frame`` via
    a STAGING directory + per-partition rename (VERDICT r17 Next #3).

    The pre-r18 shape paid TWO jobs per maintenance wave: a present-slice
    ``distinct().collect()`` to materialize the frame's cache (the dynamic
    overwrite was about to invalidate the payload read the frame's lineage
    depends on) plus the overwrite itself. Writing to a staging dir needs NO
    cache (the lineage's payload read is untouched while the job runs) and
    the present set falls out of the staging dir listing — one job, and the
    emptied-touched-slice cleanup (dynamic overwrite only rewrites
    partitions PRESENT in the output, so an emptied slice would keep its
    stale files) uses the same listing. All fs ops go through the Hadoop
    FileSystem API (local paths and HDFS/S3A alike); rename is per-partition
    dir, the same commit granularity dynamic partition overwrite has.

    The staging dir must hold ONLY this commit's slices: a leftover from a
    commit that crashed is deleted first, and the write is a static
    overwrite whatever the session's partitionOverwriteMode (a dynamic one
    would keep stale ``slice=`` dirs and the listing would rename them into
    the live payload). A rename that returns false raises: the destination
    slice was just deleted, so a silent false would lose it."""
    store = HadoopDir(spark, path)
    store.delete("_payload_staging")
    frame.repartition("slice").write.partitionBy("slice").option(
        "partitionOverwriteMode", "static").mode("overwrite").parquet(
        store.uri("_payload_staging"))
    present = set()
    for name in store.ls("_payload_staging"):
        if not name.startswith("slice="):
            continue  # _SUCCESS and friends
        present.add(int(name.split("=", 1)[1]))
        store.delete("payload", name)
        store.rename(("_payload_staging", name), ("payload", name))
    for s in touched:
        if int(s) not in present:
            store.delete("payload", f"slice={int(s)}")
    store.delete("_payload_staging")


def _round_half_away(d: float, round_to: int) -> float:
    """Round half away from zero — the semantics of Spark's F.round
    (HALF_UP), applied to the k-boundary tie key and the cached-path merge
    so both sort on the same value."""
    scale = 10.0 ** round_to
    return float(np.floor(abs(d) * scale + 0.5) / scale * (1 if d >= 0 else -1))


def _slice_search(row, dims, query, k, ef, space, allowed_nodes, quant="f32",
                  round_to=None, exhaustive=False):
    decoded = _decode(row, dims, quant)
    ids, fvecs = decoded[0], decoded[1]
    if len(ids) == 0 or decoded[4] < 0:
        return [], []
    mat = _prep(fvecs, space)
    q = _prep_query(query, space, dims)
    return _search_prepped(
        ids, mat, decoded[3], decoded[4], decoded[5], decoded[6],
        q, k, ef, space, allowed_nodes, round_to, exhaustive)


def _search_prepped(ids, mat, adj, entry, max_lvl, deleted, q, k, ef, space,
                    allowed_nodes=None, round_to=None, exhaustive=False):
    """Search one DECODED, PREPPED slice (mat = _prep(fvecs), q =
    _prep_query(query)). Shared verbatim by the distributed per-slice tasks
    (via _slice_search) and the RAM-resident HnswServingCache
    (engine.py) — the parity contract between the two paths is this single
    code path, not two implementations kept in sync."""
    n = len(ids)
    if n == 0 or entry < 0:
        return [], []
    allowed = deleted == 0
    if allowed_nodes is not None:
        mask = np.zeros(n, dtype=bool)
        valid = np.asarray(allowed_nodes, dtype=np.int64)
        mask[valid[valid < n]] = True
        allowed &= mask
    if exhaustive:
        # exact tier of the adaptive filtered guard: score every allowed
        # node directly (one BLAS batch over a min_candidates-bounded set)
        # instead of traversing — exact top-k OF the filtered set even if
        # the graph leaves an allowed node unreachable
        node_arr = np.nonzero(allowed)[0]
        dists = list(_dists(mat, list(node_arr), q, space)) if len(node_arr) else []
        nodes = [int(v) for v in node_arr]
    else:
        if entry >= n:
            entry = 0
        cur, _ = _greedy_descend(mat, adj, q, entry, max_lvl, 0, space)
        ef_eff = max(ef, k)
        nodes, dists = _search_layer(
            mat, lambda v: adj[v][0], q, [cur], ef_eff, space, allowed=allowed)
    # k-boundary ties break on the ROUNDED distance then ID — two reasons:
    # (1) after CRUD the node order diverges from id order (fresh nodes
    # append), and (2) the beam evaluates distances in per-expansion BLAS
    # batches whose last-ulp rounding can differ for exactly-tied vectors,
    # which would pick a different boundary member than the downstream
    # ORDER BY round(distance), id. Keying the truncation on the same
    # rounded value the global merge sorts on makes the choice consistent.
    def _key_d(d):
        if round_to is None:
            return d
        return _round_half_away(d, round_to)

    order = sorted(range(len(nodes)),
                   key=lambda t: (_key_d(dists[t]), int(ids[nodes[t]])))[:k]
    return [int(ids[nodes[t]]) for t in order], [dists[t] for t in order]


def hnsw_search(
    spark,
    path: str,
    query: Sequence[float],
    k: int,
    ef_search: int = 64,
    predicate=None,
    round_to: int | None = None,
    cache: bool = False,
    rescore: int = 0,
    rescore_with=None,
    min_candidates: int | None = None,
) -> DataFrame:
    """Search every slice's graph, merge per-slice top-k (one
    TakeOrderedAndProject; no shuffle — the scan is ``num_slices`` blob
    rows).  ``ef_search`` = the reference's `expansion_search` beam width.

    ``min_candidates`` (with a predicate) arms the adaptive filtered guard
    — the graph twin of ivf.adaptive_nprobe's count-then-tier contract: ONE
    payload aggregation resolves the live total AND the filtered count
    (payload rows are exactly the live nodes), then either (a) the filtered
    set is at/under the floor → every allowed node is scored directly (one
    BLAS batch per slice, exact top-k OF the filtered set even for
    graph-unreachable nodes), or (b) the beam widens to
    ef ≈ min_candidates · live/filtered so the expected number of allowed
    nodes entering the result heap stays above the floor — a selective
    predicate cannot starve the beam (the known filtered-HNSW failure
    mode).

    ``predicate``: boolean Column over the payload columns.  It is
    evaluated on the columnar payload table (pushed parquet filters) and
    reduced to a per-slice allow-list consumed by traversal — the
    reference's restricted search (usearch.rs:1108-1154): the walk visits
    the full graph, only matching nodes enter the beam's result heap, and
    the top-k is OF the filtered set (T2).  Output: (id, distance,
    similarity) — back-join payload/base columns by id (J1) downstream.

    ``rescore`` + ``rescore_with=(base_df, vec_col)``: for quantized
    layouts, each slice emits rescore·k candidates scored on the
    dequantized stored vectors, then the ORIGINAL vectors are fetched from
    the base table by id (the reference re-reads the DB for rescoring —
    quantization_and_rescoring.rs) and the final top-k is exact over that
    pool: quantized recall, full-precision values."""
    meta = _read_meta(path)
    if "partitions" in meta:
        # mirror of hnsw_search_local's inverse guard: a LOCAL layout keeps
        # ids unique per PARTITION, not globally, so a cross-slice merge
        # could surface the same id from several sub-graphs (lib.rs:677-680
        # scopes local indexes to one partition's keyspace)
        raise ValueError("local HNSW layout; use hnsw_search_local")
    dims, space = meta["dims"], SpaceType(meta["space"])
    id_col = meta["id_col"]
    quant = meta.get("quantization", "f32")
    graph = spark.read.parquet(os.path.join(path, "graph"))
    if cache:
        graph = graph.cache()
    q = [float(x) for x in query]
    k_emit = max(1, rescore) * k
    exhaustive = False
    if predicate is not None and min_candidates is not None:
        # one pushed, column-pruned aggregation resolves both tier inputs
        totals = spark.read.parquet(os.path.join(path, "payload")).agg(
            F.count("*").alias("live"),
            F.count(F.when(predicate, 1)).alias("matched"),
        ).first()
        n_live, n_filtered = int(totals["live"]), int(totals["matched"])
        if n_filtered <= min_candidates:
            exhaustive = True
        elif n_live > 0:
            import math

            ef_search = min(n_live, max(
                ef_search, math.ceil(min_candidates * n_live / n_filtered)))
    if predicate is not None:
        # allow-list as DATA, not driver state: the matching payload rows
        # (slice, node) COGROUP with the slice blobs, so a broad predicate's
        # node set shuffles straight to its slice's task — no collect_list
        # aggregation, no driver-sized broadcast (at 100 TB a 50% predicate
        # would otherwise broadcast half the corpus's node ids)
        pay = spark.read.parquet(os.path.join(path, "payload")).where(
            predicate).select("slice", "node")

        def run_filtered(key, nodes_pdf, graph_pdf):
            import pandas as pd

            if len(graph_pdf) == 0 or len(nodes_pdf) == 0:
                return pd.DataFrame({id_col: pd.Series(dtype="int64"),
                                     "distance": pd.Series(dtype="float64")})
            row = graph_pdf.iloc[0]
            ids, dists = _slice_search(
                row, dims, q, k_emit, ef_search, space,
                nodes_pdf["node"].to_numpy(), quant, round_to,
                exhaustive=exhaustive)
            return pd.DataFrame({id_col: pd.Series(ids, dtype="int64"),
                                 "distance": pd.Series(dists, dtype="float64")})

        res = pay.groupBy("slice").cogroup(graph.groupBy("slice")).applyInPandas(
            run_filtered, f"{id_col} long, distance double")
    else:
        def run(iterator):
            import pandas as pd

            for pdf in iterator:
                out_ids, out_d = [], []
                for _, row in pdf.iterrows():
                    ids, dists = _slice_search(row, dims, q, k_emit, ef_search,
                                               space, None, quant, round_to)
                    out_ids.extend(ids)
                    out_d.extend(dists)
                yield pd.DataFrame({id_col: pd.Series(out_ids, dtype="int64"),
                                    "distance": pd.Series(out_d, dtype="float64")})

        res = graph.mapInPandas(run, f"{id_col} long, distance double")
    if rescore > 0:
        if rescore_with is None:
            raise ValueError("rescore needs rescore_with=(base_df, vec_col)")
        from vector_store_spark.operators.topk import ann_topk

        base_df, vec_col = rescore_with
        pool = base_df.join(F.broadcast(res.select(id_col)), id_col)
        return ann_topk(
            pool, vec_col, q, k, space=space, tie_break=[id_col],
            select_cols=[id_col], round_to=round_to,
        )
    if round_to is not None:
        res = res.withColumn("distance", F.round(F.col("distance"), round_to))
    res = res.orderBy(F.col("distance").asc(), F.col(id_col).asc()).limit(k)
    sim = similarity_expr(space, F.col("distance"), dims=dims)
    if round_to is not None:
        sim = F.round(sim, round_to)
    return res.withColumn("similarity", sim)


def hnsw_search_local(
    spark,
    path: str,
    part_value,
    query: Sequence[float],
    k: int,
    ef_search: int = 64,
    predicate=None,
    round_to: int | None = None,
    min_candidates: int | None = None,
) -> DataFrame:
    """Query ONE partition's HNSW sub-graph (the reference's LOCAL index
    search: the partition restriction selects a whole per-partition USearch
    index, usearch.rs:815-864 + lib.rs:677-680).  The slice Eq prunes the
    blob read to that partition's single graph directory (PartitionFilters);
    ``predicate`` composes as an allow-bitmap inside that sub-graph's
    traversal.

    ``min_candidates`` (with a predicate) arms the adaptive filtered guard
    over the PARTITION's payload — count-then-tier as in hnsw_search, with
    the slice Eq composed into the counting aggregation."""
    meta = _read_meta(path)
    if "partitions" not in meta:
        raise ValueError("not a local HNSW layout; use hnsw_search")
    sid = None
    for v, i in meta["partitions"]:
        if v == part_value:
            sid = i
            break
    if sid is None:
        raise KeyError(f"no sub-graph for partition {part_value!r}")
    dims, space = meta["dims"], SpaceType(meta["space"])
    id_col = meta["id_col"]
    quant = meta.get("quantization", "f32")
    graph = spark.read.parquet(os.path.join(path, "graph")).where(
        F.col("slice") == sid)
    q = [float(x) for x in query]
    exhaustive = False
    if predicate is not None and min_candidates is not None:
        totals = spark.read.parquet(os.path.join(path, "payload")).where(
            F.col("slice") == sid
        ).agg(
            F.count("*").alias("live"),
            F.count(F.when(predicate, 1)).alias("matched"),
        ).first()
        n_live, n_filtered = int(totals["live"]), int(totals["matched"])
        if n_filtered <= min_candidates:
            exhaustive = True
        elif n_live > 0:
            import math

            ef_search = min(n_live, max(
                ef_search, math.ceil(min_candidates * n_live / n_filtered)))
    if predicate is not None:
        # same cogrouped allow-list shape as hnsw_search: the sub-graph's
        # matching (slice, node) rows meet the one blob in its task
        pay = spark.read.parquet(os.path.join(path, "payload")).where(
            (F.col("slice") == sid) & predicate).select("slice", "node")

        def run_filtered(key, nodes_pdf, graph_pdf):
            import pandas as pd

            if len(graph_pdf) == 0 or len(nodes_pdf) == 0:
                return pd.DataFrame({id_col: pd.Series(dtype="int64"),
                                     "distance": pd.Series(dtype="float64")})
            row = graph_pdf.iloc[0]
            ids, dists = _slice_search(
                row, dims, q, k, ef_search, space,
                nodes_pdf["node"].to_numpy(), quant, round_to,
                exhaustive=exhaustive)
            return pd.DataFrame({id_col: pd.Series(ids, dtype="int64"),
                                 "distance": pd.Series(dists, dtype="float64")})

        res = pay.groupBy("slice").cogroup(graph.groupBy("slice")).applyInPandas(
            run_filtered, f"{id_col} long, distance double")
    else:
        def run(iterator):
            import pandas as pd

            for pdf in iterator:
                out_ids, out_d = [], []
                for _, row in pdf.iterrows():
                    ids, dists = _slice_search(row, dims, q, k, ef_search, space,
                                               None, quant, round_to)
                    out_ids.extend(ids)
                    out_d.extend(dists)
                yield pd.DataFrame({id_col: pd.Series(out_ids, dtype="int64"),
                                    "distance": pd.Series(out_d, dtype="float64")})

        res = graph.mapInPandas(run, f"{id_col} long, distance double")
    if round_to is not None:
        res = res.withColumn("distance", F.round(F.col("distance"), round_to))
    res = res.orderBy(F.col("distance").asc(), F.col(id_col).asc()).limit(k)
    sim = similarity_expr(space, F.col("distance"), dims=dims)
    if round_to is not None:
        sim = F.round(sim, round_to)
    return res.withColumn("similarity", sim)


def hnsw_knn_batch(
    spark,
    path: str,
    queries,
    k: int,
    ef_search: int = 64,
    round_to: int | None = None,
) -> DataFrame:
    """Batch kNN over the graph (J3's graph-accelerated twin): the query
    list rides into every slice task as literals (metadata-sized, like the
    GEMM path's broadcast query matrix), each slice beams every query
    through its sub-graph — O(Q·ef·log n) distance evals instead of the
    brute GEMM's O(Q·n) — and only slices·Q·k candidate rows reach the
    per-query window merge.  Output: (query_id, id, distance), exactly
    ``knn_join``'s contract, so the two batch engines are interchangeable.
    ``queries``: [(query_id, vector), ...]."""
    from pyspark.sql import Window

    meta = _read_meta(path)
    if "partitions" in meta:
        raise ValueError("local HNSW layout; use hnsw_search_local per partition")
    dims, space = meta["dims"], SpaceType(meta["space"])
    id_col = meta["id_col"]
    quant = meta.get("quantization", "f32")
    graph = spark.read.parquet(os.path.join(path, "graph"))
    qlist = [(str(n), [float(x) for x in v]) for n, v in queries]

    def run(iterator):
        import pandas as pd

        for pdf in iterator:
            names, out_ids, out_d = [], [], []
            for _, row in pdf.iterrows():
                for qn, qv in qlist:
                    ids, dists = _slice_search(row, dims, qv, k, ef_search,
                                               space, None, quant, round_to)
                    names.extend([qn] * len(ids))
                    out_ids.extend(ids)
                    out_d.extend(dists)
            yield pd.DataFrame({
                "query_id": pd.Series(names, dtype="object"),
                id_col: pd.Series(out_ids, dtype="int64"),
                "distance": pd.Series(out_d, dtype="float64"),
            })

    res = graph.mapInPandas(run, f"query_id string, {id_col} long, distance double")
    if round_to is not None:
        res = res.withColumn("distance", F.round(F.col("distance"), round_to))
    w = Window.partitionBy("query_id").orderBy(
        F.col("distance").asc(), F.col(id_col).asc())
    return (
        res.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


def hnsw_upsert(
    spark,
    path: str,
    items: DataFrame | None = None,
    ids_removed: Sequence | DataFrame | None = None,
) -> None:
    """One-pass incremental CRUD (the reference's `add`/`remove` surface,
    usearch.rs:74-92 — HNSW's core advantage over IVF/LSH rebuilds):
    tombstone ``ids_removed`` AND insert ``items``' rows in a SINGLE
    decode-modify-encode rewrite of the touched slice blobs. Semantics are
    identical to delete-then-insert — an id in both sets is tombstoned
    first and reinserted as a fresh node (the PrimaryId epoch bump,
    primary_id.rs:27-69) — but the fused pass halves the Spark jobs, which
    is the CDC maintenance hot path (streaming on_batch upserts every
    micro-batch).

    ``ids_removed`` is either a literal Sequence (small interactive
    deletes) or a single-column DataFrame of ids — the streaming shape: the
    key set stays distributed end-to-end (slice-tagged, unioned into the
    cogroup as marker rows), so no driver-collected key list ever feeds a
    plan predicate."""
    meta = _read_meta(path)
    dims, m = meta["dims"], meta["m"]
    efc, space = meta["ef_construction"], SpaceType(meta["space"])
    id_col, num_slices = meta["id_col"], meta["num_slices"]
    pay_cols = meta["payload_cols"]
    quant = meta.get("quantization", "f32")
    alpha = float(meta.get("alpha", 1.0))
    rem = None
    if isinstance(ids_removed, DataFrame):
        # consumed by three jobs (touched collect, cogroup markers, payload
        # anti-join) and typically backed by a micro-batch source — cache
        rem = ids_removed.select(
            F.col(ids_removed.columns[0]).cast("long").alias(id_col)
        ).distinct().cache()
        gone, gone_arr = [], np.empty(0, dtype=np.int64)
    else:
        gone = sorted(int(g) for g in (ids_removed or []))
        gone_arr = np.asarray(gone, dtype=np.int64)

    if items is None:
        if gone:
            _tombstone_only(spark, path, meta, gone)
        elif rem is not None:
            _tombstone_only_df(spark, path, meta, rem)
            rem.unpersist()
        return

    if "partitions" in meta:  # local layout: slice = partition-key mapping
        pc = meta["part_col"]
        map_expr = F.create_map(
            *[x for v, i in meta["partitions"] for x in (F.lit(v), F.lit(i))]
        )
        sliced = items.withColumn("slice", map_expr[F.col(pc)].cast("int"))
        if sliced.where(F.col("slice").isNull()).first() is not None:
            raise ValueError(
                "insert carries a partition value with no local sub-index; "
                "rebuild to add partitions (usearch.rs per-partition isolation)"
            )
        drop_for_vec = {id_col, pc}
    else:
        sliced = items.withColumn(
            "slice", F.pmod(F.col(id_col), F.lit(num_slices)).cast("int"))
        drop_for_vec = {id_col}
    vec_key = meta.get("vec_col")
    if vec_key is not None:
        if vec_key not in items.columns:
            raise ValueError(
                f"insert batch lacks the index's vector column {vec_key!r} "
                f"(persisted in the sidecar at build time)")
    else:
        # pre-vec_col sidecar: fall back to eliminating the known columns
        vec_key = [c for c in items.columns
                   if c not in drop_for_vec and c not in pay_cols][0]
    # a DataFrame key set rides INTO the cogroup as marker rows (_del=true),
    # slice-tagged the same way as inserts — the removals never touch the
    # driver (the streaming maintenance shape); a literal list stays a
    # broadcast closure (gone_arr)
    # the insert lineage can be expensive (CDC maintenance feeds a
    # snapshot-read + LWW-merge + semi-join plan here) and is consumed by
    # THREE jobs: the touched-slice collect, the cogroup rewrite, and the
    # payload merge. Cache it once; unpersist after the payload write.
    sliced = sliced.cache()
    grouped = sliced
    if rem is not None:
        if "partitions" in meta:
            # an id does not determine its partition — sweep every sub-graph
            slices_df = spark.createDataFrame(
                [(int(i),) for _, i in meta["partitions"]], "slice int")
            dels = rem.crossJoin(F.broadcast(slices_df))
        else:
            dels = rem.withColumn(
                "slice", F.pmod(F.col(id_col), F.lit(num_slices)).cast("int"))
        grouped = sliced.withColumn("_del", F.lit(False)).unionByName(
            dels.withColumn("_del", F.lit(True)), allowMissingColumns=True)
    graph_all = spark.read.parquet(os.path.join(path, "graph"))
    # ONE job resolves both driver-side facts: the touched slice set AND the
    # pre-insert blob sizes (metadata-sized: one row per touched slice; the
    # n column is tiny, parquet prunes the blob columns). Snapshotting n NOW
    # matters — a lazy read would see post-overwrite state. Insert numbering
    # only needs pre_n for slices that receive inserts, which all appear in
    # `grouped`, so gone-only slices (added below) don't need a second pass.
    info = grouped.select("slice").distinct().join(
        graph_all.select("slice", "n"), "slice", "left").collect()
    touched = {r["slice"] for r in info}
    pre_n = {r["slice"]: r["n"] for r in info if r["n"] is not None}
    if gone:
        if "partitions" in meta:
            # an id does not determine its partition — sweep every sub-graph
            touched.update(i for _, i in meta["partitions"])
        else:
            touched.update(int(g) % num_slices for g in gone)
    touched = sorted(touched)
    graph = graph_all.where(F.col("slice").isin(touched))

    def ins(key, new, right):
        import pandas as pd

        blob = right.iloc[0] if len(right) else None
        sl = int(key[0])
        if "_del" in new.columns:
            dmask = new["_del"].fillna(False).astype(bool)
            del_ids = new.loc[dmask, id_col].to_numpy(dtype=np.int64)
            new = new.loc[~dmask]
        else:
            del_ids = gone_arr
        if len(new) == 0:
            # delete-only slice in a fused upsert: mark tombstones, done
            if blob is None:
                return pd.DataFrame(
                    columns=["slice", "n", "entry", "max_level", "ids",
                             "vecs", "levels", "nbr_counts", "nbr_flat",
                             "deleted", "qscale"])
            d = blob.to_dict()
            ids0 = np.frombuffer(d["ids"], dtype=np.int64)
            dele = np.frombuffer(d["deleted"], dtype=np.uint8).copy()
            dele[np.isin(ids0, del_ids)] = 1
            d["deleted"] = dele.tobytes()
            return pd.DataFrame([d])
        add_ids = new.sort_values(id_col)[id_col].to_numpy(dtype=np.int64)
        add_vecs = np.vstack(new.sort_values(id_col)[vec_key].to_numpy()).astype(np.float32)
        if blob is None:
            qscale = 0.0
            if quant == "i8":
                store, qscale = _quantize_i8(add_vecs)
                add_vecs = store.astype(np.float32) * np.float32(qscale)
            elif quant == "b1":
                # pack BEFORE building: b1's stored form is its scoring form
                add_vecs = store = _b1_pack_rows(add_vecs)
            else:
                store = add_vecs
            levels, adj, entry, max_lvl = _build_graph(add_ids, add_vecs, m, efc, space, alpha)
            return pd.DataFrame([_encode(sl, add_ids, store, levels, adj,
                                         entry, max_lvl, qscale=qscale,
                                         quant=quant)])
        # _decode returns the DEQUANTIZED scoring matrix; keep the raw
        # stored form separately so re-encoding is a concat, not a round-trip
        ids, fvecs, levels, adj, entry, max_lvl, deleted = _decode(blob, dims, quant)
        deleted = deleted.copy()
        # tombstone BEFORE reinserting: an incoming live id is an implicit
        # delete-then-insert (the reference's PrimaryId epoch bump,
        # table/primary_id.rs:27-69), so re-adding never duplicates a node
        deleted[np.isin(ids, del_ids) | np.isin(ids, add_ids)] = 1
        qscale = float(blob["qscale"])
        if quant == "i8":
            # new vectors quantize with the SLICE'S existing scale (the
            # reference never re-trains storage parameters on insert)
            iv_new, _ = _quantize_i8(add_vecs, scale=qscale)
            add_vecs = iv_new.astype(np.float32) * np.float32(qscale)
            store = np.concatenate(
                [np.frombuffer(blob["vecs"], dtype=np.int8).reshape(-1, dims),
                 iv_new])
        elif quant == "b1":
            # fvecs from _decode is the packed (n, ceil(dims/8)) matrix;
            # pack the raw-float inserts to match, then concat is uniform
            add_vecs = _b1_pack_rows(add_vecs)
        ids = np.concatenate([ids, add_ids])
        fvecs = np.vstack([fvecs, add_vecs])
        deleted = np.concatenate([deleted, np.zeros(len(add_ids), dtype=np.uint8)])
        mat = _prep(fvecs, space)
        new_levels = _levels_of(add_ids, m)
        levels = np.concatenate([levels, new_levels])
        n0 = len(ids) - len(add_ids)
        entry, max_lvl = _insert_nodes(
            mat, adj, levels, entry, max_lvl, n0, m, efc, space)
        # capped repair: CDC micro-batches must not grow hub degrees without
        # bound (the cap's motivating scenario IS this incremental path)
        _repair_layer0(mat, adj, space, m, alpha)
        enc_vecs = store if quant == "i8" else fvecs
        return pd.DataFrame([_encode(sl, ids, enc_vecs, levels, adj, entry,
                                     max_lvl, deleted, qscale=qscale,
                                     quant=quant)])

    out = grouped.groupBy("slice").cogroup(graph.groupBy("slice")).applyInPandas(
        ins, _GRAPH_SCHEMA)
    # materialize before overwriting the directory the plan reads from: the
    # dead-stats census is itself a full pass over `out`, so it doubles as
    # the cache-materializing action (the separate count() was a redundant
    # second evaluation of the cogroup)
    out = out.cache()
    # census the touched slices' tombstones from the cached blobs BEFORE
    # the overwrite (writing the graph path uncaches every plan that reads
    # it — a post-write pass would recompute the upsert against the NEW
    # directory and double-count); one tiny job, then the compaction
    # trigger stays free driver arithmetic. The census also materializes
    # `out` AND (through the cogroup lineage) `sliced`.
    new_stats = _dead_stats_from_blobs(out)

    def _graph_leg():
        out.write.partitionBy("slice").option(
            "partitionOverwriteMode", "dynamic").mode("overwrite").parquet(
            os.path.join(path, "graph"))
        _update_dead_stats(path, meta, new_stats)

    def _payload_leg():
        # payload rows for the new nodes: node index continues after each
        # slice's BLOB length (insertion order = sorted by id within the
        # batch). NOT the payload's max(node): tombstone deletes drop
        # payload rows but keep blob nodes, so payload max would lag the
        # blob and collide.
        old = spark.read.parquet(os.path.join(path, "payload")).where(
            F.col("slice").isin(touched))
        if gone:
            old = old.where(~F.col(id_col).isin(gone))
        if rem is not None:
            old = old.join(rem, id_col, "left_anti")
        # a re-added live id tombstones its old node (see ins); its old
        # payload row must go too or filtered search would map the id to a
        # dead node
        old = old.join(F.broadcast(sliced.select(id_col).distinct()),
                       id_col, "left_anti")
        base = spark.createDataFrame(
            [(int(s), int(n) - 1) for s, n in pre_n.items()] or [(-1, -1)],
            "slice int, _base int",
        )
        w = Window.partitionBy("slice").orderBy(id_col)
        newpay = (
            sliced.join(F.broadcast(base), "slice", "left")
            .withColumn("node", F.coalesce(F.col("_base"), F.lit(-1))
                        + F.row_number().over(w))
            .select("slice", "node", id_col, *pay_cols)
        )
        merged = old.unionByName(newpay)
        # staging write + rename commit: one job, no cache — `old`'s payload
        # read stays valid for the whole job because the write lands in a
        # sibling staging dir (VERDICT r17 Next #3)
        _staged_payload_commit(spark, path, merged, touched)

    # the two legs touch DISJOINT directories (graph vs payload) and read
    # only materialized caches (`out`, `sliced`) plus the pre-overwrite
    # payload files — run them as concurrent Spark jobs; the payload merge
    # hides under the graph write (guide §1.2: fewer sequential actions)
    parallel_legs(_graph_leg, _payload_leg)
    out.unpersist()
    sliced.unpersist()
    if rem is not None:
        rem.unpersist()


def hnsw_insert(spark, path: str, items: DataFrame) -> None:
    """Native incremental insertion — see hnsw_upsert."""
    hnsw_upsert(spark, path, items=items)


def hnsw_delete(spark, path: str, ids_removed: Sequence) -> None:
    """Tombstone deletion (the reference's `remove`: USearch marks slots
    deleted and skips them during traversal until compaction — same
    here) — see hnsw_upsert."""
    hnsw_upsert(spark, path, ids_removed=ids_removed)


def hnsw_compact(spark, path: str, min_deleted_frac: float = 0.2) -> list:
    """Compaction (the reference's deferred-removal model: USearch marks
    slots deleted at `remove` time and reclaims them later — the streaming
    upsert path accumulates exactly such tombstones).  Every slice whose
    tombstone fraction is ≥ ``min_deleted_frac`` is REBUILT from its live
    nodes only (fresh deterministic graph, same build parameters from the
    sidecar); slices below the threshold are untouched, so the rewrite
    cost is proportional to the garbage, not the index.  Node indices
    change, so the touched slices' payload rows are renumbered in the same
    pass.  Returns the list of compacted slice ids."""
    import pandas as pd

    meta = _read_meta(path)
    dims, m = meta["dims"], meta["m"]
    efc, space = meta["ef_construction"], SpaceType(meta["space"])
    id_col = meta["id_col"]
    quant = meta.get("quantization", "f32")
    alpha = float(meta.get("alpha", 1.0))

    graph_all = spark.read.parquet(os.path.join(path, "graph"))

    # compaction TRIGGER: driver-side arithmetic on the sidecar census that
    # every blob write (build/upsert/tombstone/compact) keeps current — a
    # maintenance loop can call this per batch and pay nothing until a
    # slice actually crosses the garbage threshold. Indexes written before
    # the census existed fall back to one pruned graph scan.
    stats = meta.get("dead_stats")
    if stats:
        # guard against a PARTIAL census: an index built before the census
        # existed gets only its touched slices recorded by the first upsert /
        # tombstone write — trusting that as complete would silently exempt
        # every untouched garbage-heavy slice from compaction forever. The
        # slice listing is a partition-directory walk (no blob bytes read);
        # any slice missing from the census forces the pruned-scan fallback,
        # which also backfills the census via _update_dead_stats below.
        layout_slices = {
            int(r["slice"])
            for r in graph_all.select("slice").distinct().collect()
        }
        if not layout_slices <= {int(s) for s in stats}:
            stats = None
    if stats:
        fracs = [{"slice": int(s), "n": n, "dead": dead}
                 for s, (n, dead) in stats.items()]
    else:
        def dead_counts(iterator):
            for pdf in iterator:
                yield pd.DataFrame({
                    "slice": pdf["slice"],
                    "n": pdf["n"],
                    "dead": [int(np.frombuffer(b, dtype=np.uint8).sum())
                             for b in pdf["deleted"]],
                })

        # select BEFORE the UDF so parquet column pruning skips the big blob
        # columns (vecs/nbr_flat dominate the bytes; the census needs 3 smalls)
        fracs = graph_all.select("slice", "n", "deleted").mapInPandas(
            dead_counts, "slice int, n int, dead long").collect()
        # backfill the sidecar from the full scan so the NEXT maintenance
        # call is driver-side arithmetic again (self-heal for pre-census
        # indexes and for a crash between a blob overwrite and its census)
        _update_dead_stats(path, meta, {
            int(r["slice"]): [int(r["n"]), int(r["dead"])] for r in fracs
        })
    todo = sorted(r["slice"] for r in fracs
                  if r["n"] > 0 and r["dead"] / r["n"] >= min_deleted_frac)
    if not todo:
        return []

    graph = graph_all.where(F.col("slice").isin(todo))

    def rebuild(pdf):
        rows = []
        for _, row in pdf.iterrows():
            ids, fvecs, levels, adj, entry, max_lvl, deleted = _decode(
                row, dims, quant)
            live = deleted == 0
            lids, lvecs = ids[live], fvecs[live]
            order = np.argsort(lids, kind="stable")
            lids, lvecs = lids[order], lvecs[order]
            qscale = 0.0
            store = lvecs
            if quant == "i8":
                # fresh scale from the surviving vectors (a full retrain is
                # allowed at compaction — it rebuilds the graph anyway)
                store, qscale = _quantize_i8(lvecs)
                lvecs = store.astype(np.float32) * np.float32(qscale)
            lv, adj2, entry2, max2 = _build_graph(lids, lvecs, m, efc, space, alpha)
            rows.append(_encode(int(row["slice"]), lids, store, lv, adj2,
                                entry2, max2, qscale=qscale, quant=quant))
        return pd.DataFrame(rows)

    out = graph.groupBy("slice").applyInPandas(rebuild, _GRAPH_SCHEMA)
    out = out.cache()
    # census BEFORE the overwrite (the write uncaches plans reading the
    # graph path); rebuilt slices are all-live again. The census is a full
    # pass over the blobs, so it doubles as the cache-materializing action
    new_stats = _dead_stats_from_blobs(out)

    def _graph_leg():
        out.write.partitionBy("slice").option(
            "partitionOverwriteMode", "dynamic").mode("overwrite").parquet(
            os.path.join(path, "graph"))
        _update_dead_stats(path, meta, new_stats)

    def _payload_leg():
        # renumber the touched slices' payload: live nodes sorted by id get
        # fresh 0-based indices — the same order the rebuild assigned
        pay = spark.read.parquet(os.path.join(path, "payload")).where(
            F.col("slice").isin(todo))
        w = Window.partitionBy("slice").orderBy(id_col)
        newpay = pay.withColumn("node", F.row_number().over(w) - F.lit(1))
        # staging write + rename commit: one job, no cache (see helper)
        _staged_payload_commit(spark, path, newpay, todo)

    # disjoint directories, independent inputs — concurrent legs
    parallel_legs(_graph_leg, _payload_leg)
    out.unpersist()
    return todo


def _tombstone_only_df(spark, path: str, meta: dict, rem: DataFrame) -> None:
    """Delete-only path with a DISTRIBUTED key set (streaming maintenance):
    the removal ids cogroup with the slice blobs (slice-tagged like inserts)
    and the matching payload rows anti-join away — no driver collect."""
    import pandas as pd

    id_col, num_slices = meta["id_col"], meta["num_slices"]
    if "partitions" in meta:
        # local layout: an id does not determine its partition — sweep all
        slices_df = spark.createDataFrame(
            [(int(i),) for _, i in meta["partitions"]], "slice int")
        dels = rem.crossJoin(F.broadcast(slices_df))
    else:
        dels = rem.withColumn(
            "slice", F.pmod(F.col(id_col), F.lit(num_slices)).cast("int"))
    touched = sorted(r[0] for r in dels.select("slice").distinct().collect())
    if not touched:
        return
    graph = spark.read.parquet(os.path.join(path, "graph")).where(
        F.col("slice").isin(touched))

    def mark(key, dpdf, right):
        if len(right) == 0:
            return pd.DataFrame(
                columns=["slice", "n", "entry", "max_level", "ids", "vecs",
                         "levels", "nbr_counts", "nbr_flat", "deleted",
                         "qscale"])
        row = right.iloc[0]
        ids = np.frombuffer(row["ids"], dtype=np.int64)
        deleted = np.frombuffer(row["deleted"], dtype=np.uint8).copy()
        deleted[np.isin(ids, dpdf[id_col].to_numpy(dtype=np.int64))] = 1
        d = row.to_dict()
        d["deleted"] = deleted.tobytes()
        return pd.DataFrame([d])

    out = dels.groupBy("slice").cogroup(graph.groupBy("slice")).applyInPandas(
        mark, _GRAPH_SCHEMA)
    out = out.cache()
    # census BEFORE the overwrite (the write uncaches plans reading the
    # graph path); the full-pass census also materializes the cache
    new_stats = _dead_stats_from_blobs(out)

    def _graph_leg():
        out.write.partitionBy("slice").option(
            "partitionOverwriteMode", "dynamic").mode("overwrite").parquet(
            os.path.join(path, "graph"))
        _update_dead_stats(path, meta, new_stats)

    def _payload_leg():
        pay = spark.read.parquet(os.path.join(path, "payload")).where(
            F.col("slice").isin(touched))
        kept = pay.join(rem, id_col, "left_anti")
        # staging write + rename commit: one job, no cache (see helper)
        _staged_payload_commit(spark, path, kept, touched)

    # disjoint directories, independent inputs — concurrent legs
    parallel_legs(_graph_leg, _payload_leg)
    out.unpersist()


def _tombstone_only(spark, path: str, meta: dict, gone: list) -> None:
    """Delete-only path: set tombstone bits in the touched slice blobs and
    drop the matching payload rows; the graph keeps the nodes for
    connectivity."""
    id_col, num_slices = meta["id_col"], meta["num_slices"]
    if "partitions" in meta:
        # local layout: an id does not determine its partition — mark in
        # every sub-graph (ids are globally unique; misses are no-ops)
        touched = sorted(i for _, i in meta["partitions"])
    else:
        touched = sorted({g % num_slices for g in gone})
    gone_set = set(gone)

    graph = spark.read.parquet(os.path.join(path, "graph")).where(
        F.col("slice").isin(touched))

    def mark(pdf):
        import pandas as pd

        rows = []
        for _, row in pdf.iterrows():
            ids = np.frombuffer(row["ids"], dtype=np.int64)
            deleted = np.frombuffer(row["deleted"], dtype=np.uint8).copy()
            hit = np.isin(ids, list(gone_set))
            deleted[hit] = 1
            d = row.to_dict()
            d["deleted"] = deleted.tobytes()
            rows.append(d)
        return pd.DataFrame(rows)

    out = graph.groupBy("slice").applyInPandas(mark, _GRAPH_SCHEMA)
    out = out.cache()
    # census BEFORE the overwrite (the write uncaches plans reading the
    # graph path); the full-pass census also materializes the cache
    new_stats = _dead_stats_from_blobs(out)

    def _graph_leg():
        out.write.partitionBy("slice").option(
            "partitionOverwriteMode", "dynamic").mode("overwrite").parquet(
            os.path.join(path, "graph"))
        _update_dead_stats(path, meta, new_stats)

    def _payload_leg():
        pay = spark.read.parquet(os.path.join(path, "payload")).where(
            F.col("slice").isin(touched))
        kept = pay.where(~F.col(id_col).isin(gone))
        # staging write + rename commit: one job, no cache (see helper)
        _staged_payload_commit(spark, path, kept, touched)

    # disjoint directories, independent inputs — concurrent legs
    parallel_legs(_graph_leg, _payload_leg)
    out.unpersist()
