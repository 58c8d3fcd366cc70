"""Graph analytics over co-occurrence edges, DataFrame-first.

The reference has no graph surface; this extends the engine with the
two batch-graph primitives a warehouse actually runs — building an
item co-occurrence graph from a fact table and counting triangles on
it (community density, recommendation strength, fraud rings). The
iterative connected-components labeller already lives in
operators/dedup.py (`ext_dedup_keep`); this module holds the
non-iterative, pure join/agg shapes.

Scale notes: triangle counting uses the degree-orientation algorithm
(each undirected edge directed from its lower-(degree, id) endpoint to
the higher one), which bounds every vertex's out-degree by O(sqrt(m))
on any graph — the wedge join then generates O(m^1.5) candidates
worst-case instead of sum(deg^2), the standard distributed formulation
(cf. Suri & Vassilvitskii, "Counting Triangles and the Curse of the
Last Reducer", WWW'11). Everything shuffles on vertex ids only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

#: vertex-count crossover for broadcasting a vertex-sized table: a ~20M-row
#: broadcast hashmap is safe on an 8 GiB heap, 120M rows OOM it (the
#: triangle calibration, see `pagerank`)
BROADCAST_MAX_VERTICES = 20_000_000

#: storage level for the O(edges) lineage pins: SERIALIZED bytes in
#: memory with disk spill (Python's ``MEMORY_AND_DISK`` — unlike the
#: same-named Scala constant — carries ``deserialized=False``). The
#: JVM default for ``localCheckpoint`` stores partitions as
#: deserialized row objects: at the 100x tile (119.6M oriented edges,
#: 239M degree-annotated out-edges) that retains ~60-70 B/row of live
#: objects while the checkpoint copy materializes and OOMs a 24 GiB
#: local[32] heap in a GCLocker storm (measured, round 11).
#: UnsafeRow-serialized pins are 3-4x smaller, unroll incrementally,
#: and spill instead of dying; decode on re-read is a memcpy, and the
#: sf0.1 anchors are unchanged (re-measured round 11). Small pins
#: (per-iteration rank tables, hierarchy frontiers) keep the default.
_EDGE_PIN = StorageLevel.MEMORY_AND_DISK


def sorted_pair_structs(items_col) -> F.Column:
    """All ordered pairs (src < dst) of a SORTED array column as
    ``struct<src, dst>`` structs — pure Catalyst higher-order
    functions, no join and no Python. For each position i the inner
    ``slice`` takes the strictly-later elements, so a g-element array
    yields exactly C(g, 2) structs with src < dst by the sort order
    (the same total order `<` uses on the element type)."""
    items_col = F.col(items_col) if isinstance(items_col, str) else items_col
    n = F.size(items_col)
    return F.flatten(
        F.transform(
            items_col,
            lambda x, i: F.transform(
                F.slice(items_col, i + F.lit(2), n),
                lambda y: F.struct(x.alias("src"), y.alias("dst")),
            ),
        )
    )


def group_item_sets(
    items: DataFrame,
    group_col: str,
    item_col: str,
    drop_null_groups: bool = True,
) -> DataFrame:
    """One row per group: (_g, _items sorted distinct array,
    _has_null 0/1). The shared first stage of the co-occurrence ops —
    ONE shuffle of the raw (group, item) pairs with map-side partial
    collect_set, replacing the r11 shape's distinct + per-group count
    + filter join + per-group self-join (4 exchanges and two reads of
    the deduped table; r12 profile: the edge build was ~45% of both
    graph keys' wall time — guide §2.3/§2.4, aggregate before you
    shuffle / remove shuffles outright).

    ``drop_null_groups`` (default True) filters NULL group keys BEFORE
    the aggregate: groupBy keeps NULL as a group, but the r11 equi-join
    shape never matched NULL keys and the SQL oracles (self-join on the
    group key) agree — a NULL-keyed group must not form a pair clique
    (r12 ADVICE). `association_rules` passes False because its oracle
    DOES count NULL-basket rows in the per-item totals; it re-filters
    the pair/basket paths itself, after the aggregate.

    ``_has_null`` preserves the old distinct-row cap semantics: a NULL
    item never forms an edge (NULL fails src < dst), but it DID count
    one distinct row toward the group-size cap, so callers add it back
    when applying a cap."""
    src = items.select(
        F.col(group_col).alias("_g"), F.col(item_col).alias("_i")
    )
    if drop_null_groups:
        src = src.filter(F.col("_g").isNotNull())
    return src.groupBy("_g").agg(
        F.sort_array(F.collect_set("_i")).alias("_items"),
        F.max(F.col("_i").isNull().cast("int")).alias("_has_null"),
    )


def co_occurrence_edges(
    items: DataFrame,
    group_col: str,
    item_col: str,
    max_group_size: int | None = None,
) -> DataFrame:
    """Distinct undirected co-occurrence edges (src < dst): two items
    are connected iff they appear in the same group (same order, same
    basket, same document).

    Pair generation is per-group — a group with g items emits C(g, 2)
    pairs, so *max_group_size* bounds pathological groups with a size
    filter BEFORE the pair expansion (a 10k-item basket would emit
    50M pairs), the same way the LSH buckets cap degenerate bands.
    Dropped groups are degenerate for co-occurrence semantics anyway
    (an "everything bought with everything" basket carries no signal,
    exactly like an empty-shingle LSH bucket); the registry graph keys
    cap at 1000 — far above any real basket, so results only change
    where the quadratic blowup would have happened. ``None`` keeps the
    uncapped behavior for callers that pre-bound their groups (an
    unbounded group then builds an unbounded in-task array — the same
    caller obligation the uncapped self-join shape had, which emitted
    C(g, 2) rows instead).

    r12 shape (guide §2.3/§2.4): collect the group's distinct items
    into a sorted array (one exchange, map-side partial collect_set),
    expand pairs with `sorted_pair_structs` (map-only Catalyst HOFs),
    then one final distinct on (src, dst). Two exchanges total where
    the r11 join shape had four plus two aggregate reads; the group
    cap becomes a free `size(_items)` filter instead of a count
    aggregate joined back. Sorted arrays make the expansion emit
    src < dst directly — the filter that used to throw away half the
    self-join's output no longer generates that half at all."""
    grouped = group_item_sets(items, group_col, item_col)
    if max_group_size is not None:
        grouped = grouped.filter(
            (F.size("_items") + F.col("_has_null")) <= max_group_size
        )
    return (
        grouped.select(F.explode(sorted_pair_structs("_items")).alias("_p"))
        .select("_p.src", "_p.dst")
        .distinct()
    )


def triangle_counts(
    edges: DataFrame,
    k: int = 20,
    broadcast_edges: bool | None = None,
    broadcast_max_edges: int = 20_000_000,
) -> DataFrame:
    """Top-k vertices by triangle participation over an undirected
    edge list (src < dst, distinct).

    Orients each edge low→high by (degree, id) so every triangle is
    produced exactly once, then closes wedges and explodes the triple
    to per-vertex counts. Per-vertex participation is orientation-
    invariant, so a plain a<b<c three-way self-join reproduces it
    exactly (the oracle's formulation). Ties at the top-k boundary
    break by vertex id — the returned row SET is deterministic.

    ``broadcast_edges=True`` (r12 shape) closes wedges by ADJACENCY
    INTERSECTION: one broadcast of the per-vertex oriented neighbor
    lists and one `array_intersect` per edge — O(d_u + d_w) ≤ O(√m)
    work per edge with no wedge-stream materialization at all; only
    (vertex, partial count) pairs hit the exchange. This halves the
    sf0.1 wedge phase vs the previous broadcast wedge-join (which
    generated the O(Σ outdeg²) stream — 34× the edge count here —
    through two hash probes). Requires the per-vertex neighbor-list
    map (O(m) total cells, same order as the oriented edge list) to
    fit in executor memory; ``False`` falls back to shuffled wedge
    joins, where intersection would be strictly worse (see the
    in-code note).

    ``None`` (the default) AUTO-selects at the measured crossover:
    broadcast while the oriented list holds ≤ *broadcast_max_edges*
    rows, shuffled beyond. The r8 100× scale smoke is the calibration:
    12M edges (10× tile) broadcast fine on an 8 GiB heap (α = 0.97),
    119.6M edges (100× tile) OOM'd it — ~100 B/edge of hashmap × two
    probes is ~12 GiB per executor, too much at ANY executor size worth
    provisioning. The count is one cheap job over the already-
    checkpointed oriented leaf.

    Returns (vertex, n_triangles) — k rows.
    """
    # eager lineage CUT: the edge list feeds the degree aggregate AND
    # the orientation join, and the oriented list is referenced three
    # times in the wedge join — without pinning, Catalyst inlines the
    # whole edge-building subtree (self-join + distinct) into every
    # reference and the fact table is scanned 12×. After the cut each
    # is an RDD leaf: built once, O(m) ids in executor storage. No
    # cache() underneath: the checkpoint leaf already pins the data for
    # this invocation, and CacheManager entries would outlive it (they
    # persist until application stop — cf. the explicit unpersist in
    # operators/dedup.py:component_labels).
    edges = edges.localCheckpoint(eager=True, storageLevel=_EDGE_PIN)
    deg = (
        edges.select(F.col("src").alias("v"))
        .unionAll(edges.select(F.col("dst").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
    )
    e = (
        edges.join(
            deg.select(F.col("v").alias("src"), F.col("deg").alias("_ds")),
            "src",
        ).join(
            deg.select(F.col("v").alias("dst"), F.col("deg").alias("_dd")),
            "dst",
        )
    )
    src_first = (F.col("_ds") < F.col("_dd")) | (
        (F.col("_ds") == F.col("_dd")) & (F.col("src") < F.col("dst"))
    )
    oriented = e.select(
        F.when(src_first, F.col("src")).otherwise(F.col("dst")).alias("u"),
        F.when(src_first, F.col("dst")).otherwise(F.col("src")).alias("w"),
    ).localCheckpoint(eager=True, storageLevel=_EDGE_PIN)
    if broadcast_edges is None:
        broadcast_edges = oriented.count() <= broadcast_max_edges
    if broadcast_edges:
        # adjacency-intersection wedge closure (r12): build the oriented
        # out-neighbor list per vertex (one narrow shuffle), recover each
        # edge (u, w) WITH u's list attached by re-exploding the list —
        # no join needed on the u side — broadcast-attach w's list, and
        # close wedges with one `array_intersect` per edge instead of
        # materializing the O(Σ outdeg²) wedge stream through two hash
        # probes. Work per edge is O(d_u + d_w) ≤ O(√m) by the
        # orientation bound — the same O(m^1.5) worst case as the wedge
        # join with a much smaller constant (measured 6.4 s → 3.2 s on
        # the sf0.1 co-purchase graph, rows identical). A triangle
        # u→w, u→x, w→x is found exactly once, at edge (u, w): x is a
        # common OUT-neighbor only there (w→x kills the other two
        # candidacies). Per-vertex counts: u and w each participate in
        # |intersection| triangles of this edge, every x in once; the
        # three contribution branches re-run the cheap intersect rather
        # than pinning an array-typed intermediate (measured faster than
        # a one-pass struct-array explode, 3.2 s vs 6.9 s — per-row
        # struct allocation dominates that shape).
        # Broadcast memory: ONE map of n neighbor lists, O(m) total
        # cells — same order as each of the two edge-list maps the wedge
        # join broadcast, so the existing edge-count crossover applies
        # unchanged.
        # pinned (r13): adj is referenced twice — exploded as the probe
        # side and broadcast — and exchange reuse only covers the
        # shuffle, not the post-exchange collect_list aggregate, so the
        # aggregate built TWICE per query (r12 ADVICE). One O(m)-cell
        # serialized pin builds it once: interleaved A/B measured the
        # wedge phase 3.27 → 2.94 s at sf0.1. Broadcast-branch-only
        # state, bounded by the ≤20M-edge crossover like the broadcast
        # map itself.
        adj = oriented.groupBy("u").agg(
            F.collect_list("w").alias("_nbrs")
        ).localCheckpoint(eager=True, storageLevel=_EDGE_PIN)
        e2 = adj.select(
            "u", F.explode("_nbrs").alias("w"), F.col("_nbrs").alias("_nu")
        ).join(
            F.broadcast(
                adj.select(
                    F.col("u").alias("w"), F.col("_nbrs").alias("_nw")
                )
            ),
            "w",
        )
        tri_e = e2.select(
            "u", "w", F.array_intersect("_nu", "_nw").alias("_x")
        ).filter(F.size("_x") > 0)
        csize = F.size("_x").cast("long")
        return _vertex_topk(
            tri_e.select(F.col("u").alias("vertex"), csize.alias("c"))
            .unionAll(
                tri_e.select(F.col("w").alias("vertex"), csize.alias("c"))
            )
            .unionAll(
                tri_e.select(
                    F.explode("_x").alias("vertex"),
                    F.lit(1).cast("long").alias("c"),
                )
            ),
            k,
        )
    # shuffled fallback (beyond the broadcast crossover): wedge joins
    # with HASH-hinted build sides. A sort-merge plan would SORT the
    # wedge stream — O(m^1.5) rows, ~4B at the 100x tile — before the
    # second join, and the aggregate after it needs no order; hash
    # probing keeps the stream a stream. The build sides stay
    # O(m/partitions) (~8 MB/partition at 119.6M edges / 256
    # partitions), and the orientation bound caps any one key's wedge
    # fan-out at O(sqrt(m)), so per-partition hash tables stay flat.
    # Measured round 11: the SMJ fallback's wedge sort spilled >79 GiB
    # at the 100x tile (disk-full abort); the hash plan's only big
    # disk cost is the wedge shuffle write itself. (A fully SHUFFLED
    # adjacency-intersection would move O(Σ outdeg²) array bytes — the
    # wedge volume — through the exchange, strictly worse than
    # shuffling the wedge rows themselves.)
    o1 = oriented.select(F.col("u").alias("a"), F.col("w").alias("b"))
    o2 = oriented.select(F.col("u").alias("b"), F.col("w").alias("c")).hint(
        "SHUFFLE_HASH"
    )
    o3 = oriented.select(F.col("u").alias("a"), F.col("w").alias("c")).hint(
        "SHUFFLE_HASH"
    )
    tri = o1.join(o2, "b").join(o3, ["a", "c"])
    return _vertex_topk(
        tri.select(F.explode(F.array("a", "b", "c")).alias("vertex"))
        .select("vertex", F.lit(1).cast("long").alias("c")),
        k,
    )


def _vertex_topk(contribs: DataFrame, k: int) -> DataFrame:
    """Sum (vertex, c) contributions and return the deterministic
    top-k (count desc, vertex asc)."""
    return (
        contribs.groupBy("vertex")
        .agg(F.sum("c").cast("bigint").alias("n_triangles"))
        .orderBy(F.desc("n_triangles"), F.asc("vertex"))
        .limit(k)
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    k: int = 20,
    broadcast_ranks: bool | None = None,
    broadcast_max_vertices: int = BROADCAST_MAX_VERTICES,
) -> DataFrame:
    """Top-k vertices by PageRank over an undirected edge list
    (src < dst, distinct) after a fixed number of power iterations —
    the influence/centrality score behind seed-quality weighting and
    catalog curation.

    Each iteration is one join + one hash aggregate on vertex ids
    (``r' = (1-d)/N + d · Σ r_u / deg_u`` over in-neighbors, edges
    symmetrized so every vertex both sends and receives; an undirected
    graph has no dangling mass). The rank column is grid-floored to
    1e-9 after EVERY iteration so both engines feed bit-identical
    ranks into the next round — per-iteration float error (~1e-16
    relative) never accumulates across the 10 rounds. Lineage is cut
    per iteration with ``localCheckpoint`` (the repo's iterative-loop
    idiom, cf. keep_representatives in operators/dedup.py): without the
    cut, iteration i's plan inlines all i-1 predecessors and analysis
    goes quadratic.

    ``broadcast_ranks=None`` (the default) AUTO-selects the join
    strategy at a vertex-count crossover, mirroring
    `triangle_counts`' edge crossover: broadcast the vertex-sized
    tables (degrees, then per-vertex contributions) while the graph
    holds ≤ *broadcast_max_vertices* vertices, shuffled joins beyond.
    The probe is free — ``n`` is already computed for the teleport
    term. The threshold reuses the triangle calibration (a ~20M-row
    broadcast hashmap is safe on an 8 GiB heap; 120M rows OOM it), and
    a rank/contribution row (id, double) is no wider than an oriented
    edge — the two per-iteration hashmaps together match the wedge
    join's old footprint, so 20M stays conservative.

    Returns (vertex, rank) — k rows, rank floored at 1e-9, top-k ties
    broken by vertex id.
    """
    # r12 shape (guide §2.3/§2.4): pin the NARROW (src, dst) edge list
    # once and keep degrees in a separate vertex-sized pinned table
    # instead of annotating _deg onto every symmetrized edge row. That
    # removes the m-row sym⋈deg join + the 24 B/row wide pin the old
    # shape materialized (the edge state shrinks a third — at the 100x
    # tile that is ~2 GB of executor storage), and the rank/deg
    # division moves from m edge rows to n vertex rows per iteration.
    # `sym` stays a lazy two-pass view over the pin (same bytes read
    # per iteration as one pass over the wide pin). The degree table
    # doubles as the vertex set: n, the empty-graph guard, and the
    # rank init all come off it — the old shape's extra
    # distinct+count job over the edge pin is gone.
    e0 = edges.select("src", "dst").localCheckpoint(
        eager=True, storageLevel=_EDGE_PIN
    )
    sym = e0.unionAll(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = (
        sym.groupBy("src")
        .agg(F.count("*").alias("_deg"))
        .select(F.col("src").alias("v"), "_deg")
        .localCheckpoint(eager=True)
    )
    n = deg.count()
    if n == 0:
        # empty graph (no edges, or every edge collapsed under the
        # src<dst/distinct normalization): no vertices to rank — return
        # the declared (vertex, rank) schema empty instead of dividing
        # the teleport term by zero (r10 degenerate-input sweep)
        return e0.select(
            F.col("src").alias("vertex"), F.lit(0.0).alias("rank")
        ).limit(0)
    if broadcast_ranks is None:
        broadcast_ranks = n <= broadcast_max_vertices
    ranks = deg.select("v", F.lit(1.0 / n).alias("rank"))
    base = (1.0 - damping) / n
    for _ in range(iterations):
        ranks = _pagerank_iteration(
            sym, ranks, deg, base, damping, broadcast_ranks
        ).localCheckpoint(eager=True)
    return (
        ranks.select(F.col("v").alias("vertex"), "rank")
        .orderBy(F.desc("rank"), F.asc("vertex"))
        .limit(k)
    )


def _pagerank_iteration(
    sym: DataFrame,
    ranks: DataFrame,
    deg: DataFrame,
    base: float,
    damping: float,
    broadcast_ranks: bool,
) -> DataFrame:
    """One power iteration, returned PRE-checkpoint (the loop cuts
    lineage; plan-health tests inspect this frame — the per-iteration
    checkpoints make the joins invisible in pagerank's final plan).

    The per-vertex contribution c = rank/deg is computed FIRST on the
    two vertex-sized tables (n divisions instead of one per edge row —
    identical IEEE doubles, just not recomputed per out-edge), then
    joined to the pinned edge view. Both tables are |V| rows of ~16
    bytes — broadcastable into the 10^8-vertex range. Broadcasting
    makes the iteration two map-side joins + one (vertex, partial-sum)
    exchange; the checkpointed leaves carry no partitioning metadata,
    so shuffled joins would re-exchange everything every round. Past
    the vertex crossover the caller flips *broadcast_ranks* off and
    both joins degrade to shuffled equi-joins."""
    d = F.broadcast(deg) if broadcast_ranks else deg
    c = ranks.join(d, "v").select(
        "v", (F.col("rank") / F.col("_deg")).alias("_c")
    )
    if broadcast_ranks:
        c = F.broadcast(c)
    contrib = (
        sym.join(c, sym.src == c.v)
        .select(F.col("dst").alias("v"), "_c")
        .groupBy("v")
        .agg(F.sum("_c").alias("_in"))
    )
    return contrib.select(
        "v",
        (
            F.floor(
                (F.lit(base) + F.lit(damping) * F.col("_in"))
                * 1000000000.0
                + 0.5
            )
            / 1000000000.0
        ).alias("rank"),
    )


def hierarchy_flatten(
    edges: DataFrame, rounds: int = 20
) -> DataFrame:
    """Resolve every node of a forest to its (root, depth) — the
    hierarchy-flattening behind BOM explosions, org charts, and
    category trees, i.e. the DataFrame re-expression of a recursive
    CTE (which is exactly what the SQL oracle uses).

    *edges* is (node, parent) with parent NULL for roots; every
    non-NULL parent must itself appear as a node. Uses pointer
    doubling iterated TO FIXPOINT: each round joins the state table to
    itself (so round r resolves every node ≤ 2^r levels deep), and the
    loop stops as soon as every pointer has reached the root set —
    ``rounds`` is a safety CAP, not the iteration count. The default
    cap of 20 covers depth 2^20 ≈ 1M, so any real tree converges in
    ceil(log2(depth)) + 1 joins and only a CYCLE (or a cap lowered by
    the caller) exhausts it — in which case a ``ValueError`` is raised;
    wrong hierarchy data must never come back silently. A dangling
    parent reference (parent not in the node set) drops its node from
    the self-join and is caught by the row-count guard.

    Each round is ONE self-join on ids (state rows are (node, ptr,
    depth) triples) with a lineage cut, so a 10^9-node catalog costs
    log(depth) shuffles, not depth — the standard distributed
    formulation, same family as the pointer-jumping
    connected-components labeller in operators/dedup.py. Each round's
    checkpoint observes (``df.observe``, no extra job) its row count and
    its pointers whose target still has depth > 0 — only true roots
    have depth 0, so every cycle, a self-loop included, stays pending.
    A round counting 0 found its input resolved, so up to ``rounds +
    1`` joins run, the last only confirming. Up to 15M nodes (3/4 of
    ``BROADCAST_MAX_VERTICES``, set for a 24 B row; a lookup row is 32
    B — derived, never run near it) the lookup is broadcast, so a round
    shuffles nothing.

    Returns (node, root, depth): depth 0 for roots.
    """

    def checkpoint(df: DataFrame, pending: Column, *cols: Column):
        obs = Observation()
        df = df.observe(
            obs, F.count(F.lit(1)).alias("n"), F.count_if(pending).alias("u")
        )
        df = df.select(*cols).localCheckpoint(eager=True)
        return df, obs.get["n"], obs.get["u"]

    state, nodes, unresolved = checkpoint(
        edges,
        F.col("parent").isNotNull(),
        F.col("node"),
        F.coalesce(F.col("parent"), F.col("node")).alias("ptr"),
        F.col("parent").isNotNull().cast("int").alias("depth"),
    )
    kept = nodes
    for _ in range(rounds + 1):
        if unresolved == 0:
            break
        lookup = state.select(
            F.col("node").alias("_n"),
            F.col("ptr").alias("_p"),
            F.col("depth").alias("_d"),
        )
        state, kept, unresolved = checkpoint(
            state.join(
                F.broadcast(lookup) if nodes * 4 <= BROADCAST_MAX_VERTICES * 3
                else lookup,
                state.ptr == lookup._n,
            ),
            F.col("_d") > 0,
            F.col("node"),
            F.col("_p").alias("ptr"),
            (F.col("depth") + F.col("_d")).cast("int").alias("depth"),
        )
    # a cycle or a cap too low for the tree leaves pointers unresolved;
    # a parent missing from the node set DROPPED its node from the join
    dropped = nodes - kept
    if unresolved or dropped:
        raise ValueError(
            f"hierarchy_flatten: {unresolved} nodes unresolved and "
            f"{dropped} dropped after the {rounds}-round cap — a "
            f"cycle, a tree deeper than 2^{rounds}, or a dangling "
            "parent reference; raise `rounds` or fix the edge data"
        )
    return state.select("node", F.col("ptr").alias("root"), "depth")
