"""Graph algorithms as iterative DataFrame programs (SURVEY §2.9).

Design for scale: every iteration is a shuffled join on the edge
table, and every loop runs through one driver, ``_iterate``, in the
spirit of GraphX's Pregel operator and Pregelix's materialized
supersteps. Each round's state is a lazy localCheckpoint, so a
30-round fixpoint never builds a 30-deep plan (SURVEY §4 note 3). A
loop with a convergence test materializes every round with the one
cheap count that also decides convergence (never a collect of the
frame); a fixed-round loop materializes once per window of
``_FUSE_ROUNDS`` rounds and at its last round, so short loops run
their rounds as one job. A superseded round is freed as soon as a
later one is materialized, and the loop's invariant operands when it
returns: a loop leaves one persisted RDD, the one behind its result.

The community-detection contract replaces the reference's driver-local
Leiden (utils/neo4j_helpers.py:237-268, single-threaded C core over
~99k nodes) with a distributed, deterministic label-propagation
hierarchy: same consumer contract — per-vertex community ids at three
granularities under a fixed seed (detect_communities.py:218-246) —
but it scales to edge lists that never fit one machine.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.storagelevel import StorageLevel


def _free_checkpoint(df: DataFrame) -> None:
    """Release a localCheckpoint's storage blocks NOW.

    ``DataFrame.unpersist()`` is a no-op for checkpoints (their blocks
    belong to an internal RDD the CacheManager doesn't track), and
    ContextCleaner GC is too lazy for tight iterative loops at scale —
    measured executor OOM on a 2×10⁸-row ER pair graph from superseded
    per-round label tables that were awaiting collection. Reaches the
    LogicalRDD's backing RDD id and unpersists it directly;
    best-effort (a non-checkpoint plan is left untouched)."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            sc = df.sparkSession.sparkContext
            sc._jsc.sc().unpersistRDD(plan.rdd().id(), False)
    except Exception:  # pragma: no cover — py4j internals shifted
        pass


# Rounds of a loop without a convergence test that run between two
# materializations: bounds the checkpoints alive at once to about
# (_FUSE_ROUNDS + 1) × |state|.
_FUSE_ROUNDS = 4


def _iterate(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    max_rounds: int | None,
    until: Callable[[DataFrame], bool] | None = None,
    operands: Sequence[DataFrame] = (),
) -> tuple[DataFrame, bool]:
    """The one iteration driver: ``state = step(state, r)`` for rounds
    r = 0, 1, … until ``until(state)`` holds or ``max_rounds`` rounds
    ran (None: no bound) → (state, converged).

    The initial state and every round are lazy localCheckpoints. With
    ``until``, its call on each state is the one action that both
    materializes the state and decides convergence, so it must read
    the whole state (a count or an aggregate); on the initial state it
    may return False without an action, and the first round then
    materializes that state. Without ``until``, the last round of each
    ``_FUSE_ROUNDS`` window and the last round overall checkpoint
    eagerly, so a window runs as one job. Superseded states are freed
    once a later state is materialized (never before: a lazy checkpoint
    whose source is gone cannot be computed), and ``operands`` — the
    loop-invariant checkpoints the steps read, looked up when the loop
    returns so a step may append to them — on return."""
    state = state.localCheckpoint(eager=until is None and max_rounds == 0)
    converged = until is not None and until(state)
    superseded: list[DataFrame] = []
    r = 0
    while not converged and (max_rounds is None or r < max_rounds):
        r += 1
        eager = until is None and (r % _FUSE_ROUNDS == 0 or r == max_rounds)
        superseded.append(state)
        state = step(state, r - 1).localCheckpoint(eager=eager)
        if until is not None:
            converged = until(state)
        if until is not None or eager:
            for old in superseded:
                _free_checkpoint(old)
            superseded.clear()
    for df in operands:
        _free_checkpoint(df)
    return state, converged


def _rows(df: DataFrame) -> int:
    """Row count of a checkpoint, or of a filter over one, in ONE job:
    counts the plan's RDD directly, where ``DataFrame.count()`` adds an
    aggregate exchange that AQE runs as a second job. Every partition
    is computed, so the count also materializes the checkpoint."""
    return df._jdf.queryExecution().toRdd().count()


def _same_count(counts: list[int]) -> Callable[[DataFrame], bool]:
    """``until`` for a state that only grows or only shrinks: converged
    once a round leaves its row count unchanged. Appends each count to
    ``counts``."""

    def until(state: DataFrame) -> bool:
        counts.append(_rows(state))
        return len(counts) > 1 and counts[-1] == counts[-2]

    return until


def degrees(edges: DataFrame) -> DataFrame:
    """G9 — true degree per vertex (out + in), one pass.

    Reference approximates connectivity with size(similar_artists)
    (detect_communities.py:155-157); this is the exact version."""
    both = edges.select(F.col("src").alias("id")).unionByName(
        edges.select(F.col("dst").alias("id"))
    )
    return both.groupBy("id").agg(F.count(F.lit(1)).alias("degree"))


def two_hop(
    edges: DataFrame,
    rel1: str | None = None,
    rel2: str | None = None,
    max_mid_wedges: int | None = None,
) -> DataFrame:
    """G10/J9 — 2-hop motif (a)-[e1]->(b)-[e2]->(c) as a self-join
    (reference Cypher at ingest_graph_db.py:366-377).

    ``max_mid_wedges`` is the hub guardrail (same family as
    triangle_count's max_forward_degree and the dedup caps): the join
    fans out in_deg(b)·out_deg(b) rows per MIDDLE vertex, so one
    celebrity vertex can dominate the whole job at 100 TB. With the
    cap, middle vertices whose wedge product exceeds it are dropped
    before the join — their motifs are undercounted (the standard
    hub-sampling trade; cluster-level handling replaces pairwise
    enumeration), and total wedge volume is bounded by
    |mids| · cap. Default None = exact (the registered query's
    semantics are unchanged)."""
    e1 = edges if rel1 is None else edges.filter(F.col("rel_type") == rel1)
    e2 = edges if rel2 is None else edges.filter(F.col("rel_type") == rel2)
    a = e1.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    b = e2.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    if max_mid_wedges is not None:
        fan_in = a.groupBy("b").agg(F.count(F.lit(1)).alias("_fi"))
        fan_out = b.groupBy("b").agg(F.count(F.lit(1)).alias("_fo"))
        keep = (
            fan_in.join(fan_out, "b")
            .filter(F.col("_fi") * F.col("_fo") <= max_mid_wedges)
            .select("b")
        )
        a = a.join(keep, "b", "left_semi")
        b = b.join(keep, "b", "left_semi")
    return a.join(b, "b").select("a", "b", "c")


def transitive_closure(edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """G11 — full transitive closure (node, ancestor) over a DAG by
    iterated doubling (reference: SPARQL `wdt:P279*` subclass-of
    closure at build_artist_index.py:54-57).

    Doubling halves the number of shuffle rounds vs naive BFS:
    closure_{2k} = closure_k ⋈ closure_k, so depth-d hierarchies finish
    in ceil(log2 d) joins — at 100 TB the join count, not the row
    count, is the latency driver. The closure only grows, so a round
    that leaves its row count unchanged is the fixpoint."""

    def double(closure: DataFrame, _: int) -> DataFrame:
        hop = (
            closure.alias("l")
            .join(closure.alias("r"), F.col("l.anc") == F.col("r.node"))
            .select(F.col("l.node").alias("node"), F.col("r.anc").alias("anc"))
        )
        return closure.unionByName(hop).distinct()

    closure = edges.select(F.col("src").alias("node"), F.col("dst").alias("anc")).distinct()
    return _iterate(closure, double, max_iter, until=_same_count([]))[0]


def connected_components(
    edges: DataFrame, max_iter: int = 50
) -> DataFrame:
    """Connected components by min-id propagation WITH pointer jumping
    (undirected). Returns (id, component) where component is the
    smallest vertex id in the component.

    Each round does two label-shrinking steps: (1) Hash-Min —
    component = min(own, min over neighbors) (Rastogi et al., "Finding
    Connected Components in Map-Reduce"); (2) path compression —
    component = component's own current component (every label value
    is itself a vertex id, so the indirection is always defined, and
    labels only ever decrease toward the component min). Plain
    Hash-Min needs O(diameter) rounds — a 50-vertex chain (the shape
    entity-resolution size-bands produce) takes 50 shuffles; with the
    pointer jump the min label doubles its reach per round, giving
    O(log diameter).
    Raises if max_iter rounds exhaust before the fixpoint — a silently
    unconverged label is a wrong answer, not a slow one."""
    sym = edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # Checkpoint memory discipline (learned at the 100× fixture, where
    # the symmetrized ER pair graph is ~2×10⁸ rows): every superseded
    # label table is freed as soon as its successor is materialized —
    # otherwise one label table per round accumulates in the unified
    # pool and the executor heap dies mid-loop. The edge copies (the
    # big, loop-invariant operands, freed on return) pin MEMORY_AND_DISK
    # explicitly: blocks the pool can't hold overflow to local disk
    # instead of competing with the per-round join's execution memory.
    sym0 = (
        sym.filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(
            # Lazy: the sizing count below materializes it — one job.
            eager=False,
            storageLevel=StorageLevel.MEMORY_AND_DISK,
        )
    )
    # Right-size the iterative loop's partitioning to the PAIR graph:
    # the per-round joins run O(log d) times, and on a small component
    # graph (dedup/ER pair sets are orders of magnitude below the
    # corpus) default shuffle width is pure fixed-cost latency. AQE
    # can't help — each round is a separate checkpointed job.
    n_edges = _rows(sym0)
    default_parts = sym0.sparkSession.conf.get("spark.sql.shuffle.partitions")
    parts = max(2, min(int(default_parts), n_edges // 100_000 + 1))
    sym = sym0.repartition(parts, "dst").localCheckpoint(
        eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK
    )

    def hash_min_jump(labels: DataFrame, _: int) -> DataFrame:
        nbr_min = (
            sym.join(labels, sym.dst == labels.id)
            .groupBy(F.col("src").alias("id"))
            .agg(F.min("component").alias("nbr_component"))
        )
        hashmin = labels.join(nbr_min, "id", "left").select(
            "id",
            F.col("component").alias("_prev"),
            F.least(
                F.col("component"), F.coalesce("nbr_component", F.col("component"))
            ).alias("component"),
        )
        # Pointer jump: label <- label_of(label). Every label value is
        # itself a vertex id, so the indirection is always defined;
        # labels shrink monotonically, so parent ≤ component and
        # correctness (min reachable id per component) is preserved —
        # only propagation speed changes.
        parent = hashmin.select(
            F.col("id").alias("component"), F.col("component").alias("_parent")
        )
        jumped = F.least(F.col("component"), F.coalesce("_parent", F.col("component")))
        return hashmin.join(parent, "component", "left").select(
            "id",
            jumped.alias("component"),
            (jumped < F.col("_prev")).cast("int").alias("_changed"),
        )

    def settled(labels: DataFrame) -> bool:
        # the initial labels have no _changed column and nothing to
        # test; the first round materializes them
        if "_changed" not in labels.columns:
            return False
        return _rows(labels.filter(F.col("_changed") == 1)) == 0

    labels = sym.select(F.col("src").alias("id")).distinct().withColumn("component", F.col("id"))
    labels, converged = _iterate(
        labels, hash_min_jump, max_iter, settled, operands=[sym0, sym]
    )
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "with pointer jumping this needs O(log diameter) — raise max_iter"
        )
    return labels.drop("_changed")


def label_propagation(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iter: int = 5,
    seed: int = 42,
    weight_col: str | None = None,
) -> DataFrame:
    """Synchronous, deterministic label propagation → (id, community).

    Init: every vertex gets a stable pseudo-random rank derived from
    xxhash64(id, seed) — the seed plays the role the reference gives
    leidenalg's seed (settings.py:137). Update: adopt the most frequent
    neighbor label; ties break on (count desc, label asc), making every
    round a pure function of the previous one — same input, same
    communities, on any cluster layout."""
    # Partition the (big) edge table by the join key ONCE — every
    # iteration's join then shuffles only the (small) label table.
    # localCheckpoint preserves the physical partitioning.
    # Partition count pinned to cluster parallelism, NOT the session's
    # shuffle.partitions: under an untuned session (200 default) every
    # localCheckpoint would write 200 tiny files per iteration, and the
    # accumulated open block files can exhaust the process FD limit
    # before the fixture-scale run finishes.
    par = max(edges.sparkSession.sparkContext.defaultParallelism, 2)
    if weight_col is None:
        # unweighted: parallel edges collapse (distinct), each
        # neighbor casts one vote
        sym = edges.select("src", "dst").unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        sym = (
            sym.filter(F.col("src") != F.col("dst"))
            .distinct()
            .withColumn("_w", F.lit(1.0))
        )
    else:
        # weighted: neighbor votes carry edge weight; parallel edges
        # sum (a weight-w edge == w votes). Same non-positive-weight
        # policy as pagerank: w<=0 is not a vote — drop it rather than
        # let a zero/negative tally corrupt the argmax.
        edges = edges.filter(F.col(weight_col) > 0)
        sym = edges.select("src", "dst", F.col(weight_col).alias("_w")).unionByName(
            edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"),
                F.col(weight_col).alias("_w"),
            )
        )
        sym = (
            sym.filter(F.col("src") != F.col("dst"))
            .groupBy("src", "dst")
            .agg(F.sum("_w").alias("_w"))
        )
    # Materialize once at input partitioning, then right-size the
    # per-round shuffle width to the symmetrized edge count (the
    # connected_components sizing rule): contracted/filtered graphs can
    # be orders of magnitude below defaultParallelism, where full-width
    # rounds are pure fixed-cost latency, and AQE cannot re-plan across
    # checkpointed iterations.
    # Lazy: the sizing count below materializes the checkpoint.
    sym0 = sym.localCheckpoint(eager=False)
    par = max(2, min(par, _rows(sym0) // 100_000 + 1))
    # The repartitioned edges and the init labels are lazy too: LPA has
    # a FIXED round count, so the driver's first window job
    # materializes them together with the rounds.
    sym = sym0.repartition(par, "dst").localCheckpoint(eager=False)
    ids = sym.select(F.col("src").alias("id")).distinct()
    if vertices is not None:
        ids = ids.unionByName(vertices.select("id")).distinct()
    # Engine-portable seeded init: first 15 md5 nibbles of "id:seed"
    # as a positive 60-bit long. (xxhash64 would be marginally cheaper
    # but is Spark-specific; md5 exists everywhere, which lets the
    # whole LPA ladder be value-oracled by a SQL replay in DuckDB, and
    # the init runs once per vertex.)
    init = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.col("id").cast("string"), F.lit(str(seed)))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")

    def propagate(labels: DataFrame, _: int) -> DataFrame:
        votes = (
            sym.join(labels, sym.dst == labels.id)
            .groupBy(F.col("src").alias("id"), F.col("community"))
            .agg(F.sum("_w").alias("votes"))
        )
        # Winner per vertex = max by (votes, then smallest label).
        # max_by over struct(votes, ~community) gives exactly the
        # (count desc, label asc) tie-break — ~x is the overflow-free
        # monotone negation — as a partial-aggregating agg, one sort
        # and one shuffle cheaper per round than a rank window.
        winner = votes.groupBy("id").agg(
            F.max_by(
                "community", F.struct(F.col("votes"), F.bitwise_not(F.col("community")))
            ).alias("new_community")
        )
        return (
            labels.join(winner, "id", "left")
            .select(
                "id", F.coalesce("new_community", F.col("community")).alias("community")
            )
            .coalesce(par)
        )

    labels = ids.withColumn("community", init).repartition(par, "id")
    return _iterate(labels, propagate, max_iter, operands=[sym0, sym])[0]


def _contract(edges: DataFrame, assignment: DataFrame) -> DataFrame:
    """Collapse communities into super-vertices (Leiden-style graph
    aggregation step)."""
    a_src = assignment.select(F.col("id").alias("src"), F.col("community").alias("csrc"))
    a_dst = assignment.select(F.col("id").alias("dst"), F.col("community").alias("cdst"))
    return (
        edges.join(a_src, "src")
        .join(a_dst, "dst")
        .select(F.col("csrc").alias("src"), F.col("cdst").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def detect_communities(
    vertices: DataFrame,
    edges: DataFrame,
    seed: int = 42,
    iters_per_level: tuple[int, int, int] = (2, 3, 4),
) -> DataFrame:
    """G3 — three-granularity community hierarchy → (id, community_L0,
    community_L1, community_L2).

    Contract parity with the reference (detect_communities.py:218-246):
    per-vertex community ids at 3 granularities, deterministic under a
    fixed seed, L0 finest → L2 coarsest (resolutions 2.0/0.5/0.1).
    Construction guarantees the hierarchy is nested: each level runs
    label propagation on the previous level's contracted graph, so an
    L2 community is a union of L1 communities, as in Leiden's
    multilevel scheme."""
    base = edges.select("src", "dst")
    l0 = label_propagation(base, vertices=vertices, max_iter=iters_per_level[0], seed=seed)

    g1 = _contract(base, l0)
    l1_super = label_propagation(g1, max_iter=iters_per_level[1], seed=seed + 1)
    l1 = (
        l0.alias("a")
        .join(
            l1_super.select(
                F.col("id").alias("community"), F.col("community").alias("cl1")
            ).alias("b"),
            "community",
            "left",
        )
        .select(
            F.col("a.id").alias("id"),
            F.col("community").alias("community_L0"),
            F.coalesce("cl1", F.col("community")).alias("community_L1"),
        )
    )

    g2 = _contract(
        base,
        l1.select("id", F.col("community_L1").alias("community")),
    )
    l2_super = label_propagation(g2, max_iter=iters_per_level[2], seed=seed + 2)
    out = (
        l1.alias("a")
        .join(
            l2_super.select(
                F.col("id").alias("community_L1"), F.col("community").alias("cl2")
            ).alias("b"),
            "community_L1",
            "left",
        )
        .select(
            "id",
            "community_L0",
            "community_L1",
            F.coalesce("cl2", F.col("community_L1")).alias("community_L2"),
        )
    )
    return out


def detect_communities_leiden_exact(
    vertices: DataFrame,
    edges: DataFrame,
    resolutions: tuple[float, float, float] = (2.0, 0.5, 0.1),
    seed: int = 42,
) -> DataFrame:
    """G3 exact rung: Leiden on the collected edge list — algorithm
    parity with the reference (neo4j_helpers.py:237-268,
    RBConfigurationVertexPartition at resolutions 2.0/0.5/0.1,
    seed 42). When igraph+leidenalg are installed they run verbatim;
    otherwise the vendored pure-Python Leiden (graph/leiden.py — same
    RB-configuration objective, Louvain move-and-aggregate plus the
    connected-communities guarantee, deterministic under the seed)
    takes over, so this rung always executes.

    Only valid when |V|+|E| fits on the driver (the reference's scale,
    ~99k nodes / ~124k edges, trivially does). The distributed default
    for 100 TB graphs is detect_communities (multilevel label
    propagation, same per-vertex contract)."""
    spark = vertices.sparkSession
    ids = sorted(r[0] for r in vertices.select("id").distinct().collect())
    idx = {v: i for i, v in enumerate(ids)}
    e_pairs = [
        (idx[r[0]], idx[r[1]])
        for r in edges.select("src", "dst").collect()
        if r[0] in idx and r[1] in idx
    ]
    memberships = []
    try:
        import igraph
        import leidenalg
    except ImportError:
        from graphragdatapipeline_spark.graph.leiden import leiden_membership

        for res in resolutions:
            memberships.append(
                leiden_membership(
                    len(ids),
                    [(u, v, 1.0) for u, v in e_pairs],
                    gamma=float(res),
                    seed=seed,
                )
            )
    else:  # pragma: no cover - env-dependent
        g = igraph.Graph(n=len(ids), edges=e_pairs, directed=False)
        for res in resolutions:
            part = leidenalg.find_partition(
                g,
                leidenalg.RBConfigurationVertexPartition,
                resolution_parameter=res,
                seed=seed,
            )
            memberships.append(part.membership)
    rows = [
        (v, int(memberships[0][i]), int(memberships[1][i]), int(memberships[2][i]))
        for v, i in idx.items()
    ]
    return spark.createDataFrame(
        rows, "id STRING, community_L0 INT, community_L1 INT, community_L2 INT"
    )


def louvain_move(
    edges: DataFrame,
    gamma: float = 1.0,
    rounds: int = 4,
    vertices: DataFrame | None = None,
    weight_col: str | None = None,
    n_edges_hint: int | None = None,
) -> DataFrame:
    """Distributed Louvain move phase → (id, community): each round,
    every vertex evaluates the Reichardt–Bornholdt modularity gain of
    joining each neighbor community

        score(i→c) = w_{i→c} − γ · k_i · K_{c∖i} / 2m

    and synchronously adopts the argmax (ties to the lowest community
    label; a move requires a strictly better score than staying). This
    closes the quality gap between the LPA ladder and true
    modularity optimization AT SCALE — unlike the driver-side Leiden
    rung (detect_communities_leiden_exact), nothing here ever collects
    the graph: per round the work is one neighbor-community
    aggregation plus id-keyed joins, all hash-partitioned on vertex id
    exactly like label_propagation.

    Synchronous simultaneous moves can oscillate (two symmetric
    vertices swapping communities forever), the classic distributed-
    Louvain hazard; the standard damping is applied — each round only
    vertices of one hash-parity class may move, alternating per round
    — which breaks pairwise swap cycles and keeps every round a pure
    function of the previous one (deterministic, any cluster layout).
    Moves require strictly positive gain against the round-start
    partition; because same-class vertices still move concurrently,
    per-round quality improvement is damped rather than proven — the
    contract query MEASURES the resulting RB quality against both the
    singleton partition and the LPA ladder instead of assuming it.
    Output labels are canonicalized to the minimum member vertex id.
    Feed the result to ``_contract_weighted`` and re-run for the full
    multi-level move-AND-AGGREGATE scheme (detect_communities_louvain).

    ``weight_col`` turns on weighted semantics — required for running
    on a CONTRACTED graph, where parallel-edge multiplicities become
    weights and intra-community weight becomes self-loops: parallel
    edges sum, w ≤ 0 is dropped (the pagerank/LPA policy), and a
    self-loop edge contributes 2·w to its vertex's strength (it moves
    with the vertex, so it never enters a gain term — exactly
    graph/leiden.py's treatment) while staying out of the neighbor-
    community sums. Unweighted mode keeps the simple-graph reading:
    parallel edges collapse, self-loops are ignored entirely.
    """
    par = max(edges.sparkSession.sparkContext.defaultParallelism, 2)
    if weight_col is None:
        e = edges.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct()
        sym = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).withColumn("_w", F.lit(1.0))
        self_w = None
    else:
        we = edges.select(
            "src", "dst", F.col(weight_col).cast("double").alias("_w")
        ).filter(F.col("_w") > 0)
        loops = we.filter(F.col("src") == F.col("dst"))
        self_w = loops.groupBy(F.col("src").alias("id")).agg(
            F.sum("_w").alias("_sw")
        )
        ns = we.filter(F.col("src") != F.col("dst"))
        sym = (
            ns.unionByName(
                ns.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst"), "_w"
                )
            )
            .groupBy("src", "dst")
            .agg(F.sum("_w").alias("_w"))
        )
    # Same edge-count-sized round width as detect_communities /
    # connected_components — the ladder's contracted levels are tiny,
    # and move rounds there were dominated by fixed per-round costs.
    # When the caller already knows the edge count (the multilevel loop
    # counts each contracted graph as it persists it), 2·n_edges_hint
    # upper-bounds the symmetrized row count and the sizing pass is
    # skipped entirely — par is a layout knob, every per-round
    # aggregate is order-independent, and at any count below the 100k
    # round-width step both paths yield the identical par anyway.
    # The repartitioned edge checkpoint is LAZY in both paths: its
    # first consumer is the `nodes` lineage feeding the 2m aggregate
    # below, so that single job materializes sym AND nodes together —
    # one job instead of eager-checkpoint-then-aggregate (guide §1.2;
    # the rounds then read the cached blocks). Values untouched: the
    # same rows land in the same layout either way.
    edge_copies = []
    if n_edges_hint is not None:
        par = max(2, min(par, 2 * n_edges_hint // 100_000 + 1))
    else:
        sym = sym.localCheckpoint(eager=False)  # materialized by the count
        par = max(2, min(par, _rows(sym) // 100_000 + 1))
        edge_copies.append(sym)
    sym = sym.repartition(par, "dst").localCheckpoint(eager=False)
    edge_copies.append(sym)
    deg = sym.groupBy(F.col("src").alias("id")).agg(F.sum("_w").alias("_k"))
    ids = sym.select(F.col("src").alias("id")).distinct()
    if vertices is not None:
        ids = ids.unionByName(vertices.select("id")).distinct()
    if self_w is not None:
        ids = ids.unionByName(self_w.select("id")).distinct()
    nodes = ids.join(deg, "id", "left").select(
        "id", F.coalesce("_k", F.lit(0.0)).alias("_k")
    )
    if self_w is not None:
        nodes = nodes.join(self_w, "id", "left").select(
            "id",
            (F.col("_k") + 2.0 * F.coalesce("_sw", F.lit(0.0))).alias("_k"),
        )
    # Lazy: the 2m aggregate right below is the materializing action —
    # one job instead of checkpoint-then-rescan (values untouched).
    nodes = nodes.repartition(par, "id").localCheckpoint(eager=False)
    two_m = nodes.agg(F.sum("_k")).first()[0] or 1.0  # scalar graph stat

    # Renamed copy for strength lookups inside comm_K: `nodes` also
    # joins directly into the scoring plan below, and reusing the same
    # `_k` attribute in both subtrees makes the reference ambiguous
    # after Spark's self-join de-duplication.
    strength = nodes.select("id", F.col("_k").alias("_ck"))

    # Move rounds have a FIXED count — no per-round convergence scalar
    # forces a driver sync — so the driver runs each window of rounds
    # as one job (each lazy checkpoint still truncates the logical
    # plan, so per-round plan size stays flat).
    def move(memb: DataFrame, r: int) -> DataFrame:
        comm_K = (
            memb.join(strength, "id")
            .groupBy("community")
            .agg(F.sum("_ck").alias("_K"))
        )
        dst_comm = memb.select(
            F.col("id").alias("dst"), F.col("community").alias("_c")
        )
        # w_{i→c} for every neighbor community of i (includes i's own
        # community iff i has an intra-community edge)
        nbr = (
            sym.join(dst_comm, "dst")
            .groupBy(F.col("src").alias("id"), F.col("_c"))
            .agg(F.sum("_w").alias("_wic"))
        )
        cur = memb.select("id", F.col("community").alias("_a"))
        # candidate set = neighbor communities ∪ {current} (the stay
        # option must exist even with zero intra edges)
        cand = (
            nbr.unionByName(
                cur.select("id", F.col("_a").alias("_c")).withColumn(
                    "_wic", F.lit(0.0)
                )
            )
            .groupBy("id", "_c")
            .agg(F.max("_wic").alias("_wic"))
        )
        # `_k` renamed again here (`_ik`): cand's lineage reaches
        # `nodes` through memb, so joining `nodes` directly would put
        # two same-name attributes in scope.
        scored = (
            cand.join(cur, "id")
            .join(nodes.select("id", F.col("_k").alias("_ik")), "id")
            .join(comm_K, cand._c == comm_K.community)
            .select(
                "id",
                "_c",
                "_a",
                (
                    F.col("_wic")
                    - F.lit(gamma)
                    * F.col("_ik")
                    * (
                        F.col("_K")
                        - F.when(F.col("_c") == F.col("_a"), F.col("_ik")).otherwise(
                            F.lit(0.0)
                        )
                    )
                    / F.lit(float(two_m))
                ).alias("_score"),
            )
        )
        # argmax with ties to the LOWEST community label (labels are
        # strings, so the LPA bitwise-not trick is out): min_by over
        # struct(-score, c) — struct comparison is field-by-field, so
        # -score ascending = score descending, then c ascending. The
        # stay score and the current label ride the SAME aggregation
        # (exactly one _c == _a candidate row exists per id, and _a is
        # constant per id), so the scored subtree — three joins deep —
        # is evaluated once per round instead of feeding a separate
        # filter branch plus two reassembly joins (guide §2.4).
        # The explicit id repartition REPLACES the aggregation's
        # ENSURE_REQUIREMENTS exchange (HashPartitioning on the group
        # key satisfies the agg's distribution) AND pre-establishes the
        # par-width id layout the round's checkpoint needs — the
        # membership frame used to pay a SECOND full shuffle in the
        # trailing repartition(par, "id") (the flagship_order_rollup
        # exchange-merge, applied to the move loop). min_by/max are
        # order-independent, so the regrouped layout moves no values.
        moved = scored.repartition(par, "id").groupBy("id").agg(
            F.min_by(
                F.struct(F.col("_c"), F.col("_score")),
                F.struct((-F.col("_score")).alias("_ns"), F.col("_c")),
            ).alias("_b"),
            F.max(
                F.when(F.col("_c") == F.col("_a"), F.col("_score"))
            ).alias("_stay"),
            F.max("_a").alias("_a"),
        )
        # parity gate: only one hash-class moves per round
        gate = (F.abs(F.hash(F.col("id"))) % 2) == F.lit(r % 2)
        new_memb = moved.select(
            "id",
            F.when(
                gate & (F.col("_b._score") > F.col("_stay") + F.lit(1e-12)),
                F.col("_b._c"),
            )
            .otherwise(F.col("_a"))
            .alias("community"),
        )
        if r < rounds - 1:
            # id layout already established by the pre-agg repartition
            return new_memb
        # last round: canonical labels, the minimum member vertex id
        return new_memb.select(
            "id", F.min("id").over(Window.partitionBy("community")).alias("community")
        )

    memb = nodes.select("id", F.col("id").alias("community"))
    return _iterate(memb, move, rounds, operands=[*edge_copies, nodes])[0]


def _contract_weighted(
    edges: DataFrame, assignment: DataFrame, weight_col: str | None = None
) -> DataFrame:
    """Weight-preserving graph aggregation for the Louvain ladder →
    (src, dst, weight): communities collapse to super-vertices,
    parallel inter-community edges SUM (unlike ``_contract``'s
    distinct, which is right for LPA votes but loses modularity mass),
    and intra-community weight lands on a self-loop row (src = dst) —
    the strength bookkeeping louvain_move's weighted mode expects.
    Total edge weight is conserved level-to-level, so 2m — and
    therefore the meaning of γ — is identical at every level."""
    w = (
        F.col(weight_col).cast("double")
        if weight_col is not None
        else F.lit(1.0)
    )
    a_src = assignment.select(F.col("id").alias("src"), F.col("community").alias("_cs"))
    a_dst = assignment.select(F.col("id").alias("dst"), F.col("community").alias("_cd"))
    joined = (
        edges.select("src", "dst", w.alias("_w"))
        .join(a_src, "src")
        .join(a_dst, "dst")
        .select(
            F.least("_cs", "_cd").alias("src"),
            F.greatest("_cs", "_cd").alias("dst"),
            "_w",
        )
    )
    return joined.groupBy("src", "dst").agg(F.sum("_w").alias("weight"))


def louvain_multilevel(
    edges: DataFrame,
    gamma: float = 1.0,
    rounds: int = 4,
    max_cycles: int = 10,
    vertices: DataFrame | None = None,
    weight_col: str | None = None,
    min_shrink: float = 0.01,
    n_edges_hint: int | None = None,
) -> DataFrame:
    """FULL Louvain at one resolution → (id, community): repeat
    (parity-damped move phase → weighted contraction) until the
    community count stops shrinking by more than ``min_shrink`` (or
    ``max_cycles``). A single synchronous move phase from singletons
    mostly forms PAIRS (measured at 99k vertices: 99k → 50.6k
    communities after one phase, vs exact Leiden's 4.4k final) — the
    aggregate-and-move-again loop is what lets communities grow past
    the one-phase horizon, exactly as in sequential Louvain. Each
    cycle costs one contraction plus `rounds` move rounds ON THE
    CONTRACTED graph, which shrinks geometrically, so the loop is
    front-loaded: cycle 1 dominates. Per-cycle convergence check is a
    distinct-count (driver scalar, like the kcore fixpoint test).
    Measured at reference scale (99k/124k, γ=2.0): RB quality 51k
    after one phase → 83k at the default budget (125 s) → plateau
    ~87k ≈ 0.76× exact Leiden at rounds=8/20 cycles — the damped
    synchronous argmax trades the last fraction of sequential-Leiden
    quality for never collecting the graph (full table and the
    three-rung quality ladder in SCALE.md).

    Each cycle is one driver round over the composed mapping (original
    vertex → current community): contract the level's graph by its
    move result (persisted WITH stats, see detect_communities_louvain),
    move on it, compose; the distinct count is the action that also
    materializes the new mapping. Move results are freed on return,
    each contracted level once the next one is materialized."""
    memb = louvain_move(
        edges, gamma, rounds, vertices, weight_col, n_edges_hint=n_edges_hint
    )
    moves = [memb]
    level_edges, level_w = edges, weight_col

    def cycle(mapping: DataFrame, _: int) -> DataFrame:
        nonlocal level_edges, level_w
        g = _contract_weighted(level_edges, moves[-1], level_w).persist()
        # the count doubles as the move's edge-sizing hint, skipping its
        # per-call sizing job
        gn = g.count()
        if level_edges is not edges:
            level_edges.unpersist()
        level_edges, level_w = g, "weight"
        moves.append(louvain_move(g, gamma, rounds, weight_col="weight", n_edges_hint=gn))
        return (
            mapping.withColumnRenamed("community", "_lvl")
            .join(
                moves[-1].select(
                    F.col("id").alias("_lvl"), F.col("community").alias("community")
                ),
                "_lvl",
            )
            .select("id", "community")
        )

    counts: list[int] = []

    def stalled(mapping: DataFrame) -> bool:
        counts.append(mapping.select("community").distinct().count())
        return len(counts) > 1 and counts[-1] >= counts[-2] * (1.0 - min_shrink)

    mapping = _iterate(memb, cycle, max_cycles - 1, stalled, operands=moves)[0]
    if level_edges is not edges:
        level_edges.unpersist()
    return mapping


def detect_communities_louvain(
    vertices: DataFrame,
    edges: DataFrame,
    resolutions: tuple[float, float, float] = (2.0, 0.5, 0.1),
    rounds_per_level: tuple[int, int, int] = (4, 4, 4),
) -> DataFrame:
    """G3, fully distributed Louvain ladder → (id, community_L0,
    community_L1, community_L2): the complete move-AND-AGGREGATE
    scheme — louvain_multilevel (up to 3 move→contract cycles) at
    γ=2.0 on the input graph, then weighted contraction and
    louvain_multilevel again at γ=0.5 and γ=0.1 on successively
    coarser super-vertex graphs. Same consumer contract as
    detect_communities (per-vertex ids at three granularities, nested
    by construction, deterministic) and the same reference resolutions
    as the exact Leiden rung — but optimizing actual RB modularity at
    every level with nothing ever collected, which is the 100 TB
    upgrade over the LPA ladder's propagation heuristic. Quality sits
    between LPA and exact Leiden (three-rung table in SCALE.md); raise
    max_cycles in louvain_multilevel when quality is worth more wall
    time."""
    base = edges.select("src", "dst")
    l0 = louvain_multilevel(
        base,
        gamma=resolutions[0],
        rounds=rounds_per_level[0],
        max_cycles=3,
        vertices=vertices,
    )
    # Contracted levels are materialized with persist()+count(), NOT
    # localCheckpoint: a checkpointed frame is a stats-free LogicalRDD,
    # and feeding one into the next level's join-heavy rounds degrades
    # every downstream plan (measured 10x: 25 s vs 2.3 s for two
    # rounds on the same 41-edge contracted graph) — an
    # InMemoryRelation keeps sizeInBytes, so join planning stays sane.
    # At deployment scale each level would be written to the lake
    # between runs, which is the same fix with durability.
    g1 = _contract_weighted(base, l0).persist()
    g1n = g1.count()
    l1_super = louvain_multilevel(
        g1,
        gamma=resolutions[1],
        rounds=rounds_per_level[1],
        max_cycles=3,
        weight_col="weight",
        n_edges_hint=g1n,
    )
    l1 = (
        l0.alias("a")
        .join(
            l1_super.select(
                F.col("id").alias("community"), F.col("community").alias("_cl1")
            ).alias("b"),
            "community",
            "left",
        )
        .select(
            F.col("a.id").alias("id"),
            F.col("community").alias("community_L0"),
            F.coalesce("_cl1", F.col("community")).alias("community_L1"),
        )
    )
    g2 = _contract_weighted(g1, l1_super, weight_col="weight").persist()
    g2n = g2.count()
    g1.unpersist()  # each level's mapping is a materialized checkpoint
    l2_super = louvain_multilevel(
        g2,
        gamma=resolutions[2],
        rounds=rounds_per_level[2],
        max_cycles=3,
        weight_col="weight",
        n_edges_hint=g2n,
    )
    g2.unpersist()
    return (
        l1.alias("a")
        .join(
            l2_super.select(
                F.col("id").alias("community_L1"), F.col("community").alias("_cl2")
            ).alias("b"),
            "community_L1",
            "left",
        )
        .select(
            "id",
            "community_L0",
            "community_L1",
            F.coalesce("_cl2", F.col("community_L1")).alias("community_L2"),
        )
    )


def rb_quality_agg(
    edges: DataFrame, membership: DataFrame, gamma: float
) -> DataFrame:
    """Distributed RB-configuration quality of a partition as a 1-row
    DataFrame (column ``quality``) — the same objective the vendored
    Leiden maximizes (graph/leiden.py:rb_quality), computed with joins
    and aggregates so partition quality is measurable on a graph that
    never fits a driver: Q(γ) = Σ_c e_c − γ · Σ_c K_c² / 2m over the
    canonicalized undirected simple graph."""
    canon = (
        edges.select(
            F.least("src", "dst").alias("lo"), F.greatest("src", "dst").alias("hi")
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
    )
    m_lo = membership.select(F.col("id").alias("lo"), F.col("community").alias("_cl"))
    m_hi = membership.select(F.col("id").alias("hi"), F.col("community").alias("_ch"))
    intra = (
        canon.join(m_lo, "lo")
        .join(m_hi, "hi")
        .filter(F.col("_cl") == F.col("_ch"))
        .agg(F.count(F.lit(1)).cast("double").alias("_e_intra"))
    )
    sym = canon.select(F.col("lo").alias("id")).unionByName(
        canon.select(F.col("hi").alias("id"))
    )
    k = sym.groupBy("id").agg(F.count(F.lit(1)).cast("double").alias("_k"))
    K2 = (
        membership.join(k, "id", "left")
        .groupBy("community")
        .agg(F.sum(F.coalesce("_k", F.lit(0.0))).alias("_K"))
        .agg(F.sum(F.col("_K") * F.col("_K")).alias("_sumK2"))
    )
    two_m = k.agg(F.sum("_k").alias("_2m"))
    return (
        intra.crossJoin(K2)
        .crossJoin(two_m)
        .select(
            (
                F.col("_e_intra")
                - F.lit(gamma) * F.col("_sumK2") / F.greatest("_2m", F.lit(1.0))
            ).alias("quality")
        )
    )


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iters: int = 10,
    weight_col: str | None = None,
) -> DataFrame:
    """PageRank by power iteration over DataFrames → (id, rank).

    Per superstep: each vertex sends rank/out_degree along its out
    edges; new rank = (1-d)/N + d·(received + dangling_mass/N). The
    dangling-mass total is the only driver-side scalar (O(1) collect).
    Shuffle budget per superstep: one join on src + one groupBy on dst
    — the edge table is pre-partitioned by src once, so iterations
    shuffle only the (|V|-row) rank table. localCheckpoint keeps the
    plan flat. (Extension beyond the reference — its graph analytics
    stop at Leiden communities; this rounds out the GraphX-style
    surface next to LPA/components/closure.)"""
    verts = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=False)  # materialized by the count
    )
    n = _rows(verts)
    # Weighted walks: each out-edge carries rank·w/Σw instead of
    # rank/out_degree — weight w is exactly equivalent to w parallel
    # unit edges (invariant pinned in pytest). deg below is Σw per
    # source; the unweighted path is the constant-1 special case.
    w_expr = F.col(weight_col) if weight_col else F.lit(1.0)
    # Policy: non-positive weights are dropped up front (a w<=0 edge
    # has no random-walk meaning, and a source whose Σw = 0 would
    # divide by zero and propagate NaN through every iteration). A
    # source left with no positive edges becomes dangling, which the
    # dangling-mass redistribution below already handles.
    if weight_col:
        edges = edges.filter(F.col(weight_col) > 0)
    deg = edges.groupBy("src").agg(F.sum(w_expr).alias("deg"))
    out_edges = (
        edges.withColumn("_w", w_expr)
        .join(deg, "src")
        .select("src", "dst", "deg", "_w")
        .repartition("src")
        .localCheckpoint(eager=False)  # materialized by the first superstep
    )
    base = (1.0 - damping) / n

    def superstep(ranks: DataFrame, _: int) -> DataFrame:
        dangling = (
            ranks.join(deg, ranks.id == deg.src, "left_anti")
            .agg(F.sum("rank"))
            .first()[0]
            or 0.0
        )
        received = (
            out_edges.join(ranks, out_edges.src == ranks.id)
            .select("dst", (F.col("rank") * F.col("_w") / F.col("deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("received"))
        )
        return verts.join(received, verts.id == received.dst, "left").select(
            "id",
            (
                F.lit(base)
                + F.lit(damping)
                * (F.coalesce("received", F.lit(0.0)) + F.lit(dangling / n))
            ).alias("rank"),
        )

    ranks = verts.withColumn("rank", F.lit(1.0 / n))
    return _iterate(ranks, superstep, iters, operands=[verts, out_edges])[0]


def bfs_distances(
    edges: DataFrame, sources: DataFrame, max_depth: int = 6
) -> DataFrame:
    """Unweighted shortest-path distances from a source set → (id,
    dist), reachable-within-max_depth only. Frontier BFS: the state is
    the visited set, the frontier its rows at the last depth; each
    round joins the frontier to the edge table and anti-joins the
    visited set. The visited set only grows, so a round that adds no
    row ends the search.

    GraphFrames.shortestPaths analog; bounded depth makes the result
    SQL-expressible (recursive CTE with the same bound), so unlike
    most iterative ops this one gets a full value-hash oracle."""
    e = edges.select("src", "dst").distinct().repartition("src").localCheckpoint(eager=False)

    def expand(visited: DataFrame, depth: int) -> DataFrame:
        frontier = visited.filter(F.col("dist") == depth)
        nxt = (
            e.join(frontier, e.src == frontier.id)
            .select(F.col("dst").alias("id"))
            .distinct()
            .join(visited.select("id"), "id", "left_anti")
            .withColumn("dist", F.lit(depth + 1))
        )
        return visited.unionByName(nxt)

    visited = sources.select(F.col("id")).distinct().withColumn("dist", F.lit(0))
    return _iterate(visited, expand, max_depth, _same_count([]), operands=[e])[0]


def triangle_count(edges: DataFrame, max_forward_degree: int | None = None) -> DataFrame:
    """Triangle counting on an undirected edge list (columns src, dst)
    — the classic clustering/community-density primitive Spark lacks
    natively. Uses the degree-ordering trick that makes the join
    tractable at scale: every edge is oriented low-id → high-id, so
    each triangle {a,b,c} (a<b<c) is found EXACTLY once as
    (a,b)+(b,c)+(a,c) — no 6× duplicate enumeration, and the wedge
    join (a,b)⋈(b,c) fans out only on each vertex's FORWARD degree,
    which ordering keeps far below total degree on skewed graphs.
    Returns one row per triangle; count() or a groupBy on a vertex
    yields the aggregate forms.

    ``max_forward_degree`` is the mega-hub guardrail (same philosophy
    as the dedup layer's max_bucket/max_block): wedge volume grows
    with fwd_deg(v)², so ONE celebrity vertex can dominate the whole
    job. With the cap, every canonical edge whose LOW endpoint has
    forward degree above it is dropped before the joins — triangles
    involving those hub fan-outs are undercounted (the standard
    approximate-triangle trade) and the wedge cost bound becomes
    edges × cap.

    Build-side memory bound: the shuffle_hash hints below force
    ShuffledHashJoinExec, whose build-side hash map does NOT spill —
    the row-asymmetry argument says SHJ is the cheaper strategy, not
    that it is memory-safe unconditionally. Each build partition holds
    one post-shuffle slice of the canonical edge table, so the bound
    is edge_bytes / shuffle_partitions per task: at 100 TB-scale edge
    tables size shuffle partitions so that slice fits executor memory
    (AQE skew-split applies to SHJ and advisory partition sizing keeps
    slices bounded), or drop the hints and let the planner fall back
    to sort-merge, which spills. Uncapped callers (e.g.
    graph_clustering_coefficient, which invokes this without
    max_forward_degree) inherit the same bound."""
    canon = (
        edges.select(
            F.least("src", "dst").alias("lo"), F.greatest("src", "dst").alias("hi")
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
    )
    if max_forward_degree is not None:
        fwd = canon.groupBy("lo").agg(F.count(F.lit(1)).alias("_fd"))
        keep = fwd.filter(F.col("_fd") <= max_forward_degree).select("lo")
        canon = canon.join(F.broadcast(keep), "lo")
    ab = canon.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    # Shuffled-hash, not sort-merge, on both wedge joins (guide §3.1):
    # the build side of each is the canonical EDGE table while the
    # probe side is the WEDGE stream (edges × fwd-degree rows) — the
    # asymmetry holds at any scale, and SMJ would sort the wedge
    # stream just to throw the order away in the count/agg consumers.
    # Measured at sf0.1 (graph_triangle_count isolate): 8.63 s SMJ →
    # 4.30 s SHJ, identical rows. Per-partition build = the post-AQE
    # slice of the edge table (advisory-sized), and AQE skew-split
    # applies to shuffled-hash joins too.
    bc = canon.select(F.col("lo").alias("b"), F.col("hi").alias("c")).hint(
        "shuffle_hash"
    )
    ac = canon.select(F.col("lo").alias("a"), F.col("hi").alias("c")).hint(
        "shuffle_hash"
    )
    return ab.join(bc, "b").join(ac, ["a", "c"]).select("a", "b", "c")


def triangle_count_estimate(
    edges: DataFrame,
    p: float,
    seed: int = 42,
    max_forward_degree: int | None = None,
) -> DataFrame:
    """DOULION edge-sampling triangle estimator (Tsourakakis et al.,
    KDD 2009) — the scale path for the wedge-volume-bound regime where
    exact enumeration is workload-inherent-infeasible (r11 measured
    the guarded exact at the 100× co-purchase graph: 4.82B wedges ≈
    116 GB shuffle, beyond one node's scratch; DuckDB dies on the
    identical SQL). Each CANONICAL edge survives a deterministic
    seeded coin with probability ``p``; exact triangle enumeration on
    the sparsified graph, scaled by 1/p³ — an unbiased estimator,
    since a triangle survives iff its 3 edges all do (p³). Wedge
    volume drops by p² (both wedge edges must survive), so the 4.82B-
    wedge graph at p=0.1 enumerates ~48M wedges — one small pass.

    The coin is xxhash64(lo, hi, seed) mapped to [0,1): deterministic
    per edge (re-runs and retries sample the SAME subgraph — the
    property that makes the estimate value-oracle-able as a seeded
    contract), independent across edges in the hash-function sense
    the estimator needs. ``max_forward_degree`` applies the exact
    operator's hub guardrail BEFORE sampling, so the estimate targets
    the same guarded triangle set as triangle_count with the same cap
    (one linear degree pass on the canonical edges — cheap — and the
    sampled wedge join stays bounded by cap²·p² per hub besides).

    Returns ONE row: (n_sampled_triangles, est_triangles = sampled/p³
    as double, p). Variance ~ T·(1/p³−1) + cross terms (the paper's
    Lemma 2) — at fixture scale the seeded estimate is a fixed number;
    the registered contract pins it inside a proven band of the exact
    count."""
    if not (0.0 < p <= 1.0):
        raise ValueError(f"triangle_count_estimate: p must be in (0, 1], got {p}")
    canon = (
        edges.select(
            F.least("src", "dst").alias("lo"), F.greatest("src", "dst").alias("hi")
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
    )
    if max_forward_degree is not None:
        fwd = canon.groupBy("lo").agg(F.count(F.lit(1)).alias("_fd"))
        keep = fwd.filter(F.col("_fd") <= max_forward_degree).select("lo")
        canon = canon.join(F.broadcast(keep), "lo")
    # deterministic per-edge coin in [0,1): xxhash64 → non-negative →
    # 53-bit mantissa-exact division (2^53 buckets ≫ any useful p)
    coin = F.pmod(F.xxhash64("lo", "hi", F.lit(seed)), F.lit(2**53)) / F.lit(
        float(2**53)
    )
    # The SAMPLED table (p× smaller) fans out into 3 wedge-join sides;
    # checkpoint it, never the full canonical edge table — at the 100×
    # co-purchase graph the full table is 119.6M rows and materializing
    # it as a checkpoint OOMs a 16 GiB heap before the estimator does
    # any work, while the p=0.1 sample is ~12M rows. Upstream canon is
    # recomputed once per consumer (degree pass + this filter), two
    # linear passes traded for bounded memory.
    sampled = canon.filter(coin < F.lit(p)).localCheckpoint(eager=False)
    ab = sampled.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    # Same shuffled-hash choice as triangle_count: build = sampled
    # edges, probe = sampled wedge stream (p²× the full volume).
    bc = sampled.select(F.col("lo").alias("b"), F.col("hi").alias("c")).hint(
        "shuffle_hash"
    )
    ac = sampled.select(F.col("lo").alias("a"), F.col("hi").alias("c")).hint(
        "shuffle_hash"
    )
    tri = ab.join(bc, "b").join(ac, ["a", "c"])
    return tri.agg(F.count(F.lit(1)).alias("n_sampled_triangles")).select(
        "n_sampled_triangles",
        (F.col("n_sampled_triangles") / F.lit(float(p) ** 3)).alias(
            "est_triangles"
        ),
        F.lit(float(p)).alias("p"),
    )


def link_prediction_scores(
    edges: DataFrame, max_center_degree: int | None = None
) -> DataFrame:
    """Common-neighbors + Adamic-Adar link prediction over an
    undirected edge list (columns src, dst) → one row per NON-adjacent
    vertex pair (u < w) that shares ≥1 neighbor, with
    ``common_neighbors`` and ``adamic_adar`` = Σ_z 1/ln(deg(z)) over
    shared neighbors z — the standard missing-edge ranking primitive
    (GraphRAG: suggest entity links the extractor missed).

    Scale shape: one wedge self-join keyed on the CENTER vertex, so
    cost is Σ_z deg(z)² — the same hub hazard as triangle counting,
    guarded the same way: ``max_center_degree`` drops centers above
    the cap before the join (celebrity hubs contribute the LEAST
    per-wedge Adamic-Adar weight, 1/ln(deg), so the guardrail removes
    the most expensive and least informative wedges first). Degrees
    are computed on the FULL graph before capping, so surviving
    scores are exact. Per-wedge AA weights are quantized to integer
    micro-units before the sum (floor(1e6/ln(deg)+0.5) summed in
    int64) — order-independent accumulation, cross-engine exact, same
    discipline as the LM/k-means oracles."""
    canon = (
        edges.select(
            F.least("src", "dst").alias("lo"), F.greatest("src", "dst").alias("hi")
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
    )
    adj = canon.select(F.col("lo").alias("z"), F.col("hi").alias("n")).unionByName(
        canon.select(F.col("hi").alias("z"), F.col("lo").alias("n"))
    )
    deg = adj.groupBy("z").agg(F.count(F.lit(1)).alias("deg"))
    centers = deg if max_center_degree is None else deg.filter(
        F.col("deg") <= max_center_degree
    )
    a = adj.select("z", F.col("n").alias("u"))
    b = adj.select("z", F.col("n").alias("w"))
    wedges = (
        a.join(b, "z")
        .filter(F.col("u") < F.col("w"))
        .join(centers, "z")  # inner join applies the cap + carries deg(z)
    )
    scored = wedges.groupBy("u", "w").agg(
        F.count(F.lit(1)).alias("common_neighbors"),
        F.sum(
            F.floor(F.lit(1_000_000.0) / F.log(F.col("deg").cast("double")) + 0.5)
            .cast("long")
        ).alias("aa6"),
    )
    non_adj = scored.join(
        canon.select(F.col("lo").alias("u"), F.col("hi").alias("w")),
        ["u", "w"],
        "left_anti",
    )
    return non_adj.select(
        "u",
        "w",
        "common_neighbors",
        (F.col("aa6").cast("double") / 1_000_000.0).alias("adamic_adar"),
        "aa6",
    )


def personalized_pagerank(
    edges: DataFrame,
    source_ids: list[str],
    damping: float = 0.85,
    iters: int = 8,
) -> DataFrame:
    """Personalized PageRank: random walks restart at the SOURCE set
    instead of uniformly — the GraphRAG 'relevance to this seed
    entity' primitive (rank mass concentrates around the sources
    instead of global hubs). Teleport vector p(v) = 1/|S| on sources,
    0 elsewhere; per superstep
    rank = (1−d)·p(v) + d·(received + dangling·p(v)) — dangling mass
    returns to the sources, keeping Σrank = 1. Same shuffle budget as
    pagerank: iterations shuffle only the |V|-row rank table against
    the pre-partitioned edge table."""
    if not source_ids:
        raise ValueError("personalized_pagerank: source_ids must be non-empty")
    s = float(len(source_ids))
    spark = edges.sparkSession
    # Sources absent from the edge list still carry teleport mass —
    # union them into the vertex set or Σrank silently drops below 1.
    src_verts = spark.createDataFrame(
        [(str(x),) for x in source_ids], schema="id string"
    )
    verts = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .unionByName(src_verts.select(F.col("id").cast(edges.schema["src"].dataType)))
        .distinct()
        .localCheckpoint(eager=False)  # materialized by the first superstep
    )
    teleport = F.when(F.col("id").isin(source_ids), F.lit(1.0 / s)).otherwise(
        F.lit(0.0)
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    out_edges = (
        edges.join(deg, "src")
        .select("src", "dst", "deg")
        .repartition("src")
        .localCheckpoint(eager=False)  # materialized by the first superstep
    )

    def superstep(ranks: DataFrame, _: int) -> DataFrame:
        dangling = (
            ranks.join(deg, ranks.id == deg.src, "left_anti")
            .agg(F.sum("rank"))
            .first()[0]
            or 0.0
        )
        received = (
            out_edges.join(ranks, out_edges.src == ranks.id)
            .select("dst", (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("received"))
        )
        return verts.join(received, verts.id == received.dst, "left").select(
            "id",
            (
                (1.0 - damping) * teleport
                + F.lit(damping)
                * (F.coalesce("received", F.lit(0.0)) + F.lit(dangling) * teleport)
            ).alias("rank"),
        )

    ranks = verts.withColumn("rank", teleport)
    return _iterate(ranks, superstep, iters, operands=[verts, out_edges])[0]


def kcore(edges: DataFrame, k: int, max_iter: int | None = None) -> DataFrame:
    """k-core decomposition membership: iteratively peel every vertex
    whose degree in the SURVIVING subgraph is < k until a fixpoint —
    the standard density filter for graph curation (drop barely-
    connected entities before community detection / GNN sampling).

    Input is an undirected edge list (src, dst); it is canonicalized
    and symmetrized internally, so each undirected edge contributes 1
    to both endpoints' degrees. Returns (id, core_degree): the
    vertices of the k-core with their degree inside the core.

    Scale shape: each round is one degree aggregation plus two
    semi-joins of the edge table against the survivor set — rows only
    ever shrink, lineage is cut per round (localCheckpoint), and the
    fixpoint test is a cheap count, not a collect. Rows only ever
    shrink, so the peel terminates in ≤ |V| rounds; by default it
    runs to the guaranteed fixpoint (``max_iter=None``). Passing
    ``max_iter`` turns it into a hard guard: exhausting it before the
    fixpoint RAISES instead of silently returning a superset that may
    still contain sub-k vertices. Because rounds after the fixpoint
    are no-ops, a fixed-unroll SQL replay of ≥ fixpoint depth is
    value-identical (how the oracle checks it).
    """
    canon = (
        edges.select(
            F.least("src", "dst").alias("lo"), F.greatest("src", "dst").alias("hi")
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
    )
    sym = canon.select(F.col("lo").alias("src"), F.col("hi").alias("dst")).unionByName(
        canon.select(F.col("hi").alias("src"), F.col("lo").alias("dst"))
    )

    def peel(alive: DataFrame, _: int) -> DataFrame:
        deg = alive.groupBy("src").agg(F.count(F.lit(1)).alias("_deg"))
        keep = deg.filter(F.col("_deg") >= k).select("src")
        return (
            alive.join(keep, "src")
            .join(keep.select(F.col("src").alias("dst")), "dst")
            .select("src", "dst")
        )

    counts: list[int] = []
    alive, converged = _iterate(sym, peel, max_iter, _same_count(counts))
    if not converged:
        raise RuntimeError(
            f"kcore did not reach a fixpoint within max_iter={max_iter} "
            f"peel rounds ({counts[-1]} directed edges still shrinking); "
            "pass max_iter=None to peel to the guaranteed fixpoint"
        )
    return alive.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("core_degree")
    )
