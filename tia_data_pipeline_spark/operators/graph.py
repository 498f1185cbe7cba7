"""Hierarchy / thread-traversal operators (SURVEY op `self-join-tree`,
full-closure form).

The reference stores one level of reply hierarchy (``comments.parent``,
``init_db_tables.sh:52``); real thread reconstruction needs the
transitive closure. Two engine forms:

- :func:`thread_closure` — iterative frontier expansion (one
  distributed join per level, driver loop terminates on empty
  frontier). Depth of a comment thread is small (tens), so the loop
  count is bounded and each level is a plain equi-join the planner
  broadcasts/shuffles as usual.
- Spark 4 recursive CTEs (``WITH RECURSIVE``) express the same thing
  declaratively — used by the contract oracle and available via
  ``spark.sql`` (see ``plans/relational.py::q_thread_closure``).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def thread_closure(
    df: DataFrame,
    id_col: str,
    parent_col: str,
    *,
    max_depth: int = 50,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
) -> DataFrame:
    """(id, root_id, depth) for every node of a parent/child forest.

    Roots are rows with NULL parent (depth 0, root_id = id). Each
    iteration joins the remaining children onto the current frontier.
    ``max_depth`` guards against cycles (a cycle's nodes simply never
    resolve, matching SQL recursive-CTE semantics under a depth cap).

    Driver/fault posture: exactly ONE action per level — the frontier
    count doubles as both the termination test and the trigger that
    materializes that level's (non-eager) checkpoint, so there is no
    separate ``isEmpty`` round-trip. Checkpointing keeps the per-level
    lineage flat (plan size would otherwise grow with depth). By
    default every level pins to executor-local storage
    (``localCheckpoint`` — fast, but lost on executor death, and there
    is no lineage left to recompute from); for deep hierarchies on a
    real cluster pass ``checkpoint_dir`` (HDFS/S3): every
    ``checkpoint_every``-th level is then written to reliable storage
    and the levels BETWEEN reliable points keep their lineage (no
    localCheckpoint — a local checkpoint would truncate lineage to
    unreplicated executor blocks and void the recovery guarantee), so
    a failure recomputes at most ``checkpoint_every`` levels from the
    last reliable point. Comment threads are tens of levels deep at
    most, so the default suits the reference workload. On the default
    path the returned union is itself local-checkpointed once (one more
    action), and every level's checkpoint RDD is then released, so a
    call leaves one persistent RDD, not one per level.

    A frontier still non-empty at ``max_depth`` RAISES instead of
    silently truncating (the contract oracle is an UNBOUNDED recursive
    CTE — a silent cap would drop the deeper rows it returns); raise
    the budget for deeper forests. Cycles are unaffected: a pure cycle
    has no root ancestor, never enters the frontier, and drops out
    exactly as the recursive CTE drops it — the loop still terminates
    on the empty frontier below the cap.
    """
    spark = df.sparkSession
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)
    nodes = df.select(F.col(id_col).alias("_id"), F.col(parent_col).alias("_parent")).distinct()
    roots = nodes.filter(F.col("_parent").isNull()).select(
        F.col("_id"), F.col("_id").alias("root_id"), F.lit(0).alias("depth")
    )
    children = nodes.filter(F.col("_parent").isNotNull())

    levels = [roots]
    pinned = []  # localCheckpoint frames, released on every exit path
    frontier = roots
    try:
        # one iteration PAST the cap: the extra expansion is the overflow
        # probe — a forest exactly max_depth deep leaves a non-empty final
        # frontier that is fully resolved; only nodes BELOW the cap raise
        for level in range(1, max_depth + 2):
            # rename frontier cols: children and frontier share lineage on
            # the first iteration (both from `nodes`) and Spark rejects the
            # ambiguous self-join otherwise
            f_r = frontier.select(
                F.col("_id").alias("_fid"), F.col("root_id").alias("_froot"), F.col("depth").alias("_fdepth")
            )
            nxt = children.join(f_r, children["_parent"] == f_r["_fid"]).select(
                "_id",
                F.col("_froot").alias("root_id"),
                (F.col("_fdepth") + 1).alias("depth"),
            )
            cached = None
            if checkpoint_dir is not None:
                if level % checkpoint_every == 0:
                    # persist BEFORE a reliable checkpoint: without it,
                    # writing the checkpoint files launches a second job
                    # that re-executes the level's whole lineage since the
                    # previous reliable point (ReliableRDDCheckpointData
                    # recomputes unpersisted RDDs) — the count() below
                    # would otherwise no longer be the only action paying
                    # the level's joins. The cache is SCAFFOLDING for the
                    # checkpoint write only: it is unpersisted right after
                    # the count materializes the files (CacheManager holds
                    # persists until explicit unpersist — a deep forest
                    # would otherwise keep ~depth/checkpoint_every cached
                    # frames alive for the whole session), and later reads
                    # of this level come from the checkpoint data.
                    cached = nxt.persist()
                    nxt = cached.checkpoint(eager=False)
                # between reliable points: keep lineage (recovery chains
                # from the last reliable checkpoint)
            else:
                nxt = nxt.localCheckpoint(eager=False)
                pinned.append(nxt)
            n_level = nxt.count()  # materializes the checkpoint
            if cached is not None:
                cached.unpersist()
            if n_level == 0:
                out = reduce(lambda a, b: a.unionByName(b), levels)
                if pinned:
                    # the result's own checkpoint, so the levels can go
                    out = out.localCheckpoint(eager=True)
                return out.select(F.col("_id").alias(id_col), "root_id", "depth")
            if level > max_depth:
                raise RuntimeError(
                    f"thread_closure: nodes exist below max_depth={max_depth} — "
                    "they would be silently dropped while the recursive-CTE "
                    "oracle returns them; raise max_depth"
                )
            levels.append(nxt)
            frontier = nxt
    finally:
        for df_level in pinned:
            _release_checkpoint(df_level)


def _release_checkpoint(df: DataFrame) -> None:
    """Unpersist the RDD behind a materialized ``localCheckpoint`` frame;
    ``DataFrame.unpersist`` does not reach it (it is no cached plan)."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)


def connected_components(
    edges: DataFrame,
    *,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """(node, component) labeling of an undirected edge list — the
    min-label-propagation form of union-find, run as distributed joins.

    The LLM-pipeline use: near-duplicate PAIRS (MinHash/SimHash/embedding
    buckets emit pairs) must become CLUSTERS before "keep one doc per
    cluster" — pairwise dedup alone drops too little (A~B, B~C but A≁C
    still forms one cluster via transitivity).

    Algorithm: every node adopts the minimum label in its closed
    neighborhood, round after round, until no label changes. The min
    label travels one hop per round, so rounds are bounded by the
    longest chain in a component (near-dup clusters are shallow;
    ``max_iter`` guards the pathological chain). Each round is one
    join + one groupBy over the edge list — the standard Hash-to-Min
    shape, linear in |E| per round.

    The symmetric edge set is derived ONCE and persisted: the nodes,
    the first labels and every round read it, so a lazy pair plan (the
    declared-query case) runs once per call, not once per consumer.
    The first labels need no join — ``least(u, min(v))`` per ``u`` is
    round one. Each later round is ONE action: a full count of the
    changed rows both tests convergence and materializes the round's
    localCheckpoint (which cuts lineage like :func:`thread_closure`);
    a ``limit(1)`` probe would leave partitions for a second job to
    fill. Once a round's count has filled its checkpoint, the previous
    round's checkpoint RDD is released: only the last round feeds the
    returned labels, so a call leaves one checkpoint registered, not one
    per round. No self-loops are needed: ``least(component,
    new_component)`` folds each node's own label in.

    Exhausting ``max_iter`` before quiescence RAISES instead of
    returning silently-wrong labels (a component with a chain longer
    than ``max_iter`` hops would otherwise split into several partial
    components and downstream dedup would under-collapse); raise the
    budget — rounds cost O(|E|) each.
    """
    # NULL-endpoint precondition (stated): an edge with a NULL endpoint
    # is not an edge. Unfiltered, the first-label groupBy would emit a
    # (NULL, label) row and the other endpoint as a node (least()
    # skips NULL). Filter explicitly; callers with NULL-id docs exclude
    # them before pair generation (the dedup-family discipline).
    edges = edges.filter(F.col(src_col).isNotNull() & F.col(dst_col).isNotNull())
    sym = (
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .union(edges.select(F.col(dst_col).alias("u"), F.col(src_col).alias("v")))
        .distinct()
        .persist()
    )
    # try/finally: the cache is loop scaffolding (the returned labels
    # derive from a localCheckpoint) and must be released on EVERY exit
    # path — the convergence return, the max_iter raise, and any
    # mid-loop failure (CacheManager holds persists until explicit
    # unpersist, so a leak would hold the edge set for the session).
    try:
        labels = sym.groupBy("u").agg(
            F.least(F.col("u"), F.min("v")).alias("component")
        ).withColumnRenamed("u", "node")
        prev = None
        for _ in range(max_iter):
            # propagate: node's new label = min(label of every neighbor)
            prop = (
                sym.join(labels, sym["v"] == labels["node"])
                .groupBy("u")
                .agg(F.min("component").alias("new_component"))
            )
            joined = (
                labels.join(prop, labels["node"] == prop["u"])
                .select("node", "component", "new_component")
                .localCheckpoint(eager=False)
            )
            n_changed = joined.filter(F.col("new_component") < F.col("component")).count()
            if prev is not None:
                _release_checkpoint(prev)
            prev = joined
            labels = joined.select(
                "node", F.least("component", "new_component").alias("component")
            )
            if n_changed == 0:
                return labels
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} rounds; "
            "labels would be silently wrong (a chain longer than the budget is still "
            "propagating) — raise max_iter"
        )
    finally:
        sym.unpersist()


def dedup_components(
    pairs: DataFrame,
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    pair_a: str = "id_a",
    pair_b: str = "id_b",
) -> DataFrame:
    """Cluster-aware near-dup dedup: collapse near-duplicate PAIRS into
    connected components and keep the minimum-id document per
    component; docs that appear in no pair survive untouched. Returns
    ``(doc_id, component, is_kept)`` for every document.

    The survivor is the minimum id *present in docs* — not the
    component label itself. The two coincide when the pair graph was
    built from these same docs (the declared-query case), but when
    ``docs`` is a filtered subset (quality/language gates applied
    AFTER pair generation) the component's labeling minimum may be a
    filtered-out document; keying survival on the label would then
    silently drop the whole cluster.

    NULL-id precondition (stated, per the NULL-invariant): a NULL
    ``id_col`` row yields NULL component and NULL (tri-state)
    ``is_kept`` — identically to the recursive-CTE oracle — so BOTH
    ``filter(is_kept)`` and ``filter(~is_kept)`` drop it. Filter NULL
    ids upstream if they can occur; doc ids are the table key in every
    declared pipeline."""
    comp = connected_components(pairs, src_col=pair_a, dst_col=pair_b)
    out = (
        docs.select(F.col(id_col))
        .join(comp, docs[id_col] == comp["node"], "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("component"), F.col(id_col)).alias("component"),
        )
    )
    keep = F.min(F.col(id_col)).over(Window.partitionBy("component"))
    return out.select(
        F.col(id_col),
        F.col("component"),
        (F.col(id_col) == keep).alias("is_kept"),
    )


def pagerank_integer(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    *,
    iterations: int = 5,
    damping_pct: int = 85,
    scale: int = 1_000_000_000,
    small_rank_state: bool = True,
) -> DataFrame:
    """Fixed-iteration PageRank with PURE-BIGINT arithmetic — returns
    ``(node, rank_n)`` where ``rank_n`` is the rank in 1e-9 units.

    Floating-point PageRank is order-dependent (the per-node sum of
    contributions re-associates under repartitioning), so this variant
    keeps every quantity integral: each node starts at ``scale``; a
    node with out-degree d contributes ``rank_n div d`` (integer
    division — exact, associative) along each out-edge, and the update
    is ``(100 - damping_pct) * scale div 100 + damping_pct *
    sum(contribs) div 100``. Identical values on any engine with 64-bit
    integer division (the contract oracle states the same arithmetic as
    chained SQL CTEs), under any partitioning. Rounding loss per node
    per iteration is < 1e-9 of rank mass — far below any ranking use.
    Dangling nodes keep the standard simplification (their mass
    evaporates).

    Scale shape: rank STATE is (node, bigint) — orders of magnitude
    smaller than the edge list — so with ``small_rank_state=True`` (the
    default) each iteration BROADCASTS the state to the persisted
    degree-annotated edge list and the edges never shuffle at all; the
    only per-iteration exchange is the partial→final contribution sum
    on dst (measured at 1.2M edges / 16k nodes, sf0.1: 1.2 s →
    0.67 s per iteration vs the shuffle-join form). Graphs whose node
    set outgrows a broadcast pass
    ``small_rank_state=False``: state and edges then meet in shuffle
    joins, which is where bucketing the edge list by src pays.
    Overflow bound: ``damping_pct * total_mass`` must fit int64 →
    supports ~1e8 nodes at the default scale; lower ``scale`` for
    larger graphs.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    if not 0 <= damping_pct <= 100:
        raise ValueError("damping_pct must be in [0, 100]")
    return _pagerank_loop(
        edges, src_col, dst_col, iterations, damping_pct, scale, small_rank_state
    )


def _pagerank_loop(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    iterations: int,
    damping_pct: int,
    scale: int,
    small_rank_state: bool,
) -> DataFrame:
    hint = F.broadcast if small_rank_state else (lambda df: df)
    e = edges.select(F.col(src_col).alias("_src"), F.col(dst_col).alias("_dst")).distinct()
    deg = e.groupBy("_src").agg(F.count("*").alias("_deg"))
    # Adjacency-list edge state, persisted for the loop: grouping the
    # out-edges into per-src dst ARRAYS shrinks the per-iteration cached
    # scan and rank-join from |edges| rows to ~|nodes| rows — the edge
    # endpoints re-expand inside the same codegen stage (Generate)
    # instead of being decompressed from the cache and probed through
    # the join once per edge (measured at sf0.1, 1.17M edges / 16k
    # nodes: ~10s of task CPU per iteration stage down to ~2s; query
    # min 2.9s → 1.4s). Hub rows are CHUNKED (ceil(deg/65536) chunks,
    # dsts spread by xxhash64) so no single row's array exceeds ~64k
    # entries (~0.5 MB) regardless of degree skew — the collect_list is
    # bounded by construction, never corpus-degree-sized.
    #
    # The returned plan's LAST iteration still reads these caches, so
    # they cannot be unpersisted here; they live until the caller's
    # session ends or clears the cache (CacheManager holds persists
    # until explicit unpersist) — acceptable for the per-process
    # driver/bench runs, and a long-lived service should clearCache
    # between graphs.
    n_chunks = F.greatest(
        F.lit(1).cast("bigint"), F.ceil(F.col("_deg") / F.lit(65536)).cast("bigint")
    )
    e_adj = (
        e.join(deg, "_src")
        .groupBy("_src", F.pmod(F.xxhash64("_dst"), n_chunks).alias("_chunk"))
        .agg(F.min("_deg").alias("_deg"), F.collect_list("_dst").alias("_dsts"))
        .persist()
    )
    nodes = (
        e.select(F.col("_src").alias("node"))
        .union(e.select(F.col("_dst").alias("node")))
        .distinct()
        .persist()
    )
    base = (100 - damping_pct) * scale // 100
    # The rank state is keyed by DST nodes only (nodes that received at
    # least one contribution); any node absent from it has the closed-
    # form rank of an in-degree-0 node — `scale` before iteration 1,
    # `base` after — restated per consumer via coalesce. This halves the
    # per-iteration sequential depth vs materializing ranks over ALL
    # nodes each round (one broadcast + one agg exchange per iteration
    # instead of two broadcasts + an extra nodes-join; iteration 1 needs
    # no rank join at all), while computing bit-identical bigint values:
    # the old form's explicit rows for contribution-less nodes held
    # exactly the default the coalesce now supplies.
    ranks = None  # None ⇔ every node still at the initial `scale`
    for it in range(iterations):
        if ranks is None:
            chunked = e_adj.select(
                "_dsts", F.expr(f"CAST({scale} AS BIGINT) div _deg").alias("_c")
            )
        else:
            chunked = (
                e_adj.join(hint(ranks), e_adj["_src"] == ranks["node"], "left")
                .select(
                    "_dsts",
                    F.expr(f"coalesce(rank_n, CAST({base} AS BIGINT)) div _deg").alias(
                        "_c"
                    ),
                )
            )
        contribs = chunked.select(F.explode("_dsts").alias("_dst"), "_c")
        ranks = (
            contribs.groupBy("_dst")
            .agg(F.sum("_c").alias("_sum_c"))
            .select(
                F.col("_dst").alias("node"),
                (
                    F.lit(base).cast("bigint")
                    + F.expr(f"{damping_pct} * _sum_c div 100")
                ).alias("rank_n"),
            )
        )
        # long runs flatten lineage periodically (as connected_components
        # does every round): each iteration nests a join into the plan,
        # and analyzer time goes super-linear past a few dozen levels.
        # No-op at the fixed-iteration defaults.
        if (it + 1) % 10 == 0:
            ranks = ranks.localCheckpoint(eager=False)
    # Re-attach the contribution-less nodes exactly once, at the end.
    return nodes.join(hint(ranks), "node", "left").select(
        "node",
        F.coalesce(F.col("rank_n"), F.lit(base).cast("bigint")).alias("rank_n"),
    )
