"""Distributed graph primitives for dedup clustering.

The LLM-data dedup pipeline produces near-duplicate PAIRS (MinHash/LSH,
SimHash, embedding-cosine — ``operators.dedup`` / ``operators.similarity``);
turning pairs into dedup GROUPS (keep one canonical doc per group) is a
connected-components problem. The reference engine has no graph surface at
all (SURVEY.md §2.13) — this is extension surface, built Spark-first:

* the component label is the MIN vertex id reachable, computed by iterative
  label propagation — each round is one shuffle-join (labels ⋈ edges) plus
  one hash aggregate, i.e. plain DataFrame ops Catalyst can plan with AQE;
* each round combines one-hop neighbor-min propagation with POINTER
  JUMPING (label(v) <- label(label(v)), a labels self-join): propagation
  alone needs O(diameter) rounds — measured 17 rounds on the sf0.1
  near-dup graph, whose thresholded components are chains, not cliques —
  while path-halving makes label trees collapse geometrically, so rounds
  are O(log diameter). Same building blocks as the alternating
  large-star/small-star algorithm (Kiveris et al., "Connected Components
  in MapReduce and Beyond", SoCC'14), which is the upgrade path if vertex
  degree skew ever makes the groupBy(a) hot;
* each round ``localCheckpoint``s the label frame: without lineage
  truncation the plan doubles per iteration and the driver, not the data,
  becomes the bottleneck;
* convergence is detected with the exact label sum — a driver-side
  scalar per round (metadata decision, same class as SURVEY.md §2.8 A1),
  never a ``collect()`` of row data.

The fixed-round operators beside it (PageRank, BFS, label propagation,
weighted shortest paths) share two pieces: ``_symmetric_edges`` builds,
sizes and frees the checkpointed undirected edge list every operator
iterates over, and ``_min_cost_rounds`` is the one delta-frontier
relaxation behind both shortest paths and BFS (BFS is unit weights).
Each of their rounds is ONE join against the edge list; a vertex's own
term, a seed override or a frontier comparison is a union branch inside
the round's aggregate or window, not a second join (the move
``_cc_round`` made for components, whose second join is the pointer
jump).
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _free_checkpoint(df: DataFrame) -> None:
    """Unpersist the block-cached RDD behind a localCheckpoint'ed frame.

    The iterative loops below checkpoint their label/frontier frame every
    round; without explicit freeing, the superseded rounds' blocks sit in
    storage memory until Python GC + the async ContextCleaner get to them,
    and at 100x-edge scale (~0.4 GB/round x 17 rounds) that starves the
    unified execution pool mid-round (observed: UNABLE_TO_ACQUIRE_MEMORY
    in the 100x stress before this fix — see BENCH_NOTES.md). Called only
    on frames whose plan is a (projection of a) SINGLE checkpoint; frames
    with extra leaves (e.g. anything joined with the shared edge list) are
    left alone so a shared checkpoint is never freed by accident.

    Best-effort by contract: freeing early is an optimization, so any
    environment where the py4j internals below don't exist (Spark
    Connect sessions have no usable ``_jdf``) degrades to the async
    ContextCleaner default instead of crashing the graph op mid-loop.
    """
    try:
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        if leaves.size() != 1:
            return
        leaf = leaves.apply(0)
        if leaf.getClass().getSimpleName() == "LogicalRDD":
            with _unpersist_warn_silenced(df.sparkSession):
                leaf.rdd().unpersist(False)
    except Exception:  # pragma: no cover - non-JVM-backed sessions
        return


@contextmanager
def _unpersist_warn_silenced(spark):
    """Demote the "lineage has been truncated and cannot be recomputed"
    WARN to ERROR-only for the one RDD class involved, ONLY for the
    duration of this module's own unpersist call (the message is logged
    synchronously inside RDD.unpersist), then restore the level.

    The warning is a false alarm for this module's pattern — frames are
    freed strictly AFTER their last consumer materialized, and a genuine
    premature free would surface as a hard "checkpoint block not found"
    job failure, not silently — while at 100x scale the loops emit it
    once per freed round and drown the driver log. Restoring the level
    keeps the warning alive for every OTHER caller that unpersists a
    checkpoint (where it may be legitimate). Best-effort: log cosmetics
    never fail a job."""
    cat = "org.apache.spark.rdd.MapPartitionsRDD"
    jvm = None
    had_explicit = False
    prev = None
    try:
        jvm = spark._jvm
        # Restore the EXPLICIT configured level, not the effective one:
        # getLevel() on the Logger reports the inherited level for a
        # category with no LoggerConfig of its own, and pinning that back
        # would permanently detach the logger from its parent. Capture
        # whether an exact-name LoggerConfig exists; if not, restore by
        # removing the one Configurator.setLevel creates.
        ctx = jvm.org.apache.logging.log4j.LogManager.getContext(False)
        cfg = ctx.getConfiguration()
        lc = cfg.getLoggerConfig(cat)
        had_explicit = lc.getName() == cat
        if had_explicit:
            prev = lc.getLevel()
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            cat, jvm.org.apache.logging.log4j.Level.ERROR
        )
    except Exception:  # pragma: no cover - alternative logging backends
        jvm = None
    try:
        yield
    finally:
        if jvm is not None:
            try:
                if had_explicit:
                    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
                        cat, prev
                    )
                else:
                    ctx = jvm.org.apache.logging.log4j.LogManager.getContext(False)
                    cfg = ctx.getConfiguration()
                    cfg.removeLogger(cat)
                    ctx.updateLoggers()
            except Exception:  # pragma: no cover
                pass


@contextmanager
def _round_shuffle_width(spark, n_edges: int):
    """Problem-sized shuffle width for the per-round joins/aggregates.

    Two regimes: on SMALL graphs a wide session conf means O(rounds x
    width) near-empty tasks dominating wall-clock, so width shrinks to
    ~100k edges/partition; on HUGE graphs the session conf itself is the
    hazard — at 100x-replica scale (117M symmetrized edges) 32 partitions
    put ~3.7M rows in every concurrent join/agg task and the unified pool
    OOMs — so width may also EXCEED the session conf, targeting <=1M
    edges/partition (tasks still run cores-at-a-time; extra partitions
    trade scheduler overhead for bounded per-task memory, exactly what a
    real cluster's larger shuffle.partitions would do). Restored on exit.

    NOT concurrency-safe: ``spark.sql.shuffle.partitions`` is session-
    global, so an unrelated query planned on the same SparkSession while
    a graph op holds the context inherits this width. Single-pipeline
    sessions (this repo's bench/driver/runner shape) are unaffected;
    multi-tenant sessions should serialize graph ops or give them their
    own session (``spark.newSession()`` shares the cluster but not conf).
    """
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    width = max(
        8,
        min(int(prev), n_edges // 100_000 + 1),
        n_edges // 1_000_000 + 1,
    )
    spark.conf.set("spark.sql.shuffle.partitions", str(width))
    try:
        yield width
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


@contextmanager
def _symmetric_edges(edges: DataFrame, src: str, dst: str, weight=None, combine=None):
    """The undirected edge list every operator here iterates over, as one
    checkpoint ``(a, b)`` — or ``(a, b, w)`` when ``combine`` (an
    aggregate such as ``F.min``/``F.sum``) merges parallel edges' long
    weights, 1 per edge without a ``weight`` column. Yields ``(sym,
    n_raw)`` with the shuffle width context entered for the caller's
    rounds; ``sym`` is freed on exit, also when a round fails.

    TWO-PHASE materialization. Phase 1 checkpoints the RAW pair list:
    map-side only (no shuffle, so no per-task memory hazard at any
    width), it runs the expensive upstream pair generation (e.g. a
    thresholded block matmul) exactly once, and its count sizes the
    shuffle width. Phase 2 — the symmetrize shuffle AND every round —
    then runs INSIDE the width context: the 200x stress showed the
    edge-build aggregate itself OOMs at session width (234M rows / 32
    partitions) before any round starts, so the width must cover it. The
    raw checkpoint is LAZY: the count right after is the materializing
    action, so checkpoint+count costs ONE pass over the pair generation
    instead of two jobs (sf0.1 dedup_cluster_cc min-of-4: lazy 3.91 s vs
    eager 4.20 s, kept because one job is structurally right)."""
    cols = [F.col(src).alias("a"), F.col(dst).alias("b")]
    if combine is not None:
        w = F.col(weight) if weight is not None else F.lit(1)
        cols.append(w.cast("long").alias("w"))
    raw = edges.select(*cols).localCheckpoint(eager=False)
    n_raw = raw.count()
    with _round_shuffle_width(edges.sparkSession, 2 * n_raw):
        both = raw.union(
            raw.select(F.col("b").alias("a"), F.col("a").alias("b"), *raw.columns[2:])
        )
        if combine is None:
            both = both.distinct()
        else:
            both = both.groupBy("a", "b").agg(combine("w").cast("long").alias("w"))
        sym = both.localCheckpoint()
        _free_checkpoint(raw)
        # the symmetrized edge blocks are the biggest storage consumer at
        # 100x scale — free them the moment the rounds end instead of
        # waiting for the async py4j/ContextCleaner chain (back-to-back
        # graph ops stacking stale edge lists was half the 100x OOM)
        try:
            yield sym, n_raw
        finally:
            _free_checkpoint(sym)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    vertices: DataFrame | None = None,
    vertex_col: str = "vertex",
    max_iter: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """Label every vertex with the smallest vertex id in its component.

    ``edges`` is an undirected pair list (each pair listed once, either
    direction). ``vertices`` optionally supplies the full vertex universe
    (single-column DataFrame named ``vertex_col``) so isolated vertices
    surface as singleton components; otherwise the universe is the set of
    edge endpoints. Returns ``(vertex, component)``. Pass a ``stats``
    dict to receive ``stats["rounds"]`` — the number of label rounds
    until convergence. Rounds depend on component structure AND on where
    the minimum id sits within each component (a min at a chain's center
    is adopted in one hop; a min at its end must propagate/jump down the
    chain), NOT on data volume — the stress gates pin rounds as
    scale-invariant because disjoint replicas preserve both structure
    and relative id placement.
    """
    with _symmetric_edges(edges, src, dst) as (sym, n_raw):
        # r16: the label loop runs over EDGE ENDPOINTS only. An isolated
        # vertex has no neighbor, so its label provably never moves —
        # carrying it through every round only inflated the per-round
        # join/aggregate frames from O(endpoints) to O(universe) (at
        # corpus scale nearly every doc is isolated; endpoints <= 2|E|).
        # Isolated vertices append as their own singleton component
        # AFTER the loop, one anti-join, outside the O(rounds) cost.
        endpoints = sym.select(F.col("a").alias("vertex")).distinct()
        labels = _cc_loop(
            sym,
            endpoints,
            max_iter,
            stats,
            broadcast_labels=n_raw <= _CC_BROADCAST_EDGES,
        )
        if vertices is not None:
            singles = (
                vertices.select(F.col(vertex_col).alias("vertex"))
                .distinct()
                .join(labels.select("vertex"), "vertex", "left_anti")
                .withColumn("component", F.col("vertex"))
            )
            labels = labels.unionByName(singles)
    return labels


#: broadcast-labels regime bound: with |labels| <= 2 * n_edges rows of two
#: longs, 2M edges cap the per-round broadcast near ~64 MB framed — inside
#: the guide's "a few hundred MB is usually fine" band with headroom for
#: the driver building it every round. Below the bound each round's three
#: label joins become BroadcastHashJoins (the checkpointed frames are
#: ExistingRDD scans with no size stats, so AQE can never discover this
#: itself) and the only exchanges left per round are the neighbor-min
#: aggregate and the convergence count; above it the shuffle plan is
#: unchanged. Data-size-derived, not core-count-derived: the same code
#: path picks the same regime on any cluster.
_CC_BROADCAST_EDGES = 2_000_000


def _cc_round(sym: DataFrame, lab: DataFrame, hint) -> DataFrame:
    """One propagation round over ``lab = (vertex, component)``: min over
    {own label} UNION {neighbors' labels} in ONE aggregate, then one
    path-halving pointer jump through the round-start labels.

    r16 shape: the old round ran THREE joins (neighbor-min, a propagate
    join to fold the vertex's own label back in, and the halving jump)
    and threaded an ``old_component`` column for the convergence count.
    Folding the own-label term into the aggregate as a union branch
    (labels are exactly one (vertex, component) row per vertex, so
    ``min`` over the union IS ``least(own, min(neighbors))``) removes the
    propagate join outright, and convergence moved to the loop's monotone
    label-sum test, so the threading column is gone too. Two joins per
    round instead of three: one fewer broadcast build per round in the
    small regime, one fewer shuffle+sort of a label-sized frame per
    round in the sort-merge regime."""
    contrib = sym.join(hint(lab), sym["b"] == lab["vertex"], "inner").select(
        F.col("a").alias("vertex"), F.col("component")
    )
    new = (
        contrib.unionByName(lab)
        .groupBy("vertex")
        .agg(F.min("component").alias("component"))
    )
    # pointer jump: component <- component's component (path halving)
    p = lab.alias("p")
    return new.join(
        hint(p), new["component"] == F.col("p.vertex"), "left"
    ).select(
        new["vertex"],
        F.least(
            new["component"],
            F.coalesce(F.col("p.component"), new["component"]),
        ).alias("component"),
    )


def _cc_loop(
    sym: DataFrame,
    universe: DataFrame,
    max_iter: int,
    stats: dict | None = None,
    broadcast_labels: bool = False,
) -> DataFrame:
    hint = F.broadcast if broadcast_labels else (lambda df: df)
    # Convergence test: labels are MONOTONE NON-INCREASING (every round
    # takes a min over a set containing the current label), so the exact
    # label sum decreases iff at least one label moved — equal sums mean
    # converged. decimal(38,0) keeps the sum exact at any scale (a plain
    # long sum wraps silently with ANSI off: 10^9 vertices x 10^18 ids
    # overflows; decimal headroom is ~10^19 such rows). This replaces the
    # per-vertex ``changed`` bit the loop used to thread through an
    # ``old_component`` column — one fewer column in every round frame
    # and no comparison join anywhere.
    lbl_sum = F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
    # lazy checkpoint: the baseline-sum job below is the action that
    # materializes the initial labels, so startup costs ONE pass for
    # checkpoint+sum (the old loop paid an eager checkpoint job first)
    labels = universe.withColumn(
        "component", F.col("vertex")
    ).localCheckpoint(eager=False)
    prev_sum = labels.agg(lbl_sum).first()[0]

    done = 0
    converged = False
    while done < max_iter:
        cur = _cc_round(sym, labels, hint).localCheckpoint(eager=False)
        # one action per round: the sum aggregate materializes the lazy
        # checkpoint AND decides convergence (measured ~25% off the
        # per-round fixed cost on small graphs vs checkpoint+count as
        # two jobs; identical lineage cut)
        new_sum = cur.agg(lbl_sum).first()[0]
        done += 1
        # the aggregate materialized the new checkpoint; the previous
        # round's label blocks are now dead weight — free them eagerly so
        # storage never accumulates O(rounds) label frames (the 100x OOM)
        prev_labels = labels
        labels = cur
        _free_checkpoint(prev_labels)
        if new_sum == prev_sum:
            if stats is not None:
                # propagation rounds executed, including the confirming
                # no-change round — the same count the old changed-bit
                # loop reported, and still structure-invariant (the
                # stress gate's contract)
                stats["rounds"] = done
            converged = True
            break
        prev_sum = new_sum
    if not converged:
        # exhausting max_iter with labels still moving means the returned
        # components are WRONG (downstream dedup would merge on partial
        # labels with no signal) — fail loudly instead. The final round's
        # label checkpoint has no consumer on this path — free it too.
        _free_checkpoint(labels)
        still = (
            "label sum still decreasing" if done else "loop never ran"
        )
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({still}); raise max_iter"
        )
    return labels


def dedup_groups(
    components: DataFrame,
    vertex: str = "vertex",
    component: str = "component",
) -> DataFrame:
    """Aggregate a component labelling into dedup groups: one row per
    component with its canonical (minimum) member and group size — the
    "keep one per cluster" step of a fuzzy-dedup pipeline."""
    return components.groupBy(F.col(component).alias("component")).agg(
        F.count(F.lit(1)).alias("group_size"),
        F.min(vertex).alias("canonical"),
    )


def pagerank_fixed(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    iters: int = 3,
    broadcast_ranks: bool = False,
) -> DataFrame:
    """Weighted PageRank with a FIXED iteration count and pure-integer
    arithmetic — the influence/centrality score a corpus pipeline uses to
    weight documents by link authority (and the second Pregel-style
    iterative op here besides connected components).

    Semantics: edges are symmetrized (undirected), parallel edges combine
    by weight sum, and ranks are kept RELATIVE TO UNIFORM: every vertex
    starts at 1.0 and updates through ``iters`` rounds of
    ``rank' = 0.15 + 0.85 * sum_in(rank * w / wdeg)`` (divide ``rank6``
    by ``N * 1e6`` for a probability). The relative scale is what makes
    the integer arithmetic scale-safe: the update is linear, so the
    uniform-start stationary ordering is identical to the 1/N-probability
    formulation, but absolute micro-probabilities truncate to {0, 1}
    micro-units once N approaches 1e6 (at N=160k a vertex's initial
    rank6 would be 6 and most per-edge contributions floor to 0 — every
    rank degenerates while a same-math oracle happily agrees). Relative
    ranks keep ~1e6 resolution at ANY vertex count. Every quantity lives
    in integer MICRO-units with BIGINT ``div`` (truncating) division, so
    each round — and therefore the fixed-point result — is bit-identical
    in any engine: summation order, shuffle layout, and float libm never
    enter. A fixed iteration count instead of a convergence test is what
    makes the op ORACLE-ABLE (and is standard practice for rank features
    at corpus scale anyway).

    A vertex whose incident weights sum to 0 (zero-weight edges, or
    weights that cancel) has no outflow share to divide by: it sends no
    rank (its contributions are NULL, which the inflow sum skips) and
    keeps its teleport share plus whatever its neighbours send it.

    Plan: one shuffle to build the weighted symmetric edge list, joined
    once with the weighted degrees (reused every round via
    localCheckpoint — same lineage-truncation rationale as
    connected_components), then per round one equi-join of ranks onto
    edges partitioned by source plus one destination-keyed hash aggregate
    with map-side partial sums. Every vertex adds one zero contribution
    to that aggregate, so a vertex nothing flows into still gets its
    teleport rank without a per-round join against the vertex set.

    Returns ``(vertex, wdeg, rank6)`` — relative-to-uniform rank in
    micro-units (BIGINT; uniform == 1_000_000, mean stays ~1e6).
    """
    with _symmetric_edges(edges, src, dst, weight, F.sum) as (sym, _):
        # deg is vertex-sized — checkpointing it lets the (edge-sized)
        # sym blocks be freed as soon as edg materializes, instead of
        # holding TWO full edge frames for the whole call
        deg = (
            sym.groupBy("a")
            .agg(F.sum("w").cast("long").alias("wdeg"))
            .localCheckpoint()
        )
        edg = sym.join(deg, "a").localCheckpoint()
        _free_checkpoint(sym)
        # the result is its own checkpoint, so every phase-1 frame is
        # freed here — after a mid-round failure (task OOM, interrupt) too
        try:
            return _pagerank_rounds(edg, deg, iters, broadcast_ranks)
        finally:
            _free_checkpoint(edg)
            _free_checkpoint(deg)


def _pagerank_rounds(
    edg: DataFrame, deg: DataFrame, iters: int, broadcast_ranks: bool
) -> DataFrame:
    # with broadcast_ranks the per-round edge-side shuffle disappears
    # entirely: the vertex-sized rank frame ships to the (checkpointed,
    # in-place) edge partitions and each round costs ONE
    # destination-keyed aggregate. Right whenever |V| fits a broadcast
    # (bipartite dim graphs, near-dup clusters); leave False for
    # web-scale vertex sets, where the shuffle join is the honest plan.
    hint = F.broadcast if broadcast_ranks else (lambda df: df)
    # the vertex set: a null id never matches an equi-join, so its row
    # (if any) carries through the rounds and drops at the final join
    universe = deg.select(F.col("a").alias("vertex"))
    zero = universe.withColumn("c6", F.lit(0).cast("long"))
    ranks = universe.withColumn("rank6", F.lit(1_000_000).cast("long"))
    for _ in range(iters):
        r = hint(ranks)
        contrib = edg.join(r, edg["a"] == r["vertex"]).select(
            F.col("b").alias("vertex"),
            F.expr("rank6 * w div nullif(wdeg, 0)").cast("long").alias("c6"),
        )
        ranks = (
            contrib.unionByName(zero)
            .groupBy("vertex")
            .agg(F.sum("c6").cast("long").alias("s6"))
            .select(
                "vertex",
                F.expr(
                    "CAST((150000 * CAST(1000000 AS BIGINT) + 850000 * s6) "
                    "div 1000000 AS BIGINT)"
                ).alias("rank6"),
            )
        )
    # materialize the whole round chain INSIDE the width context: the
    # rounds are lazy plans, so without this they would execute at the
    # caller's session width whenever the result is first consumed —
    # exactly the unbounded-task-memory hazard the context exists to
    # prevent. One eager checkpoint of a VERTEX-sized frame (cheap; the
    # per-round edge frames stay lazy, per the negative result on
    # per-round checkpoints in BENCH_NOTES).
    return (
        ranks.join(deg.select(F.col("a").alias("vertex"), "wdeg"), "vertex")
        .select("vertex", "wdeg", "rank6")
        .localCheckpoint()
    )


def _min_cost_rounds(
    sym: DataFrame, seeds: DataFrame, seed_col: str, iters: int, out: str
) -> DataFrame:
    """DELTA-FRONTIER relaxation over ``sym = (a, b, w)``: ``iters``
    rounds of ``cost(b) <- min(cost(b), cost(a) + w)`` from cost 0 at
    every seed, where only vertices whose cost moved last round relax
    their edges. Result-identical to full relaxation round for round
    (an unmoved vertex's candidates were all subsumed last round), while
    round k costs O(|vertices moved in round k-1|) instead of
    O(|k-hop ball|) — on the chain-like graphs connected_components
    describes, O(d^2) total re-expansion otherwise.

    Each round is ONE frontier-to-edges equi-join plus ONE aggregate over
    the old costs UNION the candidates, which yields both the new cost
    and the ``moved`` flag (``old IS NULL OR cand < old``). The next
    frontier is a filter of the round's own eager checkpoint, so no
    comparison join against the previous round is needed and that
    round's checkpoint is freed as soon as the new one materializes.

    Returns ``(vertex, <out>)``, one row per vertex reached."""
    # duplicate seed rows collapse here (all carry cost 0), so the
    # iters=0 path honors the one-row-per-vertex contract too
    cost = (
        seeds.select(F.col(seed_col).alias("vertex"), F.lit(0).cast("long").alias(out))
        .distinct()
        .localCheckpoint()
    )
    frontier = cost
    none = F.lit(None).cast("long")
    for _ in range(iters):
        cand = frontier.join(sym, frontier["vertex"] == sym["a"]).select(
            F.col("b").alias("vertex"),
            none.alias("old"),
            (F.col(out) + F.col("w")).cast("long").alias("cand"),
        )
        nxt = (
            cost.select("vertex", F.col(out).alias("old"), none.alias("cand"))
            .unionByName(cand)
            .groupBy("vertex")
            .agg(F.min("old").alias("old"), F.min("cand").alias("cand"))
            .select(
                "vertex",
                F.least("old", "cand").alias(out),
                (F.col("old").isNull() | (F.col("cand") < F.col("old"))).alias("moved"),
            )
            .localCheckpoint()
        )
        _free_checkpoint(cost)
        cost = nxt
        frontier = nxt.filter("moved")
    return cost.select("vertex", out)


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "vertex",
    iters: int = 3,
) -> DataFrame:
    """Multi-source BFS with a FIXED round count: the minimum hop count
    from any seed vertex, for every vertex within ``iters`` hops — the
    reachability/expansion primitive (e.g. "everything within 3 links of
    a known-bad node").

    BFS is shortest_paths_weighted over unit weights: the same
    ``_min_cost_rounds`` relaxation, one frontier-to-edges equi-join plus
    one min-aggregate per round over checkpointed symmetric edges. A
    vertex first reached in round k has hop k and never improves, so
    "cost moved" is exactly "newly reached" and the frontier is the last
    round's new layer. Fixed rounds + integer min make the result a pure
    function of the graph (oracle-able by unrolling); vertices not
    reached in ``iters`` hops are absent by contract.

    Returns ``(vertex, hop)`` with hop in [0, iters].
    """
    with _symmetric_edges(edges, src, dst, combine=F.min) as (sym, _):
        return _min_cost_rounds(sym, seeds, seed_col, iters, "hop")


def label_propagation(
    edges: DataFrame,
    seed_labels: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    vertex_col: str = "vertex",
    label_col: str = "label",
    iters: int = 2,
) -> DataFrame:
    """Seeded (semi-supervised) label propagation with a FIXED round
    count and DETERMINISTIC tie-breaks: seed vertices hold their label
    fixed (duplicate/conflicting seed rows for one vertex are collapsed
    up front, smallest label wins); every other vertex adopts the
    weighted-majority label of its currently-labeled neighbors, ties to
    the smallest label. The
    community/classification dual of connected components (which
    propagates the MIN id; this propagates the ARGMAX vote) — e.g.
    propagate known document topics or entity types across a similarity
    graph.

    Per round: labeled frame ⋈ checkpointed symmetric edges, a
    (vertex, label) weighted vote aggregate (map-side partials), and a
    per-vertex arg-max via one ranked window that the seed rows enter
    too, flagged ``is_seed`` and ordered first — so a seed keeps its
    label with no per-round anti-join — all equi-joins and hash
    aggregates; label frame localCheckpoint'ed per round. Integer
    weights + total-order tie-break make every round bit-replicable in
    SQL. Unlabeled vertices with no labeled neighbor stay absent.

    Returns ``(vertex, label, is_seed)``.
    """
    from pyspark.sql.window import Window

    # one label per seed vertex, DETERMINISTICALLY: duplicate seed rows
    # would otherwise double-count their vertex's vote and take several
    # window ranks — conflicting labels resolve to the smallest (the
    # same total-order tie-break the per-round arg-max uses)
    seeds = (
        seed_labels.select(
            F.col(vertex_col).alias("vertex"), F.col(label_col).alias("label")
        )
        .groupBy("vertex")
        .agg(F.min("label").alias("label"))
        .withColumn("votes", F.lit(None).cast("long"))
        .withColumn("is_seed", F.lit(True))
        .localCheckpoint()
    )
    win = Window.partitionBy("vertex").orderBy(
        F.col("is_seed").desc(), F.col("votes").desc(), "label"
    )
    labels = seeds
    with _symmetric_edges(edges, src, dst, weight, F.sum) as (sym, _):
        for _ in range(iters):
            votes = (
                labels.join(sym, labels["vertex"] == sym["a"])
                .groupBy(F.col("b").alias("vertex"), "label")
                .agg(F.sum("w").cast("long").alias("votes"))
                .withColumn("is_seed", F.lit(False))
            )
            prev = labels
            labels = (
                votes.unionByName(seeds)
                .withColumn("rnk", F.row_number().over(win))
                .filter(F.col("rnk") == 1)
                .localCheckpoint()
            )
            if prev is not seeds:  # seeds feed every round's window
                _free_checkpoint(prev)
    if labels is not seeds:
        _free_checkpoint(seeds)
    return labels.select("vertex", "label", "is_seed")


def shortest_paths_weighted(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    seed_col: str = "vertex",
    iters: int = 3,
) -> DataFrame:
    """Multi-source weighted shortest paths with a FIXED relaxation
    round count (Bellman-Ford over Pregel rounds): the minimum total
    edge weight from any seed vertex, for every vertex reachable within
    ``iters`` edges — BFS's weighted sibling (cheapest supply route,
    lowest-latency dependency chain, min-cost entity link). Edges are
    treated as undirected: symmetrized with the per-pair MIN weight and
    localCheckpoint'ed once; the rounds are ``_min_cost_rounds`` — one
    frontier-to-edges equi-join producing ``cost + w`` candidates plus
    one min-aggregate that also flags which costs moved, with the cost
    frame checkpointed per round to truncate lineage. Unlike BFS hops a
    settled cost can later improve via a cheaper longer-hop path, which
    the ``moved`` flag puts back on the frontier. Integer weights +
    fixed rounds + the order-free integer MIN make the result a pure
    function of the graph, so an oracle can replay it by unrolling the
    rounds in SQL. Vertices not reachable within ``iters`` edges are
    absent by contract; with non-negative weights ``iters`` >= graph
    diameter gives the true single-source-shortest-path costs.

    Returns ``(vertex, cost)`` with cost the minimal path weight.
    """
    with _symmetric_edges(edges, src, dst, weight, F.min) as (sym, _):
        return _min_cost_rounds(sym, seeds, seed_col, iters, "cost")
