"""Iterative graph analytics as relational plans.

Connected components (min-label pointer jumping) lives with the dedup
family (`operators/dedup.py` — it exists to cluster near-duplicate pairs);
this module holds general graph scoring, starting with PageRank.

Determinism: ranks are fixed-point integers (scale 2^bits). Each
iteration's per-edge share is ``floor(rank / out_degree)`` — an exact
integer both engines compute identically (the double quotient of two
int64s below 2^31 can never round across an integer boundary, since a
non-integer rational p/q with q < 2^31 sits at least 1/q > 2^-31 from any
integer) — and the damping multiply is one correctly-rounded double op on
identical inputs. So a DuckDB oracle can replay every iteration
bit-for-bit. The floor loses a little rank mass per hop (bounded by
out_degree·2^-bits per node per iteration); ranking order is unaffected
and reproducibility is the point.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from artigraph_spark.operators._adaptive import pinned_parallelism
from artigraph_spark.operators._checkpoint import checkpoint as _ckpt


@pinned_parallelism
def pagerank(
    edges: DataFrame,
    src: str,
    dst: str,
    iterations: int = 8,
    damping: float = 0.85,
    bits: int = 30,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list.

    Returns (node, rank_fx) with rank_fx the fixed-point rank (scale
    2^bits). Dangling nodes (no out-edges) leak their damped mass each
    iteration — the usual simplification; pass a symmetrized edge list for
    undirected graphs and there are no dangling nodes.

    Scale shape: per iteration one equi-join (edges x ranks on src) and one
    groupBy(dst) with map-side partial sums — the standard distributed
    PageRank step, linear in edges, shuffles keyed on node ids. The
    iteration count is fixed (default 8), so the lineage is a bounded
    8-deep DAG; ranks are cut every 4 iterations AND at the end
    (``operators._checkpoint``). Under a context checkpoint directory
    both cuts are reliable and eager, so the in-flight lineage depth and
    the result survive executor loss — the right mode for long jobs on
    real clusters. Without one they are executor-local blocks
    (self-cleaning, lost with the executor — fine in local mode).

    The degree-annotated edge list and per-node base frame are persisted
    (they feed every iteration); they stay cached until Spark's LRU evicts
    them or the caller clears the cache after consuming the result — the
    alternative is re-running the edge/node subtrees once per iteration,
    which measured 2.4x slower end-to-end.
    """
    if iterations <= 0:
        raise ValueError(f"iterations must be positive, got {iterations}")
    if not 0.0 < damping < 1.0:
        raise ValueError(f"damping must be in (0, 1), got {damping}")
    if not 1 <= bits <= 52:
        # below 1 the integer ranks collapse to zero; above 52 the exactness
        # arguments in the module docstring (share floors, long sums) no
        # longer hold and the oracle replay guarantee silently breaks
        raise ValueError(f"bits must be in [1, 52], got {bits}")
    one = 1 << bits
    base_num = (1.0 - damping) * one  # python double; oracle uses repr of this
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    deg = edges.groupBy(F.col(src).alias("__s")).agg(F.count(F.lit(1)).alias("__deg"))
    # The degree-annotated edge list and the per-node base term are read by
    # EVERY iteration: persist them so the single final action evaluates
    # each once instead of embedding (and re-running) the edges/nodes
    # subtrees 8x in the unrolled plan. MEMORY_AND_DISK (not
    # localCheckpoint) keeps the lineage recoverable on executor loss;
    # measured 23.5 s → 9.9 s at sf0.1 co-purchase scale.
    from pyspark import StorageLevel

    # r14: the WHOLE loop (construction + materialization) runs with AQE
    # pinned OFF (@pinned_parallelism, operators._adaptive): the loop's
    # exchange shapes are
    # fixed and node-keyed, the edge frame's partitioning is pinned by the
    # persist, and AQE's per-exchange re-planning barrier costs 3 driver
    # round-trips per iteration for plans that never change between
    # rounds — measured 24.5 s vs 59 s same-minute at sf0.1 on a noisy
    # host (29 jobs/75 stages -> 7 jobs/27 stages). r15: the pin is
    # SCALE-ADAPTIVE — it applies only while edges estimates below
    # SPARK_GRAFT_REUSE_MIN_BYTES; at the x30 probe scale AQE-ON measured
    # 1.5x faster (35.3 vs 52.8 s, docs/SCALE_PROBE_r15.json), so
    # data-bound loops keep runtime coalescing/skew splitting and only
    # dispatch-bound loops pay zero barriers. The pin must cover plan
    # CONSTRUCTION too, not just the final action: the mid-loop lazy
    # localCheckpoint freezes its physical plan the moment it is
    # declared, so a cut planned with AQE on would embed (and later
    # execute) an AQE plan whatever session runs the final action.
    e = (
        edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d"))
        .join(deg, "__s")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_df = nodes.agg(F.count(F.lit(1)).alias("__n"))
    base = (
        nodes.crossJoin(F.broadcast(n_df))
        .select(
            "node",
            F.floor(F.lit(float(one)) / F.col("__n")).alias("__init"),
            F.floor(F.lit(base_num) / F.col("__n")).alias("__base"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ranks = base.select("node", F.col("__init").alias("r"))
    for it in range(iterations):
        contrib = (
            e.join(ranks.withColumnRenamed("node", "__s"), "__s")
            .select(
                "__d", F.floor(F.col("r") / F.col("__deg")).alias("__share")
            )
            .groupBy("__d")
            .agg(F.sum("__share").alias("__in"))
        )
        ranks = (
            base.join(contrib.withColumnRenamed("__d", "node"), "node", "left")
            .select(
                "node",
                (
                    F.col("__base")
                    + F.floor(
                        F.lit(damping) * F.coalesce(F.col("__in"), F.lit(0))
                    )
                ).alias("r"),
            )
        )
        if (it + 1) % 4 == 0 and it + 1 < iterations:
            # Mid-loop lineage cut every 4 rounds, ALWAYS (r9): even
            # though ranks is consumed once per round (plan nodes grow
            # linearly, not 4^k), Catalyst's analysis/optimization cost
            # over the unrolled 8-deep loop plan grows superlinearly —
            # measured 1/2/4/8 iterations at 3.4/3.4/6.5/19.7 s on the
            # sf0.1 co-purchase graph, i.e. the last 4 rounds cost 3x
            # the first 4 under one unrolled plan. The cut caps the
            # optimizer's working plan at 4 rounds EITHER WAY (the
            # Catalyst plan truncates to a LogicalRDD at cut time, not
            # at materialization), so in local-blocks mode it is LAZY —
            # the next action materializes it, saving one node-count-
            # sized job per cut. A reliable cut is always eager
            # (operators._checkpoint): it is the mid-loop fault barrier.
            ranks = _ckpt(ranks, eager=False)
    # Materialize the slim (node, rank) result, then RELEASE the two
    # persisted loop frames — otherwise each pagerank() call leaks
    # disk-backed cache blocks the caller has no handle to unpersist.
    # The cut follows the connected_components precedent: the result is
    # node-count-sized, executor-local blocks are freed by the
    # ContextCleaner once the returned frame is garbage-collected, and a
    # lineage replay would re-run the whole loop anyway. The finally
    # releases the frames even when the eager checkpoint job fails — a
    # failed call must not leak cache blocks either.
    try:
        return _ckpt(ranks.select("node", F.col("r").alias("rank_fx")))
    finally:
        e.unpersist()
        base.unpersist()


@pinned_parallelism
def triangle_counts(
    edges: DataFrame,
    src: str,
    dst: str,
    *,
    materialize: bool = True,
) -> DataFrame:
    """Per-node triangle counts over an undirected graph, returned as
    ``(node, n_triangles)`` for nodes in at least one triangle. Input
    edges may be directed/duplicated/self-looped — they are canonicalized
    (least/greatest, dedup, self-loops dropped) first.

    Scale shape — degree-ordered wedge enumeration, the standard
    distributed algorithm: orient every edge from its lower-(degree, id)
    endpoint to the higher one, enumerate wedges by self-joining oriented
    edges on the center, and close each wedge with an equi-join back to
    the oriented list. Orientation bounds every node's out-degree by
    O(√E), so wedge volume is O(E^1.5) even on skewed (power-law) graphs
    — never the Θ(Σ deg²) of naive neighbor pairing, and each triangle is
    found exactly once (at its minimum-order vertex, no ÷3 fixup). All
    three steps are equi-joins keyed on node ids (the order comparison
    rides as a join residual); counts are exact integers, so any engine
    agrees with any enumeration order.

    With ``materialize=True`` (default) the canonical edge list and the
    oriented list are persisted for the duration of the computation (the
    oriented list is referenced three times — both wedge sides and the
    closure — and the edge list feeds both the degree aggregate and the
    orientation join; without the persists each reference re-runs the
    upstream scan+distinct), then released pagerank-style: the slim
    per-node result is lineage-cut (``operators._checkpoint``) so the
    caller holds no lineage into the freed frames. ``materialize=False`` returns the fully lazy
    plan instead (re-execution cost and all) — for plan inspection or
    embedding in a larger optimized query.
    """
    from pyspark import StorageLevel

    # r14: the whole pipeline (persists included) is built and
    # materialized with AQE pinned OFF (operators._adaptive): the wedge
    # pipeline's skew bound is algorithmic (degree orientation caps
    # out-degree at O(sqrt E)), so AQE's skew splitting is redundant
    # while its per-exchange barrier serializes the deep join pipeline —
    # measured 5.9 s -> 3.1 s at sf0.1 on the co-purchase graph. The
    # scope must include the persist() calls: caching compiles the
    # cached plan at cacheQuery time, so a persist created outside the
    # scope embeds an AQE plan that runs regardless of the conf at the
    # final action (the pagerank mid-cut lesson). With
    # ``materialize=False`` nothing compiles inside the scope and the
    # caller's session conf governs the returned lazy plan as before.
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    if materialize:
        e = e.persist(StorageLevel.MEMORY_AND_DISK)
    deg = (
        e.select(F.col("a").alias("n"))
        .unionAll(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    ed = e.join(
        deg.select(F.col("n").alias("__na"), F.col("d").alias("__da")),
        F.col("__na") == F.col("a"),
    ).join(
        deg.select(F.col("n").alias("__nb"), F.col("d").alias("__db")),
        F.col("__nb") == F.col("b"),
    )
    a_first = (F.col("__da") < F.col("__db")) | (
        (F.col("__da") == F.col("__db")) & (F.col("a") < F.col("b"))
    )
    o = ed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(
            a_first, F.struct(F.col("__db").alias("d"), F.col("b").alias("n"))
        )
        .otherwise(F.struct(F.col("__da").alias("d"), F.col("a").alias("n")))
        .alias("ordv"),
    )
    if materialize:
        o = o.persist(StorageLevel.MEMORY_AND_DISK)
    o1 = o.select("u", F.col("v").alias("v1"), F.col("ordv").alias("ord1"))
    o2 = o.select(F.col("u").alias("u2"), F.col("v").alias("v2"), F.col("ordv").alias("ord2"))
    wedges = o1.join(o2, (F.col("u2") == F.col("u")) & (F.col("ord1") < F.col("ord2")))
    closing = o.select(F.col("u").alias("cu"), F.col("v").alias("cv"))
    tri = wedges.join(
        closing, (F.col("cu") == F.col("v1")) & (F.col("cv") == F.col("v2"))
    )
    counts = (
        tri.select(F.explode(F.array("u", "v1", "v2")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
    if not materialize:
        return counts
    # finally-guarded like pagerank: a failed checkpoint job must not
    # leak the two persisted frames the caller has no handle to.
    try:
        return _ckpt(counts)
    finally:
        e.unpersist()
        o.unpersist()


def _basket_items(df, basket_col: str, item_col: str):
    """The prelude :func:`support_pairs` and :func:`association_rules`
    share: the distinct (basket, item) frame ``(__b, __i)``, persisted,
    the per-item counts ``(__i, __c)`` and the one-row basket total
    ``(__nb)``.

    The distinct frame feeds four plan branches (both pair sides, the
    item counts, the basket total), so it is persisted for the call and
    the caller releases it after materializing its top-k (the
    set_similarity_pairs convention — unpersisted, every branch
    re-scans and re-distincts the input). The caller builds it inside
    its pinned-AQE scope: caching compiles the plan at cacheQuery time
    (the pagerank mid-cut lesson). The basket total is a lazy one-row
    aggregate crossed into the ratios — an eager ``.count()`` would run
    a full Spark job at plan-build time (the heavy_hitters
    total/crossJoin shape, kept plan-lockable).
    """
    from pyspark import StorageLevel

    items = (
        df.select(F.col(basket_col).alias("__b"), F.col(item_col).alias("__i"))
        .filter(F.col("__b").isNotNull() & F.col("__i").isNotNull())
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    counts = items.groupBy(F.col("__i")).agg(F.count(F.lit(1)).alias("__c"))
    n_baskets = items.agg(F.count_distinct(F.col("__b")).alias("__nb"))
    return items, counts, n_baskets


@pinned_parallelism
def support_pairs(
    df,
    basket_col: str,
    item_col: str,
    *,
    top_k: int = 100,
):
    """Market-basket co-occurrence mining: the item pairs most often
    appearing in the same basket, with support counts and lift —
    ``(item_a, item_b, pair_cnt, cnt_a, cnt_b, lift_r)``, top-k by
    ``(pair_cnt desc, item_a, item_b)``.

    The pair counts are :func:`~artigraph_spark.operators.similarity.overlap_pairs`
    with items as the sets and baskets as the members — cost
    Σ_b C(|b|, 2), safe whenever basket sizes are bounded (order
    line counts, session lengths); for heavy-tailed baskets cap or
    sample baskets first (the same precondition as the wedge join in
    :func:`triangle_counts`, and the ``key_skew_audit`` numbers tell
    you). Lift = pair_cnt·n_baskets/(cnt_a·cnt_b) — one double
    division of exact int64 counts, rounded to 6 — and the top-k is
    totally ordered, so the whole output replays in an oracle.
    """
    if top_k <= 0:
        raise ValueError(f"top_k must be positive, got {top_k}")
    from artigraph_spark.operators.similarity import overlap_pairs

    # r14: built AND materialized under the pinned-AQE scope
    # (operators._adaptive) — the within-basket pair join's skew is
    # bounded by the documented basket-size precondition, so runtime
    # skew splitting is redundant while the per-exchange barrier
    # serializes the short pipeline; measured 2.0 s -> 1.5 s at sf0.1.
    items, counts, n_baskets = _basket_items(df, basket_col, item_col)
    pairs = overlap_pairs(items, "__i", "__b").select(
        F.col("a").alias("item_a"),
        F.col("b").alias("item_b"),
        F.col("overlap").alias("pair_cnt"),
    )
    ca = counts.select(F.col("__i").alias("item_a"), F.col("__c").alias("cnt_a"))
    cb = counts.select(F.col("__i").alias("item_b"), F.col("__c").alias("cnt_b"))
    out = (
        pairs.join(ca, "item_a")
        .join(cb, "item_b")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "item_a",
            "item_b",
            "pair_cnt",
            "cnt_a",
            "cnt_b",
            # Widen through DECIMAL(38,0) before multiplying (the
            # auc_by_group/gini_by_group/g2_keywords convention):
            # pair_cnt·n_baskets and cnt_a·cnt_b overflow int64 once
            # counts exceed ~3e9 — the 100 TB basket scale these
            # docstrings target — and ANSI mode would abort the job.
            F.round(
                (
                    F.col("pair_cnt").cast("decimal(38,0)")
                    * F.col("__nb").cast("decimal(38,0)")
                ).cast("double")
                / (
                    F.col("cnt_a").cast("decimal(38,0)")
                    * F.col("cnt_b").cast("decimal(38,0)")
                ).cast("double"),
                6,
            ).alias("lift_r"),
        )
        .orderBy(F.col("pair_cnt").desc(), F.col("item_a"), F.col("item_b"))
        .limit(top_k)
    )
    try:
        return _ckpt(out)
    finally:
        items.unpersist()


@pinned_parallelism
def bfs_hops(
    edges: DataFrame,
    src: str,
    dst: str,
    seeds: DataFrame,
    *,
    max_hops: int = 6,
) -> DataFrame:
    """Multi-source BFS hop distances: for every node reachable from the
    seed set within ``max_hops`` directed hops, the MINIMUM number of
    hops — reachability/radius analysis, impact blast-radius, "within k
    degrees" features. Pass a symmetrized edge list for undirected
    semantics (the pagerank/co-purchase convention).

    Frontier expansion, the standard distributed BFS: round i joins the
    current frontier (nodes first reached at i−1) with the edge list,
    distincts the targets, and anti-joins the settled set — each round
    is two node-keyed shuffles over FRONTIER-sized data (never the full
    node set), and a node settles exactly once at its true BFS level, so
    the result is deterministic on any engine/partitioning. Early exit
    on an empty frontier (a metadata-sized count per round, the
    connected-components convention); per-round lineage cuts are
    ``operators._checkpoint``'s (executor-local blocks, or reliable files
    under the context's checkpoint directory for long cluster runs).

    ``seeds`` is a one-column DataFrame of start nodes (distinct-ed and
    intersected with nothing — seeds absent from the graph still report
    hops 0). Returns ``(node, hops)``, hops in 0..max_hops.
    """
    if max_hops < 0:
        raise ValueError(f"max_hops must be non-negative, got {max_hops}")
    from pyspark import StorageLevel

    # pinned-AQE frontier loop (operators._adaptive): fixed node-keyed
    # exchange shapes every round, per-round cuts freeze plans at
    # declaration, persist compiles at cacheQuery — the pagerank scope
    seed_col = seeds.columns[0]
    e = edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    dist = seeds.select(F.col(seed_col).alias("node")).distinct().withColumn(
        "hops", F.lit(0).cast("long")
    )
    dist = _ckpt(dist)
    frontier = dist.select("node")
    try:
        for i in range(1, max_hops + 1):
            targets = (
                e.join(frontier.withColumnRenamed("node", "__s"), "__s")
                .select(F.col("__d").alias("node"))
                .distinct()
            )
            fresh = targets.join(dist, "node", "left_anti").withColumn(
                "hops", F.lit(i).cast("long")
            )
            fresh = _ckpt(fresh)
            if fresh.limit(1).count() == 0:
                break
            dist = _ckpt(dist.unionByName(fresh))
            frontier = fresh.select("node")
        return dist
    finally:
        e.unpersist()


def adamic_adar(
    edges: DataFrame,
    src: str,
    dst: str,
    *,
    top_k: int = 100,
    materialize: bool = True,
) -> DataFrame:
    """Adamic–Adar link prediction over an undirected edge list: for
    node pairs that share neighbors but are NOT adjacent, ``AA(u,w) =
    Σ_{v ∈ Γ(u)∩Γ(w)} 1/ln(deg(v))`` — rare shared neighbors count more
    than hubs. The classic "who should be connected next"
    recommendation score (Adamic & Adar 2003).

    Input edges are one row per undirected edge (src < dst, as produced
    by the co-purchase pair builder). Candidate pairs come from wedge
    enumeration around each middle node (the triangle-counting shape —
    never all-pairs); existing edges are removed with one anti-join. A
    middle node of a wedge has degree ≥ 2 so ln(deg) > 0 always. Each
    1/ln(deg) term is snapped to the 9-decimal grid and summed through
    the order-independent fixed-point path, so scores and the
    (aa desc, u, w) top-k replay identically on any engine.

    Scale shape: degree aggregate + wedge self-join keyed on the middle
    node (skew bound: Σ deg(v)² — salt or cap hub degrees upstream for
    power-law graphs at 100 TB), one groupBy on (u,w), one broadcast-able
    anti-join against the edge list, one top-k window over scored pairs.

    The edge list is referenced five times across the wedge branches
    (both neighbor sides, the degree aggregate, the anti-join). With
    ``materialize=True`` (default) it is persisted for the duration and
    released triangle_counts-style — the slim top-k result is
    lineage-cut so the caller holds no lineage into the freed frame. Without it, an expensive upstream (e.g. the co-purchase pair
    builder) re-runs once per branch. ``materialize=False`` returns the
    fully lazy plan for plan inspection / embedding.

    Returns ``(u, w, n_common, aa_r, rk)`` with rk ≤ top_k.
    """
    from pyspark import StorageLevel
    from pyspark.sql import Window

    from artigraph_spark.functions import dsum

    e = edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d"))
    if materialize:
        e = e.persist(StorageLevel.MEMORY_AND_DISK)
    und = e.select(F.col("__s").alias("__v"), F.col("__d").alias("__n")).unionAll(
        e.select(F.col("__d").alias("__v"), F.col("__s").alias("__n"))
    )
    deg = und.groupBy("__v").agg(F.count(F.lit(1)).alias("__deg"))
    nb = und.join(deg, "__v")
    # Second wedge side needs only (v, neighbor) — no degree join.
    n2 = und.select(F.col("__v").alias("__v2"), F.col("__n").alias("__w"))
    wedges = nb.join(
        n2, (F.col("__v2") == F.col("__v")) & (F.col("__n") < F.col("__w"))
    )
    term = F.round(F.lit(1.0) / F.log(F.col("__deg").cast("double")), 9)
    scored = (
        wedges.select(F.col("__n").alias("u"), F.col("__w").alias("w"), term.alias("__t"))
        .groupBy("u", "w")
        .agg(F.count(F.lit(1)).alias("n_common"), dsum(F.col("__t")).alias("aa"))
    )
    existing = e.select(F.col("__s").alias("u"), F.col("__d").alias("w"))
    nonadj = scored.join(existing, ["u", "w"], "left_anti")
    order = [F.col("aa").desc(), F.col("u").asc(), F.col("w").asc()]
    # TakeOrderedAndProject top-k (per-partition heaps of k, a k-row
    # exchange — never a global window/sort over the candidate pairs,
    # which at web scale are wedge-bounded but NOT summary-sized); the
    # rk window then runs over the ≤top_k survivors only (r10 fix —
    # previously a global row_number window over ALL candidates).
    wnd = Window.orderBy(*order)
    out = (
        nonadj.orderBy(*order)
        .limit(top_k)
        .withColumn("rk", F.row_number().over(wnd))
        .select("u", "w", "n_common", F.round("aa", 9).alias("aa_r"), "rk")
    )
    if materialize:
        out = _ckpt(out)  # ≤ top_k rows
        e.unpersist()
    return out


@pinned_parallelism
def hits(
    edges: DataFrame,
    src: str,
    dst: str,
    *,
    iterations: int = 8,
    bits: int = 30,
) -> DataFrame:
    """Fixed-iteration HITS (hubs & authorities) over a directed edge
    list — Kleinberg's dual of PageRank: a good HUB points at good
    authorities, a good AUTHORITY is pointed at by good hubs. The pair
    of mutually-recursive scores is what link-quality audits and
    bipartite recommendation (curator↔item, buyer↔product) want where
    PageRank's single score conflates the two roles.

    Fixed-point replay: scores live at scale 2^bits; each round the
    authority update sums the (≤2^bits) hub scores over in-edges in
    exact int64, then max-normalizes via
    ``floor(raw / max_raw · 2^bits)`` computed in double — raw sums stay
    < 2^53 (exact in IEEE double) while max in-degree < 2^(53−bits)
    (~8.4M at the default 30 bits; lower ``bits`` for denser graphs),
    division is correctly rounded on any IEEE engine, the 2^bits
    multiply is an exponent shift, floor is exact — so every score
    replays bit-for-bit cross-engine (the pagerank argument, with max-
    instead of sum-normalization because HITS scores are scale-free).
    The hub update mirrors it over out-edges.

    Scale shape: per iteration two equi-joins + two map-side-combined
    groupBys keyed on node ids (linear in edges) and two single-row max
    aggregates riding broadcast cross joins — the canonical distributed
    HITS step. Unlike pagerank (whose loop consumes each rank frame
    exactly once, so the lazy plan grows linearly), every HITS frame is
    referenced TWICE per round — by the next raw sum and by its own max
    — so an unrolled lazy plan grows 4^iterations; each round's scores
    are therefore materialized through an eager per-iteration lineage
    cut (node-count-sized frames, the kmeans/bfs eager-loop precedent;
    ``operators._checkpoint``, reliable under a context checkpoint
    directory). The distinct edge list is persisted across the loop and
    released in a finally.

    Hubs are nodes with out-edges, authorities nodes with in-edges (a
    node can be both — it appears once per role). Returns
    ``(node, role, score_fx)`` with role ∈ {'hub','auth'} and score_fx
    the final fixed-point score in [0, 2^bits].
    """
    if iterations <= 0:
        raise ValueError(f"iterations must be positive, got {iterations}")
    if not 1 <= bits <= 52:
        raise ValueError(f"bits must be in [1, 52], got {bits}")
    one = float(1 << bits)
    from pyspark import StorageLevel

    # pinned-AQE loop scope (operators._adaptive): per-iteration eager
    # cuts plan inside the loop, the persist compiles at cacheQuery —
    # both must sit inside the scope (the pagerank mid-cut lesson)
    e = (
        edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    h = e.select(F.col("__s").alias("node")).distinct().withColumn(
        "sc", F.lit(1 << bits).cast("long")
    )
    a = None

    def _normalize(raw: DataFrame) -> DataFrame:
        mx = raw.agg(F.max("raw").alias("__mx"))
        return raw.crossJoin(F.broadcast(mx)).select(
            "node",
            F.floor(
                F.col("raw").cast("double") / F.col("__mx").cast("double") * F.lit(one)
            )
            .cast("long")
            .alias("sc"),
        )

    try:
        for _ in range(iterations):
            a = _ckpt(
                _normalize(
                    e.join(h.withColumnRenamed("node", "__s"), "__s")
                    .groupBy(F.col("__d").alias("node"))
                    .agg(F.sum("sc").alias("raw"))
                )
            )
            h = _ckpt(
                _normalize(
                    e.join(a.withColumnRenamed("node", "__d"), "__d")
                    .groupBy(F.col("__s").alias("node"))
                    .agg(F.sum("sc").alias("raw"))
                )
            )
        out = h.select(
            "node", F.lit("hub").alias("role"), F.col("sc").alias("score_fx")
        ).unionByName(
            a.select(
                "node", F.lit("auth").alias("role"), F.col("sc").alias("score_fx")
            )
        )
        # Materialize before releasing the loop's persisted edge frame —
        # the pagerank/_ckpt precedent.
        return _ckpt(out)
    finally:
        e.unpersist()


@pinned_parallelism
def k_core(
    edges: DataFrame,
    src: str,
    dst: str,
    *,
    k: int,
    max_rounds: int = 12,
) -> DataFrame:
    """k-core decomposition membership: iteratively peel nodes of degree
    < k until the remaining subgraph is stable — the standard "dense
    cohesive core" extraction (spam/bot rings, community nuclei, the
    preprocessing step before expensive clique-ish analyses).

    Input edges are canonicalized (self-loops dropped, both directions
    deduped) and symmetrized internally, so callers pass any directed/
    duplicated list. Each peel round is one map-side-combined degree
    aggregate plus two semi-joins (node-keyed, edge-linear) with an
    eager per-round lineage cut (frontier-loop convention; reliable
    under a context checkpoint directory), and an
    edge-count early exit (metadata-sized, the BFS/CC convention) —
    rounds past convergence are no-ops, which is exactly what makes the
    fixed-round oracle replay equal to the early-exited Spark run. If
    the final allowed round STILL removed edges (a graph that peels one
    layer per round, e.g. a long path at k=2, can need more than the
    default 12), the result would contain nodes below the contract, so
    non-convergence raises instead of silently returning them — the
    per-round edge count makes the check free. Every non-converged round
    removes at least one edge, so ``max_rounds`` equal to the number of
    distinct undirected edges always reaches the fixed point.

    Returns ``(node, core_deg)`` — nodes in the k-core with their
    within-core degree (≥ k by construction).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    # pinned-AQE peel loop (operators._adaptive): per-round eager cuts
    # and counts over fixed node-keyed exchange shapes
    pe = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("__a"),
            F.greatest(F.col(src), F.col(dst)).alias("__b"),
        )
        .filter(F.col("__a") != F.col("__b"))
        .distinct()
    )
    e = _ckpt(
        pe.select(F.col("__a").alias("__s"), F.col("__b").alias("__d")).unionByName(
            pe.select(F.col("__b").alias("__s"), F.col("__a").alias("__d"))
        )
    )
    n_edges = e.count()
    converged = n_edges == 0
    rounds = 0
    while not converged and rounds < max_rounds:
        rounds += 1
        keep = (
            e.groupBy("__s")
            .agg(F.count(F.lit(1)).alias("__deg"))
            .filter(F.col("__deg") >= k)
            .select("__s")
        )
        e2 = _ckpt(
            e.join(keep, "__s", "left_semi").join(
                keep.withColumnRenamed("__s", "__d"), "__d", "left_semi"
            )
        )
        n2 = e2.count()
        e = e2
        if n2 == n_edges or n2 == 0:
            converged = True
            break
        n_edges = n2
    if not converged:
        # The last peel still removed edges, so surviving nodes may carry
        # within-core degree < k — returning them would violate the
        # documented ">= k by construction" contract (e.g. a long path at
        # k=2 peels one layer per round). The per-round edge count already
        # exists, so the check is free; fail loudly instead of silently.
        raise RuntimeError(
            f"k_core did not converge within max_rounds={max_rounds}: the "
            f"final peel round still removed edges ({n_edges} remain). "
            "Raise max_rounds (peeling needs at most one round per layer)."
        )
    return e.groupBy(F.col("__s").alias("node")).agg(
        F.count(F.lit(1)).alias("core_deg")
    )


@pinned_parallelism
def association_rules(
    df,
    basket_col: str,
    item_col: str,
    *,
    min_pair_cnt: int = 2,
    top_k: int = 100,
):
    """One-level association rules a→b over (basket, item) rows — the
    directional reading of :func:`support_pairs`: per ordered pair,
    ``support = pair_cnt/n_baskets``, ``confidence = pair_cnt/cnt_a``
    (P(b|a)), lift, and ``conviction = (1 − supp_b)/(1 − confidence)``
    (how much more often a appears WITHOUT b than independence predicts
    — ∞ for exact implications, reported NULL). The
    recommender/cross-sell staple; one extra projection over the
    support_pairs plan (each undirected pair emits both directions).

    All ratios are single double divisions of exact int64 counts on the
    9-decimal guard grid, with the DECIMAL(38,0) widening convention on
    the lift product; ``min_pair_cnt`` prunes the noise tail before the
    totally-ordered top-k by (confidence desc, pair_cnt desc, a, b).

    Scale shape: identical to support_pairs (the same
    :func:`~artigraph_spark.operators.similarity.overlap_pairs` count,
    Σ_b C(|b|,2) — bound basket sizes upstream) plus one union of the
    two rule directions before the top-k.
    """
    if top_k <= 0:
        raise ValueError(f"top_k must be positive, got {top_k}")
    from artigraph_spark.operators.similarity import overlap_pairs

    # same pinned-AQE scope as support_pairs (identical pair join)
    items, counts, n_baskets = _basket_items(df, basket_col, item_col)
    try:
        upairs = overlap_pairs(items, "__i", "__b", min_pair_cnt)
        # both rule directions from the one undirected pair table
        rules = upairs.select(
            F.col("a").alias("antecedent"),
            F.col("b").alias("consequent"),
            F.col("overlap").alias("pair_cnt"),
        ).unionByName(
            upairs.select(
                F.col("b").alias("antecedent"),
                F.col("a").alias("consequent"),
                F.col("overlap").alias("pair_cnt"),
            )
        )
        ca = counts.select(F.col("__i").alias("antecedent"), F.col("__c").alias("cnt_a"))
        cb = counts.select(F.col("__i").alias("consequent"), F.col("__c").alias("cnt_b"))
        dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
        conf = F.round(
            F.col("pair_cnt").cast("double") / F.col("cnt_a").cast("double"), 9
        )
        supp_b = F.col("cnt_b").cast("double") / F.col("__nb").cast("double")
        out = (
            rules.join(ca, "antecedent")
            .join(cb, "consequent")
            .crossJoin(F.broadcast(n_baskets))
            .select(
                "antecedent",
                "consequent",
                "pair_cnt",
                "cnt_a",
                "cnt_b",
                F.round(
                    F.col("pair_cnt").cast("double") / F.col("__nb").cast("double"), 9
                ).alias("support_r"),
                conf.alias("confidence_r"),
                F.round(
                    (dec(F.col("pair_cnt")) * dec(F.col("__nb"))).cast("double")
                    / (dec(F.col("cnt_a")) * dec(F.col("cnt_b"))).cast("double"),
                    6,
                ).alias("lift_r"),
                F.when(
                    conf < 1.0,
                    F.round((F.lit(1.0) - supp_b) / (F.lit(1.0) - conf), 9),
                ).alias("conviction_r"),
            )
        )
        # orderBy + limit compiles to TakeOrderedAndProject — a distributed
        # per-partition top-k merge, not a single-partition window sort
        # (the support_pairs convention).
        ranked = out.orderBy(
            F.col("confidence_r").desc(),
            F.col("pair_cnt").desc(),
            F.col("antecedent"),
            F.col("consequent"),
        ).limit(top_k)
        return _ckpt(ranked)
    finally:
        items.unpersist()


@pinned_parallelism
def shortest_paths_bounded(
    edges: DataFrame,
    src: str,
    dst: str,
    weight: str,
    seeds: DataFrame,
    *,
    max_hops: int = 6,
) -> DataFrame:
    """Multi-source WEIGHTED shortest distances using at most ``max_hops``
    edges — the weighted sibling of :func:`bfs_hops` (bounded-hop
    Bellman–Ford): per round every node relaxes to
    ``min(dist, min over in-edges (dist(u) + w))``. The hop bound is the
    SEMANTICS, not a convergence heuristic — "cheapest path within k
    hops" is the cost-limited-reachability question (influence radius,
    routing with a latency budget), deterministic by construction with
    integer weights (exact int64 sums and mins; any engine agrees).

    Scale shape: each round is one frontier-style equi-join
    (edges ⋈ dist on the source endpoint), a map-side-combined
    min-aggregate on the destination, and a union+min with the standing
    distances — edge-linear, node-keyed shuffles. Each round's distance
    frame is consumed TWICE next round (relax + carry), so rounds are
    materialized through eager node-sized lineage cuts (the hits/k_core
    convention; reliable under a context checkpoint directory).
    Weights are validated per row with precise errors: NULL/NaN,
    negative (bounded-hop relaxation is still well-defined, but
    "shortest within k hops" under negative weights is almost always a
    modeling error), and non-integral/out-of-long-range values each
    raise with their own message — no silent cast('long') truncation.

    ``seeds`` is a one-column DataFrame of start nodes (distance 0).
    Returns ``(node, dist)`` for nodes reachable within ``max_hops``.
    """
    if max_hops < 0:
        raise ValueError(f"max_hops must be non-negative, got {max_hops}")
    # pinned-AQE relaxation loop (operators._adaptive): per-round eager
    # cuts over fixed node-keyed exchange shapes (the bfs_hops scope)
    #
    # Weights must be non-null, non-NaN, non-negative, and integral —
    # each violation gets its own branch with an accurate message (a
    # blanket `>= 0 else "negative"` mislabels NULLs, and cast('long')
    # would silently truncate 2.5 → 2). NaN needs an explicit test: in
    # Spark SQL NaN compares greater than any number, so it would sail
    # through `>= 0` and cast to NULL.
    wv = F.col(weight)
    e = edges.select(
        F.col(src).alias("__s"),
        F.col(dst).alias("__d"),
        F.when(
            wv.isNull() | F.isnan(wv.cast("double")),
            F.raise_error(
                F.lit("shortest_paths_bounded: NULL or NaN weight")
            ),
        )
        .when(
            wv < 0,
            F.raise_error(
                F.concat(
                    F.lit("shortest_paths_bounded: negative weight "),
                    wv.cast("string"),
                )
            ),
        )
        .when(
            wv.cast("long").isNull() | (wv.cast("long") != wv),
            F.raise_error(
                F.concat(
                    F.lit(
                        "shortest_paths_bounded: non-integral or out-of-range"
                        " weight "
                    ),
                    wv.cast("string"),
                )
            ),
        )
        .otherwise(wv.cast("long"))
        .alias("__w"),
    )
    from pyspark import StorageLevel

    e = e.persist(StorageLevel.MEMORY_AND_DISK)
    seed_col = seeds.columns[0]
    dist = _ckpt(
        seeds.select(F.col(seed_col).alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
    )
    try:
        for _ in range(max_hops):
            relaxed = (
                e.join(dist.withColumnRenamed("node", "__s"), "__s")
                .select(
                    F.col("__d").alias("node"),
                    (F.col("dist") + F.col("__w")).alias("dist"),
                )
            )
            dist = _ckpt(
                dist.unionByName(relaxed)
                .groupBy("node")
                .agg(F.min("dist").alias("dist"))
            )
        return dist
    finally:
        e.unpersist()
