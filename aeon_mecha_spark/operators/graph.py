"""Iterative graph algorithms as relational plans.

Connected components already live in ``datapipe/dedup.py``
(min-label propagation for near-dup clusters); this module adds the
other workhorse, PageRank, in an INTEGER-EXACT form: ranks are
micro-units (longs), per-edge contributions are ``rank div out_degree``
and the damping step is ``(85 · Σ) div 100`` — every operation is
integer arithmetic, so a fixed iteration count yields bit-identical
ranks on any engine, any partitioning, any cluster shape (the q127 gate
unrolls the same iterations as nested SQL CTEs in DuckDB). Floating
PageRank cannot make that promise: per-partition summation order
changes low bits.

Scale: each iteration is one equi-join of the edge list with the
current rank table plus one groupBy(dst) with map-side partial sums —
the standard Pregel-as-joins shape. The plan here stays LAZY across
iterations (no actions), which is what makes the whole computation
oracle-checkable; for many more iterations at 100 TB, insert
``localCheckpoint()`` every few rounds to truncate lineage, exactly as
``dedup_clusters`` does.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from pyspark import StorageLevel

from aeon_mecha_spark.util import LocalCheckpointHandle, track_cached


def transition_edges(
    events: DataFrame,
    actor_col: str = "user_id",
    session_col: str = "event_type",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
) -> DataFrame:
    """Actor-transition edges: within each ``session_col`` stream
    ordered by ``order_cols``, an edge connects each actor to the next
    DIFFERENT actor — the interaction/handoff graph of an event log.
    Multi-edges are kept (they weight repeated transitions)."""
    w = W.partitionBy(session_col).orderBy(*[F.col(c).asc() for c in order_cols])
    nxt = F.lead(actor_col).over(w)
    return (
        events.select(F.col(actor_col).alias("src"), nxt.alias("dst"))
        .filter(F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))
    )


def pagerank_int(
    edges: DataFrame,
    iters: int = 5,
    scale: int = 1_000_000,
    damping_pct: int = 85,
) -> DataFrame:
    """Integer-exact PageRank over ``(src, dst)`` multi-edges.

    Per node: ``r₀ = scale``;
    ``rₖ₊₁ = base + (damping_pct · Σ_in (rₖ div out_deg)) div 100``
    with ``base = scale·(100−damping_pct) div 100`` — the standard
    unnormalized per-node formulation. Dangling mass (nodes with no
    out-edges) is dropped, deterministically, like most production
    implementations. Output: ``(node, rank_micro)`` for every node
    that appears in an edge.

    All-integer → engine-exact for any fixed ``iters``; the returned
    plan is fully lazy (iterations are nested joins, no actions).
    """
    if not 0 < damping_pct < 100:
        raise ValueError("damping_pct must be in (0, 100)")
    base = scale * (100 - damping_pct) // 100
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("_c"))
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    ranks = nodes.withColumn("rank_micro", F.lit(scale).cast("long"))
    for _ in range(iters):
        contrib = (
            edges.join(ranks, edges.src == ranks.node)
            .join(deg, "src")
            .select(F.col("dst"), F.expr("rank_micro div _c").alias("_m"))
        )
        sums = contrib.groupBy("dst").agg(F.sum("_m").alias("_m"))
        ranks = (
            nodes.join(sums, nodes.node == sums.dst, "left")
            .select(
                "node",
                F.expr(
                    f"CAST({base} + ({damping_pct} * coalesce(_m, 0)) div 100 AS LONG)"
                ).alias("rank_micro"),
            )
        )
    return ranks


def triangle_stats(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node triangle count and local clustering coefficient — the
    community-structure workhorse next to PageRank (centrality) and
    min-label propagation (components).

    Input is an edge list treated as an UNDIRECTED simple graph
    (direction and multiplicity are normalized away; self-loops
    dropped). Triangles are enumerated once each via the canonical
    ordered-wedge join: with every edge stored low→high, the wedges
    out of the smallest vertex — (a,b),(a,c) with b<c — close into a
    triangle iff (b,c) is an edge, so each triangle (a<b<c) is found
    exactly once and needs no overcount fixup. Per-node counts come from exploding
    each found triangle to its three corners.

    Clustering coefficient in exact ppm: ``(2·T·10⁶) div (d·(d−1))``
    for degree ≥ 2, else 0 — integer floor division, engine-exact.

    Scale: two shuffles build the wedge join (keyed by the wedge
    apex, then by the closing edge pair) — the standard distributed
    triangle enumeration; skewed hub vertices bound the wedge fan-out
    (cap degree upstream for pathological hubs). No cross product.

    Output: ``(node, degree, triangles, clustering_ppm)`` for every
    node of the normalized graph.
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("lo"),
            F.greatest(F.col(src), F.col(dst)).alias("hi"),
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
    )
    deg = (
        und.select(F.col("lo").alias("node"))
        .unionAll(und.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    # wedges at apex a: pairs of neighbours (b, c) with a < b < c
    e1 = und.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    e2 = und.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    wedges = e1.join(e2, "a").filter(F.col("b") < F.col("c"))
    closing = und.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    tris = wedges.join(closing, ["b", "c"])  # one row per triangle a<b<c
    corner_counts = (
        tris.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("triangles"))
    )
    out = deg.join(corner_counts, "node", "left").select(
        "node",
        "degree",
        F.coalesce(F.col("triangles"), F.lit(0)).cast("long").alias("triangles"),
        F.expr(
            "CASE WHEN degree >= 2 THEN "
            "(coalesce(triangles, 0L) * 2000000L) div (degree * (degree - 1)) "
            "ELSE 0L END"
        ).alias("clustering_ppm"),
    )
    return out


def temporal_two_hop(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    ts_col: str = "ts",
    max_gap_s: int = 3600,
    min_paths: int = 1,
) -> DataFrame:
    """Time-respecting 2-hop reachability: count paths a→b→c where the
    second hop happens AFTER the first and within ``max_gap_s`` — the
    influence/contagion primitive (who reaches whom, through whom,
    in causal order) that a static 2-hop join gets wrong by counting
    time-reversed paths.

    Plan: ONE self-join keyed on the mid node (the only shuffle key);
    the time predicates are post-join filters on the hash-joined pairs
    — never a cartesian. Path fanout is bounded by per-node degree ×
    the gap window; at scale, shorten ``max_gap_s`` or pre-filter
    low-degree mids rather than salting (hub mids are the skew to
    watch — AQE skew-join splits them).

    Self-loops a→b→a are counted (returning to the start IS a valid
    temporal path); same-timestamp hops are not (strict >).

    Output: ``(src, dst2, n_paths, n_mids)`` for pairs with
    ``n_paths ≥ min_paths``.
    """
    e1 = edges.select(
        F.col(src).alias("_a"), F.col(dst).alias("_m"),
        F.unix_micros(F.col(ts_col)).alias("_t1"),
    )
    e2 = edges.select(
        F.col(src).alias("_m"), F.col(dst).alias("_c"),
        F.unix_micros(F.col(ts_col)).alias("_t2"),
    )
    paths = e1.join(e2, "_m").filter(
        (F.col("_t2") > F.col("_t1"))
        & (F.col("_t2") <= F.col("_t1") + F.lit(int(max_gap_s) * 1_000_000))
    )
    return (
        paths.groupBy(F.col("_a").alias(src), F.col("_c").alias("dst2"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_paths"),
            F.countDistinct("_m").cast("long").alias("n_mids"),
        )
        .filter(F.col("n_paths") >= int(min_paths))
    )


def kcore(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 20,
) -> DataFrame:
    """k-core extraction: iteratively peel nodes of degree < k until the
    survivors all have ≥ k neighbours inside the surviving subgraph —
    the standard dense-community / spam-ring filter.

    Driver-bounded peel loop (the k-means / connected-components
    pattern): each round recomputes degrees over the induced subgraph
    (semi-joins on both endpoints), drops light nodes, and checks the
    survivor count (one small ``count`` action per round; the node set
    is persisted per round and released). Converges in ≤ diameter-ish
    rounds; ``max_rounds`` bounds the loop, and a FIXED ``max_rounds``
    makes the result a deterministic partial peel — the q191 gate runs
    3 fixed rounds so a SQL oracle can unroll them exactly.

    Edges are treated undirected; self-loops are ignored, and parallel
    edges (multi-edges, e.g. a handoff repeated k times) are collapsed
    to ONE — degree means DISTINCT neighbours, so a node whose only
    neighbour transitioned to it k times cannot survive a k-core peel.
    Output: surviving ``(node, degree)`` — distinct-neighbour degree
    within the final core. The per-round persisted node set rides on
    the result via ``track_cached``; call ``release_cached`` when done.
    """
    und = (
        edges.select(F.col(src).alias("_a"), F.col(dst).alias("_b"))
        .filter(F.col("_a") != F.col("_b"))
    )
    # the deduped symmetric edge table is loop-INVARIANT: every round's
    # induced subgraph semi-joins against it and the final degree count
    # reads it again, so persist it ONCE instead of re-running the
    # union+distinct shuffle per peel round (it rides on the result via
    # track_cached for explicit release)
    sym = und.unionByName(
        und.select(F.col("_b").alias("_a"), F.col("_a").alias("_b"))
    ).distinct().persist(StorageLevel.MEMORY_ONLY)
    nodes = None  # None = all nodes
    cur_edges = sym
    prev_n = None
    for _ in range(int(max_rounds)):
        deg = cur_edges.groupBy("_a").agg(F.count(F.lit(1)).cast("long").alias("_d"))
        keep = deg.filter(F.col("_d") >= int(k)).select("_a").persist(StorageLevel.MEMORY_ONLY)
        n = keep.count()
        if prev_n is not None and n == prev_n:
            keep.unpersist()
            break
        prev_n = n
        if nodes is not None:
            nodes.unpersist()
        nodes = keep
        cur_edges = (
            sym.join(nodes, "_a", "left_semi")
            .join(nodes.select(F.col("_a").alias("_b")), "_b", "left_semi")
        )
    out = cur_edges.groupBy("_a").agg(F.count(F.lit(1)).cast("long").alias("degree"))
    out = out.select(F.col("_a").alias("node"), "degree")
    # the surviving round's node set and the deduped edge table stay
    # persisted (the output plan still references them); hand the
    # handles to the caller instead of leaking executor cache
    return track_cached(out, sym, *( [nodes] if nodes is not None else [] ))


def bradley_terry_int(
    matches: DataFrame,
    iters: int = 3,
    scale: int = 1_000,
    winner: str = "winner",
    loser: str = "loser",
) -> DataFrame:
    """Integer-exact Bradley–Terry strength estimation from pairwise
    outcomes — the preference-data curation primitive (rank prompts /
    annotators / models from win-loss records; Hunter 2004 MM
    algorithm, fixed rounds).

    Per player ``i`` with total wins ``W_i`` and per-opponent match
    counts ``n_ij``: strengths start at ``scale`` (milli units) and
    each round applies the minorization update

        ``d_i = Σ_j  n_ij·10⁹ div max(p_i + p_j, 1)``
        ``p_i' = W_i·10⁹ div max(d_i, 1)``

    all in BIGINT — deterministic in any engine for a FIXED round
    count (the q127/q191 pattern: fixed rounds make the iteration
    SQL-unrollable, so the gate hash-verifies). Zero-win players go to
    strength 0 (the MM fixed point for them); the ``max(…, 1)`` guards
    make the division total. With ``W_i = n_i/2`` the update returns
    ``scale`` — the scale is self-maintaining, no normalization pass.

    Plan: one groupBy builds the symmetric pair-count table, one the
    win counts; each round is two keyed joins (strengths onto both
    endpoints) + one partial-aggregated sum — the PageRank shape. The
    loop-invariant tables (``sym``, win stats) are persisted (the
    k-core pattern). Each round's strength table is cut to a leaf with
    a LAZY ``localCheckpoint`` (the :func:`hits_int` pattern): a
    persisted round is referenced twice by the next one, and every
    plan string Spark builds (explain, the AQE update events of a
    collect) re-prints a cached relation's plan per reference, so
    persisted rounds grew those strings 2^iters-fold — measured to
    exhaust a 4 GB driver heap at 8 rounds. With checkpointed rounds
    the plan is constant-size in ``iters``; under AQE the checkpoints
    plan each round's stages (and run its jobs) while the next round
    is built. Handles ride on the result via ``track_cached`` —
    release them with ``release_cached`` only once the result is
    final (checkpointed lineage is truncated).

    Output: ``(node, n_wins, n_matches, strength_milli)`` for every
    player that appears in a match.
    """
    m = matches.select(F.col(winner).alias("_w"), F.col(loser).alias("_l")).filter(
        F.col("_w") != F.col("_l")
    )
    # r14 fusion (guide §2.4): aggregate the match stream to the
    # DIRECTED pair-count grain ONCE and derive everything from it —
    # the old shape consumed `m` three times (two union branches of
    # `sym` + the win counts), re-running the caller's match-derivation
    # chain (a fact-sized window for q202) three times per
    # materialization. `dir` is players²-bounded, one exchange over the
    # facts total.
    dirc = (
        m.groupBy("_w", "_l")
        .agg(F.count(F.lit(1)).cast("long").alias("_n"))
        .persist(StorageLevel.MEMORY_ONLY)  # 2 consumers: sym + wins
    )
    # symmetric per-opponent match counts n_ij (direction-free),
    # persisted PRE-PARTITIONED on _i (r14): every round's contribution
    # aggregate and the final n_matches aggregate group by _i over
    # broadcast-join results that inherit this partitioning, so each of
    # those GROUP BYs plans with NO exchange (cached-plan output
    # partitioning is preserved — the r13 config A/B pinned
    # canChangeCachedPlanOutputPartitioning=false for exactly this) —
    # one tiny build-time shuffle buys iters+1 shuffle-free aggregates.
    sym = (
        dirc.select(F.col("_w").alias("_i"), F.col("_l").alias("_j"), "_n")
        .unionByName(
            dirc.select(F.col("_l").alias("_i"), F.col("_w").alias("_j"), "_n")
        )
        .groupBy("_i", "_j")
        .agg(F.sum("_n").cast("long").alias("_n"))
        .repartition("_i")
        .persist(StorageLevel.MEMORY_ONLY)  # loop-invariant: joined twice per MM round
    )
    wins = dirc.groupBy(F.col("_w").alias("_i")).agg(
        F.sum("_n").cast("long").alias("_wins")
    )
    players = sym.select("_i").distinct()
    stats = players.join(wins, "_i", "left").select(
        "_i",
        F.coalesce(F.col("_wins"), F.lit(0)).cast("long").alias("_wins"),
    ).persist(StorageLevel.MEMORY_ONLY)  # loop-invariant: read every round + in the final join
    cached: list[DataFrame] = [dirc, sym, stats]
    p = players.withColumn("_p", F.lit(int(scale)).cast("long"))
    # r14 (guide §7.3, the q271 trick at statement grain): each MM round
    # is ONE spark.sql call over temp views instead of ~12 DataFrame
    # method chains — the round's join+aggregate plan reaches the JVM in
    # a handful of py4j round trips (measured ~1.4 s of driver socket
    # time per warm plan build across the 3 rounds before). Expressions
    # are copied verbatim from the DataFrame form, so the analyzed plan
    # and every value are unchanged. NOTE the views are registered with
    # UNIQUE names and never dropped/replaced: both dropTempView and
    # createOrReplaceTempView UNCACHE the plan behind the old name
    # (measured — PySpark's own `spark.sql(..., p=df)` template kwargs
    # drop their generated views after the call, which silently
    # unpersisted every round table and unrolled the lineage
    # exponentially; hence the explicit registration here).
    spark = matches.sparkSession
    uid = str(uuid.uuid4()).replace("-", "")

    def _view(df: DataFrame, name: str) -> str:
        vname = f"_bt_{name}_{uid}"
        df.createTempView(vname)
        return vname

    v_stats, v_sym = _view(stats, "stats"), _view(sym, "sym")
    for r in range(int(iters)):
        v_p = _view(p, f"p{r}")
        p = spark.sql(
            f"""
            SELECT s._i AS _i,
                   s._wins * 1000000000L div greatest(coalesce(d._d, 0L), 1L) AS _p
            FROM {v_stats} s
            LEFT JOIN (
                SELECT c._i AS _i, CAST(sum(c._c) AS BIGINT) AS _d
                FROM (
                    SELECT sym._i AS _i,
                           sym._n * 1000000000L div greatest(pi._p + pj._p, 1L) AS _c
                    FROM {v_sym} sym
                    JOIN {v_p} pi ON sym._i = pi._i
                    JOIN {v_p} pj ON sym._j = pj._i
                ) c
                GROUP BY c._i
            ) d ON s._i = d._i
            """
        ).localCheckpoint(eager=False)
        cached.append(LocalCheckpointHandle(p))
    n_matches = sym.groupBy("_i").agg(F.sum("_n").cast("long").alias("_nm"))
    out = (
        stats.join(n_matches, "_i")
        .join(p, "_i")
        .select(
            F.col("_i").alias("node"),
            F.col("_wins").alias("n_wins"),
            F.col("_nm").alias("n_matches"),
            F.col("_p").alias("strength_milli"),
        )
    )
    return track_cached(out, *cached)


def hits_int(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    scale: int = 1_000_000,
) -> DataFrame:
    """HITS hubs & authorities on integer scores — the bipartite-ish
    importance pair next to :func:`pagerank_int` (a good hub POINTS at
    good authorities; a good authority IS pointed at by good hubs).

    Fixed-round mutual recursion (the §11 EXACTNESS convention —
    unrolls into a per-round SQL CTE), everything integral:

        ``a_i ← Σ_{j→i} h_j``, renormalized ``a ← a·scale div max(a)``
        ``h_i ← Σ_{i→j} a_j``, renormalized likewise

    Max-renormalization (not L2) keeps every score an exact integer in
    [0, scale] — the same result ORDERING as the textbook L2 variant,
    since per-round normalization only rescales. Duplicate edges count
    with multiplicity; self-loops participate (textbook adjacency).
    Nodes with no in-edges (resp. out-edges) simply never appear in the
    authority (hub) sum tables — zeros drop out of sums, so the score
    tables carry only nonzero nodes until the final outer join.

    Plan: per round two keyed join+aggregates (the PageRank shape);
    each phase's 1-row max stays IN the plan as a broadcast divisor —
    no driver action anywhere, the whole recursion is one lazy DAG
    (r13 optimization: the previous shape persisted each sum table and
    COLLECTED its max, 2·iters sequential driver barriers at
    plan-construction time). A naive broadcast-max references every
    phase twice and the analyzed tree doubles per phase (2^(2·iters)
    copies — measured catastrophic), so each normalized phase is cut to
    a constant-size leaf with a LAZY ``localCheckpoint``: zero jobs at
    build, linear plans, and at execution each phase materializes once.
    Trade-off (guide §5): a lazily checkpointed phase table is not
    recomputable from lineage on executor loss — acceptable for these
    node-sized score tables whose loss just re-runs the query; in
    exchange the 100 TB shape drops 2·iters driver sync barriers.
    Handles ride on the result via ``track_cached``.

    Output: ``(node, hub_score, auth_score)`` for every node incident
    to an edge, scores in [0, scale].
    """
    from aeon_mecha_spark.util import track_cached

    if int(iters) < 1:
        # a = None after zero rounds would crash the final join; the
        # zero-round result is ill-defined anyway (no authority pass ran)
        raise ValueError("iters must be >= 1")
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d")).persist(StorageLevel.MEMORY_ONLY)
    nodes = (
        e.select(F.col("_s").alias("node"))
        .unionByName(e.select(F.col("_d").alias("node")))
        .distinct()
        .persist()
    )
    cached: list[DataFrame] = [e, nodes]

    one = F.lit(1).cast("decimal(38,0)")

    def _norm(raw: DataFrame, out_col: str) -> DataFrame:
        # greatest(coalesce(max,1),1) == the old driver-side `max or 1`
        # (NULL for an empty table, 0 for an all-zero one, both -> 1)
        mx = raw.agg(F.greatest(F.coalesce(F.max("_raw"), one), one).alias("_mx"))
        return (
            raw.crossJoin(F.broadcast(mx))
            .select(
                "node",
                F.expr(f"CAST((_raw * {int(scale)}) div _mx AS BIGINT)").alias(
                    out_col
                ),
            )
            .localCheckpoint(eager=False)
        )

    h = nodes.withColumn("_h", F.lit(int(scale)).cast("long"))
    a = None
    for _ in range(int(iters)):
        a = _norm(
            e.join(h.select(F.col("node").alias("_s"), "_h"), "_s")
            .groupBy(F.col("_d").alias("node"))
            .agg(F.sum(F.col("_h").cast("decimal(38,0)")).alias("_raw")),
            "_a",
        )
        h = _norm(
            e.join(a.select(F.col("node").alias("_d"), "_a"), "_d")
            .groupBy(F.col("_s").alias("node"))
            .agg(F.sum(F.col("_a").cast("decimal(38,0)")).alias("_raw")),
            "_h",
        )
    out = (
        nodes.join(h, "node", "left")
        .join(a, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("_h"), F.lit(0)).cast("long").alias("hub_score"),
            F.coalesce(F.col("_a"), F.lit(0)).cast("long").alias("auth_score"),
        )
    )
    return track_cached(out, *cached)


def link_prediction(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    top_k: int = 50,
    max_degree: int | None = None,
) -> DataFrame:
    """Common-neighbor link prediction over an undirected simple view
    of ``(src, dst)`` edges: for every NON-edge pair (u, v) sharing at
    least one neighbor, the three classic scores —

        ``cn``        common-neighbor count
        ``aa_micro``  Adamic–Adar  Σ_z 1/ln(deg z)   (micro floor/z)
        ``ra_micro``  resource allocation Σ_z 1/deg z (exact micro)

    plus ``jaccard_ppm = cn·10⁶ div (deg u + deg v − cn)``. Scores are
    integer sums of per-z floors (``floor(10⁶/ln(deg z) + 0.5)`` — the
    §3 micro-nat discipline: one engine log per DISTINCT degree-carrier,
    never an accumulated float; deg-1 carriers contribute 0 to AA by
    convention since 1/ln(1) diverges), so every score is associative
    and engine-identical.

    Plan — the canonical wedge join: adjacency (z, u) ⋈ (z, v) on the
    shared neighbor with ``u < v`` generates candidates (fan-out
    Σ_z deg(z)² — bounded by ``max_degree``: hubs above it are skipped
    as score carriers, the standard cut because a 10⁶-degree hub adds
    ~0 AA signal at quadratic cost), one hash aggregate, an anti-join
    against the existing edge set, a broadcast degree join, and a
    deterministic TakeOrdered head (aa desc, u, v asc). Output:
    ``(u, v, cn, aa_micro, ra_micro, jaccard_ppm)``.
    """
    from aeon_mecha_spark.util import track_cached

    # the undirected edge set is read by FOUR consumers (both adjacency
    # directions, the degree table, the existing-edge anti-join) whose
    # shared upstream may be expensive (e.g. a window over the event
    # log) — persist it or the lineage re-executes per consumer
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .persist(StorageLevel.MEMORY_ONLY)
    )
    adj = und.select(F.col("a").alias("n"), F.col("b").alias("x")).unionByName(
        und.select(F.col("b").alias("n"), F.col("a").alias("x"))
    )
    deg = adj.groupBy("n").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    carriers = adj.join(deg.withColumnRenamed("n", "nn"), F.col("n") == F.col("nn"))
    if max_degree:
        carriers = carriers.filter(F.col("deg") <= int(max_degree))
    aa_term = F.expr(
        "CASE WHEN deg >= 2 THEN "
        "CAST(floor(1000000.0 / ln(CAST(deg AS DOUBLE)) + 0.5) AS BIGINT) "
        "ELSE 0 END"
    )
    ra_term = F.expr("1000000 div deg")
    # both wedge sides read the carrier table — persist the small
    # (adjacency-sized) side rather than re-deriving adj ⋈ deg twice
    c = carriers.select(
        "n", "x", aa_term.alias("_aa"), ra_term.alias("_ra")
    ).persist(StorageLevel.MEMORY_ONLY)
    left = c.select(F.col("n"), F.col("x").alias("u"), "_aa", "_ra")
    right = c.select(F.col("n"), F.col("x").alias("v"))
    pairs = (
        left.join(right, "n")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cn"),
            F.sum("_aa").cast("long").alias("aa_micro"),
            F.sum("_ra").cast("long").alias("ra_micro"),
        )
    )
    non_edges = pairs.join(
        und, (pairs["u"] == und["a"]) & (pairs["v"] == und["b"]), "left_anti"
    )
    du = deg.select(F.col("n").alias("u"), F.col("deg").alias("_du"))
    dv = deg.select(F.col("n").alias("v"), F.col("deg").alias("_dv"))
    scored = non_edges.join(du, "u").join(dv, "v").select(
        "u",
        "v",
        "cn",
        "aa_micro",
        "ra_micro",
        F.expr(
            "CAST(CASE WHEN _du + _dv - cn > 0 THEN "
            "(CAST(cn AS DECIMAL(38,0)) * 1000000) div (_du + _dv - cn) "
            "END AS BIGINT)"
        ).alias("jaccard_ppm"),
    )
    out = scored.orderBy(
        F.col("aa_micro").desc(), F.col("u").asc(), F.col("v").asc()
    ).limit(int(top_k))
    return track_cached(out, und, c)
