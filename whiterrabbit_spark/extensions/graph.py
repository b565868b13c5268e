"""Graph analytics over relation-induced graphs: co-occurrence edges,
degree statistics, exact triangle counting, PageRank.

Not in the reference surface (whiteRRabbit.R profiles one flat table at
a time — SURVEY §2 "not present"); this is the graph slice of the
pipeline-extension family: co-purchase/co-occurrence structure, hub
detection, and influence ranking over graphs the warehouse already
implies (parts sharing an order, docs sharing near-dup edges, users
sharing sessions).

Scale shape
-----------
* Edge induction is one self-join on the grouping key with per-group
  fan-out C(k, 2) — bounded by the key's item count, the same
  hot-basket consideration as ``sequences.item_associations`` (cap
  oversized groups upstream for power-law data).
* Triangle counting is the classic two-hop join over the ORIENTED
  (src < dst) edge list — orientation cuts each triangle to exactly one
  (a < b < c) occurrence and caps the join fan-out by the forward
  degree, the standard m^(3/2) bound.
* PageRank is power iteration as repeated join+groupBy; every few
  iterations a lazy ``localCheckpoint`` truncates the growing lineage
  (the classic iterative-DataFrame trap). Ranks are per-node state —
  never collected to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from whiterrabbit_spark.cache import cache_scope, pin


def cooccurrence_edges(
    df: DataFrame,
    group_col: str,
    item_col: str,
    min_weight: int = 1,
) -> DataFrame:
    """Undirected co-occurrence edges: items sharing a group, oriented
    ``src < dst``, weighted by the number of shared groups. The induced
    graph behind co-purchase / co-citation / shared-session analyses.
    """
    base = (
        df.where(F.col(group_col).isNotNull() & F.col(item_col).isNotNull())
        .select(F.col(group_col).alias("__g"), F.col(item_col).alias("__i"))
        .distinct()
    )
    a = base.select("__g", F.col("__i").alias("src"))
    b = base.select("__g", F.col("__i").alias("dst"))
    return (
        a.join(b, "__g")
        .where(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("weight"))
        .where(F.col("weight") >= min_weight)
    )


def degree_stats(edges: DataFrame, top_k: int = 10) -> DataFrame:
    """Top-``top_k`` hub nodes by degree with each node's share of all
    endpoints — the hub/skew report for an undirected edge list.
    One explode-free union of the two endpoint projections and one
    groupBy; top-k is a TakeOrderedAndProject.

    Returns ``(node, degree, degree_share)`` ordered degree DESC.
    """
    # ONE evaluation of the (possibly expensive, induced) edge frame:
    # explode both endpoints out of each row instead of a self-union
    # that would run the edge plan twice; the |nodes|-row degree frame
    # persists so the total aggregate doesn't re-run it either
    with cache_scope():
        ends = edges.select(
            F.explode(F.array(F.col("src"), F.col("dst"))).alias("node")
        )
        deg = pin(ends.groupBy("node").agg(F.count(F.lit(1)).alias("degree")))
        total = deg.agg(F.sum("degree").alias("__t"))
        out = (
            deg.join(F.broadcast(total))
            .select(
                "node",
                "degree",
                (F.col("degree") / F.col("__t")).alias("degree_share"),
            )
            .orderBy(F.col("degree").desc(), "node")
            .limit(top_k)
        )
        # top_k rows: collected before the scope releases its pins
        rows = out.collect()
        return edges.sparkSession.createDataFrame(rows, out.schema)


def triangle_count(edges: DataFrame) -> DataFrame:
    """Exact global triangle count plus basic graph size — the
    clustering/community-signal scalar, by the two-hop join over a
    DEGREE-ORIENTED edge list.

    Orientation is the whole ballgame at power-law scale: any acyclic
    orientation counts each triangle exactly once as a→b→c with a→c,
    but the two-hop fan-out is Σ_b in(b)·fwd(b). Orienting by node ID
    (the r1-r6 form) lets a random-ID hub keep ~deg/2 forward
    neighbors — a 160k-degree hub alone yields ~6×10⁹ two-hop rows
    (measured shape in tools/smoke_graph_powerlaw.py). Orienting each
    edge from its lower-(degree, id) endpoint to the higher caps every
    forward degree at ~√(2m) — the classic m^(3/2) triangle-join bound
    (Schank/Wagner forward algorithm) — because a node's forward set
    only holds neighbors of equal-or-larger degree, and at most √(2m)
    nodes have degree ≥ √(2m). Two extra degree joins buy the bound;
    the (deg, id) tiebreak keeps the orientation a total order, hence
    acyclic, hence exactly-once.

    Returns one row ``(n_nodes, n_edges, n_triangles)``.
    """
    # Canonicalize BEFORE the (single) distinct: least/greatest folds a
    # symmetrized input (both (u,v) and (v,u) present — the standard
    # undirected representation, ADVICE r7) onto one row, so the same
    # shuffle that dedupes duplicate rows also dedupes mirrored ones
    # and the post-orientation distinct the r8 advice fix added (a
    # second full-edge-list exchange+agg, measured 1.3 s -> 4.2 s on
    # the sf0.1 bench) is unnecessary: distinct canonical edges orient
    # injectively. Degrees halve vs counting both mirror rows, which
    # preserves the (deg, id) orientation order AND its ties exactly.
    # null endpoints form no edge (least/greatest would otherwise fold
    # (null, x) into a spurious (x, x) self-loop)
    with cache_scope():
        e = pin(
            edges.where(F.col("src").isNotNull() & F.col("dst").isNotNull())
            .select(
                F.least("src", "dst").alias("src"),
                F.greatest("src", "dst").alias("dst"),
            )
            .distinct()
        )
        deg = pin(
            e.select(F.col("src").alias("n"))
            .unionAll(e.select(F.col("dst").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        # orient each edge low-(deg, id) -> high-(deg, id)
        oriented = pin(
            e.join(deg.select(F.col("n").alias("src"), F.col("d").alias("ds")), "src")
            .join(deg.select(F.col("n").alias("dst"), F.col("d").alias("dd")), "dst")
            .select(
                F.when(
                    (F.col("ds") < F.col("dd"))
                    | ((F.col("ds") == F.col("dd")) & (F.col("src") < F.col("dst"))),
                    F.struct(F.col("src").alias("a"), F.col("dst").alias("b")),
                )
                .otherwise(
                    F.struct(F.col("dst").alias("a"), F.col("src").alias("b"))
                )
                .alias("o")
            )
            .select("o.a", "o.b")
        )
        ab = oriented.select("a", "b")
        bc = oriented.select(F.col("a").alias("b"), F.col("b").alias("c"))
        ac = oriented.select(F.col("a").alias("a"), F.col("b").alias("c"))
        tri = ab.join(bc, "b").join(ac, ["a", "c"])
        out = (
            tri.agg(F.count(F.lit(1)).alias("n_triangles"))
            # n_edges from the deduped ORIENTED frame: equals |e| on a
            # one-row-per-edge input and the true undirected edge count on
            # a symmetrized one (where |e| would double-count)
            .join(F.broadcast(oriented.agg(F.count(F.lit(1)).alias("n_edges"))))
            .join(F.broadcast(deg.agg(F.count(F.lit(1)).alias("n_nodes"))))
            .select("n_nodes", "n_edges", "n_triangles")
        )
        # one row: collected before the scope releases its pins
        rows = out.collect()
        return edges.sparkSession.createDataFrame(
            rows, "n_nodes long, n_edges long, n_triangles long"
        )


def _pagerank_step(both, nodes, ranks, n_nodes, damping, bcast):
    """One power-iteration update: contribs join+agg over the edge
    table, then the rank refresh join against the node spine. Factored
    out of :func:`pagerank` (identical expressions) so the iteration
    plan — invisible in pagerank's materialized return value — can be
    dumped as committed evidence (``tools/explain_pagerank_iter.py``).
    """
    contribs = (
        both.join(
            bcast(ranks.select(
                F.col("node").alias("src"),
                (F.col("rank") / F.col("__deg")).alias("__c"),
            )),
            "src",
        )
        .groupBy(F.col("dst").alias("node"))
        .agg(F.sum("__c").alias("__in"))
    )
    return (
        nodes.join(bcast(contribs), "node", "left")
        .select(
            "node",
            (
                F.lit((1.0 - damping) / n_nodes)
                + F.lit(damping) * F.coalesce(F.col("__in"), F.lit(0.0))
            ).alias("rank"),
            "__deg",
        )
    )


def pagerank(
    edges: DataFrame,
    n_iter: int = 10,
    damping: float = 0.85,
    top_k: int = 20,
    checkpoint_every: int = 4,
    tol: float = 0.0,
    edges_distinct: bool = False,
    broadcast_nodes_max: int = 1_000_000,
) -> DataFrame:
    """PageRank over the undirected graph (each edge contributes both
    directions), by power iteration: rank_v = (1−d)/N + d·Σ_u rank_u /
    deg_u over in-neighbors u. Dangling mass cannot exist in an
    undirected graph (every node with an edge has out-degree ≥ 1), so
    Σ ranks stays 1 — an invariant the tests pin.

    Each iteration is one join + one groupBy on the edge list; every
    ``checkpoint_every`` iterations an EAGER ``localCheckpoint``
    truncates the plan lineage that would otherwise grow linearly and
    blow up Catalyst analysis time — the canonical iterative-DataFrame
    pattern. When ``tol`` > 0, each checkpoint boundary also runs one
    tiny O(nodes) join+aggregate of the just-materialized ranks
    against the previous checkpoint's materialized ranks: if the L1
    rank delta across the last ``checkpoint_every`` iterations fell
    below ``tol``, iteration stops early (VERDICT r3 #5). Comparing
    materialized checkpoints (rather than carrying per-iteration
    deltas) keeps every iteration's plan referencing the prior ranks
    exactly once — a self-referencing delta column would double the
    lineage per iteration. Power iteration contracts the delta by
    ~``damping`` per step, so Σ|Δ| ≤ tol bounds all remaining movement
    by tol/(1−damping).

    ``edges_distinct=True`` asserts the input is one row per undirected
    edge (e.g. :func:`cooccurrence_edges` output) and skips the
    symmetrized list's dedup shuffle. ``broadcast_nodes_max`` gates the
    per-iteration broadcast of the |nodes|-row rank state (~48 B/node —
    the default 1M nodes ≈ 50 MB); graphs above it fall back to
    Catalyst/AQE join selection.

    Returns the top-``top_k`` ``(node, rank)`` rows, rank DESC.
    """
    with cache_scope():
        both = edges.select("src", "dst").unionAll(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        if not edges_distinct:
            # an induced edge list (cooccurrence_edges) is already one row
            # per (src < dst) pair, so its symmetrization has no dups and
            # callers pass edges_distinct=True to skip this 2|E| shuffle
            both = both.distinct()
        else:
            # the raw union doubles the upstream partition count; coalesce
            # (narrow, no shuffle) so the cached edge table keeps
            # cluster-sized partitions instead of 2x tiny ones whose
            # per-task overhead every iteration re-pays
            both = both.coalesce(edges.sparkSession.sparkContext.defaultParallelism)
        both = pin(both)
        out_deg = both.groupBy("src").agg(F.count(F.lit(1)).alias("__deg"))
        nodes = pin(out_deg.select(F.col("src").alias("node"), "__deg"))
        n_nodes = nodes.count()
        # per-iteration rank state is |nodes| rows; when that fits a
        # broadcast (node id + 2 numerics, bytes-gated on the known
        # n_nodes), ship ranks/contribs to the edge partitions instead of
        # shuffling the cached 2|E| edge table through a sort-merge join
        # every iteration (guide §3.1); above the gate Catalyst/AQE decide.
        bcast = (
            F.broadcast if n_nodes <= broadcast_nodes_max else (lambda df: df)
        )
        ranks = nodes.select(
            "node", F.lit(1.0 / n_nodes).alias("rank"), "__deg"
        )
        prev_ck = ranks
        for i in range(n_iter):
            ranks = _pagerank_step(both, nodes, ranks, n_nodes, damping, bcast)
            if (i + 1) % checkpoint_every == 0 and i + 1 < n_iter:
                if tol > 0:
                    ranks = pin(ranks, checkpoint=True)
                    delta = (
                        ranks.join(
                            prev_ck.select(
                                "node", F.col("rank").alias("__prev")
                            ),
                            "node",
                        )
                        .agg(F.sum(F.abs(F.col("rank") - F.col("__prev"))))
                        .first()[0]
                    )
                    prev_ck = ranks
                    if delta is not None and delta < tol:
                        break
                else:
                    ranks = pin(ranks, checkpoint=True, eager=False)
        out = (
            ranks.select("node", "rank")
            .orderBy(F.col("rank").desc(), "node")
            .limit(top_k)
        )
        # top_k rows: collected before the scope releases its pins, so a
        # later identical plan can't be served from this call's cache
        # (the CacheManager matches logical plans across jobs)
        rows = out.collect()
        return edges.sparkSession.createDataFrame(rows, out.schema)


def adamic_adar(
    edges: DataFrame,
    top_k: int = 20,
    max_degree: int | None = None,
) -> DataFrame:
    """Adamic–Adar link prediction over an oriented (src < dst) edge
    list: for non-adjacent pairs sharing at least one neighbor,
    AA(u, v) = Σ_{w ∈ N(u)∩N(v)} 1 / ln(deg(w)). The classic
    "friends-of-friends, discounted by hub-ness" score — the baseline
    every graph-ML link predictor is measured against.

    Plan: symmetrize once, count degrees, then enumerate wedges by
    self-joining the adjacency on the MIDDLE node (fan-out C(deg, 2)
    per middle — the same hot-node consideration as triangle_count;
    ``max_degree`` drops super-hub middles, the standard approximation
    at power-law scale since a 10⁶-degree hub contributes ≲1/ln(10⁶)
    per wedge anyway). Existing edges leave via LEFT ANTI; top-k is a
    TakeOrderedAndProject. Degree-1 middles form no wedge, so
    1/ln(deg) is always finite; deg-2+ lower-bounds ln at ln 2.

    Returns ``(src, dst, common_neighbors, aa_score)``.
    """
    # the edge frame is typically an induced self-join (co-purchase etc.)
    # and feeds FOUR consumers here (degrees, both wedge legs, the anti
    # join) — persist it once instead of re-running the induction per leg
    with cache_scope():
        e = pin(edges.select("src", "dst").distinct())
        sym = e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
                         .select(F.col("src"), F.col("dst")))
        deg = sym.groupBy(F.col("src").alias("w")).agg(
            F.count(F.lit(1)).alias("deg")
        )
        mid = deg.where(F.col("deg") >= 2)
        if max_degree is not None:
            mid = mid.where(F.col("deg") <= max_degree)
        adj = sym.select(F.col("src").alias("w"), F.col("dst").alias("n")).join(
            mid, "w"
        )
        left = adj.select("w", "deg", F.col("n").alias("u"))
        right = adj.select("w", F.col("n").alias("v"))
        wedges = left.join(right, "w").where(F.col("u") < F.col("v"))
        # the cut orders on the 6-dp-ROUNDED score (repo discipline for
        # engine-reproducible top-k): fold-order float noise on tied pairs
        # must not move the rank-k boundary between engines
        scored = wedges.groupBy(F.col("u").alias("src"), F.col("v").alias("dst")).agg(
            F.count(F.lit(1)).alias("common_neighbors"),
            F.round(
                F.sum(1.0 / F.log(F.col("deg").cast("double"))), 6
            ).alias("aa_score"),
        )
        out = (
            scored.join(e, ["src", "dst"], "left_anti")
            .orderBy(F.col("aa_score").desc(), "src", "dst")
            .limit(top_k)
        )
        # top_k rows: collected before the scope releases its pins
        rows = out.collect()
        return edges.sparkSession.createDataFrame(rows, out.schema)
