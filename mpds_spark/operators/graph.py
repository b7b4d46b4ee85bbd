"""Distributed graph features over co-occurrence graphs.

The reference mines pairwise structure from shared-context rows
(clinical comparisons over shared visits, dssFunctionLibrary.R:119-171);
the graph generalization — build the co-occurrence graph once, then
extract per-node structural features (degree, triangle membership,
local clustering) — is the standard "which items travel together"
feature family for recommendation/anomaly channels, and at token scale
the same shape scores co-occurring n-grams.

Scale design (the part that matters at 10^12 edges):

- Edge construction NEVER self-joins the fact table on the basket key:
  each basket folds to ONE sorted distinct-item array and pairs are a
  JVM flatten over it (quadratic only in per-basket cardinality, which
  is bounded in real baskets) — the `cooccurrence_lift` idiom
  (operators/pairs.py).
- Triangle counting uses DEGREE-ORDERED orientation (Cohen 2009 /
  Suri & Vassilvitskii 2011 MapReduce triangle counting): every edge is
  directed from its lower-(degree, id) endpoint, so each triangle is
  generated exactly once at its minimum-order apex and per-node wedge
  fan-out is bounded by ~sqrt(m) regardless of hub degree — the hot-key
  guard that makes the wedge join survive power-law graphs.
- All counts are exact longs; the clustering coefficient is the single
  double division 2T / (d*(d-1)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _ordered_pairs(col):
    """All index pairs (i < j) of an array column as structs (x, y) —
    JVM flatten, no self-join."""
    return F.flatten(
        F.transform(
            col,
            lambda x, i: F.transform(
                F.slice(col, i + F.lit(2), F.size(col)),
                lambda y: F.struct(x.alias("x"), y.alias("y")),
            ),
        )
    )


def co_occurrence_edges(
    df: DataFrame, basket: str = "basket_id", item: str = "item_id"
) -> DataFrame:
    """Canonical undirected edge set (a < b, distinct) of the item
    co-occurrence graph: one basket-keyed aggregation to a sorted
    distinct-item array, a JVM pair flatten, one distinct. Never a
    basket self-join."""
    baskets = (
        df.select(F.col(basket).alias("__b"), F.col(item).alias("__i"))
        .groupBy("__b")
        .agg(F.array_sort(F.collect_set("__i")).alias("__items"))
    )
    return (
        baskets.select(F.explode(_ordered_pairs("__items")).alias("p"))
        .select(F.col("p.x").alias("a"), F.col("p.y").alias("b"))
        .distinct()
    )


def triangle_stats(
    edges: DataFrame, a: str = "a", b: str = "b"
) -> DataFrame:
    """Per-node triangle counts and local clustering coefficient over a
    canonical (a < b, distinct) undirected edge set, via degree-ordered
    orientation (see module docstring).

    Steps: (1) exact degrees from one endpoint-explode aggregation;
    (2) orient each edge from its lower-(degree, id) endpoint; (3) fold
    each source's out-neighbors to ONE (degree, id)-sorted array and
    JVM-flatten the ordered wedge pairs (v, w) — v precedes w in
    orientation order, so the closing edge, if present, is oriented
    v -> w; (4) equi-join wedges against oriented edges (never a theta
    join); (5) explode each triangle's three members and count.

    Counts are orientation-invariant: the DuckDB oracle enumerates
    x < y < z triangles naively, so value equality proves the oriented
    algorithm correct.

    Returns (node, degree, triangles, clustering) for every node;
    clustering = 2T / (d*(d-1)) for d >= 2 else 0.0 (one double
    division; everything else exact longs).

    The edge, degree and oriented frames each feed 2+ downstream
    branches, so they are scratch-persisted (caller frees via
    release_scratch) — without the pin every branch re-runs the basket
    aggregation (measured: 21 exchanges -> 8).
    """
    from mpds_spark.operators.util import scratch_persist

    e = scratch_persist(
        edges.select(F.col(a).alias("a"), F.col(b).alias("b"))
    )
    deg = scratch_persist(
        e.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    ed = e.join(
        deg.select(F.col("node").alias("a"), F.col("degree").alias("__da")),
        "a",
    ).join(
        deg.select(F.col("node").alias("b"), F.col("degree").alias("__db")),
        "b",
    )
    a_first = (F.col("__da") < F.col("__db")) | (
        (F.col("__da") == F.col("__db")) & (F.col("a") < F.col("b"))
    )
    oriented = scratch_persist(
        ed.select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(a_first, F.col("__db"))
            .otherwise(F.col("__da"))
            .alias("__dv"),
        )
    )
    nbrs = oriented.groupBy("u").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("__dv").alias("d"), F.col("v")))
        ).alias("__ns")
    )
    wedges = nbrs.select(
        "u", F.explode(_ordered_pairs("__ns")).alias("p")
    ).select(
        "u", F.col("p.x.v").alias("v"), F.col("p.y.v").alias("w")
    )
    closing = oriented.select(
        F.col("u").alias("v"), F.col("v").alias("w")
    )
    tris = wedges.join(closing, ["v", "w"])
    tri_counts = (
        tris.select(F.explode(F.array("u", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("triangles"))
    )
    t = F.coalesce(F.col("triangles"), F.lit(0).cast("long"))
    clustering = F.when(
        F.col("degree") >= 2,
        (F.lit(2.0) * t.cast("double"))
        / (F.col("degree") * (F.col("degree") - 1)).cast("double"),
    ).otherwise(F.lit(0.0))
    return deg.join(tri_counts, "node", "left").select(
        "node",
        "degree",
        t.alias("triangles"),
        clustering.alias("clustering"),
    )


def pagerank(
    edges: DataFrame,
    a: str = "a",
    b: str = "b",
    damping: float = 0.85,
    n_iter: int = 5,
) -> DataFrame:
    """PageRank (Brin & Page 1998) over a canonical undirected edge set
    (a < b, distinct), fixed `n_iter` power iterations of
    r_v = (1-d)/N + d * sum_{u~v} r_u / deg_u, seeded uniformly — the
    graph-centrality feature beside triangle_stats' local clustering.
    No dangling mass correction is needed: every node in the edge set
    has degree >= 1 by construction.

    Cross-engine determinism: degrees and N are exact longs; the seed
    and every contribution r_u/deg_u are single double divisions; each
    node's incoming contributions fold over a SOURCE-SORTED array
    (array_sort(collect_list) / list(... ORDER BY src)) so the float
    sum order is pinned on both engines (the decayed_counts
    convention); the damped update is one fixed expression.

    Shape at scale: the symmetrized adjacency (with source degree
    attached) is scratch-persisted once; each iteration is ONE
    rank-to-adjacency equi-join + ONE destination-keyed aggregation —
    the classic Pregel-style synchronous sweep expressed as joins, a
    lazily chained 2-exchange stage per iteration, no driver loop over
    data. Hot (high-degree) nodes bound the collect_list — at web
    scale the fold becomes the two-pass salted sum (same contract as
    the salting module); catalog scale runs the direct shape. The
    1-row node-count frame is a registered broadcast.

    Returns (node, degree, pr) for every node of the graph."""
    from mpds_spark.operators.util import scratch_persist

    d = float(damping)
    sym = edges.select(
        F.col(a).alias("src"), F.col(b).alias("dst")
    ).union(edges.select(F.col(b).alias("src"), F.col(a).alias("dst")))
    deg0 = sym.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("__deg")
    )
    # ONE eager pin: every later frame (degrees, node set, node count,
    # each iteration's contribution join) derives from the cached
    # adjacency, so the basket pair-flatten runs exactly once
    adj = scratch_persist(sym.join(deg0, "src"))
    deg = adj.select("src", "__deg").groupBy("src").agg(
        F.max("__deg").alias("__deg")
    )
    nn = deg.agg(F.count(F.lit(1)).cast("long").alias("__n"))
    ranks = deg.select(F.col("src").alias("node")).crossJoin(
        F.broadcast(nn)
    ).select(
        "node", (F.lit(1.0) / F.col("__n").cast("double")).alias("pr")
    )
    for _ in range(int(n_iter)):
        contrib = adj.join(
            ranks.select(F.col("node").alias("src"), "pr"), "src"
        ).select(
            "dst", "src",
            (F.col("pr") / F.col("__deg").cast("double")).alias("__c"),
        )
        s = contrib.groupBy("dst").agg(
            F.array_sort(
                F.collect_list(F.struct("src", "__c"))
            ).alias("__a")
        ).select(
            "dst",
            F.aggregate(
                F.expr("transform(__a, x -> x.__c)"),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("__s"),
        )
        ranks = s.crossJoin(F.broadcast(nn)).select(
            F.col("dst").alias("node"),
            (
                F.lit(1.0 - d) / F.col("__n").cast("double")
                + F.lit(d) * F.col("__s")
            ).alias("pr"),
        )
    return ranks.join(
        deg.select(F.col("src").alias("node"), F.col("__deg")), "node"
    ).select("node", F.col("__deg").alias("degree"), "pr")


def label_propagation(
    edges: DataFrame,
    a: str = "a",
    b: str = "b",
    n_rounds: int = 4,
) -> DataFrame:
    """Synchronous label propagation communities (Raghavan et al. 2007)
    over a canonical undirected edge set, made FULLY deterministic:
    each round every node adopts the most frequent label among its
    neighbors, ties broken to the SMALLEST label (the classic
    randomized tie-break is replaced by a total order, so the result
    is a pure function of the graph). Complements connected components
    (dedup.connected_components, which ignore density) with
    density-sensitive communities.

    Determinism: labels are node ids (exact longs); per-round counts
    are exact; the argmax is one max(struct(count, -label)) aggregate —
    count descending then smallest label, no window, no rng.

    Shape at scale: adjacency persisted once; each round is ONE
    label-to-adjacency equi-join + TWO hash aggregations ((dst, label)
    count, then dst argmax) — the Pregel sweep as joins, lazily
    chained like pagerank. Hot labels are ordinary skew-safe hash-agg
    keys.

    Returns (node, community) after `n_rounds` sweeps."""
    from mpds_spark.operators.util import scratch_persist

    sym = edges.select(
        F.col(a).alias("src"), F.col(b).alias("dst")
    ).union(edges.select(F.col(b).alias("src"), F.col(a).alias("dst")))
    adj = scratch_persist(sym)
    labels = adj.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("community")
    )
    for _ in range(int(n_rounds)):
        cnt = (
            adj.join(
                labels.select(F.col("node").alias("src"), "community"),
                "src",
            )
            .groupBy("dst", "community")
            .agg(F.count(F.lit(1)).cast("long").alias("__c"))
        )
        labels = cnt.groupBy("dst").agg(
            F.max(
                F.struct(F.col("__c"), (-F.col("community")).alias("__m"))
            ).alias("__best")
        ).select(
            F.col("dst").alias("node"),
            (-F.col("__best.__m")).cast("long").alias("community"),
        )
    return labels


def degree_assortativity(
    edges: DataFrame, a: str = "a", b: str = "b"
) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002, "Assortative
    mixing in networks", Phys. Rev. Lett. 89) of a canonical
    (a < b, distinct) undirected edge set — the one-number graph-health
    audit that says whether hubs attach to hubs (r > 0, social-ish) or
    to leaves (r < 0, web/biology-ish). Run on the near-dup or
    co-occurrence graph it tells you whether duplication is clustered
    in a dense core (one template family) or spread hub-to-leaf (a few
    masters copied everywhere) — which decides the dedup strategy.

    r is the Pearson correlation of (deg(src), deg(dst)) over the
    DIRECTED doubling of the edge set (each undirected edge
    contributes both orientations, the standard convention — the
    doubling makes the x and y marginals identical by symmetry).

    Shape at scale: one endpoint-explode aggregation for exact integer
    degrees, two broadcast joins to annotate the directed edges, ONE
    moment aggregate (M, Sx, Sy, Sxy, Sxx, Syy — all exact longs), and
    a fixed expression tree for r: every product is computed on
    exactly-represented doubles (the longs stay < 2^53), so the result
    is cross-engine deterministic with no rounding.

    Returns a 1-row frame (n_nodes, n_edges, assortativity).
    """
    from mpds_spark.operators.util import scratch_persist

    e = scratch_persist(
        edges.select(F.col(a).alias("a"), F.col(b).alias("b"))
    )
    deg = scratch_persist(
        e.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    directed = e.select("a", "b").unionAll(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    ann = directed.join(
        F.broadcast(deg.select(F.col("node").alias("a"),
                               F.col("degree").alias("__x"))), "a"
    ).join(
        F.broadcast(deg.select(F.col("node").alias("b"),
                               F.col("degree").alias("__y"))), "b"
    )
    m = ann.agg(
        F.count(F.lit(1)).cast("long").alias("__m"),
        F.sum("__x").cast("long").alias("__sx"),
        F.sum("__y").cast("long").alias("__sy"),
        F.sum(F.col("__x") * F.col("__y")).cast("long").alias("__sxy"),
        F.sum(F.col("__x") * F.col("__x")).cast("long").alias("__sxx"),
        F.sum(F.col("__y") * F.col("__y")).cast("long").alias("__syy"),
    )
    nn = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    md = F.col("__m").cast("double")
    sxd = F.col("__sx").cast("double")
    syd = F.col("__sy").cast("double")
    r = (md * F.col("__sxy").cast("double") - sxd * syd) / (
        F.sqrt(md * F.col("__sxx").cast("double") - sxd * sxd)
        * F.sqrt(md * F.col("__syy").cast("double") - syd * syd)
    )
    return m.join(F.broadcast(nn)).select(
        F.col("n_nodes"),
        (F.col("__m") / F.lit(2)).cast("long").alias("n_edges"),
        r.alias("assortativity"),
    )
