"""Single-pass data-validation operator (the expectations/constraints
pattern of Amazon Deequ, Schelter et al. VLDB'18): declare per-column
rules, get one row per rule with violation counts and a pass verdict —
the quality gate a pipeline runs before committing an expensive stage.

Every rule is a Column predicate, so the whole suite compiles to ONE
aggregation over a single scan (conditional sums — no per-rule jobs, no
shuffle beyond the final single-row agg). Rule results are data, not
exceptions: persist them next to the stage manifest and alert on deltas.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


class Rule:
    """Structural rule tag: (display name, kind, column expression).

    kind="predicate" rules are row-local booleans counted as conditional
    sums; kind="unique" rules carry the COLUMN itself and are evaluated as
    count - count_distinct. Dispatching on `kind` (not on the display-name
    prefix — ADVICE r3) means a caller-supplied predicate rule whose name
    happens to start with 'unique(' is still counted as a predicate.
    """

    __slots__ = ("name", "kind", "expr")

    def __init__(self, name: str, kind: str, expr: Column):
        self.name, self.kind, self.expr = name, kind, expr


def not_null(col: str) -> Rule:
    return Rule(f"not_null({col})", "predicate", F.col(col).isNotNull())


def unique(col: str) -> Rule:
    """Uniqueness is not row-local — handled specially in validate()."""
    return Rule(f"unique({col})", "unique", F.col(col))


def in_range(col: str, lo, hi) -> Rule:
    return Rule(f"in_range({col},{lo},{hi})", "predicate", F.col(col).between(lo, hi))


def matches(col: str, regex: str) -> Rule:
    return Rule(f"matches({col})", "predicate", F.col(col).rlike(regex))


def is_in(col: str, values: list) -> Rule:
    return Rule(f"is_in({col})", "predicate", F.col(col).isin(values))


def validate(df: DataFrame, rules: list) -> DataFrame:
    """Evaluate `rules` (Rule objects from the not_null/in_range/matches/
    is_in/unique helpers, or bare (name, predicate Column) pairs — always
    counted as predicates) in one aggregation pass. Returns one row per
    rule: (rule, n_rows, n_violations, passes).

    `unique(col)` rules need a distinct count, which cannot ride the
    row-local conditional sums — they are computed in the SAME jobs via
    count_distinct in the single agg (exact; swap for approx_count_distinct
    at extreme cardinality). NULL predicate results count as violations
    (a rule that cannot evaluate did not pass).
    """
    aggs = [F.count(F.lit(1)).alias("__n")]
    names = []
    for i, rule in enumerate(rules):
        if not isinstance(rule, Rule):
            name, pred = rule
            rule = Rule(name, "predicate", pred)
        names.append(rule.name)
        if rule.kind == "unique":
            aggs.append(
                (F.count(rule.expr) - F.count_distinct(rule.expr)).alias(
                    f"__v{i}"
                )
            )
        else:
            aggs.append(
                F.sum(
                    F.when(F.coalesce(rule.expr, F.lit(False)), 0).otherwise(1)
                ).alias(f"__v{i}")
            )
    row = df.agg(*aggs)
    # melt the single agg row to one row per rule with ONE explode — a
    # per-rule union of selects re-plans (and re-scans) the whole
    # aggregation subtree per rule (plan_audit: 6 shuffles / 6 scans for
    # a 6-rule suite), which defeats the operator's one-pass contract
    pairs = F.array(
        *[
            F.struct(
                F.lit(name).alias("rule"),
                F.col(f"__v{i}").cast("long").alias("n_violations"),
            )
            for i, name in enumerate(names)
        ]
    )
    return row.select(
        F.col("__n").cast("long").alias("n_rows"), F.explode(pairs).alias("p")
    ).select(
        F.col("p.rule").alias("rule"),
        "n_rows",
        F.col("p.n_violations").alias("n_violations"),
        (F.col("p.n_violations") == 0).alias("passes"),
    )


def length_ks_drift(
    df: DataFrame,
    text: str = "text",
    group: str = "source",
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift audit: for every group
    (source / dump), the exact KS statistic between ITS word-length
    distribution and the REST of the corpus — sup over observed lengths of
    |F_group(x) - F_rest(x)|. The mixture-shift alarm a curator watches
    per ingested dump: a new crawl whose document-length CDF departs from
    the standing corpus changes packing efficiency and sampling weights
    before any content-level signal fires.

    Exactness: both CDFs are integer cumulative counts divided once —
    no float accumulation, so the statistic is bit-identical across
    engines and partitionings.

    Shape at scale: one (group, len) count agg; the evaluation grid is
    groups x distinct-lengths built by a constant-key broadcast join of
    two TINY aggregate frames (never the corpus); cumulative sums are
    windows over that grid. Output is |groups| rows."""
    from pyspark.sql import Window

    d = df.select(
        F.col(group).alias("g"),
        F.size(F.split(F.trim(F.col(text)), r"\s+")).alias("len"),
    )
    cg = d.groupBy("g", "len").agg(F.count(F.lit(1)).alias("c"))
    lens = cg.select("len").distinct().withColumn("__k", F.lit(1))
    groups = cg.groupBy("g").agg(F.sum("c").alias("n_g")).withColumn(
        "__k", F.lit(1)
    )
    n_all = d.count()  # single scalar; the grid needs the total anyway
    grid = groups.join(F.broadcast(lens), "__k").drop("__k")
    filled = grid.join(cg, ["g", "len"], "left").select(
        "g", "len", "n_g", F.coalesce("c", F.lit(0)).alias("c")
    )
    w = Window.partitionBy("g").orderBy("len")
    ca = cg.groupBy("len").agg(F.sum("c").alias("c_all"))
    cum = (
        filled.withColumn("cum_g", F.sum("c").over(w))
        .join(F.broadcast(ca.withColumn(
            "cum_all",
            F.sum("c_all").over(Window.orderBy("len")),
        ).select("len", "cum_all")), "len")
    )
    # F_rest(x) = (cum_all - cum_g) / (n_all - n_g)
    diff = F.abs(
        F.col("cum_g") / F.col("n_g")
        - (F.col("cum_all") - F.col("cum_g"))
        / (F.lit(n_all) - F.col("n_g")).cast("double")
    )
    return (
        cum.withColumn("__d", diff)
        .groupBy("g")
        .agg(
            F.first("n_g").alias("n_docs"),
            F.max("__d").alias("ks_stat"),
        )
        .select(
            F.col("g").alias(group),
            F.col("n_docs").cast("long").alias("n_docs"),
            "ks_stat",
        )
    )


def gini_concentration(
    df: DataFrame,
    value: str = "n_chars",
    by: str = "source",
) -> DataFrame:
    """Per-group Gini coefficient of an integer mass column — the
    inequality audit for training-mixture curation (how concentrated is
    a source's character/token mass across its documents; pairs with
    the per-source mixture audit and domain caps).

    Exact-arithmetic form: with x sorted ascending and i = 1..n,
    G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)). All sums accumulate
    as decimal(38,0)/hugeint — and sum(i*x_i) is INVARIANT to how ties
    are ranked (equal x values just permute coefficients), so no
    tie-break column is needed and both engines form identical doubles
    in the single final division. Bound: n^2 * max(x) <= 10^38 holds to
    ~10^16 docs at 10^6 chars each.

    Shape at scale: the rank window and the group rollup share ONE
    group-keyed exchange. Per-group history is the partition bound —
    the audit is per-source, and sources are few.

    Returns (by, n_docs, total_mass, gini) — gini NULL when the group
    mass is zero."""
    dec = "decimal(38,0)"
    w = Window.partitionBy(by).orderBy(F.col(value))
    r = df.select(
        F.col(by),
        F.col(value).cast(dec).alias("__x"),
        F.row_number().over(w).cast(dec).alias("__i"),
    )
    g = r.groupBy(by).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__x").alias("__t"),
        F.sum(F.col("__i") * F.col("__x")).alias("__s"),
    )
    n = F.col("n_docs").cast(dec)
    num = (F.lit(2).cast(dec) * F.col("__s") - (n + 1) * F.col("__t"))
    den = n * F.col("__t")
    return g.select(
        by,
        "n_docs",
        F.col("__t").cast("long").alias("total_mass"),
        F.when(
            F.col("__t") > 0, num.cast("double") / den.cast("double")
        ).alias("gini"),
    )


def referential_audit(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    relation: str,
) -> DataFrame:
    """Referential-integrity audit of a fact->dimension key relation:
    exact counts of orphan fact keys/rows (fact keys missing from the
    dimension) and unreferenced dimension keys (never hit by a fact
    row) — the first data-quality pass any 100-TB star schema runs
    before joins are trusted.

    Shape at scale: ONE fact-key aggregation (distinct keys + row
    counts in the same pass), a key-equi left join against the distinct
    dimension keys (broadcast when the dimension is small, SMJ
    otherwise — never a nested loop), and two tiny rollups. Returns one
    row: (relation, n_fact_rows, n_fact_keys, n_orphan_keys,
    n_orphan_rows, n_dim_keys, n_unreferenced_dim).
    """
    fk = fact.select(F.col(fact_key).alias("__k")).groupBy("__k").agg(
        F.count(F.lit(1)).cast("long").alias("__rows")
    )
    dk = dim.select(F.col(dim_key).alias("__k")).distinct().withColumn(
        "__dim", F.lit(1)
    )
    joined = fk.join(dk, "__k", "full_outer")
    return joined.agg(
        F.lit(relation).alias("relation"),
        F.sum(F.coalesce("__rows", F.lit(0))).cast("long").alias(
            "n_fact_rows"
        ),
        F.sum(F.when(F.col("__rows").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_fact_keys"),
        F.sum(
            F.when(
                F.col("__rows").isNotNull() & F.col("__dim").isNull(), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_orphan_keys"),
        F.sum(
            F.when(F.col("__dim").isNull(), F.col("__rows")).otherwise(0)
        )
        .cast("long")
        .alias("n_orphan_rows"),
        F.sum(F.when(F.col("__dim").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_dim_keys"),
        F.sum(
            F.when(
                F.col("__dim").isNotNull() & F.col("__rows").isNull(), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_unreferenced_dim"),
    )


def join_size_audit(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    relation: str,
) -> DataFrame:
    """Join-cardinality audit: the EXACT equi-join output size (sum over
    keys of count_left * count_right — computed from the two per-key
    count frames, never by materializing the join) beside the textbook
    optimizer estimate |L|*|R| / max(ndv_L, ndv_R) (Selinger et al.
    1979) and their ratio — the planner-sanity feature that flags the
    skewed keys where the uniform-frequency assumption explodes.

    Shape at scale: one key-keyed count agg per side, one key join of
    the two COUNT frames (never the raw tables), exact long/decimal
    sums, one double division. Returns one row: (relation, n_left,
    n_right, ndv_left, ndv_right, actual_rows, est_rows, ratio).
    """
    from mpds_spark.operators.util import scratch_persist

    # each count frame feeds the key join AND its own totals agg —
    # persist so the base table is scanned once per side
    lc = scratch_persist(
        left.select(F.col(left_key).alias("__k")).groupBy("__k").agg(
            F.count(F.lit(1)).cast("long").alias("__cl")
        )
    )
    rc = scratch_persist(
        right.select(F.col(right_key).alias("__k")).groupBy("__k").agg(
            F.count(F.lit(1)).cast("long").alias("__cr")
        )
    )
    j = lc.join(rc, "__k")
    dec = "decimal(38,0)"
    agg = j.agg(
        F.sum(
            F.col("__cl").cast(dec) * F.col("__cr").cast(dec)
        ).alias("__actual")
    ).crossJoin(
        F.broadcast(
            lc.agg(
                F.sum("__cl").cast("long").alias("__nl"),
                F.count(F.lit(1)).cast("long").alias("__dl"),
            )
        )
    ).crossJoin(
        F.broadcast(
            rc.agg(
                F.sum("__cr").cast("long").alias("__nr"),
                F.count(F.lit(1)).cast("long").alias("__dr"),
            )
        )
    )
    est = (
        F.col("__nl").cast("double")
        * F.col("__nr").cast("double")
        / F.greatest("__dl", "__dr").cast("double")
    )
    actual = F.coalesce(F.col("__actual"), F.lit(0).cast("decimal(38,0)"))
    return agg.select(
        F.lit(relation).alias("relation"),
        F.col("__nl").alias("n_left"),
        F.col("__nr").alias("n_right"),
        F.col("__dl").alias("ndv_left"),
        F.col("__dr").alias("ndv_right"),
        actual.cast("long").alias("actual_rows"),
        est.alias("est_rows"),
        (actual.cast("double") / est).alias("ratio"),
    )


def k_anonymity(
    df: DataFrame,
    qi: list | tuple = ("qi",),
    sensitive: str = "sensitive",
    ks: tuple = (2, 5, 10, 20),
) -> DataFrame:
    """k-anonymity / l-diversity risk audit (Sweeney 2002; Machanavajjhala
    et al. 2007) over a quasi-identifier tuple — the privacy gate a
    training-data release pipeline runs BEFORE the shard write: how many
    equivalence classes (rows sharing the full QI tuple) fall below each
    anonymity threshold k, how many rows they expose, and the worst-case
    sensitive-attribute diversity across classes.

    All counts are exact longs (sensitive diversity = exact distinct per
    class); the only float is the at-risk percentage, one division of
    exact integers.

    Shape at scale: one QI-keyed agg (the heavy leg), then a |classes| x
    |ks| explode + tiny k-keyed agg. No joins, no windows. At 10^12 rows
    the QI agg is an ordinary skew-safe hash aggregate; the class frame
    is bounded by the QI domain.

    Returns one row per k: (k, n_classes, min_class_size, min_l_div,
    classes_below, rows_at_risk, risk_pct)."""
    cls = df.groupBy(*[F.col(c) for c in qi]).agg(
        F.count(F.lit(1)).cast("long").alias("__size"),
        F.countDistinct(F.col(sensitive)).cast("long").alias("__ldiv"),
    )
    e = cls.select(
        "__size",
        "__ldiv",
        F.explode(
            F.array(*[F.lit(int(k)).cast("long") for k in ks])
        ).alias("k"),
    )
    below = F.col("__size") < F.col("k")
    out = e.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.min("__size").cast("long").alias("min_class_size"),
        F.min("__ldiv").cast("long").alias("min_l_div"),
        F.sum(F.when(below, 1).otherwise(0)).cast("long").alias(
            "classes_below"
        ),
        F.sum(F.when(below, F.col("__size")).otherwise(0))
        .cast("long")
        .alias("rows_at_risk"),
        F.sum("__size").cast("long").alias("__total"),
    )
    return out.select(
        "k",
        "n_classes",
        "min_class_size",
        "min_l_div",
        "classes_below",
        "rows_at_risk",
        (
            F.lit(100.0) * F.col("rows_at_risk").cast("double")
            / F.col("__total").cast("double")
        ).alias("risk_pct"),
    )


def consistent_hash_audit(
    df: DataFrame,
    key: str = "key",
    n_nodes: int = 8,
    n_virtual: int = 16,
) -> DataFrame:
    """Consistent-hashing ring audit (Karger et al. 1997): assign every
    key to the first clockwise virtual node on a 60-bit md5 ring with
    `n_virtual` points per node, then re-assign on a ring grown by ONE
    node and report per-node membership before/after plus gained/lost
    counts — evidencing the guarantee sharded 100-TB layouts lean on:
    a resize moves only the keys landing in the new node's arcs
    (expected share 1/(N+1)), everything else stays put.

    Determinism: vnode and key positions are the engine's portable
    60-bit md5 hashes; assignment = first vnode position >= key
    position (wrapping to the ring minimum); all outputs exact longs.

    Shape at scale: the two rings are 1-row sorted-array broadcasts
    (registered BNLJ-by-design) searched per key with a JVM array
    filter — the key stream is scanned once, no join explosion, then
    one node-keyed agg.

    Returns (node, n_before, n_after, n_gained, n_lost)."""
    import hashlib

    def _h60_py(s: str) -> int:
        # top 60 bits of md5 as a non-negative int — the same value
        # _h60 / the oracle's ('0x'||substring(md5(x),1,15))::UBIGINT
        # produce (all-integer, no float anywhere)
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def ring(n):
        pts = sorted(
            (_h60_py(f"node{i}|v{j}"), f"node{i}")
            for i in range(n)
            for j in range(int(n_virtual))
        )
        return [p[0] for p in pts], [p[1] for p in pts]

    r1h, r1n = ring(int(n_nodes))
    r2h, r2n = ring(int(n_nodes) + 1)

    def _assign_gen(batches):
        import mpds_spark  # noqa: F401  installs the worker fix-ups
        # guide §4.2: per-batch md5 + sorted-ring searchsorted replaces
        # the r5 per-row interpreted filter over the 128/144-element
        # ring literal (first vnode with h >= key position, wrapping to
        # the ring minimum) — identical integer assignments
        import numpy as np
        import pyarrow as pa

        a1h = np.asarray(r1h, dtype=np.uint64)
        a2h = np.asarray(r2h, dtype=np.uint64)
        n1 = np.asarray(r1n + [r1n[0]])
        n2 = np.asarray(r2n + [r2n[0]])

        for b in batches:
            ks = b.column(0).to_pylist()
            if not ks:
                continue
            hk = np.asarray(
                [_h60_py(f"key|{k}") for k in ks], dtype=np.uint64
            )
            i1 = np.searchsorted(a1h, hk, side="left")
            i2 = np.searchsorted(a2h, hk, side="left")
            # index == len(ring) -> wrap to the ring minimum (the
            # appended sentinel element)
            yield pa.record_batch(
                [pa.array(n1[i1]), pa.array(n2[i2])],
                names=["__before", "__after"],
            )

    from mpds_spark.operators.util import scratch_persist

    # persisted: consumed four times (node-set union's two branches +
    # both per-node aggs) — without a barrier the per-key assignment
    # kernel re-executes per consumer (r6: ~4x)
    a = scratch_persist(
        df.select(F.col(key).cast("string").alias("__k")).mapInArrow(
            _assign_gen, "__before string, __after string"
        )
    )
    nodes = a.select(F.col("__before").alias("node")).union(
        a.select(F.col("__after").alias("node"))
    ).distinct()
    g = nodes.join(
        a.groupBy(F.col("__before").alias("node")).agg(
            F.count(F.lit(1)).cast("long").alias("n_before"),
            F.sum(
                F.when(F.col("__after") != F.col("__before"), 1)
                .otherwise(0)
            ).cast("long").alias("n_lost"),
        ),
        "node", "left",
    ).join(
        a.groupBy(F.col("__after").alias("node")).agg(
            F.count(F.lit(1)).cast("long").alias("n_after"),
            F.sum(
                F.when(F.col("__after") != F.col("__before"), 1)
                .otherwise(0)
            ).cast("long").alias("n_gained"),
        ),
        "node", "left",
    )
    z = F.lit(0).cast("long")
    return g.select(
        "node",
        F.coalesce("n_before", z).alias("n_before"),
        F.coalesce("n_after", z).alias("n_after"),
        F.coalesce("n_gained", z).alias("n_gained"),
        F.coalesce("n_lost", z).alias("n_lost"),
    )
