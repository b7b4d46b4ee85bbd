"""Pair-generation operators and pairwise diffs.

The reference materializes pair tables as row-index relations
(dssFunctionLibrary.R:16-19 OrderPairs(onIdx, offIdx)); Spark has no stable
row ids, so pairs are key-based:

- smoothness_pairs ← dssFunctionLibrary.R:174-205 + NB cell 16: each row
  paired with the NEXT row of the same entity → pure F.lead, no join.
- ordering_pairs ← NB cells 5+12: the interleaved (before, after) visit
  pairs — even row paired with the following odd row per entity.
- pair_diff ← dssFunctionLibrary.R:371-398 (calculateDiffMatrix/Vec):
  given a pair table (on_key, off_key) and a keyed data table, emit
  data[on] - data[off] per feature — two equi-joins + zip_with arithmetic.
- random_ordered_pairs ← mimicUsefulFunction.R:162-193: sampled pairs
  oriented by a rank column (higher rank first), deduped, capped.

Scale: lead-based pairs are window-only. pair_diff joins are sort-merge on
the key (or broadcast when one side is small); the arrays stay JVM-side via
zip_with (no Python).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mpds_spark.functions.timeutil import epoch_seconds

# clinical_pairs: distinguishes "caller never thought about the inter-pass
# bound" (default -> warn) from an explicit uncapped opt-in (None)
_UNSET = object()


def smoothness_pairs(
    df: DataFrame,
    cols: list[str],
    entity: str = "entity_id",
    ts: str = "ts",
    key: str | None = None,
) -> DataFrame:
    """Consecutive same-entity row pairs: for each row (off) with a successor
    (on), emit on-off deltas of `cols` plus diff_ts = ts_on - ts_off.

    Parity: dssGenerateSmoothnessPairs (onIdx = offIdx + 1, same-entity
    guard) — the reference's diff convention is on - off = later - earlier.
    """
    w = Window.partitionBy(entity).orderBy(ts)
    out = df
    t = epoch_seconds(df, ts)
    for c in cols:
        out = out.withColumn(f"{c}_pair_diff", F.lead(c).over(w) - F.col(c))
    out = out.withColumn("pair_diff_ts", F.lead(t).over(w) - t)
    if key:
        out = out.withColumn("on_" + key, F.lead(key).over(w))
    return out.filter(F.col("pair_diff_ts").isNotNull())


def ordering_pairs(
    df: DataFrame,
    cols: list[str],
    entity: str = "entity_id",
    ts: str = "ts",
) -> DataFrame:
    """Interleaved before/after pairs: per entity, row 2k (before) is paired
    with row 2k+1 (after); emit after-before deltas.

    Parity: NB cell 5 (iloc[::2]/[1::2]) + cell 12 OrderPairs — order-derived
    via row_number, never physical position.
    """
    w = Window.partitionBy(entity).orderBy(ts)
    rn = F.row_number().over(w)
    out = df.withColumn("__rn", rn)
    for c in cols:
        out = out.withColumn(f"{c}_pair_diff", F.lead(c).over(w) - F.col(c))
    t = epoch_seconds(df, ts)
    out = out.withColumn("pair_diff_ts", F.lead(t).over(w) - t)
    # keep only the even (before) rows that have an after partner
    return out.filter(
        (F.col("__rn") % 2 == 1) & F.col("pair_diff_ts").isNotNull()
    ).drop("__rn")


def pair_diff(
    pairs: DataFrame,
    data: DataFrame,
    key: str,
    cols: list[str],
    on_key: str = "on_key",
    off_key: str = "off_key",
    array_cols: list[str] | None = None,
) -> DataFrame:
    """Materialize data[on] - data[off] for a pair table.

    Scalar `cols` are differenced directly; `array_cols` (ArrayType feature
    vectors) via zip_with(on, off, (a, b) -> a - b) — JVM-side, no Python.
    """
    array_cols = array_cols or []
    on = data.select(
        F.col(key).alias(on_key),
        *[F.col(c).alias(f"__on_{c}") for c in cols + array_cols],
    )
    off = data.select(
        F.col(key).alias(off_key),
        *[F.col(c).alias(f"__off_{c}") for c in cols + array_cols],
    )
    j = pairs.join(on, on_key, "inner").join(off, off_key, "inner")
    for c in cols:
        j = j.withColumn(f"{c}_diff", F.col(f"__on_{c}") - F.col(f"__off_{c}"))
    for c in array_cols:
        j = j.withColumn(
            f"{c}_diff",
            F.zip_with(f"__on_{c}", f"__off_{c}", lambda a, b: a - b),
        )
    drop = [f"__on_{c}" for c in cols + array_cols] + [
        f"__off_{c}" for c in cols + array_cols
    ]
    return j.drop(*drop)


def cross_stage_pairs(
    df: DataFrame,
    key: str,
    stage: str = "stage",
    entity: str = "entity_id",
    ts: str = "ts",
    min_ht_gap: float = 0.0,
    within_entity: bool = True,
) -> DataFrame:
    """Theta-join pairs with stage(on) > stage(off) and |ts gap| >= min_ht_gap.

    Parity: generateBalancedPairs (dssFunctionLibrary.R:57-104) — the high-
    stage row is `on`, low-stage `off`.
    """
    a = df.select(
        F.col(key).alias("on_key"),
        F.col(entity).alias("__e1"),
        epoch_seconds(df, ts).alias("__t1"),
        F.col(stage).alias("__s1"),
    )
    b = df.select(
        F.col(key).alias("off_key"),
        F.col(entity).alias("__e2"),
        epoch_seconds(df, ts).alias("__t2"),
        F.col(stage).alias("__s2"),
    )
    cond = (F.col("__s1") > F.col("__s2")) & (
        F.abs(F.col("__t1") - F.col("__t2")) >= F.lit(float(min_ht_gap))
    )
    if within_entity:
        cond = cond & (F.col("__e1") == F.col("__e2"))
    out = (
        a.join(b, cond, "inner")
        .withColumnRenamed("__s1", "on_stage")
        .withColumnRenamed("__s2", "off_stage")
        .withColumnRenamed("__e1", "on_entity")
    )
    return out.select("on_key", "off_key", "on_stage", "off_stage", "on_entity")


def random_ordered_pairs(
    df: DataFrame,
    key: str,
    rank: str,
    n_pairs: int,
    seed: int = 42,
) -> DataFrame:
    """Seeded random rank-ordered pairs (mimicUsefulFunction.R:162-193
    createRandomPairsOrderedByRank): oversample ~2x candidate pairs, drop
    same-key / equal-rank pairs, orient so the higher rank is `on`
    (vector_swap, :153-158), dedupe, cap at n_pairs.

    Every stage is a deterministic function of row CONTENT, so the output
    pair set is identical under any partition layout:
    - sampling: hash-threshold (md5(salt|k|rkey) as uniform u in [0,1),
      keep u < p) instead of DataFrame.sample, whose per-partition seeded
      sampler selects different rows when the layout changes. rkey is the
      CANONICAL integer encoding floor(r * 1e6 + 0.5) cast to BIGINT, not
      the raw double's string form: engines render doubles differently
      outside the plain-decimal range (Spark '1.0E7' vs DuckDB
      '10000000.0'), so hashing the raw string would silently diverge on
      rank values >= 1e7 or needing 17-digit repr. The contract is
      micro-unit rank resolution (ranks closer than 5e-7 may hash alike —
      they still pair/orient correctly, only the sampling hash coarsens);
    - zip: row_number over a content-hash order on each side, joined on
      the rank — monotonically_increasing_id would depend on layout, so
      two independently sampled frames would have no aligned ids;
    - cap: top-n_pairs by pair-content hash, not a bare limit().
    Scale note: the global-order windows are single-partition, but they
    run over the O(n_pairs) sample, not the corpus — bounded by design.
    """
    # canonical integer rank encoding for every hash input (see docstring)
    rkey = F.floor(F.col("r") * F.lit(1e6) + F.lit(0.5)).cast("long")
    keyed = df.select(
        F.col(key).alias("k"), F.col(rank).alias("r"), rkey.alias("__rk")
    )
    n = keyed.count()
    # aim for ~2*n_pairs candidate rows per side (capped at the table size)
    p = min(1.0, 2.0 * n_pairs / max(n, 1))

    def _hash_sample(s, salt):
        u = (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("|", F.lit(salt), "k", "__rk")), 1, 8
                ),
                16,
                10,
            ).cast("double")
            / F.lit(float(1 << 32))
        )
        return s.filter(u < F.lit(p))

    def _det_index(s, salt):
        w = Window.orderBy(F.md5(F.concat_ws("|", F.lit(salt), "k", "__rk")))
        return s.withColumn("__i", F.row_number().over(w))

    a = _det_index(_hash_sample(keyed, f"{seed}a"), f"{seed}oa")
    b = _det_index(_hash_sample(keyed, f"{seed}b"), f"{seed}ob")
    cand = (
        a.alias("x")
        .join(b.alias("y"), "__i")
        .select(
            F.col("x.k").alias("k1"),
            F.col("x.r").alias("r1"),
            F.col("y.k").alias("k2"),
            F.col("y.r").alias("r2"),
        )
        .filter((F.col("k1") != F.col("k2")) & (F.col("r1") != F.col("r2")))
    )
    oriented = cand.select(
        F.when(F.col("r1") >= F.col("r2"), F.col("k1"))
        .otherwise(F.col("k2"))
        .alias("on_key"),
        F.when(F.col("r1") >= F.col("r2"), F.col("k2"))
        .otherwise(F.col("k1"))
        .alias("off_key"),
    ).dropDuplicates(["on_key", "off_key"])
    return _hash_rank_cap(
        oriented, [], [F.lit(str(seed)), "on_key", "off_key"], n_pairs
    )


def _hash_rank_cap(df: DataFrame, partition_cols, order_cols, cap: int):
    """Deterministic analogue of the reference's random subsampling: keep
    the first `cap` rows per partition under a content-hash order. Engine-
    and layout-independent (row_number over md5 of the row's own keys)."""
    w = Window.partitionBy(*partition_cols).orderBy(
        F.md5(F.concat_ws("|", *order_cols))
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= cap)
        .drop("__rn")
    )


def clinical_pairs(
    df: DataFrame,
    key: str,
    stage: str = "stage",
    entity: str = "entity_id",
    ts: str = "ts",
    min_ht_gap: float = 0.0,
    considered: DataFrame | None = None,
    intra_cap: int | None = None,
    inter_cap: int | None = None,
    inter_rows_per_stage: int | None = _UNSET,
) -> DataFrame:
    """Intra + inter entity clinical-comparison pairs.

    Parity: dssGenerateClinicalComparisons (dssFunctionLibrary.R:119-171).
    - rows restricted to `considered` entities (:133-135 consideredIDs)
      and non-negative stages (:67 uniq_stages >= 0);
    - pass 1 (intra, :139-152): per-entity cross-stage pairs (stage_on >
      stage_off, |ts gap| >= min_ht_gap), capped per (entity, stage-combo)
      by intra_cap;
    - pass 2 (inter, :156-168): the SAME pair generation globally across
      entities, restricted to rows already used by pass 1 ("generate pairs
      only between entries that were already used"), capped per stage-combo
      by inter_cap;
    - output: union, deduped (:169 unique(rbind(...))), pair_type = 'intra'
      for pairs produced by pass 1.

    Where the reference subsamples RANDOMLY (subsampleSetOfPossiblePairs,
    :38-52), this engine caps DETERMINISTICALLY by content-hash rank, so
    results are engine/layout/seed-independent and oracle-checkable.

    Scale: the inter pass is a global self-join — quadratic in the used-row
    count. inter_rows_per_stage bounds it the way the reference's sampling
    does: cap the used rows per stage (hash-rank) BEFORE the join, so the
    join input — not just the output — is bounded. Leaving it at the
    default plans an UNCAPPED BroadcastNestedLoopJoin (only inequality
    predicates) and emits a RuntimeWarning; pass inter_rows_per_stage=None
    explicitly to acknowledge the unbounded plan (tiny/clinical-sized
    inputs), or an int cap for anything corpus-sized.
    """
    import warnings
    from mpds_spark.operators.util import (
        defer_release,
        tracked_local_checkpoint,
    )

    d = df.filter(F.col(stage) >= 0)
    if considered is not None:
        d = d.join(considered, entity, "left_semi")
    # materialize the considered-rows frame ONCE and TRUNCATE its lineage:
    # it is referenced by both legs of the intra self-join and (through
    # used_rows) both legs of the inter pass — unmaterialized, every
    # reference re-expands the whole scan + semi-join subtree (measured:
    # the base table scanned 39x in one plan at sf0.001). localCheckpoint
    # (not persist) so each reference is a flat RDD scan — the plan no
    # longer grows multiplicatively with stage cardinality. Safe because
    # every downstream cap is a content-hash rank (layout-independent).
    d, _ids = tracked_local_checkpoint(d)
    defer_release(_ids)

    intra = cross_stage_pairs(
        d, key, stage, entity, ts, min_ht_gap, within_entity=True
    )
    if intra_cap is not None:
        intra = _hash_rank_cap(
            intra,
            ["on_entity", "on_stage", "off_stage"],
            ["on_key", "off_key"],
            intra_cap,
        )
    # consumed by used-keys and the final union; blocks released by the
    # caller's next release_scratch() (the final action is outside this
    # operator)
    intra, _ids = tracked_local_checkpoint(
        intra.select("on_key", "off_key", "on_stage", "off_stage")
    )
    defer_release(_ids)

    used = (
        intra.select(F.col("on_key").alias(key))
        .unionByName(intra.select(F.col("off_key").alias(key)))
        .distinct()
    )
    used_rows = d.join(used, key, "left_semi")
    if inter_rows_per_stage is _UNSET:
        warnings.warn(
            "clinical_pairs: inter_rows_per_stage not set — the inter pass "
            "plans an uncapped nested-loop theta self-join over every row "
            "used by the intra pass (quadratic). Pass an int cap, or "
            "inter_rows_per_stage=None to run uncapped deliberately.",
            RuntimeWarning,
            stacklevel=2,
        )
        inter_rows_per_stage = None
    if inter_rows_per_stage is not None:
        used_rows = _hash_rank_cap(
            used_rows, [stage], [F.col(key).cast("string")], inter_rows_per_stage
        )
    # both inter self-join legs reference this capped frame: materialize it
    # once (its cap window would otherwise be planned and executed twice)
    used_rows, _ids = tracked_local_checkpoint(used_rows)
    defer_release(_ids)
    inter = cross_stage_pairs(
        used_rows, key, stage, entity, ts, min_ht_gap, within_entity=False
    )
    if inter_cap is not None:
        inter = _hash_rank_cap(
            inter, ["on_stage", "off_stage"], ["on_key", "off_key"], inter_cap
        )
    inter = inter.select("on_key", "off_key", "on_stage", "off_stage")

    both = intra.withColumn("__prio", F.lit(0)).unionByName(
        inter.withColumn("__prio", F.lit(1))
    )
    return (
        both.groupBy("on_key", "off_key")
        .agg(
            F.min("on_stage").alias("on_stage"),
            F.min("off_stage").alias("off_stage"),
            F.min("__prio").alias("__prio"),
        )
        .withColumn(
            "pair_type",
            F.when(F.col("__prio") == 0, F.lit("intra")).otherwise(F.lit("inter")),
        )
        .drop("__prio")
    )


def suffix_prefix_overlap(
    df: DataFrame,
    tokens: str = "tokens",
    part: str = "source",
    order_cols: list[str] | None = None,
    max_k: int = 8,
) -> DataFrame:
    """For consecutive documents in a per-`part` deterministic stream
    order, the largest k <= max_k with suffix_k(doc_i) == prefix_k(doc_i+1)
    — the packing-boundary overlap a sequence packer wants before
    concatenation (duplicated joins across a bin boundary inflate loss;
    reference analogue: consecutive-row smoothness pairs,
    dssFunctionLibrary.R:887-893, lifted to token arrays).

    Scale shape: one per-`part` window (no global single-partition sort);
    the suffix/prefix compare is a JVM higher-order aggregate over
    k=1..max_k — zero Python, token arrays never shuffled beyond the one
    lead() exchange.
    """
    order_cols = order_cols or ["ord"]
    w = Window.partitionBy(part).orderBy(*order_cols)
    nxt = F.lead(tokens).over(w)
    out = df.withColumn("__next_tokens", nxt).filter(
        F.col("__next_tokens").isNotNull()
    )
    t1, t2 = F.col(tokens), F.col("__next_tokens")
    n1, n2 = F.size(t1), F.size(t2)
    overlap = F.aggregate(
        F.sequence(F.lit(1), F.lit(int(max_k))),
        F.lit(0),
        lambda acc, k: F.when(
            (n1 >= k)
            & (n2 >= k)
            & (F.slice(t1, -k, k) == F.slice(t2, F.lit(1), k)),
            k,
        ).otherwise(acc),
    )
    return out.withColumn("overlap", overlap).withColumn(
        "n_tok_next", n2
    )


def cooccurrence_lift(
    df: DataFrame,
    basket: str = "basket_id",
    item: str = "item_id",
    min_support: int = 3,
    k: int = 20,
    lift_round: int = 6,
) -> DataFrame:
    """Market-basket association mining (Agrawal et al. 1993): the top-k
    item pairs by lift among pairs co-occurring in >= min_support
    baskets,

        lift(a, b) = N * supp(a, b) / (c(a) * c(b))

    with N = basket count, c(x) = baskets containing x. The co-occurrence
    feature family behind related-item features and token-collocation
    scoring — the same shape mines word collocations when basket=doc.

    Cross-engine determinism: supp/c/N are exact LONG counts; lift is
    exact-integer numerator and denominator with ONE double division;
    ranking uses the ROUNDED lift (duck_round convention) with full
    (supp desc, a, b) tie-breaks.

    Shape at scale: one basket-keyed collect_set aggregation (never a
    basket self-join — the pair explosion is a JVM flatten over each
    basket's sorted distinct-item array, quadratic only in per-basket
    cardinality, which is bounded in real baskets), one pair-keyed
    count, one item-keyed marginal count folded from the same basket
    frame, a BROADCAST join of the (vocabulary-sized) marginals onto the
    pair counts, and a global top-k via orderBy+limit
    (TakeOrderedAndProject — the pair universe is never globally
    sorted). The basket frame is persisted once and reused for pairs +
    marginals + N.
    """
    from mpds_spark.functions.timeutil import duck_round

    baskets = (
        df.select(F.col(basket).alias("__b"), F.col(item).alias("__i"))
        .groupBy("__b")
        .agg(F.array_sort(F.collect_set("__i")).alias("__items"))
        .persist()
    )
    n_baskets = baskets.count()
    pairs = (
        baskets.select(
            F.explode(
                F.flatten(
                    F.transform(
                        "__items",
                        lambda x, i: F.transform(
                            F.slice(
                                "__items",
                                i + F.lit(2),
                                F.size("__items"),
                            ),
                            lambda y: F.struct(
                                x.alias("a"), y.alias("b")
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("supp"))
        .filter(F.col("supp") >= int(min_support))
    )
    # vocabulary-sized; persisted so the two key-aliased broadcast builds
    # share ONE aggregation over the cached basket frame
    marginals = (
        baskets.select(F.explode("__items").alias("__i"))
        .groupBy("__i")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .persist()
    )
    ca = F.broadcast(
        marginals.select(F.col("__i").alias("a"), F.col("c").alias("ca"))
    )
    cb = F.broadcast(
        marginals.select(F.col("__i").alias("b"), F.col("c").alias("cb"))
    )
    lift = (F.col("supp") * F.lit(int(n_baskets))).cast("double") / (
        F.col("ca") * F.col("cb")
    ).cast("double")
    scored = (
        pairs.join(ca, "a").join(cb, "b").withColumn("lift", lift)
    )
    return (
        scored.select("a", "b", "supp", "ca", "cb", "lift")
        .orderBy(
            duck_round(F.col("lift"), int(lift_round)).desc(),
            F.desc("supp"),
            F.asc("a"),
            F.asc("b"),
        )
        .limit(int(k))
    )


def blocked_fuzzy_pairs(
    df: DataFrame,
    key: str = "id",
    name: str = "name",
    block_exprs=None,
    max_dist: int = 3,
    k: int = 50,
    distinct_values: bool = True,
) -> DataFrame:
    """Blocked fuzzy-match candidate pairs: Levenshtein distance
    <= max_dist between names sharing a blocking key — the standard
    entity-resolution shape (Christen 2012): NEVER an all-pairs
    distance matrix; the quadratic term is confined to each block, and
    the edit distance runs JVM-side (both engines ship native
    levenshtein, so the oracle is exact).

    With distinct_values=True (the textbook flow: dedupe -> block ->
    pair) rows collapse to DISTINCT name values first — min(key) as the
    representative, row count carried — so the block quadratic is in
    distinct values, not rows: 20k rows over 64 names cost 64-choose-2
    comparisons, not 3.1M (measured 9.4 s -> sub-second on the sf0.1
    catalog). distinct_values=False keeps raw row pairing.

    `block_exprs`: list of Columns forming the blocking key (default:
    last whitespace token + first character — catches same-noun typo'd
    modifiers). Top-k pairs by (dist asc, key_a, key_b) via
    TakeOrderedAndProject; pairs are canonical key_a < key_b.

    Shape at scale: one name-keyed distinct agg, one block-keyed
    self-equi-join (sort-merge/hash on the block key, never a
    cartesian), distance as a post-filter, heap top-k. Skewed blocks
    remain the declared risk knob — pick block_exprs so block sizes
    stay bounded, exactly like LSH band width in dedup.

    Returns (key_a, key_b, name_a, name_b, dist, n_a, n_b) where n_*
    count the rows carrying each name (1 when distinct_values=False).
    """
    if block_exprs is None:
        block_exprs = [
            F.element_at(F.split(F.col(name), " "), -1),
            F.substring(F.col(name), 1, 1),
        ]
    base = df.select(
        F.col(key).alias("__k"),
        F.col(name).alias("__n"),
        F.concat_ws("\x1f", *block_exprs).alias("__blk"),
    )
    if distinct_values:
        base = base.groupBy("__n", "__blk").agg(
            F.min("__k").alias("__k"),
            F.count(F.lit(1)).cast("long").alias("__cnt"),
        )
    else:
        base = base.withColumn("__cnt", F.lit(1).cast("long"))
    a = base.select(
        F.col("__k").alias("key_a"),
        F.col("__n").alias("name_a"),
        F.col("__cnt").alias("n_a"),
        F.col("__blk").alias("__blk"),
    )
    b = base.select(
        F.col("__k").alias("key_b"),
        F.col("__n").alias("name_b"),
        F.col("__cnt").alias("n_b"),
        F.col("__blk").alias("__blk"),
    )
    pairs = (
        a.join(b, "__blk")
        .filter(F.col("key_a") < F.col("key_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= int(max_dist))
    )
    return (
        pairs.select(
            "key_a", "key_b", "name_a", "name_b", "dist", "n_a", "n_b"
        )
        .orderBy("dist", "key_a", "key_b")
        .limit(int(k))
    )


def pareto_frontier(
    df: DataFrame,
    key: str = "id",
    minimize: str = "cost",
    maximize: str = "benefit",
    decimals: int = 2,
) -> DataFrame:
    """2-D Pareto frontier (skyline): rows not dominated on
    (minimize asc, maximize desc) — the price/performance shortlist
    query (Börzsönyi et al. 2001). A row survives iff no other row is
    <= on cost AND >= on benefit with at least one strict; duplicate
    (cost, benefit) points all survive (no strict edge).

    Implemented with the one-sort 2-D skyline: over the cost order,
    a row is dominated exactly when a strictly cheaper row reaches its
    benefit (RANGE frame ending at -1 on exact integer cost cents) or a
    same-cost row strictly exceeds it (RANGE frame 0..0). Both frames
    share ONE ordering. All comparisons exact integer cents.

    Shape at scale: the window is global (skylines are global
    statements) — at 10^12 rows this becomes range-partition by cost +
    per-partition skyline + boundary-max carry, the salted-LOCF
    two-pass; at catalog scale the single-partition pass over the
    pre-aggregated frame is the honest plan and is budget-pinned.

    Returns the surviving rows (key, minimize, maximize).
    """
    scale = int(10**decimals)
    cents = (
        F.signum(F.col(minimize))
        * F.floor(F.abs(F.col(minimize)) * scale + F.lit(0.5))
    ).cast("long")
    d = df.select(
        F.col(key), cents.alias("__c"), F.col(maximize).alias("__b"),
        F.col(minimize),
    )
    w = Window.orderBy("__c")
    cheaper = w.rangeBetween(Window.unboundedPreceding, -1)
    same = w.rangeBetween(0, 0)
    d = d.withColumn(
        "__mcheap", F.max("__b").over(cheaper)
    ).withColumn("__msame", F.max("__b").over(same))
    keep = (
        F.coalesce(F.col("__mcheap") < F.col("__b"), F.lit(True))
        & (F.col("__b") == F.col("__msame"))
    )
    return d.filter(keep).select(key, minimize, F.col("__b").alias(maximize))


def snm_pairs(
    df: DataFrame,
    key: str = "id",
    name: str = "name",
    window: int = 5,
    max_dist: int = 3,
    k: int = 50,
) -> DataFrame:
    """Sorted-neighborhood method candidate pairs (Hernández & Stolfo
    1995) — the OTHER classic entity-resolution candidate generator
    beside blocking (blocked_fuzzy_pairs): sort distinct name values
    once, pair each with its next window-1 neighbors in sort order,
    verify with Levenshtein. Catches cross-block typos a blocking key
    splits (blocking misses 'cold X'/'old X' under a first-char block;
    SNM pairs them when they sort adjacently... and vice versa — real
    pipelines run both and union).

    Rows collapse to DISTINCT names first (min-key representative, row
    counts carried). The neighbor expansion is window-1 lead() columns
    exploded — never a self-join.

    Shape at scale: ONE global sort of the distinct-name frame (a
    range exchange; at 10^12 rows this becomes sortWithinPartitions
    with a (window-1)-row boundary overlap carry — the salted-LOCF
    two-pass, documented). Heap top-k by (dist, key_a, key_b).

    Returns (key_a, key_b, name_a, name_b, dist, n_a, n_b); pairs are
    canonical by sort position, keys ordered key_a < key_b for the
    deterministic tie-break.
    """
    base = df.select(
        F.col(key).alias("__k"), F.col(name).alias("__n")
    ).groupBy("__n").agg(
        F.min("__k").alias("__k"),
        F.count(F.lit(1)).cast("long").alias("__cnt"),
    )
    w = Window.orderBy("__n")
    led = base
    for i in range(1, int(window)):
        led = led.withColumn(
            f"__p{i}",
            F.struct(
                F.lead("__n", i).over(w).alias("n2"),
                F.lead("__k", i).over(w).alias("k2"),
                F.lead("__cnt", i).over(w).alias("c2"),
            ),
        )
    nbrs = led.select(
        "__n",
        "__k",
        "__cnt",
        F.explode(
            F.array(*[F.col(f"__p{i}") for i in range(1, int(window))])
        ).alias("p"),
    ).filter(F.col("p.n2").isNotNull())
    pairs = nbrs.withColumn(
        "dist", F.levenshtein(F.col("__n"), F.col("p.n2"))
    ).filter(F.col("dist") <= int(max_dist))
    key_a = F.least(F.col("__k"), F.col("p.k2"))
    key_b = F.greatest(F.col("__k"), F.col("p.k2"))
    name_a = F.when(F.col("__k") < F.col("p.k2"), F.col("__n")).otherwise(
        F.col("p.n2")
    )
    name_b = F.when(F.col("__k") < F.col("p.k2"), F.col("p.n2")).otherwise(
        F.col("__n")
    )
    n_a = F.when(F.col("__k") < F.col("p.k2"), F.col("__cnt")).otherwise(
        F.col("p.c2")
    )
    n_b = F.when(F.col("__k") < F.col("p.k2"), F.col("p.c2")).otherwise(
        F.col("__cnt")
    )
    return (
        pairs.select(
            key_a.alias("key_a"),
            key_b.alias("key_b"),
            name_a.alias("name_a"),
            name_b.alias("name_b"),
            "dist",
            n_a.alias("n_a"),
            n_b.alias("n_b"),
        )
        .orderBy("dist", "key_a", "key_b")
        .limit(int(k))
    )
