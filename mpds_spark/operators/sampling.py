"""Deterministic corpus sampling operators for training-data pipelines.

`sample_token_budget` fills a per-group (per-source / per-language) token
budget with a deterministic, layout-independent document sample — the
"mix N billion tokens of web + M of code" step of assembling a training
mixture. Documents are consumed in content-hash order (md5 of
group|doc_id), so the selected set is a pure function of row content:
identical under any partitioning, any engine, any run.

Two bit-identical strategies:
- "window": one running-sum window per group — the direct expression.
  A single group is one window partition, so per-group parallelism is 1;
  right up to ~memory-sized groups.
- "bucketed": the few-huge-groups shape. The hash order is split into
  16^nibbles ordered buckets by md5 prefix; pass 1 aggregates
  per-(group, bucket) token totals (|groups| * 16^nibbles rows, collected
  and turned into exclusive prefix carries on the driver — the same
  fit->broadcast idiom as scale.py), pass 2 runs the running sum WITHIN
  each (group, bucket) partition and adds the broadcast carry. Per-group
  parallelism becomes 16^nibbles and no window partition exceeds
  ~group_size/16^nibbles rows. Because md5 is lowercase hex, bucket-id
  order == hash-prefix lexical order, so carry + intra-bucket cumsum
  equals the global cumsum bit-for-bit (pytest-pinned vs "window").

Strategy choice at scale: "bucketed" exists for FEW, HUGE groups (a
handful of sources each holding 10^11 tokens — the single-group window
partition is the bottleneck it removes; its driver carry table is
|groups| * 16^nibbles rows, so keep |groups| <= ~10^5). With MANY small
groups the plain "window" strategy is already maximally parallel — one
modest partition per group and no driver state at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mpds_spark.operators.dedup import words_col


def sample_token_budget(
    df: DataFrame,
    budget,
    group: str = "source",
    key: str = "doc_id",
    text: str = "text",
    strategy: str = "window",
    nibbles: int = 1,
) -> DataFrame:
    """Keep documents per `group`, in md5(group|key) order, while the
    running token total (whitespace word count, matching token_count's
    n_words) stays <= budget. Returns (key, group, n_tok, cum_tok).

    A doc is kept iff the budget is not yet exhausted INCLUDING itself
    (cum_tok <= budget): the greedy prefix of the hash-shuffled stream.

    strategy: "window" | "bucketed" | "auto" (one metadata aggregation
    routes few-huge-group inputs to "bucketed", everything else to
    "window"; both produce bit-identical selections).

    budget: one int for every group, or a {group_value: budget} dict for
    a mixture spec ("web 6e10 tokens, code 3e10, books 1e10") — groups
    absent from the dict get budget 0 (excluded), making the dict a
    whitelist+quota in one object (broadcast join, tiny).
    """
    h = F.md5(F.concat_ws("|", F.col(group), F.col(key).cast("string")))
    t = df.select(
        F.col(key),
        F.col(group),
        F.size(words_col(text)).cast("long").alias("n_tok"),
        h.alias("__h"),
    )
    if strategy == "auto":
        # one tiny metadata agg decides: bucketed exists for FEW, HUGE
        # groups (it splits the per-group window partition 16^nibbles
        # ways at the cost of a |groups|*16^nibbles driver carry table);
        # with many groups the plain per-group window is already the
        # maximally parallel plan.
        meta = t.groupBy(group).agg(F.count(F.lit(1)).alias("__c")).agg(
            F.count(F.lit(1)).alias("__g"), F.max("__c").alias("__mx")
        ).collect()[0]
        strategy = (
            "bucketed"
            if meta["__g"] <= 10_000 and meta["__mx"] >= 1_000_000
            else "window"
        )
    if strategy == "window":
        w = (
            Window.partitionBy(group)
            .orderBy("__h", key)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        c = t.withColumn("cum_tok", F.sum("n_tok").over(w))
    elif strategy == "bucketed":
        n_buckets = 16**nibbles
        b = t.withColumn(
            "__b", F.conv(F.substring("__h", 1, nibbles), 16, 10).cast("int")
        )
        totals = (
            b.groupBy(group, "__b")
            .agg(F.sum("n_tok").alias("__tot"))
            .collect()
        )
        per_group: dict = {}
        for row in totals:
            per_group.setdefault(row[group], {})[row["__b"]] = row["__tot"]
        carries = []
        for g, buckets in per_group.items():
            run = 0
            for bi in range(n_buckets):
                if bi in buckets:
                    carries.append((g, bi, run))
                    run += buckets[bi]
        # carry schema mirrors the SOURCE group column's type (ADVICE r3:
        # a hardcoded string type broke / mis-joined int group keys in the
        # bucketed path while "window" worked — the strategies are
        # documented bit-identical)
        gtype = t.schema[group].dataType.simpleString()
        carry_df = b.sparkSession.createDataFrame(
            carries, schema=f"{group} {gtype}, __b int, __carry long"
        )
        w = (
            Window.partitionBy(group, "__b")
            .orderBy("__h", key)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        c = (
            b.join(F.broadcast(carry_df), [group, "__b"])
            .withColumn(
                "cum_tok", F.sum("n_tok").over(w) + F.col("__carry")
            )
            .drop("__b", "__carry")
        )
    else:
        raise ValueError(f"unknown strategy {strategy!r}")
    if isinstance(budget, dict):
        bdf = df.sparkSession.createDataFrame(
            [(g, int(b)) for g, b in budget.items()],
            schema=(
                f"{group} {t.schema[group].dataType.simpleString()}, "
                "__budget long"
            ),
        )
        c = c.join(F.broadcast(bdf), group)
        cap = F.col("__budget")
    else:
        cap = F.lit(int(budget))
    return (
        c.filter(F.col("cum_tok") <= cap)
        .select(key, group, "n_tok", "cum_tok")
    )


def pack_sequences(
    df: DataFrame,
    length: int,
    tokens_col: str = "tokens",
    key: str = "doc_id",
    strategy: str = "window",
    nibbles: int = 1,
) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing: concatenate every
    doc's tokens in deterministic md5(key) content-hash order and cut the
    stream every `length` tokens — fixed-length training rows with docs
    crossing boundaries, plus the per-row segment map a loss mask needs.

    Returns (bin_id, tokens_col, n_tok_packed, n_segments, segments) where
    segments is array<struct<doc id, off, len>> (off 0-based within the
    packed row, in stream order). Every bin is exactly `length` tokens
    except the last. The packed stream is a pure function of row content:
    identical under any partition layout (pytest-pinned).

    strategy="window" computes the global running offset with ONE global
    window (fine to ~memory scale); "bucketed" is the 100-TB path — the
    same md5-prefix two-pass as sample_token_budget but with a single
    global group: per-bucket token totals -> driver prefix carries (16^
    nibbles tiny rows) -> intra-bucket window + carry, bit-equal to the
    global window. Token movement is one shuffle keyed by bin_id — the
    minimum any packer pays, since tokens must colocate with their output
    row; slices stay JVM-side throughout.
    """
    if length <= 0:
        raise ValueError("length must be positive")
    h = F.md5(F.col(key).cast("string"))
    t = df.select(
        F.col(key),
        F.col(tokens_col).alias("__t"),
        F.size(tokens_col).cast("long").alias("__n"),
        h.alias("__h"),
    ).filter(F.col("__n") > 0)
    if strategy == "window":
        w = (
            Window.orderBy("__h", key)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        c = t.withColumn("__cum", F.sum("__n").over(w))
    elif strategy == "bucketed":
        n_buckets = 16**nibbles
        b = t.withColumn(
            "__b", F.conv(F.substring("__h", 1, nibbles), 16, 10).cast("int")
        )
        totals = {
            r["__b"]: r["__tot"]
            for r in b.groupBy("__b").agg(F.sum("__n").alias("__tot")).collect()
        }
        run, carries = 0, []
        for bi in range(n_buckets):
            if bi in totals:
                carries.append((bi, run))
                run += totals[bi]
        carry_df = b.sparkSession.createDataFrame(
            carries, schema="__b int, __carry long"
        )
        w = (
            Window.partitionBy("__b")
            .orderBy("__h", key)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        c = (
            b.join(F.broadcast(carry_df), "__b")
            .withColumn("__cum", F.sum("__n").over(w) + F.col("__carry"))
            .drop("__b", "__carry")
        )
    else:
        raise ValueError(f"unknown strategy {strategy!r}")
    c = c.withColumn("__start", F.col("__cum") - F.col("__n"))
    # every bin this doc's tokens touch, with the in-doc slice for each
    pieces = c.select(
        F.col(key),
        "__t",
        "__n",
        "__start",
        F.explode(
            F.expr(
                f"sequence(cast(floor(__start / {length}) as long), "
                f"cast(floor((__start + __n - 1) / {length}) as long))"
            )
        ).alias("bin_id"),
    ).select(
        F.col(key),
        "bin_id",
        "__start",
        F.expr(
            f"slice(__t, cast(greatest(bin_id * {length} - __start, 0) as int) + 1, "
            f"cast(least(__n, (bin_id + 1) * {length} - __start) "
            f"- greatest(bin_id * {length} - __start, 0) as int))"
        ).alias("__piece"),
    )
    packed = pieces.groupBy("bin_id").agg(
        F.sort_array(
            F.collect_list(F.struct("__start", F.col(key).alias("k"), "__piece"))
        ).alias("__pl")
    )
    seg_off = (
        f"greatest(x.__start - bin_id * {length}, 0)"
    )
    return packed.select(
        "bin_id",
        F.expr("flatten(transform(__pl, x -> x.__piece))").alias(tokens_col),
        F.expr("cast(aggregate(__pl, 0L, (a, x) -> a + size(x.__piece)) as long)").alias(
            "n_tok_packed"
        ),
        F.size("__pl").alias("n_segments"),
        F.expr(
            f"transform(__pl, x -> struct(x.k as {key}, "
            f"cast({seg_off} as long) as off, size(x.__piece) as len))"
        ).alias("segments"),
    )


def sample_tokens_temperature(
    df: DataFrame,
    total_budget: int,
    group: str = "source",
    key: str = "doc_id",
    text: str = "text",
    alpha: float = 0.5,
    strategy: str = "window",
    nibbles: int = 1,
) -> DataFrame:
    """Temperature-rebalanced mixture sampling (the multilingual
    rebalancing rule of Conneau & Lample 2019 / Xue et al. 2021 mT5):
    group g receives budget_g = floor(total_budget * t_g^alpha / sum_h
    t_h^alpha) where t_g is the group's token total — alpha=1 keeps
    natural proportions, alpha->0 equalizes, 0.5 is the usual compromise
    — then fills each quota with the deterministic hash-order prefix of
    sample_token_budget.

    Budgets are computed IN-ENGINE (per-group totals agg -> powered
    weights -> one scalar sum cross-joined back; all tiny frames), so the
    whole mixture is one job chain with no driver round-trip. Returns
    (key, group, n_tok, cum_tok, budget).
    """
    # the full hash-order cumsum (budget high enough to keep every row),
    # from whichever strategy the caller picked — the quota filter is the
    # only thing this operator adds on top of sample_token_budget
    c = sample_token_budget(
        df,
        budget=2**62,
        group=group,
        key=key,
        text=text,
        strategy=strategy,
        nibbles=nibbles,
    )
    wcol = (
        F.sqrt(F.col("__tg").cast("double"))
        if alpha == 0.5
        else F.pow(F.col("__tg").cast("double"), F.lit(float(alpha)))
    )
    weights = (
        c.groupBy(group)
        .agg(F.sum("n_tok").alias("__tg"))
        .withColumn("__w", wcol)
    )
    sw = weights.agg(F.sum("__w").alias("__sw"))
    budgets = weights.crossJoin(F.broadcast(sw)).select(
        F.col(group),
        F.floor(
            F.lit(float(total_budget)) * F.col("__w") / F.col("__sw")
        ).cast("long").alias("budget"),
    )
    return (
        c.join(F.broadcast(budgets), group)
        .filter(F.col("cum_tok") <= F.col("budget"))
        .select(key, group, "n_tok", "cum_tok", "budget")
    )


def hash_split(
    df: DataFrame,
    fractions: dict,
    key: str = "doc_id",
    seed: str = "split",
) -> DataFrame:
    """Deterministic dataset split assignment: each row lands in a named
    split ("train"/"val"/"test"...) according to its md5(seed|key) hash
    position against the cumulative fraction boundaries — a pure function
    of row content (layout/engine/run independent; changing `seed` draws
    an independent split). Fractions must sum to ~1; rows map via the
    first 8 hex digits scaled to [0, 1). A per-row map — no shuffle.
    """
    tot = sum(fractions.values())
    if not 0.999 <= tot <= 1.001:
        raise ValueError(f"fractions must sum to 1 (got {tot})")
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("|", F.lit(seed), F.col(key).cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(1 << 32))
    )
    expr = None
    acc = 0.0
    names = list(fractions)
    for name in names[:-1]:
        acc += fractions[name]
        cond = u < F.lit(acc)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = (
        F.lit(names[-1]) if expr is None else expr.otherwise(F.lit(names[-1]))
    )
    return df.withColumn("split", expr)


def stratified_sample(
    df: DataFrame,
    fractions,
    group: str = "source",
    key: str = "doc_id",
    seed: str = "strat",
) -> DataFrame:
    """Deterministic per-group Bernoulli sample: keep a row iff
    u = md5(seed|group|key)[:8] / 2^32 < fraction(group). A pure function
    of row content — identical under any partition layout, engine, or run
    (DataFrame.sample is NOT: its per-partition seeded sampler selects
    different rows when the layout changes; same rationale as
    random_ordered_pairs). fractions: one float for every group, or a
    {group_value: fraction} dict — groups absent from the dict get 0
    (whitelist+rate in one object, broadcast join). Shuffle-free with a
    scalar fraction; one tiny broadcast join with a dict."""
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.lit(seed),
                        F.col(group).cast("string"),
                        F.col(key).cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(1 << 32))
    )
    if isinstance(fractions, dict):
        fdf = df.sparkSession.createDataFrame(
            [(g, float(x)) for g, x in fractions.items()],
            schema=(
                f"{group} {df.schema[group].dataType.simpleString()}, "
                "__frac double"
            ),
        )
        return (
            df.join(F.broadcast(fdf), group)
            .filter(u < F.col("__frac"))
            .drop("__frac")
        )
    return df.filter(u < F.lit(float(fractions)))


def importance_resample(
    df: DataFrame,
    logweight: str,
    n: int,
    key: str = "doc_id",
    seed: str = "resample",
) -> DataFrame:
    """Gumbel top-k importance resampling — the selection step of DSIR
    (Xie et al. 2023): sampling n items WITHOUT replacement with
    probability proportional to exp(logweight) is exactly taking the top
    n by perturbed key

        score = logweight + Gumbel(0,1),  Gumbel = -ln(-ln(u))

    (Efraimidis & Spirakis 2006 / the Gumbel-top-k trick). The uniform u
    comes from the content hash md5(seed|key) mapped to (0,1) — never
    exactly 0 or 1 — so the draw is a pure function of row content and
    seed: layout/engine/run-independent, re-drawable by changing seed.
    Returns the selected rows with (key, logweight, gumbel_score).

    Scale: one global top-n — Catalyst plans order-by-limit as per-
    partition TopK + a single n-row merge (no global sort); n is the
    selection size, driver-safe by definition of the operator."""
    u = (
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "|", F.lit(seed), F.col(key).cast("string")
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("double")
            + F.lit(0.5)
        )
        / F.lit(float(1 << 32))
    )
    score = F.col(logweight) + (-F.log(-F.log(u)))
    return (
        df.select(F.col(key), F.col(logweight), score.alias("gumbel_score"))
        .orderBy(F.col("gumbel_score").desc(), F.col(key))
        .limit(int(n))
    )


def cap_per_group(
    df: DataFrame,
    group: str = "source",
    key: str = "doc_id",
    n: int = 100,
    seed: str = "cap",
    guard: float = 4.0,
) -> DataFrame:
    """Deterministic per-group frequency cap (the C4/RefinedWeb-style
    per-domain cap): keep, for every group, the `n` rows with the
    smallest u = md5(seed|group|key) — a uniform deterministic priority,
    so the kept set is a pure function of row content, identical under
    any partition layout or engine.

    Exact AND skew-safe. A naive row_number() over (partition by group
    order by u) sorts every row of the hottest domain in one task — at
    100 TB one domain can be 30% of the corpus. Instead:

      1. one count per group (map-side combine);
      2. PREFILTER to u < guard*n/count_g — a hash threshold that passes
         ~guard*n rows per group, shuffle-free after the tiny broadcast
         of per-group counts;
      3. detect groups the prefilter UNDERSELECTED (< min(n, count_g)
         survivors — binomially improbable at guard>=4, but possible,
         including a huge group emptied entirely when n is tiny) from the
         count table, and widen the filter to ALL their rows;
      4. ONE exact row_number over the widened survivor set — per-group
         partitions are ~guard*n rows (or the whole group only for the
         improbable short ones), bounded regardless of corpus size.

    A single window over one frame (no good/bad union): the rank input
    per group is either the survivors (whose top-n equal the group's true
    top-n — every excluded row hashes above every included one) or, for
    short groups, the full group. Tie-break on (u, key) so equal hashes
    (never, for md5 over distinct keys) cannot make the kept set
    ambiguous."""
    from pyspark.sql import Window

    u = F.md5(
        F.concat_ws(
            "|",
            F.lit(seed),
            F.col(group).cast("string"),
            F.col(key).cast("string"),
        )
    )
    frac = (
        F.conv(F.substring(F.col("__u"), 1, 8), 16, 10).cast("double")
        / F.lit(float(1 << 32))
    )
    d = df.withColumn("__u", u).withColumn("__frac", frac)
    counts = d.groupBy(group).agg(F.count(F.lit(1)).alias("__cnt"))
    cutoff = F.least(
        F.lit(1.0), F.lit(float(guard) * float(n)) / F.col("__cnt")
    )
    nsurv = (
        d.join(F.broadcast(counts), group)
        .filter(F.col("__frac") < cutoff)
        .groupBy(group)
        .agg(F.count(F.lit(1)).alias("__nsurv"))
    )
    # per-group rank-input policy, broadcast back to the row stream:
    # __full=true -> rank the whole group (prefilter underselected);
    # otherwise rank only rows with __frac < __cutoff
    policy = counts.join(nsurv, group, "left").select(
        group,
        F.least(F.lit(1.0), F.lit(float(guard) * float(n)) / F.col("__cnt"))
        .alias("__cutoff"),
        (
            F.coalesce("__nsurv", F.lit(0))
            < F.least(F.lit(int(n)), F.col("__cnt"))
        ).alias("__full"),
    )
    rank_input = d.join(F.broadcast(policy), group).filter(
        F.col("__full") | (F.col("__frac") < F.col("__cutoff"))
    )
    w = Window.partitionBy(group).orderBy(
        F.col("__u").asc(), F.col(key).asc()
    )
    kept = (
        rank_input.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= int(n))
    )
    return kept.drop("__u", "__frac", "__cutoff", "__full", "__rk")


def temporal_split(
    df: DataFrame,
    ts: str = "ts",
    entity: str = "entity_id",
    train_frac_pct: int = 80,
    tiebreak: str | None = None,
) -> DataFrame:
    """Leakage-correct per-entity TEMPORAL train/test split: each
    entity's time-ordered history is cut at train_frac_pct — every
    training row strictly precedes every test row of the same entity.
    This is the split a temporal feature model must use; hash_split
    (above) is the right tool only for exchangeable rows, and using it
    on event history leaks future rows into training.

    Integer-exact cut: row i (1-based, (ts, tiebreak) order) is train
    iff i * 100 <= train_frac_pct * n — no float ratio, identical in
    any engine; entities with one row are test-free (1*100 <= 80*1 is
    false => single rows land in test; document accordingly) — i.e.
    train gets floor(pct*n/100) rows.

    One entity-keyed exchange: the row_number and the count windows
    share the sort. Returns df columns + (split_rank, split_n, split)."""
    order = [F.col(ts)] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(entity).orderBy(*order)
    wall = Window.partitionBy(entity)
    d = (
        df.withColumn("split_rank", F.row_number().over(w).cast("long"))
        .withColumn("split_n", F.count(F.lit(1)).over(wall).cast("long"))
    )
    return d.withColumn(
        "split",
        F.when(
            F.col("split_rank") * 100
            <= F.lit(int(train_frac_pct)) * F.col("split_n"),
            F.lit("train"),
        ).otherwise(F.lit("test")),
    )
