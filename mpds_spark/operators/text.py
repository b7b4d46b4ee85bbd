"""Text-analysis operators for training-data pipelines: language-ID,
quality scoring, token counting, document fingerprinting. All JVM-side
column expressions (no Python), each with a DuckDB oracle twin in
mpds_spark/queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mpds_spark.operators.dedup import shingles, words_col

# tiny deterministic marker lists (function-word heuristic). The synthetic
# corpus is English-ish for every lang label, so this measures the OPERATOR
# (deterministic scoring + argmax), not linguistic accuracy.
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "ist", "das"],
    "fr": ["le", "la", "et", "est", "les"],
    "es": ["el", "la", "los", "es", "una"],
}


def lang_id(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    keep: tuple = (),
) -> DataFrame:
    """Stopword-hit language heuristic: argmax of per-lang marker counts,
    ties and zero-hits -> 'und' (undetermined). `keep` carries extra
    columns through (e.g. a ground-truth label for downstream eval) so
    callers do not need a self-join to re-attach them."""
    w = words_col(text)
    scores = []
    for lang, markers in LANG_MARKERS.items():
        lst = ", ".join(f"'{m}'" for m in markers)
        scores.append(
            F.size(
                F.expr(f"filter(split(trim(text), '\\\\s+'), x -> x in ({lst}))")
            ).alias(f"n_{lang}")
        )
    d = df.select(
        F.col(key), *[F.col(c) for c in keep],
        F.size(w).alias("n_words"), *scores,
    )
    langs = list(LANG_MARKERS)
    best = F.greatest(*[F.col(f"n_{lg}") for lg in langs])
    pred = F.lit("und")
    # reverse order => earlier langs win ties (deterministic argmax)
    for lg in reversed(langs):
        pred = F.when((F.col(f"n_{lg}") == best) & (best > 0), lg).otherwise(pred)
    return d.withColumn("lang_pred", pred)


def quality_score(df: DataFrame, text: str = "text", key: str = "doc_id") -> DataFrame:
    """Length / punctuation / stopword / repetition heuristics."""
    w = words_col(text)
    n_words = F.size(w)
    n_chars = F.length(text)
    n_distinct = F.size(F.array_distinct(w))
    stop = F.size(
        F.expr(
            r"filter(split(trim(text), '\\s+'), "
            "x -> x in ('the','a','of','and','to','in','is','for'))"
        )
    )
    return df.select(
        F.col(key),
        n_words.alias("n_words"),
        (n_chars / n_words).alias("avg_word_len"),
        (stop / n_words).alias("stopword_ratio"),
        (n_distinct / n_words).alias("distinct_ratio"),
    )


def token_count(df: DataFrame, text: str = "text", key: str = "doc_id") -> DataFrame:
    """Whitespace word count + a BPE-ish subword estimate (ceil(chars/4) —
    the usual ~4-chars-per-token rule of thumb, deterministic)."""
    return df.select(
        F.col(key),
        F.size(words_col(text)).alias("n_words"),
        F.ceil(F.length(text) / 4.0).cast("long").alias("n_tokens_est"),
    )


def doc_fingerprint(
    df: DataFrame, text: str = "text", key: str = "doc_id", n: int = 5
) -> DataFrame:
    """Winnowing-style fingerprint: min/max md5 over word n-gram shingles +
    shingle count. Two docs sharing fp_min very likely share a passage."""
    sh = shingles(df, text, n)
    return sh.groupBy(key).agg(
        F.min(F.md5("shingle")).alias("fp_min"),
        F.max(F.md5("shingle")).alias("fp_max"),
        F.count(F.lit(1)).alias("n_shingles"),
    )


def gopher_quality_filter(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_alpha_word_ratio: float = 0.8,
    min_distinct_stopwords: int = 2,
    max_symbol_word_ratio: float = 0.1,
) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, §A1.1), each
    emitted as an auditable signal column plus the final `passes` flag:

    - word count in [min_words, max_words];
    - mean word length in [min, max];
    - >= min_alpha_word_ratio of words contain an alphabetic character;
    - >= min_distinct_stopwords distinct function words present;
    - <= max_symbol_word_ratio of words are symbol artifacts ('#', '...').

    All JVM-side array expressions over ONE split of the text (no Python,
    no shuffle — a pure map stage that pipelines onto the scan at any
    corpus size). Emitting the per-rule booleans instead of only the
    verdict is deliberate: at 100 TB you audit WHICH rule fires by
    aggregating the signal columns before committing to a filter."""
    w = words_col(text)
    d = df.withColumn("__w", w)
    n_words = F.size("__w")
    mean_wl = (
        F.expr("aggregate(transform(__w, x -> length(x)), 0L, (a, x) -> a + x)")
        / n_words
    )
    alpha_ratio = (
        F.size(F.expr("filter(__w, x -> x rlike '[a-zA-Z]')")) / n_words
    )
    stop_list = "'the','a','of','and','to','in','is','for','that','with'"
    n_stop = F.size(
        F.expr(f"array_intersect(array_distinct(__w), array({stop_list}))")
    )
    symbol_ratio = (
        F.size(F.expr("filter(__w, x -> x in ('#', '...', '…'))")) / n_words
    )
    rules = {
        "ok_n_words": (n_words >= min_words) & (n_words <= max_words),
        "ok_mean_word_len": (mean_wl >= min_mean_word_len)
        & (mean_wl <= max_mean_word_len),
        "ok_alpha_ratio": alpha_ratio >= min_alpha_word_ratio,
        "ok_stopwords": n_stop >= min_distinct_stopwords,
        "ok_symbol_ratio": symbol_ratio <= max_symbol_word_ratio,
    }
    passes = None
    for expr in rules.values():
        passes = expr if passes is None else (passes & expr)
    return d.select(
        F.col(key),
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        alpha_ratio.alias("alpha_word_ratio"),
        n_stop.alias("n_distinct_stopwords"),
        symbol_ratio.alias("symbol_word_ratio"),
        *[expr.alias(name) for name, expr in rules.items()],
        passes.alias("passes"),
    )


def repetition_signals(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    max_top2_char_frac: float = 0.20,
    max_top3_char_frac: float = 0.18,
) -> DataFrame:
    """Gopher-style repetition rules (Rae et al. 2021 A1.1, 'repetition
    removal'): the fraction of characters contained in the most common
    word 2-gram / 3-gram, plus the duplicate-word fraction.

    Conventions (mirrored exactly by the DuckDB oracle twin):
    - grams are counted WITH multiplicity (no distinct — repetition is the
      signal here, unlike the dedup shingles);
    - char_frac(n) = count * length of the MOST FREQUENT gram / total word
      chars — rank by count as in the cited Gopher rule (NOT max over grams
      of the product, under which a rare long gram could outrank a frequent
      short one); count ties broken by longer gram, then lexicographically
      greater gram (deterministic);
    - total chars = sum of word lengths (whitespace-independent).

    Plan: one explode + one (doc, gram) count + one per-doc max per n —
    all shuffles keyed by doc (no self-join, linear in corpus size).
    """
    w = df.withColumn("__w", words_col(text))
    n_words = F.size("__w")
    tot_chars = F.expr(
        "aggregate(transform(__w, x -> length(x)), 0L, (a, x) -> a + x)"
    )
    base = w.select(
        F.col(key),
        n_words.alias("n_words"),
        tot_chars.alias("__chars"),
        (
            F.lit(1.0)
            - F.size(F.array_distinct("__w")) / n_words.cast("double")
        ).alias("dup_word_frac"),
        F.col("__w"),
    )

    def top_frac(n: int):
        grams = F.expr(
            f"CASE WHEN size(__w) >= {n} THEN transform("
            f"sequence(0, size(__w) - {n}), "
            f"i -> concat_ws(' ', slice(__w, i + 1, {n}))) "
            "ELSE array() END"
        )
        g = base.select(F.col(key), F.col("__chars"), grams.alias("__g"))
        counts = g.select(
            F.col(key), "__chars", F.explode("__g").alias("gram")
        ).groupBy(key, "__chars", "gram").agg(F.count(F.lit(1)).alias("c"))
        # arg-max by (count, length) PACKED into one BIGINT (count*2^20 +
        # length; gram lengths < 1M chars). Two measured pitfalls here:
        # - a max over a struct (or padded-string) buffer falls off the
        #   hash-aggregate path to SortAggregate, which sorts the whole
        #   exploded gram frame (12.8 s vs 0.5 s at sf0.1) — pack into a
        #   LONG so max stays in whole-stage-codegen HashAggregate;
        # - __chars must come through first(), NOT the grouping key: as a
        #   grouping expression the higher-order aggregate(transform(...))
        #   gets inlined and re-evaluated per exploded gram row — O(words²)
        #   per doc (9-12 s vs 0.5 s at sf0.1).
        # The gram itself is NOT needed: grams tied on (count, length) all
        # yield the same count * length product, so the packed max selects
        # exactly the value the (count, length, gram)-ranked arg-max would —
        # the gram tie-break exists only to make the ORACLE's row_number
        # pick deterministic.
        packed = F.col("c") * F.lit(1 << 20).cast("long") + F.length("gram")
        return (
            counts.groupBy(key)
            .agg(F.max(packed).alias("__b"), F.first("__chars").alias("__ch"))
            .select(
                F.col(key),
                (
                    F.shiftright("__b", 20)
                    * (F.col("__b").bitwiseAND((1 << 20) - 1))
                    / F.col("__ch").cast("double")
                ).alias(f"top{n}_char_frac"),
            )
        )

    out = (
        base.drop("__w")
        .join(top_frac(2), key, "left")
        .join(top_frac(3), key, "left")
        .na.fill({"top2_char_frac": 0.0, "top3_char_frac": 0.0})
    )
    return out.select(
        F.col(key),
        "n_words",
        "dup_word_frac",
        "top2_char_frac",
        "top3_char_frac",
        (F.col("top2_char_frac") <= max_top2_char_frac).alias("ok_top2"),
        (F.col("top3_char_frac") <= max_top3_char_frac).alias("ok_top3"),
    )

def decontaminate(
    df: DataFrame,
    eval_df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    n: int = 3,
    min_hits: int = 1,
    broadcast: bool = True,
) -> DataFrame:
    """Benchmark decontamination: flag training documents that share at
    least `min_hits` distinct word n-grams with a held-out evaluation /
    benchmark set (the overlap rule of Brown et al. 2020 Appendix C and
    Gao et al. 2020 §6; n=8..13 in production — parameterized here).

    Returns one row per corpus doc: `n_shingles` (distinct n-grams in the
    doc), `n_hits` (how many also occur anywhere in the eval set),
    `hit_frac` = n_hits/n_shingles, and the `contaminated` flag.

    Scale shape: the eval side is benchmarks (MBs) while the corpus is the
    100-TB side, so the eval set's DISTINCT shingle table is broadcast and
    the corpus shingle frame is consumed in ONE pass — a broadcast left
    join marking hits followed by a single doc-keyed aggregation (one
    shuffle, keyed by doc). No shingle-keyed self-join exists anywhere, so
    hot stopword shingles cannot skew a reducer; docs shorter than n words
    surface with n_shingles=0 rather than silently dropping.

    broadcast=False drops the broadcast hint for an eval set too large to
    ship to every executor (decontaminating against another full corpus
    split) — the join falls back to a shuffle join with AQE skew
    handling; the one-pass mark+aggregate shape is unchanged.
    """
    corpus = shingles(df, text, n=n).select(F.col(key), "shingle")
    ev = (
        shingles(eval_df, text, n=n)
        .select("shingle")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    ev_side = F.broadcast(ev) if broadcast else ev
    agg = (
        corpus.join(ev_side, "shingle", "left")
        .groupBy(key)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.coalesce(F.sum("__hit"), F.lit(0)).cast("long").alias("n_hits"),
        )
    )
    return (
        df.select(F.col(key))
        .join(agg, key, "left")
        .na.fill({"n_shingles": 0, "n_hits": 0})
        .select(
            F.col(key),
            F.col("n_shingles"),
            F.col("n_hits"),
            F.when(
                F.col("n_shingles") > 0,
                F.col("n_hits") / F.col("n_shingles").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("hit_frac"),
            (F.col("n_hits") >= min_hits).alias("contaminated"),
        )
    )

def unigram_logprob_score(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    alpha: float = 1.0,
    carry: list | None = None,
) -> DataFrame:
    """Corpus-trained unigram LM quality score (the LM-perplexity filter of
    CCNet, Wenzek et al. 2020 §4.3, with the KenLM model replaced by the
    corpus's own add-alpha-smoothed unigram distribution — deterministic
    and dependency-free):

        p(w) = (count(w) + alpha) / (N + alpha * V)
        score(doc) = mean over the doc's words of -ln p(w)

    High score = improbable words = gibberish/rare content; low score =
    stopword-heavy boilerplate. Emitted per doc with n_words so callers
    can threshold by quantile per language/source.

    Shape at scale: one word-keyed count aggregation (uniform key space,
    partial aggregation collapses repeats map-side), the (N, V) totals via
    a single tiny collect, then one join of the exploded corpus back to
    the count table and a doc-keyed mean — occurrence-linear, no
    self-join, skew-free (the hottest word's occurrences spread across
    partitions until the final doc-keyed agg).

    carry: extra per-doc columns (constant within a doc, e.g. the source/
    language group) to ride through the explode and the final agg — saves
    the caller a scores→docs re-join (one exchange + one broadcast)."""
    carry = list(carry or [])
    w = df.select(
        F.col(key),
        *[F.col(c) for c in carry],
        F.explode(words_col(text)).alias("word"),
    )
    counts = w.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    tot = counts.agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("v")
    ).collect()[0]
    n_tokens, vocab = int(tot["n"]), int(tot["v"])
    denom = float(n_tokens) + alpha * float(vocab)
    neglogp = -F.log((F.col("c") + F.lit(alpha)) / F.lit(denom))
    scored = w.join(counts.withColumn("__nlp", neglogp), "word")
    return (
        scored.groupBy(key, *carry)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.avg("__nlp").alias("unigram_nll"),
        )
    )

def lm_quality_buckets(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    group: str | None = "source",
    alpha: float = 1.0,
    boundaries: str = "auto",
    grouped_agg_max_group: int = 5_000_000,
) -> DataFrame:
    """CCNet head/middle/tail split (Wenzek et al. 2020 §4.3): rank docs by
    the unigram-LM NLL and cut each group (language/source) at its own
    tercile boundaries — head = most-probable third (boilerplate-leaning),
    tail = least-probable third (gibberish-leaning).

    Buckets are per-GROUP quantiles, not global: a niche source's docs are
    judged against their own distribution, the property that makes the
    split usable for mixture curation. Boundary docs tie into the LOWER
    bucket (score <= q1 -> head, <= q2 -> middle, else tail).

    boundaries — how the exact per-group terciles are computed (both paths
    are quantile_cont-exact and differential-tested equal):
    - "grouped_agg": ONE grouped `percentile` aggregation (tiny output,
      broadcast back). Narrowest plan — the whole query is 4 exchanges —
      but Spark's exact Percentile materializes a per-group value->count
      map on one reducer, so it requires bounded group sizes (same
      contract as column_medians' exact path).
    - "bracketed": scale.exact_grouped_quantiles_multi — distributed
      bracketed selection, unbounded group count AND size (no per-group
      value map, no driver collect); ~4 more exchanges (VERDICT r3 ask #3
      cut it from the 10-exchange per-boundary join stack to one pass +
      one pivot + one broadcast join).
    - "auto" (default): one metadata agg on the scored frame routes by
      max group size vs grouped_agg_max_group — the same measure-then-
      choose idiom as near_dup_components / sample_token_budget.
    """
    from mpds_spark.operators.scale import exact_grouped_quantiles_multi
    from mpds_spark.operators.util import defer_release, tracked_local_checkpoint

    cols = [F.col(key), F.col("n_words"), F.col("unigram_nll")]
    if group is None:
        scores = unigram_logprob_score(df, text=text, key=key, alpha=alpha)
        joined = scores.withColumn("__g", F.lit("all"))
        gcol = "__g"
    else:
        # group rides through the explode+agg (carry) — no scores→docs
        # re-join (saves one exchange + one broadcast join)
        joined = unigram_logprob_score(
            df, text=text, key=key, alpha=alpha, carry=[group]
        )
        gcol = group
        cols.insert(1, F.col(group))
    # the scored frame feeds both tercile passes AND the final labeling:
    # localCheckpoint (not persist) so each consumer's plan STARTS from the
    # materialized frame — with a plain persist the analyzed plan still
    # embeds the whole word-explode scoring subtree per branch and the
    # quantile machinery multiplies it (measured 54 exchanges in the
    # composed plan vs 10 after checkpoint; same fix as clinical_pairs)
    joined, _ids = tracked_local_checkpoint(joined)
    defer_release(_ids)
    if boundaries == "auto":
        meta = (
            joined.groupBy(gcol)
            .agg(F.count(F.lit(1)).alias("__c"))
            .agg(F.max("__c").alias("__mx"))
            .collect()[0]
        )
        boundaries = (
            "grouped_agg"
            if (meta["__mx"] or 0) <= grouped_agg_max_group
            else "bracketed"
        )
    if boundaries == "grouped_agg":
        # exact Percentile uses the same lower*(1-f)+higher*f interpolation
        # as DuckDB quantile_cont (see scale.py bracket notes); 1.0/3 in
        # SQL is bit-identical to Python 1/3
        both_q = (
            joined.groupBy(gcol)
            .agg(
                F.expr(
                    "percentile(unigram_nll, "
                    "array(double(1)/3, double(2)/3))"
                ).alias("__qq")
            )
            .select(
                F.col(gcol),
                F.element_at("__qq", 1).alias("__q1"),
                F.element_at("__qq", 2).alias("__q2"),
            )
        )
    elif boundaries == "bracketed":
        qq = exact_grouped_quantiles_multi(
            joined, gcol, "unigram_nll", ps=[1 / 3, 2 / 3]
        )
        # pivot the long (group, p, q) frame to ONE wide row per group and
        # join it ONCE: filtering qq twice and joining each half re-plans
        # (and re-executes) the whole bracketed-quantile subtree per
        # boundary — plan_audit measured 10 exchanges / 10 broadcast joins
        # that way (VERDICT r3 ask #3)
        both_q = qq.groupBy(gcol).agg(
            F.min(F.when(F.col("p") < 0.5, F.col("q_unigram_nll"))).alias(
                "__q1"
            ),
            F.min(F.when(F.col("p") > 0.5, F.col("q_unigram_nll"))).alias(
                "__q2"
            ),
        )
    else:
        raise ValueError(f"unknown boundaries strategy {boundaries!r}")
    out = joined.join(F.broadcast(both_q), gcol)
    bucket = (
        F.when(F.col("unigram_nll") <= F.col("__q1"), F.lit("head"))
        .when(F.col("unigram_nll") <= F.col("__q2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return out.select(*cols, bucket.alias("bucket"))


# ------------------------------------------------------------------ PII

# Default PII patterns. Deliberately restricted to a regex subset with
# identical match semantics under Java regex (Spark) and RE2 (DuckDB/
# production scanners): character classes, bounded repetition, \b — no
# backreferences, no lookaround (RE2 has neither), no alternation whose
# leftmost-first (Java) vs leftmost-longest (RE2) choice could diverge.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\d{3}[-.]\d{3}[-.]\d{4}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}


def redact_pii(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    patterns: dict | None = None,
) -> DataFrame:
    """Regex PII scrub — the pre-training redaction pass (emails / phone
    numbers / IPv4 by default; pass `patterns` {kind: regex} to extend).
    Returns (key, n_<kind> per pattern, <text>_redacted) where each match
    is replaced by the literal token `<KIND>`.

    Counts are per-pattern on the ORIGINAL text (each count is
    independently well-defined; overlapping kinds each count their own
    matches). Redaction applies patterns sequentially in dict order, so an
    earlier kind's token is not re-matched by a later pattern. Pure
    per-row column map — no shuffle, no Python; pipelines onto the scan
    at any corpus size."""
    pats = patterns or PII_PATTERNS
    counts = [
        F.regexp_count(F.col(text), F.lit(pat)).cast("long").alias(f"n_{kind}")
        for kind, pat in pats.items()
    ]
    red = F.col(text)
    for kind, pat in pats.items():
        red = F.regexp_replace(red, pat, f"<{kind.upper()}>")
    return df.select(F.col(key), *counts, red.alias(f"{text}_redacted"))


# ----------------------------------------------------------------- DSIR

def dsir_logratio(
    df: DataFrame,
    target_df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    alpha: float = 1.0,
) -> DataFrame:
    """DSIR-style importance weight for data selection (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling",
    NeurIPS) with the hashed-ngram feature space simplified to unigrams:

        log w(doc) = sum over words of [ln p_target(w) - ln p_source(w)]

    with add-alpha smoothing over the UNION vocabulary V:
        p_t(w) = (c_t(w) + alpha) / (N_t + alpha*|V|)   (source analogous)

    High log-weight docs look like the target domain; selection keeps the
    top mass (or Gumbel-resamples by weight). Returns (key, n_words,
    dsir_logweight, dsir_logweight_mean).

    Shape at scale: two word-keyed count aggs (corpus + target), one
    full-outer join on word (both sides word-unique — no skew), the tiny
    (N, V) totals via one collect, then the exploded corpus joins the
    per-word log-ratio table and aggregates per doc — occurrence-linear,
    the same skew-free plan as unigram_logprob_score."""
    w = df.select(F.col(key), F.explode(words_col(text)).alias("word"))
    cs = w.groupBy("word").agg(F.count(F.lit(1)).alias("cs"))
    ct = (
        target_df.select(F.explode(words_col(text)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    vocab = (
        cs.join(ct, "word", "full_outer")
        .select(
            "word",
            F.coalesce("cs", F.lit(0)).alias("cs"),
            F.coalesce("ct", F.lit(0)).alias("ct"),
        )
    )
    tot = vocab.agg(
        F.sum("cs").alias("ns"),
        F.sum("ct").alias("nt"),
        F.count(F.lit(1)).alias("v"),
    ).collect()[0]
    ds = float(tot["ns"]) + alpha * float(tot["v"])
    dt = float(tot["nt"]) + alpha * float(tot["v"])
    lr = F.log((F.col("ct") + F.lit(alpha)) / F.lit(dt)) - F.log(
        (F.col("cs") + F.lit(alpha)) / F.lit(ds)
    )
    scored = w.join(vocab.withColumn("__lr", lr).select("word", "__lr"), "word")
    return scored.groupBy(key).agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("__lr").alias("dsir_logweight"),
        F.avg("__lr").alias("dsir_logweight_mean"),
    )


# ------------------------------------------------------------ winnowing

def winnow_fingerprints(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    n: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every word n-gram, slide a
    window of `w` consecutive hashes, select the MINIMUM hash per window
    with ties to the RIGHTMOST position, and dedupe the selections. The
    guarantee: any shared substring of length >= w+n-1 words contributes
    at least one identical (hash) fingerprint to both documents, at
    density ~2/(w+1) of the n-gram count.

    Tie-break portability: the per-window argmin is computed as a plain
    min over `hash || zero-padded(max_pos - pos)` — lexicographic min of
    the encoding IS (min hash, max pos), identical in any engine; no
    struct-ordering or min_by semantics needed.

    Plan: posexplode -> ONE (doc)-partitioned window (frame CURRENT..+w-1)
    -> distinct. Doc-keyed end to end, no joins, no skew surface beyond
    document length. Returns (key, pos, fingerprint)."""
    from pyspark.sql import Window

    if w < 1:
        raise ValueError("w must be >= 1")
    sh = F.expr(
        f"transform(sequence(1, greatest(size(__words) - {n} + 1, 0)), "
        f"i -> concat_ws(' ', slice(__words, i, {n})))"
    )
    d = (
        df.select(F.col(key), words_col(text).alias("__words"))
        .filter(F.size("__words") >= n)
        .select(F.col(key), F.posexplode(sh).alias("pos", "gram"))
        .select(F.col(key), "pos", F.md5("gram").alias("__h"))
    )
    # encode (hash asc, pos desc) as one string; 9 digits bound pos < 1e9
    # shingles per document (a multi-GB single row — beyond any real doc).
    # Past the bound the complement would go negative and silently corrupt
    # the lexicographic tie-break (r4 ADVICE), so fail loudly instead.
    _POS_BOUND = 999_999_999
    pos_ok = F.when(
        F.col("pos") > _POS_BOUND,
        F.raise_error(
            F.lit(
                "winnow_fingerprints: document exceeds 1e9 shingles; "
                "tie-break encoding bound exceeded"
            )
        ).cast("int"),
    ).otherwise(F.col("pos"))
    enc = F.concat(
        F.col("__h"),
        F.lpad((F.lit(_POS_BOUND) - pos_ok).cast("string"), 9, "0"),
    )
    win = (
        Window.partitionBy(key)
        .orderBy("pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    cnt = Window.partitionBy(key)
    sel = (
        d.withColumn("__enc", F.min(enc).over(win))
        .withColumn("__n", F.count(F.lit(1)).over(cnt))
        # full windows only (start pos <= n_shingles - w); a doc shorter
        # than w shingles keeps its single all-covering window at pos 0
        .filter(
            (F.col("pos") <= F.col("__n") - w) | (F.col("pos") == 0)
        )
        .select(
            F.col(key),
            (
                F.lit(999_999_999)
                - F.substring("__enc", 33, 9).cast("int")
            ).alias("pos"),
            F.substring("__enc", 1, 32).alias("fingerprint"),
        )
        .distinct()
    )
    return sel


def winnow_near_dups(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    n: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_df: int | None = 1000,
) -> DataFrame:
    """Near-dup candidate pairs by shared winnowing fingerprints — the
    MOSS overlap detector (Schleimer et al. 2003 §4): two docs sharing
    any >= w+n-1-word substring are GUARANTEED to share a fingerprint, so
    thresholding the shared-fingerprint count finds copied passages that
    whole-document MinHash dilutes away (a 50-word plagiarized block in a
    10k-word doc barely moves Jaccard but yields ~“2·50/(w+1)” shared
    fingerprints).

    Shape: fingerprint sets are ~2/(w+1) of the gram count, the pair join
    is an equi-join on the fingerprint hash, and `max_df` drops
    boilerplate fingerprints appearing in more than that many docs before
    the join (the same frequent-shingle guard as ngram_jaccard — a
    fingerprint shared by 10^6 docs is boilerplate, not plagiarism, and
    would otherwise explode quadratically). Returns
    (doc_a, doc_b, n_shared)."""
    from mpds_spark.operators.util import defer_release, tracked_local_checkpoint

    fp = winnow_fingerprints(df, text=text, key=key, n=n, w=w).select(
        F.col(key), "fingerprint"
    ).distinct()
    # three consumers (df-count guard + both join legs): materialize the
    # fingerprint frame once or each reference re-plans (and re-executes)
    # the whole windowed selection subtree (plan_audit: 6 shuffles /
    # 8 windows unchecked vs 3/2 after)
    fp, _ids = tracked_local_checkpoint(fp)
    defer_release(_ids)
    if max_df is not None:
        ok = (
            fp.groupBy("fingerprint")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_df)
            .select("fingerprint")
        )
        fp = fp.join(ok, "fingerprint", "left_semi")
    a = fp.select(F.col(key).alias("doc_a"), "fingerprint")
    b = fp.select(F.col(key).alias("doc_b"), "fingerprint")
    return (
        a.join(b, "fingerprint")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def ngram_novelty(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
) -> DataFrame:
    """Per-document novel-n-gram rate vs all earlier documents: an n-gram
    is "novel" for exactly the document with the smallest id containing
    it; novelty = novel distinct n-grams / distinct n-grams. The curation
    signal behind dedup-aware mixing — a document whose n-grams all
    appeared earlier contributes nothing new to the corpus.

    Scale shape: occurrence-linear, NO doc-pair join and NO window over
    the n-gram key (a hot n-gram — "of the" — would single-task a window;
    hash-partitioned min() aggregates with map-side partial combine
    absorb it). Three exchanges: distinct per doc, min-owner per n-gram,
    per-doc novel count; the final join is doc-keyed on two frames
    already partitioned by doc.
    """
    from mpds_spark.operators.dedup import words_col

    # materialize the split ONCE: referencing the words_col EXPRESSION
    # inside the transform lambda would re-split the text per n-gram
    # (O(len^2) character work — measured 7 s vs 0.5 s at sf0.1)
    d = df.withColumn("__ws", words_col(text))
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size("__ws") - n),
            lambda i: F.concat_ws(" ", F.slice("__ws", i + 1, n)),
        )
    )
    bg = (
        d.filter(F.size("__ws") >= n)
        .select(F.col(id_col), F.explode(grams).alias("__g"))
    )
    n_grams = bg.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_ngrams"))
    first_owner = bg.groupBy("__g").agg(F.min(id_col).alias(id_col))
    n_novel = first_owner.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_novel")
    )
    return (
        n_grams.join(n_novel, id_col, "left")
        .withColumn("n_novel", F.coalesce("n_novel", F.lit(0)))
        .withColumn(
            "novelty", F.col("n_novel") / F.col("n_ngrams").cast("double")
        )
    )


def vocab_coverage(
    df: DataFrame,
    text: str = "text",
    group: str = "source",
    vocab_size: int = 200,
) -> DataFrame:
    """Tokenizer-coverage audit: build the top-`vocab_size` word vocabulary
    by global frequency (deterministic tie-break: count desc, word asc)
    and report per-`group` token counts, out-of-vocabulary token counts,
    and the OOV rate — the number a curator checks before freezing a
    tokenizer on a new mixture (a source whose OOV rate spikes is about to
    waste embedding capacity on byte-fallback).

    Scale shape: one word-count aggregation (map-side partial combine),
    top-k via TakeOrderedAndProject (never a global sort), vocabulary
    BROADCAST back to the token stream, one per-group aggregation. The
    token stream is never joined against anything non-broadcast; hot words
    land on the aggregations, not a window.
    """
    from pyspark.sql import functions as F  # noqa: F811

    from mpds_spark.operators.dedup import words_col

    toks = df.select(F.col(group), F.explode(words_col(text)).alias("__w"))
    vocab = (
        toks.groupBy("__w")
        .agg(F.count(F.lit(1)).alias("__c"))
        .orderBy(F.col("__c").desc(), F.col("__w"))
        .limit(int(vocab_size))
        .select("__w", F.lit(True).alias("__in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "__w", "left")
        .groupBy(group)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("__in_vocab").isNull(), 1).otherwise(0)
            ).alias("oov_tokens"),
        )
        .withColumn(
            "oov_rate", F.col("oov_tokens") / F.col("n_tokens").cast("double")
        )
    )


def bigram_logprob_score(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    alpha: float = 1.0,
) -> DataFrame:
    """Corpus-trained add-alpha BIGRAM LM score — the next step up from
    unigram_logprob_score's CCNet-style filter (Wenzek et al. 2020 §4.3):

        p(w2 | w1) = (c(w1 w2) + alpha) / (c(w1 ·) + alpha * V)
        bigram_nll(doc) = mean over the doc's bigram occurrences of -ln p

    where c(w1 ·) counts w1 as a CONTEXT (positions 0..n-2) and V is the
    corpus vocabulary. Catches locally-incoherent text (shuffled words,
    keyword stuffing) that a unigram model scores as perfectly normal.

    Shape at scale: one bigram-keyed count aggregation and one
    context-keyed aggregation DERIVED from it (no second pass over the
    corpus), (V) via a tiny collect, then the bigram occurrence stream
    joined back to the count table and a doc-keyed mean — occurrence-
    linear, no self-join. Hot bigrams ("of the") land on hash-partitioned
    joins/aggs with map-side partial combine, never a window.
    """
    d = df.withColumn("__ws", words_col(text))
    bigrams = F.transform(
        F.sequence(F.lit(0), F.size("__ws") - 2),
        lambda i: F.struct(
            F.element_at("__ws", i + 1).alias("w1"),
            F.element_at("__ws", i + 2).alias("w2"),
        ),
    )
    occ = (
        d.filter(F.size("__ws") >= 2)
        .select(F.col(key), F.explode(bigrams).alias("__b"))
        .select(key, F.col("__b.w1").alias("w1"), F.col("__b.w2").alias("w2"))
    )
    c12 = occ.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = int(
        df.select(F.explode(words_col(text)).alias("w"))
        .agg(F.countDistinct("w"))
        .collect()[0][0]
    )
    probs = c12.join(c1, "w1").withColumn(
        "__nlp",
        -F.log(
            (F.col("c12") + F.lit(alpha))
            / (F.col("c1") + F.lit(alpha * float(vocab)))
        ),
    )
    return (
        occ.join(probs.select("w1", "w2", "__nlp"), ["w1", "w2"])
        .groupBy(key)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.avg("__nlp").alias("bigram_nll"),
        )
    )


def tfidf_top_terms(
    df: DataFrame,
    text: str = "text",
    group: str = "source",
    id_col: str = "doc_id",
    k: int = 10,
    rank_round: int | None = None,
) -> DataFrame:
    """Per-`group` top-`k` salient terms by tf-idf — the mixture-audit
    companion to vocab_coverage: WHAT distinguishes each source, not just
    how well the tokenizer covers it.

        tf(g, w)  = occurrences of w in group g
        idf(w)    = ln((1 + n_docs) / (1 + df(w))) + 1   (smoothed)
        score     = tf * idf, ties broken by word asc

    Shape at scale: one (group, word) count aggregation, one distinct
    (doc, word) pass folded to document frequency, n_docs via a tiny
    collect, a word-keyed join of two count tables (both vocabulary-sized,
    << corpus), and a per-group rank window whose partitions are
    per-group vocabularies — bounded by vocabulary, not corpus size. The
    token stream itself is aggregated once and never joined or windowed.

    rank_round: rank by the score ROUNDED to this many digits (floor
    convention, functions/timeutil.duck_round) instead of the raw double —
    near-tied scores then break on the word, which is stable across
    engines whose ln() differs in the last ulp (the oracle-twin setting).
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(group), F.col(id_col), F.explode(words_col(text)).alias("__w")
    )
    tf = toks.groupBy(group, "__w").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (
        toks.select(id_col, "__w")
        .distinct()
        .groupBy("__w")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    n_docs = int(df.select(F.countDistinct(id_col)).collect()[0][0])
    idf = F.log(
        (F.lit(1.0) + F.lit(float(n_docs))) / (F.lit(1.0) + F.col("df"))
    ) + F.lit(1.0)
    scored = tf.join(dfreq, "__w").withColumn("tfidf", F.col("tf") * idf)
    if rank_round is not None:
        from mpds_spark.functions.timeutil import duck_round

        rank_key = duck_round(F.col("tfidf"), int(rank_round))
    else:
        rank_key = F.col("tfidf")
    w = Window.partitionBy(group).orderBy(
        rank_key.desc(), F.col("__w").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select(
            group,
            F.col("rank"),
            F.col("__w").alias("term"),
            "tf",
            "df",
            "tfidf",
        )
    )


def cross_group_ngram_overlap(
    df: DataFrame,
    text: str = "text",
    group: str = "source",
    n: int = 8,
) -> DataFrame:
    """Pairwise n-gram contamination matrix between groups (sources /
    dumps / train-vs-eval splits): for every unordered group pair, the
    number of distinct word n-grams they share, plus Jaccard and
    containment (share / smaller set). The audit a curator runs before
    mixing two crawls — high containment means one source is largely a
    subset of the other and its mixture weight double-counts.

    Shape at scale: ONE n-gram-keyed aggregation folds each n-gram to
    its distinct group set (collect_set dedups map-side, so the raw
    (n-gram, group) stream partial-aggregates before the exchange);
    after that an n-gram contributes at most |groups| choose 2 pairs
    from a <=|groups| array and CANNOT skew no matter how hot the
    n-gram is in the raw corpus — and the n-gram STRING never rides a
    second shuffle (r6: the previous distinct + n-gram-keyed self-join
    sorted and joined the gram strings twice). One group-set
    aggregation, two tiny explodes off it, per-group set sizes
    broadcast back. Output is |groups|^2-bounded (tiny).
    """
    d = df.withColumn("__ws", words_col(text))
    from mpds_spark.operators.util import scratch_persist

    def _gram_gen(batches):
        import mpds_spark  # noqa: F401  installs the worker fix-ups
        # guide §4.2: gram ASSEMBLY is a per-batch kernel — the word
        # split stays JVM-side (words_col, exact regex semantics), so
        # a gram here is exactly ' '.join of the same word slice the
        # r5 slice+concat_ws expression produced, deduped per doc like
        # array_distinct; only (group, gram) rows cross back.
        import pyarrow as pa

        for b in batches:
            gvals = b.column(0).to_pylist()
            wlists = b.column(1).to_pylist()
            out_g, out_gram = [], []
            for gval, ws in zip(gvals, wlists):
                seen = set()
                for i in range(len(ws) - n + 1):
                    gm = " ".join(ws[i : i + n])
                    if gm not in seen:
                        seen.add(gm)
                        out_g.append(gval)
                        out_gram.append(gm)
            yield pa.record_batch(
                [pa.array(out_g, pa.string()),
                 pa.array(out_gram, pa.string())],
                names=["g", "__g"],
            )

    # persisted: consumed twice (pair counts + set sizes) — without it
    # Catalyst re-splits and re-explodes the corpus per branch
    per_gram = scratch_persist(
        d.filter(F.size("__ws") >= n)
        .select(F.col(group).alias("g"), "__ws")
        .mapInArrow(_gram_gen, "g string, __g string")
        .groupBy("__g")
        .agg(F.array_sort(F.collect_set("g")).alias("__gl"))
        .select("__gl")
    )
    sizes = per_gram.select(
        F.explode("__gl").alias("g")
    ).groupBy("g").agg(F.count(F.lit(1)).alias("n_grams"))
    pair_structs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size("__gl") - 1),
            lambda i: F.transform(
                F.sequence(i + 1, F.size("__gl")),
                lambda j: F.struct(
                    F.element_at("__gl", i).alias("g1"),
                    F.element_at("__gl", j).alias("g2"),
                ),
            ),
        )
    )
    inter = (
        per_gram.filter(F.size("__gl") >= 2)
        .select(F.explode(pair_structs).alias("__p"))
        .groupBy(
            F.col("__p.g1").alias("g1"), F.col("__p.g2").alias("g2")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    s1 = sizes.select(F.col("g").alias("g1"), F.col("n_grams").alias("n1"))
    s2 = sizes.select(F.col("g").alias("g2"), F.col("n_grams").alias("n2"))
    return (
        inter.join(F.broadcast(s1), "g1")
        .join(F.broadcast(s2), "g2")
        .select(
            "g1",
            "g2",
            "shared",
            "n1",
            "n2",
            (
                F.col("shared")
                / (F.col("n1") + F.col("n2") - F.col("shared")).cast("double")
            ).alias("jaccard"),
            (
                F.col("shared") / F.least("n1", "n2").cast("double")
            ).alias("containment"),
        )
    )


def remove_boilerplate_segments(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    group: str = "source",
    seg_words: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Corpus-frequent segment removal (the line-dedup stage of CCNet
    [Wenzek et al. 2020] and RefinedWeb [Penedo et al. 2023]): a doc is
    split into consecutive `seg_words`-word segments; any segment whose
    exact text occurs in >= `min_docs` DISTINCT docs of the same `group`
    (source / dump) is boilerplate — a nav bar, cookie banner, footer —
    and is removed from EVERY doc, including the first. Web corpora use
    newline-delimited lines; the synthetic table is single-line word
    streams, so fixed-width word windows stand in for lines (the plan is
    identical — only the segmenter expression differs).

    Per doc: n_seg, n_removed, n_words_clean, text_clean (kept segments
    re-joined in position order).

    Shape at scale: segment frame is a map-side posexplode; the frequent
    set is ONE (group, segment)-keyed distinct-doc count — bounded output
    (boilerplate is by definition high-frequency, so the surviving set is
    small) and broadcast back; the per-doc re-aggregation is one
    doc-keyed shuffle. Hot segments can't skew the agg (partial
    map-side dedup on (group, seg, doc)); production corpora would key
    the frequent set on md5(segment) to cut shuffle bytes — equality of
    flags is unchanged.
    """
    from mpds_spark.operators.util import scratch_persist

    d = df.withColumn("__ws", words_col(text))
    nseg = F.ceil(F.size("__ws") / F.lit(seg_words)).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), nseg - 1),
        lambda i: F.concat_ws(" ", F.slice("__ws", i * seg_words + 1, seg_words)),
    )
    # persisted: consumed twice (frequent-set agg + per-doc rebuild)
    seg = scratch_persist(
        d.select(
            F.col(key), F.col(group).alias("__g"), F.posexplode(segs).alias("pos", "seg")
        )
    )
    bp = (
        seg.select("__g", "seg", key)
        .distinct()
        .groupBy("__g", "seg")
        .agg(F.count(F.lit(1)).alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("__g", "seg", F.lit(True).alias("__bp"))
    )
    flagged = seg.join(F.broadcast(bp), ["__g", "seg"], "left").select(
        key,
        "pos",
        "seg",
        F.coalesce("__bp", F.lit(False)).alias("__bp"),
    )
    per_doc = flagged.groupBy(key).agg(
        F.count(F.lit(1)).cast("long").alias("n_seg"),
        F.sum(F.col("__bp").cast("long")).alias("n_removed"),
        # per-segment word count, not a re-split of the joined string:
        # a fully-removed doc must report 0, not size(split('')) == 1
        F.sum(
            F.when(
                ~F.col("__bp"), F.size(F.split(F.col("seg"), r"\s+"))
            ).otherwise(F.lit(0))
        ).cast("long").alias("n_words_clean"),
        F.array_sort(
            F.collect_list(F.struct("pos", "seg", "__bp"))
        ).alias("__ss"),
    )
    kept = F.filter("__ss", lambda s: ~s["__bp"])
    clean = F.array_join(F.transform(kept, lambda s: s["seg"]), " ")
    return per_doc.select(
        key, "n_seg", "n_removed", "n_words_clean", clean.alias("text_clean")
    )


def classifier_quality_score(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    n_buckets: int = 4096,
) -> DataFrame:
    """fastText-style hashed linear quality classifier with frozen
    weights (the classifier-filter stage of GPT-3/LLaMA-style curation —
    Brown et al. 2020 §A, Touvron et al. 2023): each word hashes into
    one of `n_buckets` feature buckets, the bucket's weight is summed,
    and the mean weight is squashed to a keep-probability. Weights here
    are a deterministic function of the bucket id ((b % 1001) - 500, an
    integer in [-500, 500]) so the operator is self-contained and
    oracle-checkable; a trained model swaps in a broadcast weight map or
    a literal array — the plan is identical.

    Cross-engine determinism: the per-doc sum is INTEGER (exact in any
    order), the score is one double division, and the squash is the
    rational fast-sigmoid 0.5 + 0.5*s/(1+|s|) — pure arithmetic, no
    libm exp whose last ulp differs between engines.

    Shape at scale: zero shuffles — hashing, weight lookup, sum, and
    squash are all per-row JVM array expressions that pipeline onto the
    scan (the 100-TB classifier pass is embarrassingly parallel)."""
    d = df.withColumn("__ws", words_col(text))
    w_int = F.aggregate(
        F.transform(
            "__ws",
            lambda x: (
                F.conv(F.substring(F.md5(x), 1, 8), 16, 10).cast("long")
                % n_buckets
                % 1001
            )
            - 500,
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    d = d.select(
        F.col(key),
        F.size("__ws").cast("long").alias("n_words"),
        w_int.alias("sum_w"),
    )
    score = F.col("sum_w") / (500.0 * F.col("n_words"))
    return d.select(
        key,
        "n_words",
        "sum_w",
        score.alias("score"),
        (F.lit(0.5) + F.lit(0.5) * score / (F.lit(1.0) + F.abs(score))).alias(
            "prob"
        ),
        (F.col("sum_w") >= 0).alias("label"),
    )


def zipf_fit(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    group: str = "source",
    top_v: int = 64,
) -> DataFrame:
    """Zipf rank-frequency fit per group: least-squares slope/intercept of
    ln(count) vs ln(rank) over the top_v most frequent words (rank ties
    broken by word asc). Natural text follows slope ~ -1 (Zipf 1949);
    machine-generated, templated, or spam-padded sources bend the curve —
    a drift signal a curator tracks per dump before mixing.

    Cross-engine determinism: the four regression sums are computed by a
    SEQUENTIAL fold over the rank-sorted (rank, count) array on both
    engines (array_sort + aggregate here, ORDER BY r lists + list_sum in
    the DuckDB twin) — no shuffle-order float summation.

    Shape at scale: one (group, word) count agg; the rank window runs on
    the VOCAB frame (|groups| x vocab rows, not the corpus); the fold is
    over <= top_v elements per group. Output is |groups| rows."""
    from pyspark.sql import Window

    d = df.withColumn("__ws", words_col(text))
    counts = (
        d.select(F.col(group).alias("g"), F.explode("__ws").alias("w"))
        .groupBy("g", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    win = Window.partitionBy("g").orderBy(F.desc("c"), F.asc("w"))
    top = counts.withColumn("r", F.row_number().over(win)).filter(
        F.col("r") <= top_v
    )
    per_g = top.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n_vocab"),
        F.array_sort(F.collect_list(F.struct("r", "c"))).alias("__rc"),
    )

    def fold(term):
        return F.aggregate(
            "__rc", F.lit(0.0), lambda acc, s: acc + term(s)
        )

    lx = lambda s: F.log(s["r"].cast("double"))  # noqa: E731
    ly = lambda s: F.log(s["c"].cast("double"))  # noqa: E731
    sx = fold(lx)
    sy = fold(ly)
    sxx = fold(lambda s: lx(s) * lx(s))
    sxy = fold(lambda s: lx(s) * ly(s))
    n = F.col("n_vocab").cast("double")
    denom = n * sxx - sx * sx
    slope = F.when(denom != 0.0, (n * sxy - sx * sy) / denom)
    intercept = F.when(denom != 0.0, (sy - ((n * sxy - sx * sy) / denom) * sx) / n)
    return per_g.select(
        F.col("g").alias(group),
        "n_vocab",
        slope.alias("zipf_slope"),
        intercept.alias("zipf_intercept"),
    )


def heaps_fit(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    group: str = "source",
) -> DataFrame:
    """Heaps'-law vocabulary-growth fit per group: least-squares slope
    (beta) and intercept (ln K) of ln(distinct vocab) vs ln(cumulative
    tokens), sampled where the doc rank is a power of two plus the final
    doc. Natural text grows V ~ K * N^beta with beta ~ 0.4-0.6 (Heaps
    1978); templated or looped sources flatten the curve (vocabulary
    saturates), OCR noise and spam inflate it toward 1 — the per-dump
    vocabulary-health check a curator runs beside zipf_fit.

    Cross-engine determinism: every cumulative quantity is an INTEGER
    (token counts, first-occurrence vocab counts) accumulated by window
    sum in rank order, so both engines see identical doubles at the ln()
    boundary; the four regression sums fold SEQUENTIALLY over the
    rank-sorted point array (<= log2(n_docs)+1 elements, bounded at any
    corpus size).

    Shape at scale: one (group, word) min-agg for first occurrences, one
    (group, doc) count, one per-group rank window over DOC-level rows
    (docs-per-group partitions; a 10^9-doc group wants the salted two-pass
    in operators/salting.py, same as every per-entity window here), then
    a <= 64-point fold per group. Output is |groups| rows."""
    d = df.withColumn("__ws", words_col(text))
    tok = d.select(
        F.col(group).alias("g"),
        F.col(key).alias("k"),
        F.size("__ws").cast("long").alias("n_tok"),
    )
    firsts = (
        d.select(F.col(group).alias("g"), F.col(key).alias("k"), F.explode("__ws").alias("w"))
        .groupBy("g", "w")
        .agg(F.min("k").alias("k"))
        .groupBy("g", "k")
        .agg(F.count(F.lit(1)).cast("long").alias("new_v"))
    )
    from pyspark.sql import Window

    per_doc = tok.join(firsts, ["g", "k"], "left").fillna({"new_v": 0})
    ordw = Window.partitionBy("g").orderBy("k")
    cum = (
        per_doc.withColumn("r", F.row_number().over(ordw))
        .withColumn("cum_n", F.sum("n_tok").over(ordw))
        .withColumn("cum_v", F.sum("new_v").over(ordw))
    )
    n_docs = Window.partitionBy("g")
    pts = cum.withColumn("n_docs", F.max("r").over(n_docs)).filter(
        ((F.col("r").bitwiseAND(F.col("r") - 1)) == 0)
        | (F.col("r") == F.col("n_docs"))
    )
    per_g = pts.filter((F.col("cum_n") > 0) & (F.col("cum_v") > 0)).groupBy(
        "g", "n_docs"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.array_sort(F.collect_list(F.struct("r", "cum_n", "cum_v"))).alias("__pts"),
    )

    def fold(term):
        return F.aggregate("__pts", F.lit(0.0), lambda acc, s: acc + term(s))

    lx = lambda s: F.log(s["cum_n"].cast("double"))  # noqa: E731
    ly = lambda s: F.log(s["cum_v"].cast("double"))  # noqa: E731
    sx, sy = fold(lx), fold(ly)
    sxx = fold(lambda s: lx(s) * lx(s))
    sxy = fold(lambda s: lx(s) * ly(s))
    n = F.col("n_points").cast("double")
    denom = n * sxx - sx * sx
    beta = F.when(denom != 0.0, (n * sxy - sx * sy) / denom)
    lnk = F.when(denom != 0.0, (sy - ((n * sxy - sx * sy) / denom) * sx) / n)
    return per_g.select(
        F.col("g").alias(group),
        F.col("n_docs").cast("long").alias("n_docs"),
        "n_points",
        beta.alias("heaps_beta"),
        lnk.alias("heaps_ln_k"),
    )


def term_burstiness(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    top_v: int = 64,
) -> DataFrame:
    """Church-Gale term dispersion for the corpus top-V terms: collection
    frequency cf, document frequency df, burstiness = cf/df (mean
    occurrences per CONTAINING doc), and the variance-to-mean ratio of
    within-containing-doc counts (VMR; Poisson -> 1, bursty content words
    >> 1, function words ~ 1). Church & Gale 1995: burstiness separates
    content terms from function terms better than raw frequency — the
    signal behind adaptive-LM cache features and stopword-list induction
    on a new corpus.

    Cross-engine determinism: cf, df and sum(c^2) are exact LONG
    aggregates (shuffle-order-free); the two ratios are single double
    divisions of exact integers. VMR uses the df-1 sample denominator and
    is null when df < 2.

    Shape at scale: (word, doc) count -> word agg (both partial-agg
    shuffles, no skew beyond the natural stopword head which the LONG
    aggregates absorb), then a global top-V via orderBy+limit
    (TakeOrderedAndProject — no single-partition window)."""
    wd = (
        df.select(F.col(key).alias("k"), F.explode(words_col(text)).alias("w"))
        .groupBy("w", "k")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    agg = wd.groupBy("w").agg(
        F.sum("c").cast("long").alias("cf"),
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("__c2"),
    )
    cf, dfreq, c2 = (
        F.col("cf").cast("double"),
        F.col("df").cast("double"),
        F.col("__c2").cast("double"),
    )
    burst = cf / dfreq
    vmr = F.when(
        F.col("df") >= 2, ((c2 - cf * cf / dfreq) / (dfreq - 1.0)) / burst
    )
    # derive BEFORE the top-k so limit sits directly on the sort and plans
    # as TakeOrderedAndProject (a rounding projection stacked on top by a
    # caller would otherwise block the pattern and leave a global
    # range-sort of the whole vocab frame)
    return (
        agg.select(
            F.col("w").alias("word"),
            "cf",
            "df",
            burst.alias("burstiness"),
            vmr.alias("vmr"),
        )
        .orderBy(F.desc("cf"), F.asc("word"))
        .limit(top_v)
    )


def bm25_scores(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    n_terms: int = 8,
    skip_top: int = 50,
    k1: float = 1.2,
    b: float = 0.75,
    terms: list[str] | None = None,
) -> DataFrame:
    """Okapi BM25 relevance of every document against a query-term set
    (Robertson & Zaragoza 2009, the probabilistic-retrieval workhorse):

        idf(t)   = ln(1 + (N - df_t + 0.5) / (df_t + 0.5))
        part(t)  = tf_t * (k1 + 1) / (tf_t + k1 * (1 - b + b * dl/avgdl))
        bm25(d)  = sum_t idf(t) * part(t)

    terms=None derives the query set FROM the corpus: the n_terms words
    ranked [skip_top+1 .. skip_top+n_terms] by document frequency
    (ties word-asc) — past the stopword head, still frequent enough that
    most docs match. Retrieval-flavored quality scoring for curriculum /
    topicality filters over a training corpus.

    Shape at scale: one (doc, word) count aggregation folded to document
    frequency (vocabulary-sized), a bounded orderBy+limit collect of
    skip_top + n_terms rows (driver-side fit idiom, like the scaler
    fits), then a SINGLE shuffle-free scoring scan: per-term tf comes
    from size(filter(ws, x -> x = t)) unrolled over the <= n_terms
    literal terms — the corpus is never exploded, joined, or windowed in
    the scoring pass, so the hot path is one map stage regardless of
    corpus size. Contributions are summed in ascending-term literal
    order (deterministic fold order for the float sum).
    """
    import math

    ws = words_col(text)
    stats = df.select(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.size(ws)).cast("long").alias("len_sum"),
    ).collect()[0]
    n_docs, len_sum = int(stats["n"]), int(stats["len_sum"])
    avgdl = float(len_sum) / float(n_docs)
    if terms is None:
        dfreq = (
            df.select(F.explode(F.array_distinct(ws)).alias("w"))
            .groupBy("w")
            .agg(F.count(F.lit(1)).cast("long").alias("df"))
        )
        head = (
            dfreq.orderBy(F.desc("df"), F.asc("w"))
            .limit(int(skip_top) + int(n_terms))
            .collect()
        )
        picked = head[int(skip_top):]
        term_df = {r["w"]: int(r["df"]) for r in picked}
    else:
        tset = sorted(set(terms))
        rows = (
            df.select(F.explode(F.array_distinct(ws)).alias("w"))
            .filter(F.col("w").isin(tset))
            .groupBy("w")
            .agg(F.count(F.lit(1)).cast("long").alias("df"))
            .collect()
        )
        term_df = {r["w"]: int(r["df"]) for r in rows}
        for t in tset:
            term_df.setdefault(t, 0)
    # ascending-term order fixes the float-summation order on both engines
    ordered = sorted(term_df)
    out = df.withColumn("__ws", ws).withColumn(
        "__dl", F.size("__ws").cast("double")
    )
    norm = F.lit(1.0 - b) + F.lit(float(b)) * F.col("__dl") / F.lit(avgdl)

    def _tf(term):
        # factory, not a default-arg lambda: a 2-parameter callable would
        # make F.filter pass the element INDEX as the second argument
        return F.size(
            F.filter("__ws", lambda x: x == F.lit(term))
        ).cast("double")

    score = F.lit(0.0)
    n_match = F.lit(0)
    for t in ordered:
        idf_t = math.log(
            1.0 + (n_docs - term_df[t] + 0.5) / (term_df[t] + 0.5)
        )
        tf_t = _tf(t)
        score = score + F.lit(idf_t) * (
            tf_t * F.lit(k1 + 1.0) / (tf_t + F.lit(float(k1)) * norm)
        )
        n_match = n_match + (tf_t > 0).cast("int")
    return (
        out.select(
            F.col(key),
            F.size("__ws").cast("int").alias("n_tok"),
            n_match.alias("n_match"),
            score.alias("bm25"),
        )
        .filter(F.col("n_match") > 0)
    )


def token_entropy(
    df: DataFrame, text: str = "text", key: str = "doc_id"
) -> DataFrame:
    """Per-document Shannon entropy of the within-doc token distribution
    (plus type count and type-token ratio): the classic lexical-diversity
    / repetitiveness signal — H collapses toward 0 for template and spam
    text, approaches ln(n_types) for diverse prose. Complements the
    corpus-level repetition_signals with a single-pass per-row statistic.

        H = ln(n) - (1/n) * sum_w c_w * ln(c_w)

    computed entirely JVM-side with ZERO shuffles: the token array is
    sorted per row (ascending — this fixes the float fold order) and the
    run-length fold accumulates sum(c*ln c) + the distinct-type count in
    one aggregate() over the sorted array. The corpus is never exploded
    or aggregated — pure map stage, scan-bounded at any corpus size.
    """
    ws = words_col(text)
    fold = F.expr(
        """
        aggregate(
          array_sort(split(trim({t}), '\\\\s+')),
          named_struct('prev', CAST(NULL AS STRING), 'c', 0L,
                       'acc', 0.0D, 'nt', 0L),
          (s, x) -> IF(x <=> s.prev,
            named_struct('prev', x, 'c', s.c + 1L, 'acc', s.acc,
                         'nt', s.nt),
            named_struct('prev', x, 'c', 1L,
              'acc', s.acc + IF(s.c > 1L,
                CAST(s.c AS DOUBLE) * ln(CAST(s.c AS DOUBLE)), 0.0D),
              'nt', s.nt + 1L)),
          s -> named_struct(
            'acc', s.acc + IF(s.c > 1L,
              CAST(s.c AS DOUBLE) * ln(CAST(s.c AS DOUBLE)), 0.0D),
            'nt', s.nt))
        """.replace("{t}", text)
    )
    n = F.size(ws).cast("double")
    out = df.withColumn("__f", fold).withColumn("__n", n)
    ent = F.when(
        F.col("__n") > 0,
        F.log(F.col("__n")) - F.col("__f.acc") / F.col("__n"),
    ).otherwise(F.lit(0.0))
    nt = F.col("__f.nt").cast("double")
    return out.select(
        F.col(key),
        F.col("__n").cast("int").alias("n_tok"),
        F.col("__f.nt").cast("int").alias("n_types"),
        ent.alias("entropy"),
        F.when(nt > 1, ent / F.log(nt)).otherwise(F.lit(0.0)).alias(
            "norm_entropy"
        ),
        (nt / F.col("__n")).alias("ttr"),
    )


def phrase_search(
    df: DataFrame,
    w1: str,
    w2: str,
    doc_id: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """Positional inverted-index phrase search: find documents
    containing the exact two-word phrase "w1 w2" by joining the two
    terms' posting lists on (doc, pos+1) — the way a distributed search
    engine answers phrase queries, and the shape that scales: the
    literal-term filters run BEFORE the join, so only the two terms'
    postings (not the corpus) are shuffled, keyed by doc.

    The DuckDB oracle counts adjacent pairs by direct list scanning of
    every document, proving the index join finds exactly the same
    occurrences.

    Returns (doc_id, n_occurrences, first_pos) for matching docs;
    positions are 1-based word offsets.
    """
    words = df.select(
        F.col(doc_id).alias("__d"),
        F.posexplode(F.split(F.col(text), " ")).alias("__p", "__w"),
    )
    p1 = words.filter(F.col("__w") == w1).select(
        "__d", (F.col("__p") + 1).alias("__pos")
    )
    # fresh names on the right side: both postings share scan lineage, and
    # a p1["__d"] == p2["__d"] condition degenerates to trivially-true on
    # the ambiguous self-join (the cogroup-pruning gotcha's sibling)
    p2 = words.filter(F.col("__w") == w2).select(
        F.col("__d").alias("__d2"), (F.col("__p") + 1).alias("__pos2")
    )
    hits = p1.join(
        p2,
        (F.col("__d") == F.col("__d2"))
        & (F.col("__pos2") == F.col("__pos") + 1),
    ).select("__d", "__pos")
    return hits.groupBy(F.col("__d").alias(doc_id)).agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        F.min("__pos").cast("long").alias("first_pos"),
    )


def log_odds_words(
    df: DataFrame,
    group_a: str,
    group_b: str,
    group: str = "source",
    text: str = "text",
    alpha0: float = 100.0,
    k: int = 20,
) -> DataFrame:
    """Most-distinctive words of corpus A vs corpus B by weighted
    log-odds-ratio with an informative Dirichlet prior (Monroe, Colaresi
    & Quinn 2008) — the which-words-define-this-source feature behind
    domain tagging and drift narratives; strictly better behaved than
    raw tf-idf deltas on rare words because the pooled prior shrinks
    them.

        delta_w = ln((y_aw + a_w)/(n_a + a0 - y_aw - a_w))
                - ln((y_bw + a_w)/(n_b + a0 - y_bw - a_w))
        z_w     = delta_w / sqrt(1/(y_aw + a_w) + 1/(y_bw + a_w))

    with a_w = a0 * pooled_w / pooled_total.

    Cross-engine determinism: all counts exact longs from ONE word-keyed
    aggregation over the two groups (conditional sums — the pooled
    marginal is their sum, no second scan); the prior and z are fixed
    double expressions; top-k by (rounded z desc, word) via TakeOrdered.

    Returns the k words most distinctive of group_a:
    (word, y_a, y_b, delta, z).
    """
    from mpds_spark.functions.timeutil import duck_round

    w = (
        df.filter(F.col(group).isin([group_a, group_b]))
        .select(
            (F.col(group) == group_a).alias("__a"),
            F.explode(F.split(F.col(text), " ")).alias("word"),
        )
        .filter(F.col("word") != "")
    )
    counts = w.groupBy("word").agg(
        F.sum(F.when(F.col("__a"), 1).otherwise(0))
        .cast("long")
        .alias("y_a"),
        F.sum(F.when(F.col("__a"), 0).otherwise(1))
        .cast("long")
        .alias("y_b"),
    )
    w_tot = Window.partitionBy()
    counts = (
        counts.withColumn(
            "__na", F.sum("y_a").over(w_tot).cast("long")
        )
        .withColumn("__nb", F.sum("y_b").over(w_tot).cast("long"))
        .withColumn(
            "__pool", (F.col("y_a") + F.col("y_b")).cast("long")
        )
        .withColumn(
            "__ptot",
            (F.col("__na") + F.col("__nb")).cast("long"),
        )
    )
    a0 = float(alpha0)
    aw = (
        F.lit(a0)
        * F.col("__pool").cast("double")
        / F.col("__ptot").cast("double")
    )
    ya, yb = F.col("y_a").cast("double"), F.col("y_b").cast("double")
    na, nb = F.col("__na").cast("double"), F.col("__nb").cast("double")
    delta = F.log(
        (ya + aw) / (na + F.lit(a0) - ya - aw)
    ) - F.log((yb + aw) / (nb + F.lit(a0) - yb - aw))
    z = delta / F.sqrt(
        F.lit(1.0) / (ya + aw) + F.lit(1.0) / (yb + aw)
    )
    scored = counts.withColumn("delta", delta).withColumn("z", z)
    return (
        scored.select("word", "y_a", "y_b", "delta", "z")
        .orderBy(duck_round(F.col("z"), 6).desc(), F.asc("word"))
        .limit(int(k))
    )


def good_turing(
    df: DataFrame,
    text: str = "text",
) -> DataFrame:
    """Good-Turing frequency-of-frequencies table (Good 1953; the
    smoothing backbone of Katz backoff and the classic unseen-mass
    estimate LM-corpus work leans on): corpus word frequencies r, the
    count-of-counts N_r, and the Turing-adjusted count
    r* = (r+1) * N_{r+1} / N_r (NULL where N_{r+1} = 0 — the raw
    estimator is undefined there; smoothed variants fit a line through
    (r, N_r), which is a reporting choice this operator leaves out).

    Tokenization matches the engine's text stack: split on single
    spaces, empty tokens dropped (DuckDB twin: regexp_split_to_array
    of trimmed text on '\\s+').

    Determinism: r, N_r and the total token mass are exact longs;
    r* and each bucket's share of the corpus mass are single divisions
    of exact integers.

    Shape at scale: one word-keyed agg (the heavy leg — same shuffle
    any vocabulary pass pays), one tiny r-keyed agg, a broadcast
    self-join of the count-of-counts frame on r+1, and one unpartitioned
    window over that same tiny frame for the mass total. The
    count-of-counts frame is scratch-persisted: without the pin the
    broadcast branch would re-run the whole vocabulary scan.

    Returns (r, n_r, r_star, mass_pct) sorted by r ascending."""
    from mpds_spark.operators.util import scratch_persist

    w = (
        df.select(F.explode(F.split(F.col(text), " ")).alias("word"))
        .filter(F.col("word") != "")
    )
    wf = w.groupBy("word").agg(F.count(F.lit(1)).cast("long").alias("r"))
    nr = scratch_persist(
        wf.groupBy("r").agg(F.count(F.lit(1)).cast("long").alias("n_r"))
    )
    nxt = nr.select(
        (F.col("r") - 1).alias("r"), F.col("n_r").alias("__n_next")
    )
    j = nr.join(F.broadcast(nxt), "r", "left")
    total = F.sum(F.col("r") * F.col("n_r")).over(
        Window.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    )
    return j.select(
        "r",
        "n_r",
        (
            (F.col("r") + 1).cast("double") * F.col("__n_next").cast("double")
            / F.col("n_r").cast("double")
        ).alias("r_star"),
        (
            F.lit(100.0) * (F.col("r") * F.col("n_r")).cast("double")
            / total.cast("double")
        ).alias("mass_pct"),
    )


def pmi_pairs(
    df: DataFrame,
    text: str = "text",
    window: int = 3,
    min_pair: int = 10,
    k: int = 50,
) -> DataFrame:
    """Windowed pointwise mutual information over word co-occurrences
    (Church & Hanks 1990 — the collocation signal embedding pipelines
    train on): unordered word pairs within `window` token positions,
    PMI = ln( (c_ab/T) / ((c_a/N)(c_b/N)) ) with a `min_pair` support
    guard, top-`k` by (rounded PMI desc, pair) so the cut is
    deterministic.

    Determinism: c_ab, c_a, c_b, N (token mass) and T (pair mass) are
    exact longs; PMI is ONE ln of ONE division whose numerator
    c_ab*N^2 and denominator T*c_a*c_b are exact DECIMAL(38,0) cast
    once to double — identical IEEE ops per engine.

    Shape at scale: postings (doc, pos, word) explode once; the pair
    generator is `window` exact-offset copies equi-joined back to the
    postings on (doc, pos+d) — the phrase_search join shape, never a
    theta/self-join over the corpus; identical-word pairs excluded.
    Marginals are one word agg; the three tiny frames (pair counts
    above support, marginals for those words only, 1-row totals) meet
    in broadcast joins. Top-k is a TakeOrdered heap, no global sort.

    Returns (word_a, word_b, c_pair, pmi)."""
    from mpds_spark.operators.util import scratch_persist

    p = scratch_persist(
        df.select(
            F.col("doc_id"),
            F.posexplode(F.split(F.col(text), " ")).alias("__p0", "word"),
        )
        .filter(F.col("word") != "")
        .select("doc_id", (F.col("__p0") + 1).alias("pos"), "word")
    )
    left = p.select(
        "doc_id",
        F.explode(
            F.array(*[F.lit(d) for d in range(1, int(window) + 1)])
        ).alias("__d"),
        F.col("pos").alias("__pa"),
        F.col("word").alias("__wa"),
    ).select(
        "doc_id", (F.col("__pa") + F.col("__d")).alias("pos"), "__wa"
    )
    pairs = (
        left.join(p, ["doc_id", "pos"])
        .filter(F.col("__wa") != F.col("word"))
        .select(
            F.least("__wa", "word").alias("word_a"),
            F.greatest("__wa", "word").alias("word_b"),
        )
    )
    pc = pairs.groupBy("word_a", "word_b").agg(
        F.count(F.lit(1)).cast("long").alias("c_pair")
    )
    totals = pc.agg(F.sum("c_pair").cast("long").alias("__t"))
    pc = pc.filter(F.col("c_pair") >= int(min_pair))
    marg = p.groupBy("word").agg(
        F.count(F.lit(1)).cast("long").alias("__c")
    )
    ntot = p.agg(F.count(F.lit(1)).cast("long").alias("__n"))
    dec = "decimal(38,0)"
    j = (
        pc.join(
            F.broadcast(marg.select(F.col("word").alias("word_a"),
                                    F.col("__c").alias("__ca"))),
            "word_a",
        )
        .join(
            F.broadcast(marg.select(F.col("word").alias("word_b"),
                                    F.col("__c").alias("__cb"))),
            "word_b",
        )
        .crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(ntot))
    )
    num = (
        F.col("c_pair").cast(dec) * F.col("__n").cast(dec)
        * F.col("__n").cast(dec)
    ).cast("double")
    den = (
        F.col("__t").cast(dec) * F.col("__ca").cast(dec)
        * F.col("__cb").cast(dec)
    ).cast("double")
    from mpds_spark.functions.timeutil import duck_round

    out = j.select(
        "word_a", "word_b", "c_pair",
        duck_round(F.log(num / den), 6).alias("pmi"),
    )
    return out.orderBy(
        F.desc("pmi"), "word_a", "word_b"
    ).limit(int(k))
