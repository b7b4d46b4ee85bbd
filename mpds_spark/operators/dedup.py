"""Deduplication operators for large-scale training-data pipelines.

All JVM-side (higher-order array functions + joins) — no Python UDFs:
- exact_dedup: hash-groupBy on md5(text).
- shingle word n-grams → explode → self-join: n-gram Jaccard pairs.
- MinHash signatures: min over shingles of md5(seed|shingle) per seed —
  hex-string min is numeric min for fixed-width hex, so the same signature
  is computable in any engine (DuckDB oracle twin).
- LSH candidate pairs: band the signature, bucket-join on (band_id, band
  hash) — candidates = pairs agreeing on >= 1 full band.
- near_dup_pairs: LSH candidates → exact-Jaccard verify over ONE shared
  persisted shingle frame — the two-tier default at corpus scale.
- SimHash: 64-bit as two 32-bit halves; simhash_near_dups = 4x16-bit
  pigeonhole band join (guaranteed recall at Hamming <= 3) + popcount
  verify.
- connected_components / dedup_keep_list: near-dup PAIRS → dedup GROUPS
  (large-/small-star, log rounds whatever the diameter) + keep-min.

Scale notes: shingle explode multiplies rows by ~doc length — the
self-join partitions by shingle, so hot shingles (stopword n-grams) skew;
cap with a document-frequency filter (max_df) exactly like the classic
stopword cut. MinHash/LSH replaces the quadratic all-pairs join with
O(docs x bands) bucket joins — the scale path for 10^9+ docs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mpds_spark.operators.util import (
    defer_release,
    release_rdds,
    scratch_persist,
    tracked_local_checkpoint,
)


def words_col(text: str = "text"):
    return F.split(F.trim(F.col(text)), r"\s+")


def shingles(
    df: DataFrame, text: str = "text", n: int = 3, max_df: int | None = None
) -> DataFrame:
    """Distinct word n-gram shingles per doc (docs shorter than n words
    produce none).

    max_df: drop shingles appearing in MORE than max_df documents — the
    stopword-shingle cut. A hot shingle ("of the and") is shared by a large
    doc fraction, so a shingle-keyed self-join gets one giant skewed task;
    it also carries ~zero dedup signal. The DF filter is the same groupBy
    shuffle key as the downstream join, so it adds one agg + semi-join, not
    a new partitioning.

    The words array is materialized in its own projection: referencing
    split() inside the transform lambda re-evaluates it PER SHINGLE
    (O(words^2) splits per doc — measured 8.5 s just to materialize 260k
    shingles at sf0.1, vs ~1 s with the split hoisted)."""
    d = df.withColumn("__words", words_col(text))
    sh = F.when(
        F.size("__words") >= n,
        F.expr(
            f"transform(sequence(0, size(__words) - {n}), "
            f"i -> concat_ws(' ', slice(__words, i + 1, {n})))"
        ),
    ).otherwise(F.array())
    out = d.withColumn("shingle", F.explode(F.array_distinct(sh))).drop(
        "__words"
    )
    if max_df is not None:
        keep = (
            out.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_df)
            .select("shingle")
        )
        out = out.join(keep, "shingle", "left_semi")
    return out


def exact_dedup(df: DataFrame, text: str = "text", key: str = "doc_id") -> DataFrame:
    return df.groupBy(F.md5(text).alias("text_hash")).agg(
        F.count(F.lit(1)).alias("n_dups"), F.min(key).alias("keep_doc_id")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    n: int = 3,
    threshold: float = 0.1,
    max_df: int | None = None,
) -> DataFrame:
    """All doc pairs sharing >= 1 shingle, with Jaccard >= threshold.

    jaccard = |A ∩ B| / (|A| + |B| - |A ∩ B|) over distinct n-gram sets.
    With max_df set, BOTH the intersection and the set sizes are computed
    over the DF-filtered shingle sets (consistent Jaccard semantics on the
    reduced universe).

    This is the exact/quadratic baseline: the self-join is keyed by shingle
    and blows up on hot shingles — at corpus scale use near_dup_pairs()
    (LSH candidates → exact Jaccard verify) and/or max_df.

    The shingle frame feeds a self-join + a size aggregation (3 consumers),
    so it is persisted — without it Catalyst recomputes the split/transform/
    explode three times (measured 15.5 s → 6 s at sf0.1). On a cluster the
    equivalent is materializing the shingle table once per dedup run.
    """
    # eager persist: within a single action the 3 plan branches race ahead
    # of a lazily-populated cache and each recomputes the explode; persist +
    # count materializes once up front (measured 15.5 s -> ~6 s at sf0.1).
    # Registered for release_scratch() — the final consuming action is the
    # caller's, so the operator can't unpersist here itself.
    sh = scratch_persist(
        shingles(df, text, n=n, max_df=max_df).select(
            F.col(key).alias("k"), "shingle"
        )
    )
    sizes = sh.groupBy("k").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("k").alias("doc_a"), "shingle")
    b = sh.select(F.col("k").alias("doc_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    out = (
        common.join(
            sizes.select(F.col("k").alias("doc_a"), F.col("n_sh").alias("n_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("k").alias("doc_b"), F.col("n_sh").alias("n_b")),
            "doc_b",
        )
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("doc_a", "doc_b", "n_common", "jaccard")


def minhash_signature(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    k: int = 8,
    n: int = 3,
    shingle_df: DataFrame | None = None,
) -> DataFrame:
    """k-hash MinHash signature per doc: h_i = min over shingles of
    md5('<i>|' || shingle) — hex strings, engine-portable.

    shingle_df: optional precomputed (key, shingle) frame (e.g. a persisted
    one shared with a verify stage) — avoids re-exploding the corpus.

    r6 (guide §4.2): when no shared shingle frame is supplied, the
    shingling + k md5 mins run as ONE per-doc Arrow batch kernel — the
    word split stays JVM-side (words_col, exact regex semantics), a
    shingle is exactly ' '.join of the same word slice, hashlib md5 is
    the same md5 both engines compute, and min over lowercase-hex
    strings is order-independent — so the signatures are bit-identical
    to the explode + k-min aggregate, which remains the path when a
    shingle_df IS shared (min over either grouping is the same value)."""
    if shingle_df is None:
        ktype = df.schema[key].dataType.simpleString()

        def _mh_gen(batches):
            import mpds_spark  # noqa: F401  installs the worker fix-ups
            import hashlib

            import pyarrow as pa

            for b in batches:
                keys = b.column(0).to_pylist()
                wss = b.column(1).to_pylist()
                out_k = []
                out_h = [[] for _ in range(k)]
                for kk, ws in zip(keys, wss):
                    if len(ws) < n:
                        continue
                    mins = [None] * k
                    seen = set()
                    for i in range(len(ws) - n + 1):
                        s = " ".join(ws[i : i + n])
                        if s in seen:
                            continue
                        seen.add(s)
                        for j in range(k):
                            h = hashlib.md5(
                                f"{j}|{s}".encode()
                            ).hexdigest()
                            if mins[j] is None or h < mins[j]:
                                mins[j] = h
                    out_k.append(kk)
                    for j in range(k):
                        out_h[j].append(mins[j])
                if not out_k:
                    continue
                yield pa.record_batch(
                    [pa.array(out_k)]
                    + [pa.array(col, pa.string()) for col in out_h],
                    names=["k"] + [f"h{i}" for i in range(k)],
                )

        schema = f"k {ktype}, " + ", ".join(
            f"h{i} string" for i in range(k)
        )
        return df.select(
            F.col(key).alias("__k"), words_col(text).alias("__ws")
        ).mapInArrow(_mh_gen, schema).select(
            F.col("k").alias(key), *[f"h{i}" for i in range(k)]
        )
    sh = shingle_df
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle")))).alias(f"h{i}")
        for i in range(k)
    ]
    return sh.groupBy(key).agg(*aggs)


def lsh_candidate_pairs(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    k: int = 8,
    band_size: int = 2,
    n: int = 3,
    shingle_df: DataFrame | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs: docs whose MinHash signatures agree on at
    least one full band (band hash = concat of band_size signature slots).

    max_bucket: drop (band, hash) buckets larger than this before the
    self-join — the oversized-bucket guard. EXACT duplicates all share
    every band, so one doc duplicated 10^6 times makes a single bucket
    whose self-join emits 10^12 pairs; the standard pipeline runs
    exact_dedup FIRST (collapsing identical texts), and max_bucket bounds
    whatever slips through (e.g. boilerplate-dominated docs). Pairs inside
    a dropped bucket are still found through their other bands unless they
    collide there too."""
    sig = minhash_signature(df, text, key, k, n, shingle_df=shingle_df)
    bands = []
    for b in range(k // band_size):
        cols = [f"h{b * band_size + j}" for j in range(band_size)]
        bands.append(
            F.struct(
                F.lit(b).alias("band"), F.concat_ws("|", *cols).alias("bh")
            )
        )
    exploded = scratch_persist(  # self-joined: materialize the sig agg once
        sig.select(
            F.col(key).alias("k"), F.explode(F.array(*bands)).alias("bb")
        ).select(
            "k", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh")
        )
    )
    if max_bucket is not None:
        ok = (
            exploded.groupBy("band", "bh")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") <= max_bucket)
            .select("band", "bh")
        )
        exploded = exploded.join(ok, ["band", "bh"], "left_semi")
    a = exploded.select(F.col("k").alias("doc_a"), "band", "bh")
    b = exploded.select(F.col("k").alias("doc_b"), "band", "bh")
    return (
        a.join(b, ["band", "bh"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def near_dup_pairs(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    k: int = 8,
    band_size: int = 2,
    n: int = 3,
    threshold: float = 0.1,
    max_df: int | None = None,
) -> DataFrame:
    """Scale-safe near-dup detection: LSH candidates → exact-Jaccard verify.

    Two-tier plan (the 100-TB default):
    1. lsh_candidate_pairs — banded MinHash bucket join, O(docs × bands)
       instead of the all-pairs shingle self-join.
    2. Exact Jaccard ONLY on the candidates: each candidate pair is joined
       to its two shingle sets (partitioned by doc key, so intermediate
       size is Σ|shingles(doc)| over candidates — linear in candidates,
       never quadratic in the corpus) and filtered by threshold.

    Returns (doc_a, doc_b, n_common, jaccard) like ngram_jaccard_pairs,
    restricted to LSH candidates; recall is governed by (k, band_size) —
    with k=8, band_size=2 the match probability is 1-(1-j^2)^4.
    """
    # eager: consumed by candidates, sizes and both verify legs
    sh = scratch_persist(
        shingles(df, text, n=n, max_df=max_df).select(
            F.col(key).alias("k"), "shingle"
        )
    )
    cand = lsh_candidate_pairs(
        df,
        text,
        key,
        k,
        band_size,
        n,
        # reuse the persisted shingle frame for the signatures too — one
        # corpus explode for the whole candidates+verify pipeline. NOTE:
        # with max_df set, signatures are computed over the SAME filtered
        # universe as the verify stage (consistent, and the DF cut only
        # removes near-zero-signal shingles from the min-hash pool).
        shingle_df=sh.select(F.col("k").alias(key), "shingle"),
    )
    sizes = sh.groupBy("k").agg(F.count(F.lit(1)).alias("n_sh"))
    # verify: shingles of doc_a restricted to candidate pairs, matched
    # against shingles of doc_b — both joins are doc-keyed (no shingle key)
    a_sh = cand.join(
        sh.select(F.col("k").alias("doc_a"), "shingle"), "doc_a"
    )
    common = a_sh.join(
        sh.select(F.col("k").alias("doc_b"), "shingle"), ["doc_b", "shingle"]
    ).groupBy("doc_a", "doc_b").agg(F.count(F.lit(1)).alias("n_common"))
    out = (
        common.join(
            sizes.select(F.col("k").alias("doc_a"), F.col("n_sh").alias("n_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("k").alias("doc_b"), F.col("n_sh").alias("n_b")),
            "doc_b",
        )
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("doc_a", "doc_b", "n_common", "jaccard")


def simhash64(df: DataFrame, text: str = "text", key: str = "doc_id") -> DataFrame:
    """64-bit SimHash per doc, as two 32-bit halves (sim_hi = bits 63..32,
    sim_lo = bits 31..0, both non-negative BIGINTs).

    Two 32-bit halves (md5 hex chars 1-8 / 9-16) keep every value
    < 2^32, so the arithmetic stays inside signed BIGINT in any engine
    (a single 64-bit unsigned hash would overflow a signed long).

    r6 (guide §4.2): the per-word md5 + 64 bit-vote sums run as one
    vectorized Arrow batch kernel per doc instead of a 1.4M-row explode
    through a 65-buffer aggregate — the word split stays JVM-side
    (words_col, exact regex semantics), hashlib md5 is the same
    function the engine's md5()/the oracle's md5() compute, and every
    vote is an integer count (order-independent), so the signatures
    are bit-identical to the r5 explode+agg."""

    def _sig_gen(batches):
        import mpds_spark  # noqa: F401  installs the worker fix-ups
        import hashlib

        import numpy as np
        import pyarrow as pa

        shifts = np.arange(32, dtype=np.int64)
        for b in batches:
            keys = b.column(0).to_pylist()
            wss = b.column(1).to_pylist()
            out_k, out_hi, out_lo = [], [], []
            for k, ws in zip(keys, wss):
                n = len(ws)
                hh = np.empty(n, dtype=np.int64)
                hl = np.empty(n, dtype=np.int64)
                for i, wd in enumerate(ws):
                    hx = hashlib.md5(wd.encode()).hexdigest()
                    hh[i] = int(hx[:8], 16)
                    hl[i] = int(hx[8:16], 16)
                hi = 0
                lo = 0
                c_hi = ((hh[:, None] >> shifts) & 1).sum(axis=0)
                c_lo = ((hl[:, None] >> shifts) & 1).sum(axis=0)
                for bb in range(32):
                    if 2 * int(c_hi[bb]) - n > 0:
                        hi += 1 << bb
                    if 2 * int(c_lo[bb]) - n > 0:
                        lo += 1 << bb
                out_k.append(k)
                out_hi.append(hi)
                out_lo.append(lo)
            if not out_k:
                continue
            yield pa.record_batch(
                [
                    pa.array(out_k),
                    pa.array(out_hi, pa.int64()),
                    pa.array(out_lo, pa.int64()),
                ],
                names=["k", "sim_hi", "sim_lo"],
            )

    ktype = df.schema[key].dataType.simpleString()
    sig = df.select(
        F.col(key).alias("__k"), words_col(text).alias("__ws")
    ).mapInArrow(_sig_gen, f"k {ktype}, sim_hi long, sim_lo long")
    return sig.select(
        F.col("k").alias(key), "sim_hi", "sim_lo"
    )


def simhash_near_dups(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    max_hamming: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs via banded Hamming candidate join + verify.

    The 64-bit code is split into 4 contiguous 16-bit bands; by pigeonhole,
    any pair with Hamming distance <= 3 agrees exactly on >= 1 band, so the
    band equi-join finds ALL such pairs without an all-pairs comparison
    (candidates = docs sharing a (band_idx, band_value) bucket — the
    standard Manku/Jain/Sarma simhash dedup layout). Candidates are then
    verified with an exact popcount(xor) <= max_hamming filter.

    max_hamming > 3 weakens the guarantee to "recall among band-sharing
    pairs" (use more/narrower bands for a hard guarantee at higher radii).
    """
    # self-joined below: materialize the signature agg once
    sig = scratch_persist(simhash64(df, text, key))
    bands = [
        F.struct(
            F.lit(0).alias("band"),
            F.col("sim_lo").bitwiseAND(65535).alias("bv"),
        ),
        F.struct(
            F.lit(1).alias("band"),
            F.shiftright("sim_lo", 16).bitwiseAND(65535).alias("bv"),
        ),
        F.struct(
            F.lit(2).alias("band"),
            F.col("sim_hi").bitwiseAND(65535).alias("bv"),
        ),
        F.struct(
            F.lit(3).alias("band"),
            F.shiftright("sim_hi", 16).bitwiseAND(65535).alias("bv"),
        ),
    ]
    expl = sig.select(
        F.col(key).alias("k"), "sim_hi", "sim_lo",
        F.explode(F.array(*bands)).alias("bb"),
    ).select(
        "k", "sim_hi", "sim_lo",
        F.col("bb.band").alias("band"), F.col("bb.bv").alias("bv"),
    )
    if max_bucket is not None:
        # oversized-bucket guard (see lsh_candidate_pairs): exact dups share
        # ALL bands, so collapse identical texts with exact_dedup first and
        # bound the residual boilerplate buckets here
        ok = (
            expl.groupBy("band", "bv")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") <= max_bucket)
            .select("band", "bv")
        )
        expl = expl.join(ok, ["band", "bv"], "left_semi")
    a = expl.select(
        F.col("k").alias("doc_a"),
        F.col("sim_hi").alias("hi_a"),
        F.col("sim_lo").alias("lo_a"),
        "band", "bv",
    )
    b = expl.select(
        F.col("k").alias("doc_b"),
        F.col("sim_hi").alias("hi_b"),
        F.col("sim_lo").alias("lo_b"),
        "band", "bv",
    )
    ham = (
        F.bit_count(F.expr("hi_a ^ hi_b")) + F.bit_count(F.expr("lo_a ^ lo_b"))
    ).alias("hamming")
    # popcount-filter BEFORE the dedupe: the verify predicate is cheap
    # column math, so pruning chance collisions first shrinks the distinct's
    # shuffle (an exact dup still contributes its 4 band-duplicates, but
    # far-apart pairs never reach the exchange)
    return (
        a.join(b, ["band", "bv"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", ham)
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components of an edge list: every vertex is labelled with
    the MINIMUM vertex id of its component — the canonical-representative
    step that turns near-dup PAIRS into dedup GROUPS. Returns
    (doc_id, component) for every vertex that appears in an edge.

    Alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SOCC'14): O(log^2 n) rounds
    whatever the graph's DIAMETER, so a long near-dup chain costs no more
    rounds than a star. large-star: every neighbor LARGER than u is
    re-pointed at m(u) = min(N(u) ∪ {u}); small-star: every neighbor <= u
    likewise. Alternating the two contracts each component to a star on
    its minimum vertex; the final edge set IS the (vertex -> component)
    mapping.

    Per round: one groupBy-min + one join, localCheckpoint'ed (eager).
    Each round's frame references the previous one more than once, so a
    merely-persisted lineage grows geometrically until Catalyst planning
    itself runs out of memory; checkpointing truncates
    the lineage to the materialized blocks, the standard discipline for
    iterative Spark algorithms. Raises RuntimeError if the edge set has
    not reached its fixpoint after max_iter double-rounds.
    """

    def star(e, large: bool):
        nb = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = nb.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        side = nb.filter(
            F.col("v") > F.col("u") if large else F.col("v") < F.col("u")
        )
        out = side.join(mins, "u").select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
        if not large:
            # small-star also re-attaches the CENTER to its min — a node
            # whose neighbors are all smaller would otherwise lose its own
            # link to the component minimum and strand as a singleton
            out = out.unionByName(
                mins.select(F.col("u"), F.col("m").alias("v"))
            )
        return out.filter(F.col("u") != F.col("v")).distinct()

    # materialize the INPUT edge frame once: verts and e both consume it,
    # and checkpointing each separately re-executed the whole upstream
    # pair-generation pipeline (shingle/simhash/verify DAG) per consumer
    raw, raw_ids = tracked_local_checkpoint(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    )
    # vertex universe BEFORE dropping self-loops: a vertex appearing only in
    # a self-loop edge is a singleton component
    verts, verts_ids = tracked_local_checkpoint(
        raw.select(F.col("u").alias("doc_id"))
        .unionByName(raw.select(F.col("v").alias("doc_id")))
        .distinct()
    )
    e, prev = tracked_local_checkpoint(
        raw.filter(F.col("u") != F.col("v")).distinct()
    )
    # both consumers are materialized — the input blocks can go now
    release_rdds(raw_ids)

    # fixpoint detection: per-round exceptAll probes are TWO full hash
    # shuffles of the edge frame per round — at 10^12 edges that doubles
    # the loop's shuffle volume. Instead compare a map-side checksum
    # (count + sum of xxhash64(u,v); both frames are distinct sets) and
    # run the exact exceptAll confirmation ONLY at a suspected fixpoint —
    # a hash collision can only cause one extra exact check, never a
    # wrong answer.
    def _sig(frame):
        row = frame.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal(38,0) accumulator: a long sum of xxhash64 values
            # overflows under ANSI arithmetic
            F.coalesce(
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    sig = _sig(e)
    converged = False
    for _ in range(max_iter):
        e2, ids = tracked_local_checkpoint(
            star(star(e, large=True), large=False)
        )
        sig2 = _sig(e2)
        changed = 1
        if sig2 == sig:
            # exact confirmation (edge SETS equal in both directions)
            changed = (
                e2.exceptAll(e).limit(1).count()
                + e.exceptAll(e2).limit(1).count()
            )
        # the fixpoint check was the last reference to the previous round —
        # free its checkpoint blocks
        release_rdds(prev)
        prev = ids
        e = e2
        sig = sig2
        if changed == 0:
            converged = True
            break
    if not converged:
        # at a non-fixpoint the edge frame still has multiple rows per
        # vertex — the final left join would FAN OUT with conflicting
        # components; fail loudly instead (freeing the blocks first)
        release_rdds(prev)
        release_rdds(verts_ids)
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "double-rounds"
        )
    # the final round + vertex universe back the RETURNED frame — release
    # only after the caller's final action
    defer_release(prev)
    defer_release(verts_ids)
    # at the fixpoint every edge is (vertex, component-min); isolated-in-e
    # vertices (the minima themselves) map to themselves
    comp = e.select(F.col("u").alias("doc_id"), F.col("v").alias("component"))
    return verts.join(comp, "doc_id", "left").select(
        "doc_id", F.coalesce("component", F.col("doc_id")).alias("component")
    )


def dedup_keep_list(
    docs: DataFrame,
    pairs: DataFrame,
    key: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Final dedup verdict per document: its near-dup component
    (connected_components over the pairs) and whether it is the KEPT
    representative (the component's minimum id — the same keep-smallest
    convention as exact_dedup). Docs in no pair keep themselves."""
    comp = connected_components(pairs, src, dst)
    out = docs.select(key).join(
        comp.withColumnRenamed("doc_id", key), key, "left"
    )
    component = F.coalesce("component", F.col(key))
    return out.select(
        F.col(key),
        component.alias("component"),
        (component == F.col(key)).alias("keep"),
    )


def _dup_span_positions(df, tokens, text, key, k, min_df):
    """Shared k-gram occurrence machinery for duplicate_spans /
    remove_duplicate_spans: returns (base, kept) where base carries the
    raw (__t) and stringified (__s) token arrays per key and kept is the
    (key, pos) frame of 1-based positions whose k-gram occurs >= min_df
    times corpus-wide (one gram-keyed hash agg + one gram-keyed join —
    occurrence-linear, no self-join)."""
    toks = F.col(tokens) if tokens is not None else words_col(text)
    base = df.select(F.col(key), toks.alias("__t")).withColumn(
        "__s", F.expr("transform(__t, x -> cast(x as string))")
    )
    grams = F.when(
        F.size("__t") >= k,
        F.expr(
            f"transform(sequence(1, size(__s) - {k} + 1), "
            f"i -> md5(concat_ws(' ', slice(__s, i, {k}))))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    # occ feeds two plan branches (the gram-count agg and the join back);
    # without the persist each branch re-runs the full-corpus posexplode
    occ = scratch_persist(
        base.select(
            F.col(key), F.posexplode(grams).alias("__p0", "gram")
        ).select(F.col(key), (F.col("__p0") + 1).alias("pos"), "gram")
    )
    dup = (
        occ.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") >= min_df)
        .select("gram")
    )
    kept = occ.join(dup, "gram").select(F.col(key), "pos")
    return base, kept


def duplicate_spans(
    df: DataFrame,
    tokens: str | None = None,
    text: str = "text",
    key: str = "doc_id",
    k: int = 8,
    min_df: int = 2,
) -> DataFrame:
    """Substring-level duplication signals (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better": duplicated token spans of
    length >= k): for every doc, how many of its overlapping k-gram
    positions belong to a k-gram occurring >= min_df times in the WHOLE
    corpus (within-doc repeats count), and what fraction of its tokens is
    covered by the union of those spans.

    Works on a token array column (`tokens=`, any element type — elements
    are stringified before hashing) or on whitespace words of `text`.
    Returns (key, n_tok, n_dup_positions, covered_tok, dup_tok_frac);
    docs shorter than k tokens surface with zeros.

    Shape at scale: occurrence rows are doc-length-linear (one per
    position); the global gram count is one hash aggregation keyed by the
    md5 gram (uniform by construction), the dup filter joins back on the
    same key, and span-union coverage is a per-doc lead() window — covered
    = sum over kept positions of min(next_pos - pos, k), the closed form
    of interval union for equal-length spans. No self-join anywhere, so a
    gram duplicated a million times costs its occurrence rows, not the
    square of them.
    """
    base, kept = _dup_span_positions(df, tokens, text, key, k, min_df)
    n_tok = F.size("__t").cast("long")
    w = Window.partitionBy(key).orderBy("pos")
    spans = kept.withColumn(
        "__cspan",
        F.least(
            F.coalesce(F.lead("pos").over(w) - F.col("pos"), F.lit(k)),
            F.lit(k),
        ).cast("long"),
    )
    agg = spans.groupBy(key).agg(
        F.count(F.lit(1)).alias("n_dup_positions"),
        F.sum("__cspan").alias("covered_tok"),
    )
    return (
        base.select(F.col(key), n_tok.alias("n_tok"))
        .join(agg, key, "left")
        .na.fill({"n_dup_positions": 0, "covered_tok": 0})
        .select(
            F.col(key),
            "n_tok",
            "n_dup_positions",
            "covered_tok",
            F.when(
                F.col("n_tok") > 0,
                F.col("covered_tok") / F.col("n_tok").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_tok_frac"),
        )
    )


def remove_duplicate_spans(
    df: DataFrame,
    tokens: str | None = None,
    text: str = "text",
    key: str = "doc_id",
    k: int = 8,
    min_df: int = 2,
) -> DataFrame:
    """The actionable twin of duplicate_spans: REMOVE every token covered
    by a corpus-duplicated k-gram span and return the cleaned arrays —
    the apply step of Lee et al. 2021's substring dedup.

    Returns (key, tokens_clean, n_tok, n_tok_clean); tokens_clean keeps
    the input element type. Docs without duplicated spans pass their
    arrays through untouched (byte-identical — pinned by test).

    Span starts are merged into disjoint intervals per doc (one
    collect-sorted aggregation, then a linear fold over the sorted
    starts), so the final filter is exists()-over-intervals per token:
    O(n_tok * n_merged_intervals) JVM work per doc with
    n_merged_intervals <= distinct dup regions, never per-row Python.
    """
    base, kept = _dup_span_positions(df, tokens, text, key, k, min_df)
    starts = kept.groupBy(key).agg(
        F.sort_array(F.collect_list("pos")).alias("__starts")
    )
    # fold sorted starts into disjoint [b, e) intervals: a start within
    # the previous interval extends it (equal-length spans, so the new
    # end s + k always >= the previous end for sorted s)
    merged = F.expr(
        "aggregate(__starts, cast(array() as array<struct<b:int,e:int>>), "
        f"(acc, s) -> if(size(acc) > 0 AND s <= element_at(acc, -1).e, "
        f"  concat(slice(acc, 1, size(acc) - 1), "
        f"    array(named_struct('b', element_at(acc, -1).b, "
        f"                       'e', s + {k}))), "
        f"  concat(acc, array(named_struct('b', s, 'e', s + {k})))))"
    )
    out = (
        base.join(starts, key, "left")
        .withColumn("__iv", merged)
        .withColumn(
            "tokens_clean",
            F.when(F.col("__starts").isNull(), F.col("__t")).otherwise(
                F.expr(
                    "filter(__t, (x, i) -> NOT exists(__iv, "
                    "m -> m.b <= i + 1 AND i + 1 < m.e))"
                )
            ),
        )
    )
    return out.select(
        F.col(key),
        "tokens_clean",
        F.size("__t").cast("long").alias("n_tok"),
        F.size("tokens_clean").cast("long").alias("n_tok_clean"),
    )


def incremental_keep(
    batch_df: DataFrame,
    corpus_df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    k: int = 8,
    band_size: int = 2,
    n: int = 3,
    threshold: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """Admission decision for a NEW batch against an EXISTING corpus — the
    incremental-ingest shape (a daily crawl dump arriving after 100 TB is
    already curated; re-running whole-corpus dedup per dump is
    corpus-quadratic over time, admission is batch-linear). A batch doc is
    flagged:

      batch_dup — exact text-hash tie broken by min(key) WITHIN the batch;
      exact_dup — its text hash already exists in the corpus;
      near_dup  — it shares a MinHash band bucket with a corpus doc AND
                  exact shingle Jaccard vs that doc >= threshold
                  (candidates-then-verify, same two-tier plan as
                  near_dup_pairs);
      keep      — none of the above.

    Join shape: every join is batch-vs-corpus (band buckets, then
    doc-keyed verify), never corpus-vs-corpus; with |batch| << |corpus|
    the band join is broadcast-able on the batch side and the verify
    intermediate is linear in CANDIDATES. At scale the corpus legs
    (text hashes, signatures, shingle sizes) are the precomputed artifacts
    the dedup pipeline already persists — recomputed here from corpus_df
    for self-containment.

    max_bucket: corpus-side band-bucket guard, same rationale as
    lsh_candidate_pairs (boilerplate bucket -> pair explosion).
    """
    bh = batch_df.select(F.col(key), F.md5(F.col(text)).alias("__th"))
    # within-batch exact tie: min(key) per hash wins
    first = bh.groupBy("__th").agg(F.min(key).alias("__first"))
    bflag = bh.join(first, "__th").select(
        F.col(key), "__th", (F.col(key) != F.col("__first")).alias("batch_dup")
    )
    seen = (
        corpus_df.select(F.md5(F.col(text)).alias("__th"))
        .distinct()
        .withColumn("__seen", F.lit(True))
    )
    eflag = bflag.join(seen, "__th", "left").select(
        key, "batch_dup", F.coalesce("__seen", F.lit(False)).alias("exact_dup")
    )

    def _bands(frame, out_key):
        sig = minhash_signature(frame, text, key, k, n)
        cols = []
        for b in range(k // band_size):
            parts = [f"h{b * band_size + j}" for j in range(band_size)]
            cols.append(
                F.struct(
                    F.lit(b).alias("band"),
                    F.concat_ws("|", *parts).alias("bh"),
                )
            )
        return sig.select(
            F.col(key).alias(out_key), F.explode(F.array(*cols)).alias("bb")
        ).select(out_key, F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))

    nb = _bands(batch_df, "__nb")
    ob = _bands(corpus_df, "__ob")
    if max_bucket is not None:
        ok = (
            ob.groupBy("band", "bh")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") <= max_bucket)
            .select("band", "bh")
        )
        ob = ob.join(ok, ["band", "bh"], "left_semi")
    cand = nb.join(ob, ["band", "bh"]).select("__nb", "__ob").distinct()

    sh_b = scratch_persist(
        shingles(batch_df, text, n=n).select(F.col(key).alias("__nb"), "shingle")
    )
    sh_c = scratch_persist(
        shingles(corpus_df, text, n=n).select(F.col(key).alias("__ob"), "shingle")
    )
    sz_b = sh_b.groupBy("__nb").agg(F.count(F.lit(1)).alias("__na"))
    sz_c = sh_c.groupBy("__ob").agg(F.count(F.lit(1)).alias("__nb_sh"))
    common = (
        cand.join(sh_b, "__nb")
        .join(sh_c, ["__ob", "shingle"])
        .groupBy("__nb", "__ob")
        .agg(F.count(F.lit(1)).alias("__nc"))
    )
    near = (
        common.join(sz_b, "__nb")
        .join(sz_c, "__ob")
        .filter(
            F.col("__nc")
            / (F.col("__na") + F.col("__nb_sh") - F.col("__nc")).cast("double")
            >= threshold
        )
        .select(F.col("__nb").alias(key))
        .distinct()
        .withColumn("near_dup", F.lit(True))
    )
    return (
        eflag.join(near, key, "left")
        .select(
            key,
            "batch_dup",
            "exact_dup",
            F.coalesce("near_dup", F.lit(False)).alias("near_dup"),
        )
        .withColumn(
            "keep",
            ~F.col("batch_dup") & ~F.col("exact_dup") & ~F.col("near_dup"),
        )
    )


def dedup_impact_report(
    docs: DataFrame,
    keep_list: DataFrame,
    key: str = "doc_id",
    group: str = "source",
    words: Column | None = None,
) -> DataFrame:
    """Per-source dedup impact audit over a keep-list (dedup_keep_list
    output): how many documents sit in multi-doc near-dup clusters, how
    many are removed by the keep-min rule, and what fraction of the
    source's words that removal costs — the go/no-go report a curation
    run reads before committing a dedup pass (the measure-don't-guess
    companion to near_dup_verified).

    A cluster spanning two sources counts toward each source's
    n_clusters (the per-source view of shared content is the point —
    cross-source duplication is how contamination happens).

    Cross-engine determinism: every statistic is an exact long count or
    sum, divided once for the percentage.

    Shape at scale: one window over the component key on the keep-list
    frame (|docs| rows, cluster-size bounded by the pair generator's
    guards), one key join back to the (key, group, words) projection,
    one group rollup — nothing touches raw text except the word-count
    projection.

    Returns (group, n_docs, n_dup_docs, n_removed, n_clusters,
    max_cluster_size, words_total, words_removed, pct_words_removed)."""
    if words is None:
        words = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    sized = keep_list.withColumn(
        "__csize",
        F.count(F.lit(1)).over(Window.partitionBy("component")),
    )
    meta = docs.select(
        F.col(key), F.col(group), words.cast("long").alias("__nw")
    )
    j = sized.join(meta, key)
    dup = F.col("__csize") > 1
    removed = ~F.col("keep")
    return j.groupBy(group).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.coalesce(F.sum(F.when(dup, F.lit(1))), F.lit(0))
        .cast("long").alias("n_dup_docs"),
        F.coalesce(F.sum(F.when(removed, F.lit(1))), F.lit(0))
        .cast("long").alias("n_removed"),
        F.count_distinct(F.when(dup, F.col("component")))
        .cast("long").alias("n_clusters"),
        F.max("__csize").cast("long").alias("max_cluster_size"),
        F.sum("__nw").cast("long").alias("words_total"),
        F.coalesce(F.sum(F.when(removed, F.col("__nw"))), F.lit(0))
        .cast("long").alias("words_removed"),
    ).withColumn(
        "pct_words_removed",
        F.col("words_removed").cast("double")
        / F.col("words_total").cast("double"),
    )
