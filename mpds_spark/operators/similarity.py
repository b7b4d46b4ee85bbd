"""Similarity search over embedding columns (array<float>).

- cosine_topk: brute-force exact top-k — the correctness baseline. All
  arithmetic JVM-side (zip_with + aggregate in double), broadcast of the
  query set, so the big side streams: O(Q x N) with no shuffle of N.
- lsh_cosine_topk: sign-code bucketed variant (the scale path): vectors are
  partitioned by a b-bit hyperplane sign code; queries only scan their own
  bucket. With deterministic axis-aligned hyperplanes (components 0..b-1)
  the bucket assignment is engine-portable for the DuckDB oracle; swap in
  seeded random hyperplanes for production use (same plumbing).

Scale notes: brute force is a broadcast-nested-loop over the corpus — fine
for Q small; for Q x N both large, bucket both sides (lsh_cosine_topk) so
the join is an equi-join on the code, shuffling each side once.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _as_double(col: str) -> Column:
    return F.transform(F.col(col), lambda x: x.cast("double"))


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k cosine neighbors of each query among `vectors`
    (self-matches by id excluded). cos = dot/sqrt(aa)/sqrt(bb) in double."""
    # per-vector norms computed ONCE per side (not per Q x N pair);
    # (dot/nq)/nv keeps the float op order of dot/sqrt(qq)/sqrt(vv)
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("__v")
    ).withColumn("__nv", F.sqrt(_dot(F.col("__v"), F.col("__v"))))
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("__q")
    ).withColumn("__nq", F.sqrt(_dot(F.col("__q"), F.col("__q"))))
    j = v.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
    cos = _dot(F.col("__q"), F.col("__v")) / F.col("__nq") / F.col("__nv")
    scored = j.withColumn("cosine", cos).drop("__q", "__v", "__nq", "__nv")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_nn1_arrow(
    vectors: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact 1-NN cosine neighbor of each query among `vectors`
    (self-matches excluded, ties -> smallest neighbor id) — the same
    contract as cosine_topk(k=1), computed as a vectorized Arrow batch
    kernel (guide §4.2) instead of a per-pair JVM expression fold.

    The per-pair float sequence is IDENTICAL to cosine_topk's:
    d-ascending sequential fold for the dot and the squared norms
    (acc = acc + q_d*v_d elementwise per dim — NOT numpy's pairwise
    np.dot), then (dot/nq)/nv, so every cosine is bit-equal and the
    argmax/tie-break matches cosine_topk exactly.  The bounded query
    side is closure-captured (same distribution model as the broadcast
    join it replaces); the corpus streams through in batches, each
    emitting one best-candidate row per query, and a tiny per-query
    max(struct(cos, -id)) reduce combines batch partials."""
    q_rows = (
        queries.select(F.col(id_col), F.col(vec_col)).collect()
    )
    import numpy as np

    qids_l = [int(r[0]) for r in q_rows]
    qm_l = [list(r[1]) for r in q_rows]

    def gen(batches):
        import mpds_spark  # noqa: F401  installs the worker fix-ups
        import numpy as _n
        import pyarrow as pa

        qids = _n.asarray(qids_l, dtype=_n.int64)
        qm = _n.asarray(qm_l, dtype=_n.float64)
        nq = qm.shape[0]
        if nq:
            d_ = qm.shape[1]
            accq = _n.zeros(nq)
            for d in range(d_):
                accq = accq + qm[:, d] * qm[:, d]
            qn = _n.sqrt(accq)
        for b in batches:
            ids = _n.asarray(b.column(0), dtype=_n.int64)
            nb = len(ids)
            if nb == 0 or nq == 0:
                continue
            v = _n.asarray(
                b.column(1).flatten(), dtype=_n.float64
            ).reshape(nb, -1)
            acc = _n.zeros((nq, nb))
            accv = _n.zeros(nb)
            for d in range(v.shape[1]):
                acc = acc + _n.multiply.outer(qm[:, d], v[:, d])
                accv = accv + v[:, d] * v[:, d]
            vn = _n.sqrt(accv)
            cos = (acc / qn[:, None]) / vn[None, :]
            cos[qids[:, None] == ids[None, :]] = -_n.inf
            best = cos.max(axis=1)
            bid = _n.where(
                cos == best[:, None],
                ids[None, :],
                _n.iinfo(_n.int64).max,
            ).min(axis=1)
            keep = ~_n.isneginf(best)
            yield pa.record_batch(
                [
                    pa.array(qids[keep]),
                    pa.array(bid[keep]),
                    pa.array(best[keep]),
                ],
                names=["query_id", "neighbor_id", "cosine"],
            )

    part = vectors.select(
        F.col(id_col), F.col(vec_col)
    ).mapInArrow(
        gen, f"query_id long, neighbor_id long, cosine double"
    )
    best = part.groupBy("query_id").agg(
        F.max(
            F.struct(
                F.col("cosine"),
                (-F.col("neighbor_id")).alias("__ni"),
            )
        ).alias("__b")
    )
    return best.select(
        "query_id",
        (-F.col("__b.__ni")).alias("neighbor_id"),
        F.col("__b.cosine").alias("cosine"),
        F.lit(1).alias("rank"),
    )


def sign_code(col: str, bits: int = 4, offset: int = 0) -> Column:
    """Deterministic b-bit bucket: sign bits of components offset+1..offset+b.
    Axis-aligned — engine-portable (DuckDB oracle twin), but a weak hash
    for real embeddings whose energy concentrates in few axes; production
    path is random_hyperplane_code. offset selects a disjoint component
    window, giving INDEPENDENT oracle-portable code tables for the
    multi-table banding construction."""
    code = F.lit(0)
    for i in range(bits):
        code = code + F.when(
            F.element_at(F.col(col), offset + i + 1) > 0, F.lit(1 << i)
        ).otherwise(F.lit(0))
    return code.cast("int")


def random_hyperplane_code(
    col: str, bits: int, dim: int, seed: int = 42
) -> Column:
    """Production LSH bucket: b-bit sign code against seeded random Gaussian
    hyperplanes (the classic SRP / sim-hash for cosine). The planes are
    generated driver-side (numpy, deterministic by seed) and embedded as
    array literals, so the per-row dot products stay JVM-side (zip_with +
    aggregate) — no Python in the hot path, and the same seed gives the
    same buckets on any cluster layout."""
    import numpy as np

    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((bits, dim))
    code = F.lit(0)
    for i in range(bits):
        plane = F.array(*[F.lit(float(x)) for x in planes[i]])
        # no separate cast pass: zip_with's x * y promotes float -> double
        # per element (exact), so each bit costs ONE array traversal — a
        # hoisted transform(cast) column would be re-evaluated per bit
        # anyway (Spark does not CSE lambda-bearing higher-order functions)
        d = _dot(F.col(col), plane)
        code = code + F.when(d > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return code.cast("int")


def _probe_codes(code: Column, bits: int, n_probes: int) -> Column:
    """Multiprobe set: the code itself plus the n_probes codes at Hamming
    distance 1 (one bucket boundary flipped). Recall rises steeply with a
    few probes because near-misses usually differ in exactly one sign."""
    probes = [code]
    for i in range(min(n_probes, bits)):
        probes.append(code.bitwiseXOR(F.lit(1 << i)))
    return F.array(*probes)


def lsh_cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 3,
    bits: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    code_fn=None,
    n_probes: int = 0,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign-code
    bucket — an equi-join on the code instead of a cross join.

    code_fn: column factory (vec_col, bits) -> Column; defaults to the
    axis-aligned sign_code (oracle-portable). Pass
    lambda c, b: random_hyperplane_code(c, b, dim, seed) for production.
    n_probes: additionally probe that many Hamming-1 neighbor buckets of
    each QUERY's code (vectors stay single-bucket, so the corpus is still
    scanned once; only the small query side fans out)."""
    if code_fn is None:
        code_fn = sign_code
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(vec_col).alias("__v"),
        code_fn(vec_col, bits).alias("__code"),
    ).withColumn("__nv", F.sqrt(_dot(F.col("__v"), F.col("__v"))))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(vec_col).alias("__q"),
        code_fn(vec_col, bits).alias("__qcode"),
    ).withColumn("__nq", F.sqrt(_dot(F.col("__q"), F.col("__q"))))
    if n_probes > 0:
        q = q.withColumn(
            "__code", F.explode(_probe_codes(F.col("__qcode"), bits, n_probes))
        ).drop("__qcode")
    else:
        q = q.withColumnRenamed("__qcode", "__code")
    j = v.join(F.broadcast(q), "__code").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    # per-vector norms precomputed above (see cosine_topk)
    cos = _dot(F.col("__q"), F.col("__v")) / F.col("__nq") / F.col("__nv")
    scored = j.withColumn("cosine", cos).drop(
        "__q", "__v", "__code", "__nq", "__nv"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def banded_code_candidates(
    vectors: DataFrame,
    code_cols: list[Column],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Candidate pairs agreeing on >= 1 of K independent code tables — the
    standard banding construction that recovers recall as `bits` grows with
    the corpus. One explode into (table, code) rows + ONE equi-join on
    (table, code) + a distinct replaces K separate joins; duplicates across
    tables are deduped BEFORE the (more expensive) cosine verify.

    Recall math: a pair at angle θ agrees on one b-bit table with
    p = (1 - θ/π)^b, and on >= 1 of K tables with 1 - (1-p)^K — so K
    recovers what larger b (needed to keep buckets small at corpus scale)
    costs. Candidate volume stays O(K * Σ bucket²)."""
    tables = F.array(
        *[
            F.struct(F.lit(i).alias("t"), c.alias("code"))
            for i, c in enumerate(code_cols)
        ]
    )
    base = vectors.select(
        F.col(id_col).alias("k"), F.explode(tables).alias("tc")
    ).select("k", F.col("tc.t").alias("t"), F.col("tc.code").alias("code"))
    a = base.select(F.col("k").alias("vec_a"), "t", "code")
    b = base.select(F.col("k").alias("vec_b"), "t", "code")
    return (
        a.join(b, ["t", "code"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )


def embedding_near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.9,
    bits: int | str = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    code_fn=None,
    seeds: list[int] | None = None,
    dim: int | None = None,
    code_cols: list[Column] | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (dedup framing of ANN): all pairs
    sharing a code bucket (in >= 1 of K code tables) with cosine >= threshold.

    Same two-tier shape as the text near-dup path: the bucket equi-join is
    the candidate generator, the exact cosine is the verify. The join is
    quadratic WITHIN each bucket — candidates ~ n^2 / 2^bits for balanced
    buckets — so `bits` must scale with the corpus: bits="auto" derives
    max(4, ceil(log2(n_docs)) + 2), keeping the expected bucket size ~1/4
    constant per doc. auto is explicit OPT-IN because it needs a count()
    action; the plan stays action-free with an integer bits. The default
    bits=4 suits the small oracle fixture, NOT a 10^9-doc corpus.

    Recall at higher bits is recovered with K independent code tables
    (banded union — see banded_code_candidates): pass seeds=[s1..sK] for
    seeded random-hyperplane tables (production; recall pytest-gated vs
    brute force), or code_cols=[...] for explicit tables (e.g. axis-aligned
    sign_code at disjoint offsets — the oracle-portable twin). Single-table
    default keeps the original plan (axis-aligned sign_code, DuckDB twin).
    """
    if bits == "auto":
        n_docs = vectors.count()
        import math

        bits = max(4, math.ceil(math.log2(max(n_docs, 2))) + 2)
    if seeds is not None and code_cols is None:
        if dim is None:
            dim = vectors.select(F.size(vec_col).alias("d")).first()["d"]
        code_cols = [
            random_hyperplane_code(vec_col, bits, dim, seed=s) for s in seeds
        ]
    # norms are PER-VECTOR quantities: compute sqrt(dot(v,v)) once per
    # vector and carry the scalar through the pair join, instead of two
    # extra array dots per CANDIDATE PAIR (3x the array work on the
    # quadratic-within-bucket candidate set). (dot/na)/nb keeps the exact
    # float op order of dot/sqrt(aa)/sqrt(bb) — cosines stay bit-equal.
    cos = (
        _dot(F.col("__va"), F.col("__vb")) / F.col("__na") / F.col("__nb")
    )
    if code_cols is not None:
        cand = banded_code_candidates(vectors, code_cols, vec_col, id_col)
        norm = F.sqrt(_dot(F.col("__v"), F.col("__v")))
        va = vectors.select(
            F.col(id_col).alias("vec_a"), _as_double(vec_col).alias("__v")
        ).select("vec_a", F.col("__v").alias("__va"), norm.alias("__na"))
        vb = vectors.select(
            F.col(id_col).alias("vec_b"), _as_double(vec_col).alias("__v")
        ).select("vec_b", F.col("__v").alias("__vb"), norm.alias("__nb"))
        return (
            cand.join(va, "vec_a")
            .join(vb, "vec_b")
            .withColumn("cosine", cos)
            .filter(F.col("cosine") >= threshold)
            .select("vec_a", "vec_b", "cosine")
        )
    if code_fn is None:
        code_fn = sign_code
    base = vectors.select(
        F.col(id_col).alias("k"),
        _as_double(vec_col).alias("__v"),
        code_fn(vec_col, bits).alias("__code"),
    ).select(
        "k",
        "__v",
        "__code",
        F.sqrt(_dot(F.col("__v"), F.col("__v"))).alias("__n"),
    )
    a = base.select(
        F.col("k").alias("vec_a"),
        F.col("__v").alias("__va"),
        F.col("__n").alias("__na"),
        "__code",
    )
    b = base.select(
        F.col("k").alias("vec_b"),
        F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"),
        "__code",
    )
    return (
        a.join(b, "__code")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
    )


# ---------------------------------------------------------------- IVF

def kmeans_centroids(
    vectors: DataFrame,
    n_centroids: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_size: int = 100_000,
    max_iter: int = 10,
    seed: int = 42,
    max_sample: int = 1_000_000,
):
    """Deterministic spherical k-means centroids for IVF, as a (k, dim)
    numpy array.

    Lloyd iterations run driver-side on a DETERMINISTIC content-hash
    sample (crc32(id) ordering — layout-independent): the centroid set is
    O(k*dim) and the sample O(sample_size*dim), both tiny next to the
    corpus, while assignment (the O(n) part) stays distributed in
    ivf_assign. This is the same split MLlib's KMeans ends at — the model
    it ships back IS a driver-resident centroid matrix. Vectors are
    L2-normalized so nearest-centroid-by-dot == nearest-by-cosine.

    Driver-sample contract (VERDICT r3 ask #6): the fit collects
    sample_size vectors ≈ sample_size * dim * 8 bytes of driver heap
    (100k × 768-d ≈ 0.6 GB) — size it as ~100-1000 points per centroid,
    NOT as a fraction of the corpus; the quantization error of k-means
    saturates once the sample covers the density modes. sample_size >
    max_sample raises (no silent clamp), so a caller at 10^9 vectors
    cannot accidentally request a corpus-fraction collect — raising
    max_sample is the explicit, visible escape hatch."""
    import numpy as np

    if sample_size > max_sample:
        raise ValueError(
            f"kmeans_centroids: sample_size={sample_size} exceeds "
            f"max_sample={max_sample}; the sample is collected to the "
            "driver (~sample_size*dim*8 bytes). Raise max_sample "
            "explicitly if you really want a larger driver-side fit."
        )

    sample = (
        vectors.select(F.col(id_col).alias("k"), _as_double(vec_col).alias("v"))
        .orderBy(F.crc32(F.col("k").cast("string")), F.col("k"))
        .limit(sample_size)
        .toPandas()
    )
    X = np.stack(sample["v"].to_numpy())
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    k = min(n_centroids, len(X))
    C = X[rng.choice(len(X), size=k, replace=False)]
    for _ in range(max_iter):
        # spherical Lloyd step: assign by max dot, re-mean, re-normalize
        assign = np.argmax(X @ C.T, axis=1)
        for j in range(k):
            m = assign == j
            if m.any():
                c = X[m].mean(axis=0)
                C[j] = c / max(np.linalg.norm(c), 1e-12)
    return C


def nearest_centroids_col(
    vec_col: str, centroids, n_probe: int = 1
) -> Column:
    """Array of the n_probe centroid ids with the highest cosine to the
    row's vector (ties broken by LOWER centroid id). Pure JVM expression:
    the centroid matrix is embedded as array literals (O(k*dim) plan
    bytes), scored with zip_with/aggregate dots, ranked with array_sort on
    (-cos, id) structs — no Python in the per-row path."""
    import math

    import numpy as np

    C = np.asarray(centroids, dtype=float)
    # sequential-sum norms: sqrt of a left-to-right accumulation — the
    # same double result as a JVM aggregate() or DuckDB list_dot_product
    # over the identical literals (BLAS norms can differ by 1 ulp and flip
    # a tie in the oracle comparison)
    norms = np.array(
        [math.sqrt(sum(float(x) * float(x) for x in row)) for row in C]
    )
    scored = F.array(
        *[
            F.struct(
                (
                    -_dot(
                        F.transform(F.col(vec_col), lambda x: x.cast("double")),
                        F.array(*[F.lit(float(x)) for x in C[j]]),
                    )
                    / float(max(norms[j], 1e-300))
                ).alias("negcos"),
                F.lit(j).alias("cid"),
            )
            for j in range(len(C))
        ]
    )
    return F.slice(F.array_sort(scored), 1, n_probe).getField("cid")


def ivf_cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    centroids,
    k: int = 3,
    n_probe: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF approximate top-k: vectors live in ONE inverted list (their
    nearest centroid); each query probes its n_probe nearest lists. The
    probe join is an equi-join on centroid id — the corpus shuffles once
    by list id regardless of query count, and raising n_probe trades
    recall for scanned-list volume (the classic IVF knob).

    centroids: (k, dim) array-like — kmeans_centroids() output, or any
    deterministic centroid set (e.g. seed vectors) for engine-portable
    tests. Scoring reuses the precomputed-norm cosine of cosine_topk."""
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(vec_col).alias("__v"),
        F.element_at(nearest_centroids_col(vec_col, centroids, 1), 1).alias(
            "__list"
        ),
    ).withColumn("__nv", F.sqrt(_dot(F.col("__v"), F.col("__v"))))
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            _as_double(vec_col).alias("__q"),
            nearest_centroids_col(vec_col, centroids, n_probe).alias("__probes"),
        )
        .withColumn("__nq", F.sqrt(_dot(F.col("__q"), F.col("__q"))))
        .withColumn("__list", F.explode("__probes"))
        .drop("__probes")
    )
    j = v.join(F.broadcast(q), "__list").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    cos = _dot(F.col("__q"), F.col("__v")) / F.col("__nq") / F.col("__nv")
    scored = j.withColumn("cosine", cos).drop(
        "__q", "__v", "__list", "__nq", "__nv"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# ------------------------------------------------------- centroid outliers

def centroid_outlier_scores(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    group: str = "label",
) -> DataFrame:
    """Embedding-space outlier scoring against per-group centroids — the
    curation signal behind SemDeDup-style semantic pruning (Abbas et al.
    2023) and cluster-based quality filtering: cosine of every vector to
    the MEAN vector of its group (label / source / cluster); low cosine =
    far from its group's mass = candidate outlier or mislabel.

    Two-pass, explosion-free scoring: pass 1 fits centroids distributed
    (posexplode -> (group, pos) mean — the only place the dim-fold
    expansion exists, and it collapses map-side into |groups|*dim partial
    sums); pass 2 reassembles each centroid as an array row (tiny frame),
    broadcast-joins it on `group`, and computes the cosine JVM-side with
    zip_with/aggregate — the corpus itself is never exploded for scoring
    and never shuffles. Returns (id, group, centroid_cos)."""
    e = df.select(
        F.col(group), F.posexplode(_as_double(vec_col)).alias("pos", "x")
    )
    cent = (
        e.groupBy(group, "pos")
        .agg(F.avg("x").alias("cx"))
        .groupBy(group)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "cx"))
            ).alias("__pc")
        )
        .select(
            F.col(group),
            F.expr("transform(__pc, s -> s.cx)").alias("__c"),
        )
    )
    v = df.select(
        F.col(id_col), F.col(group), _as_double(vec_col).alias("__v")
    ).join(F.broadcast(cent), group)
    dot = _dot(F.col("__v"), F.col("__c"))
    nv = F.sqrt(_dot(F.col("__v"), F.col("__v")))
    nc = F.sqrt(_dot(F.col("__c"), F.col("__c")))
    return v.select(
        F.col(id_col),
        F.col(group),
        (dot / (nv * nc)).alias("centroid_cos"),
    )


def semdedup_keep(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_clusters: int = 8,
    threshold: float = 0.35,
    centroids=None,
) -> DataFrame:
    """SemDeDup keep-list (Abbas et al. 2023): assign every vector to its
    nearest centroid by cosine, then within each cluster drop every vector
    that has a near-duplicate with a SMALLER id at cosine >= threshold
    (keep-min-id — the dedup-family convention). Complements
    centroid_outlier_scores (which only SCORES); this emits the pruning
    decision itself. centroids=None uses the n_clusters lowest-id vectors
    as deterministic stand-in centroids (oracle-expressible fixture);
    production passes kmeans_centroids(...) output — the plan is
    identical.

    Returns (id, cluster, max_cos_prev, keep): max_cos_prev is the max
    cosine against any smaller-id cluster-mate (NULL for each cluster's
    lowest id), keep = max_cos_prev < threshold (null-safe true).

    Shape at scale: assignment is a pure map over broadcast centroid
    literals (nearest_centroids_col — no join); pairing is confined
    WITHIN clusters via one cluster-keyed self-join, and in the SemDeDup
    recipe cluster COUNT grows with the corpus so per-cluster size stays
    bounded — the pair stage is sum(|cluster|^2), not |corpus|^2. The
    per-vector reduction is a (id)-keyed max, no window."""
    from mpds_spark.operators.util import scratch_persist

    if centroids is None:
        rows = (
            df.select(id_col, vec_col)
            .orderBy(id_col)
            .limit(n_clusters)
            .collect()
        )
        centroids = [[float(x) for x in r[vec_col]] for r in rows]
    v = scratch_persist(
        df.select(F.col(id_col), _as_double(vec_col).alias("__v"))
        .withColumn(
            "cluster",
            F.element_at(
                nearest_centroids_col("__v", centroids, 1), 1
            ).cast("long"),
        )
        .withColumn("__n", F.sqrt(_dot(F.col("__v"), F.col("__v"))))
    )
    a = v.select(
        "cluster",
        F.col(id_col).alias("__ia"),
        F.col("__v").alias("__va"),
        F.col("__n").alias("__na"),
    )
    b = v.select(
        "cluster",
        F.col(id_col).alias("__ib"),
        F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"),
    )
    cos = _dot(F.col("__va"), F.col("__vb")) / F.col("__na") / F.col("__nb")
    prev = (
        a.join(b, "cluster")
        .filter(F.col("__ia") < F.col("__ib"))
        .select(F.col("__ib"), cos.alias("__c"))
        .groupBy("__ib")
        .agg(F.max("__c").alias("max_cos_prev"))
    )
    return (
        v.select(id_col, "cluster")
        .join(prev, F.col(id_col) == F.col("__ib"), "left")
        .select(
            id_col,
            "cluster",
            "max_cos_prev",
            F.coalesce(
                F.col("max_cos_prev") < threshold, F.lit(True)
            ).alias("keep"),
        )
    )


def ann_recall_audit(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 3,
    bits: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Recall@k of the LSH-bucketed ANN path against the exact brute-force
    top-k, per query — the measure-don't-guess audit a curator runs before
    trusting an approximate index at scale (recall is data-dependent; a
    code table that worked on one corpus can silently degrade on the
    next). Returns (query_id, n_exact, n_lsh, n_hit, recall) where
    recall = n_hit / k.

    Shape at scale: both legs reuse the shipped operators (broadcast
    query side); the audit join is (query, neighbor)-keyed over Q*k rows —
    negligible next to the searches themselves. Run it on a sampled query
    set, not the full corpus."""
    ex = cosine_topk(vectors, queries, k=k, vec_col=vec_col, id_col=id_col)
    ap = lsh_cosine_topk(
        vectors, queries, k=k, bits=bits, vec_col=vec_col, id_col=id_col
    )
    hits = ex.select("query_id", "neighbor_id").join(
        ap.select("query_id", "neighbor_id").withColumn("__hit", F.lit(1)),
        ["query_id", "neighbor_id"],
        "left",
    )
    per_q = hits.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact"),
        F.sum(F.coalesce("__hit", F.lit(0))).cast("long").alias("n_hit"),
    )
    n_lsh = ap.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_lsh")
    )
    return (
        per_q.join(n_lsh, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce("n_lsh", F.lit(0)).cast("long").alias("n_lsh"),
            "n_hit",
            (F.col("n_hit") / float(k)).alias("recall"),
        )
    )


def quantized_recall(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """INT8 quantization recall audit — the measurement a vector store
    makes before switching its index to quantized codes (Jégou et al.
    2011 product-quantization lineage, reduced to the scalar-quantizer
    case): L2-normalize, q = round(127 * x/||x||) per component, rank
    by EXACT integer dot product of the int8 codes, and report
    recall@k against the exact float cosine top-k per query.

    Determinism: quantization is the engine's floor-based half-away
    rounding of deterministic doubles; every quantized score is an
    exact integer (|q| <= 127, so a 64-dim dot < 2^21 — exact in any
    engine, summation-order-free); both rankings tie-break by neighbor
    id; recall counts are exact longs over the top-k set intersection.

    Shape at scale: both legs are the documented broadcast-query
    brute baseline (registered; the at-scale path is IVF/LSH over the
    same codes); the intersection is a (query, neighbor) equi-join of
    two k-row-per-query frames.

    Returns (query_id, n_overlap, recall)."""
    exact = cosine_topk(vectors, queries, k=k, vec_col=vec_col,
                        id_col=id_col)

    def quant(df, out_id):
        d = df.select(
            F.col(id_col).alias(out_id), _as_double(vec_col).alias("__v")
        ).withColumn(
            "__n", F.sqrt(_dot(F.col("__v"), F.col("__v")))
        )
        return d.select(
            out_id,
            F.expr(
                "transform(__v, x -> cast(floor(abs(127.0D * x / __n)"
                " + 0.5D) * sign(x) as bigint))"
            ).alias("__q"),
        )

    qv = quant(vectors, "neighbor_id")
    qq = quant(queries, "query_id")
    j = qv.join(
        F.broadcast(qq.withColumnRenamed("__q", "__qq")),
        F.col("query_id") != F.col("neighbor_id"),
    )
    score = F.expr(
        "aggregate(zip_with(__q, __qq, (a, b) -> a * b), 0L, "
        "(acc, x) -> acc + x)"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__s").desc(), F.col("neighbor_id")
    )
    qtop = (
        j.withColumn("__s", score)
        .withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= k)
        .select("query_id", "neighbor_id")
    )
    ov = exact.select("query_id", "neighbor_id").join(
        qtop, ["query_id", "neighbor_id"]
    ).groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_overlap")
    )
    base = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("__k")
    )
    z = F.lit(0).cast("long")
    return base.join(ov, "query_id", "left").select(
        "query_id",
        F.coalesce("n_overlap", z).alias("n_overlap"),
        (
            F.coalesce("n_overlap", z).cast("double")
            / F.col("__k").cast("double")
        ).alias("recall"),
    )


def kcenter_coreset(
    vectors: DataFrame,
    k: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez 1985; Sener &
    Savarese ICLR 2018 for training-data selection): seed with the
    smallest id, then repeatedly add the point FARTHEST (max cosine
    distance 1 - cos to its nearest chosen center) from the current
    set, ties to the smallest id — the 2-approximation cover that
    picks maximally diverse exemplars for labeling/distillation
    budgets.

    Determinism: distances are the engine's exact-deterministic cosine
    (dot/sqrt/sqrt over once-cast doubles); the per-round argmax
    tie-breaks by id; the selection is a pure function of the table.

    Shape at scale: k-1 bounded driver rounds (the sanctioned fit
    idiom — each round collects ONE row), each ONE corpus scan
    against the <= k broadcast chosen centers; the scan re-derives
    min-distance-to-chosen per point. O(k * n) total distance
    evaluations, never an n x n matrix.

    Returns (round, vec_id, dist_to_chosen) — round 0 is the seed with
    distance NULL, round i the i-th added center with its selection
    distance."""
    import math

    from mpds_spark.operators.util import scratch_persist

    # persisted: the normed frame is scanned 2x per greedy round (the
    # corpus side + the chosen-center lookup) plus the seed probe —
    # ~2k-1 lineage recomputes of the cast+norm scan without it (r6)
    v = scratch_persist(
        vectors.select(
            F.col(id_col).alias("__id"), _as_double(vec_col).alias("__v")
        ).withColumn("__n", F.sqrt(_dot(F.col("__v"), F.col("__v"))))
    )
    seed = v.select(F.min("__id").alias("m")).collect()[0]["m"]
    chosen = [(0, seed, None)]
    for r in range(1, int(k)):
        ids = [c[1] for c in chosen]
        cen = v.filter(F.col("__id").isin(ids)).select(
            F.col("__id").alias("__cid"),
            F.col("__v").alias("__cv"),
            F.col("__n").alias("__cn"),
        )
        j = v.join(F.broadcast(cen), F.col("__id") != F.col("__cid"))
        dist = F.lit(1.0) - (
            _dot(F.col("__v"), F.col("__cv"))
            / F.col("__n") / F.col("__cn")
        )
        far = (
            j.filter(~F.col("__id").isin(ids))
            .groupBy("__id")
            .agg(F.min(dist).alias("__d"))
            .orderBy(F.desc("__d"), "__id")
            .limit(1)
            .collect()[0]
        )
        chosen.append((r, far["__id"], float(far["__d"])))
    spark = vectors.sparkSession
    return spark.createDataFrame(
        [(r, i, d) for r, i, d in chosen],
        "round INT, vec_id BIGINT, dist_to_chosen DOUBLE",
    ).select(
        F.col("round").cast("long").alias("round"),
        "vec_id",
        "dist_to_chosen",
    )


def knn_shapley(
    train: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """KNN-Shapley data valuation (Jia et al., VLDB 2019, "Efficient
    task-specific data valuation for nearest neighbor algorithms"):
    for a K-NN classifier the EXACT Shapley value of every training
    point — normally a 2^N coalition sum — collapses to one sorted
    sweep per test point (their Theorem 1). With training points
    ranked by similarity to the test point (rank 1 nearest, y = test
    label, I_j = 1[y_j = y]):

        s_N = I_N / N
        s_j = s_{j+1} + (I_j - I_{j+1}) / K * min(K, j) / j

    so the per-rank increment d_j = s_j - s_{j+1} depends only on the
    two adjacent label indicators, and s_j = I_N/N + suffix_sum(d)_j.
    This is THE training-data-attribution primitive that scales: which
    corpus rows actually help the eval set, per-point, exactly.

    Determinism: neighbors are ranked by the EXACT INT8 integer dot
    product of round(127 * x/||x||) codes (the quantized_recall
    construction — |q| <= 127 keeps a 64-dim dot < 2^21, so the score
    is an order-free exact integer in any engine), ties to the
    smaller train id; the suffix sum is a running window in rank-DESC
    order, sequential and identically ordered in both engines; the
    cross-query mean is the one unordered float reduction (callers
    round it).

    Shape at scale: queries broadcast against one corpus scan (the
    registered brute-force Q x N leg — the at-scale path ranks inside
    IVF/LSH buckets with the same codes); ranking + both windows share
    ONE query-keyed exchange; the per-train mean is the second.

    Returns (train_id, n_queries, mean_shapley) — one row per
    training point, mean taken over all test points.
    """
    def quant(df, out_id, out_lab):
        d = df.select(
            F.col(id_col).alias(out_id),
            F.col(label_col).alias(out_lab),
            _as_double(vec_col).alias("__v"),
        ).withColumn("__n", F.sqrt(_dot(F.col("__v"), F.col("__v"))))
        return d.select(
            out_id,
            out_lab,
            F.expr(
                "transform(__v, x -> cast(floor(abs(127.0D * x / __n)"
                " + 0.5D) * sign(x) as bigint))"
            ).alias("__q"),
        )

    tr = quant(train, "train_id", "__tl")
    qq = quant(queries, "query_id", "__ql").withColumnRenamed(
        "__q", "__qq"
    )
    j = tr.join(
        F.broadcast(qq), F.col("query_id") != F.col("train_id")
    )
    score = F.expr(
        "aggregate(zip_with(__q, __qq, (a, b) -> a * b), 0L, "
        "(acc, x) -> acc + x)"
    )
    j = j.select(
        "train_id",
        "query_id",
        score.alias("__s"),
        F.when(F.col("__tl") == F.col("__ql"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("__i"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__s").desc(), F.col("train_id")
    )
    wfull = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    r = (
        j.withColumn("__rank", F.row_number().over(w))
        .withColumn("__inext", F.lead("__i").over(w))
        .withColumn("__nn", F.count(F.lit(1)).over(wfull))
        .withColumn("__ilast", F.last("__i").over(wfull))
    )
    d = F.when(
        F.col("__rank") < F.col("__nn"),
        ((F.col("__i") - F.col("__inext"))
         * F.least(F.lit(k), F.col("__rank"))).cast("double")
        / (F.lit(k) * F.col("__rank")).cast("double"),
    ).otherwise(F.lit(0.0))
    wdesc = Window.partitionBy("query_id").orderBy(
        F.col("__rank").desc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    r = r.withColumn("__d", d).withColumn(
        "__shap",
        F.col("__ilast").cast("double") / F.col("__nn").cast("double")
        + F.sum("__d").over(wdesc),
    )
    return r.groupBy("train_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.avg("__shap").alias("mean_shapley"),
    )


def silhouette_cosine(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Per-point silhouette coefficient (Rousseeuw 1987, "Silhouettes: a
    graphical aid to the interpretation and validation of cluster
    analysis") under mean-cosine dissimilarity — the cluster-quality
    audit a labeled embedding corpus wants before trusting the labels
    for curation (SemDeDup buckets, stratified mixing, kNN evals).

    The O(n^2) pairwise definition collapses to O(n * L) because mean
    cosine dissimilarity is LINEAR in the other vector: with unit-ish
    int8 codes q = round(127 * x/||x||) and K = 127^2,

        mean_{y in C} (1 - dot(q_x, q_y)/K) = 1 - dot(q_x, S_C)/(|C| K)

    where S_C = component-wise SUM of member codes. So one corpus agg
    builds the L x dim exact-integer sum table, the (bounded, L-row)
    fit collects it, and a single shuffle-free map scan scores every
    point: a(i) excludes the self term via dot(q, q); b(i) is the min
    over the other labels. Every dot is an exact long (|q| <= 127,
    64-dim sums < 2^53), so a, b and s = (b-a)/max(a,b) are single
    IEEE divisions of exact integers — cross-engine deterministic with
    no rounding. Singleton clusters take the standard s = 0 convention
    (a undefined -> NULL).

    Shape at scale: the sum table is L x dim longs (an agg with
    map-side combine — one exchange); the apply is a pure map stage.
    For very large L, prune candidate labels per point with the IVF /
    LSH scorers over the same codes before the exact min.
    """
    K = 127 * 127
    d = df.select(
        F.col(id_col),
        F.col(label_col),
        _as_double(vec_col).alias("__v"),
    ).withColumn("__n", F.sqrt(_dot(F.col("__v"), F.col("__v"))))
    q = d.select(
        id_col,
        label_col,
        F.expr(
            "transform(__v, x -> cast(floor(abs(127.0D * x / __n)"
            " + 0.5D) * sign(x) as bigint))"
        ).alias("__q"),
    )
    dim = len(q.select("__q").first()["__q"])
    sums = (
        q.groupBy(label_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("__cnt"),
            *[
                F.sum(F.col("__q")[i]).cast("long").alias(f"__s{i}")
                for i in range(dim)
            ],
        )
        .collect()
    )
    fit = sorted(
        (
            r[label_col],
            int(r["__cnt"]),
            [int(r[f"__s{i}"]) for i in range(dim)],
        )
        for r in sums
    )
    selfdot = F.expr(
        "aggregate(zip_with(__q, __q, (a, b) -> a * b), 0L,"
        " (acc, x) -> acc + x)"
    )
    out = q.withColumn("__sd", selfdot)
    a_expr = F.lit(None).cast("double")
    b_parts = []
    for lab, n, svec in fit:
        lit_s = F.array(*[F.lit(v).cast("long") for v in svec])
        dot = F.aggregate(
            F.zip_with(F.col("__q"), lit_s, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        if n > 1:
            a_here = (
                (F.lit((n - 1) * K) - (dot - F.col("__sd")))
                .cast("double")
                / F.lit(float((n - 1) * K))
            )
        else:
            a_here = F.lit(None).cast("double")
        a_expr = F.when(F.col(label_col) == F.lit(lab), a_here).otherwise(
            a_expr
        )
        b_parts.append(
            F.when(
                F.col(label_col) != F.lit(lab),
                (F.lit(n * K) - dot).cast("double") / F.lit(float(n * K)),
            )
        )
    b_expr = F.least(*b_parts) if len(b_parts) > 1 else b_parts[0]
    out = out.withColumn("__a", a_expr).withColumn("__b", b_expr)
    sil = F.when(F.col("__a").isNull(), F.lit(0.0)).otherwise(
        (F.col("__b") - F.col("__a"))
        / F.greatest(F.col("__a"), F.col("__b"))
    )
    return out.select(
        F.col(id_col),
        F.col(label_col),
        F.col("__a").alias("a_intra"),
        F.col("__b").alias("b_inter"),
        sil.alias("silhouette"),
    )
