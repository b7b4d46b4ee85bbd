"""Dedup operator tests: max_df shingle cut, candidates→verify near-dup,
64-bit SimHash + banded Hamming near-dups.

Semantics parity targets are the classic training-data-dedup algorithms
(MinHash-LSH banding, SimHash pigeonhole bands); the documents-table oracle
queries in mpds_spark/queries.py are the value-exact DuckDB twins — these
tests cover the algebraic properties the SQL twins can't (subset relations,
pigeonhole guarantees, DF-cap behavior).
"""

import pytest

from mpds_spark.operators.dedup import (
    near_dup_pairs,
    ngram_jaccard_pairs,
    shingles,
    simhash64,
    simhash_near_dups,
)

DOCS = [
    # two near-identical docs (one word differs), one unrelated, one exact dup
    ("d1", "the quick brown fox jumps over the lazy dog again and again ok"),
    ("d2", "the quick brown fox jumps over the lazy cat again and again ok"),
    ("d3", "completely different content about spark window aggregation"),
    ("d4", "the quick brown fox jumps over the lazy dog again and again ok"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_max_df_drops_hot_shingles(spark, docs_df):
    full = shingles(docs_df)
    capped = shingles(docs_df, max_df=2)
    # 'the quick brown' appears in d1, d2, d4 (df=3) -> dropped at max_df=2
    hot = {r.shingle for r in full.select("shingle").distinct().collect()}
    kept = {r.shingle for r in capped.select("shingle").distinct().collect()}
    assert "the quick brown" in hot
    assert "the quick brown" not in kept
    # everything kept has df <= 2, and nothing outside the original set
    assert kept < hot


def test_max_df_jaccard_consistent_sizes(spark, docs_df):
    # sizes are computed over the SAME filtered universe as the intersection:
    # jaccard of the exact-dup pair must still be 1.0 under any max_df
    out = ngram_jaccard_pairs(docs_df, threshold=0.0, max_df=2).collect()
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in out}
    assert pairs[("d1", "d4")] == 1.0


def test_near_dup_verified_subset_of_exact(spark, docs_df):
    exact = {
        (r.doc_a, r.doc_b): (r.n_common, round(r.jaccard, 9))
        for r in ngram_jaccard_pairs(docs_df, threshold=0.3).collect()
    }
    verified = {
        (r.doc_a, r.doc_b): (r.n_common, round(r.jaccard, 9))
        for r in near_dup_pairs(docs_df, threshold=0.3).collect()
    }
    # candidates→verify returns a subset of the all-pairs result, with
    # IDENTICAL n_common/jaccard values on the shared pairs
    assert set(verified) <= set(exact)
    for k, v in verified.items():
        assert exact[k] == v
    # the high-sim pairs must be recalled (8 hashes, 4 bands, j>=0.9)
    assert ("d1", "d4") in verified and ("d1", "d2") in verified


def test_simhash64_halves_and_dups(spark, docs_df):
    rows = {r.doc_id: (r.sim_hi, r.sim_lo) for r in simhash64(docs_df).collect()}
    for hi, lo in rows.values():
        assert 0 <= hi < 2**32 and 0 <= lo < 2**32
    # exact duplicates get identical signatures
    assert rows["d1"] == rows["d4"]
    # unrelated doc differs
    assert rows["d3"] != rows["d1"]


def test_simhash_near_dups_pigeonhole(spark, docs_df):
    out = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_near_dups(docs_df, max_hamming=3).collect()
    }
    # exact dup pair: hamming 0, always found (agrees on all 4 bands)
    assert out[("d1", "d4")] == 0
    # unrelated doc is not within hamming<=3 of anything
    assert not any("d3" in k for k in out)


def test_connected_components_topologies(spark):
    """Chain (needs multiple propagation rounds), triangle, and an isolated
    pair — labels converge to the min id of each component."""
    from mpds_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [
            # chain 9-8-7-6-5 (min label must travel 4 hops)
            ("d9", "d8"), ("d8", "d7"), ("d7", "d6"), ("d6", "d5"),
            # triangle
            ("t2", "t3"), ("t3", "t1"), ("t1", "t2"),
            # pair
            ("z2", "z1"),
        ],
        ["doc_a", "doc_b"],
    )
    got = {r.doc_id: r.component for r in connected_components(edges).collect()}
    assert {k: v for k, v in got.items() if k.startswith("d")} == {
        f"d{i}": "d5" for i in range(5, 10)
    }
    assert {k: v for k, v in got.items() if k.startswith("t")} == {
        f"t{i}": "t1" for i in (1, 2, 3)
    }
    assert got["z1"] == got["z2"] == "z1"


def test_dedup_keep_list(spark, docs_df):
    from mpds_spark.operators.dedup import dedup_keep_list, near_dup_pairs

    pairs = near_dup_pairs(docs_df, threshold=0.3)
    out = {r.doc_id: (r.component, r.keep) for r in
           dedup_keep_list(docs_df, pairs).collect()}
    # d1, d2, d4 form one near-dup component; d1 (min id) is kept
    assert out["d1"] == ("d1", True)
    assert out["d2"] == ("d1", False)
    assert out["d4"] == ("d1", False)
    # unrelated d3 keeps itself
    assert out["d3"] == ("d3", True)


def _union_find_components(edges):
    """Pure-Python reference: vertex -> minimum vertex id of its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


@pytest.mark.parametrize("seed", [99, 7, 2024])
def test_connected_components_matches_union_find(spark, seed):
    """Differential: large/small-star CC equals a union-find reference on
    random graphs, including a long chain (diameter 19) and a vertex that
    appears only in a self-loop (a singleton component)."""
    import numpy as np

    from mpds_spark.operators.dedup import connected_components

    rng = np.random.default_rng(seed)
    edges = []
    # random sparse graph over 60 nodes
    for _ in range(50):
        a, b = rng.integers(0, 60, 2)
        if a != b:
            edges.append((f"n{a:02d}", f"n{b:02d}"))
    # plus a long chain (diameter 19)
    edges += [(f"c{i:02d}", f"c{i+1:02d}") for i in range(19)]
    edges.append(("s77", "s77"))
    e = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    got = {r.doc_id: r.component for r in connected_components(e).collect()}
    assert got == _union_find_components(edges)
    assert got["c19"] == "c00"
    assert got["s77"] == "s77"


def test_max_bucket_guard_drops_oversized_buckets(spark):
    """The oversized-bucket guard: 6 exact copies share every band; with
    max_bucket=5 the copy-bucket joins are dropped (no candidate pairs),
    while a small distinct pair elsewhere is unaffected."""
    from mpds_spark.operators.dedup import lsh_candidate_pairs

    rows = [(f"c{i}", "alpha beta gamma delta epsilon zeta") for i in range(6)]
    rows += [
        ("x1", "one two three four five six seven"),
        ("x2", "one two three four five six eight"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    unguarded = lsh_candidate_pairs(df).collect()
    assert sum(1 for r in unguarded if r.doc_a.startswith("c")) == 15  # 6C2
    guarded = lsh_candidate_pairs(df, max_bucket=5).collect()
    assert not any(r.doc_a.startswith("c") for r in guarded)
    assert any({r.doc_a, r.doc_b} == {"x1", "x2"} for r in guarded)


def test_duplicate_spans_token_arrays(spark):
    """duplicate_spans over int32 token arrays (the north-rule payload):
    hand-checked span coverage, within-doc repeats, and sub-k docs."""
    from mpds_spark.operators.dedup import duplicate_spans

    shared = list(range(100, 108))  # the duplicated 8-gram
    rows = [
        # d1/d2 share `shared` once each (cross-doc dup)
        (1, shared + [1, 2, 3, 4]),
        (2, [9, 8, 7] + shared),
        # d3: within-doc repeat of its own 8-gram (positions 1 and 9)
        (3, list(range(200, 208)) * 2),
        # d4: unique content, no dup grams
        (4, list(range(300, 312))),
        # d5: shorter than k
        (5, [1, 2, 3]),
    ]
    df = spark.createDataFrame(rows, "doc_id int, tokens array<int>")
    out = {
        r["doc_id"]: r
        for r in duplicate_spans(df, tokens="tokens", k=8, min_df=2).collect()
    }
    assert out[1]["n_dup_positions"] == 1 and out[1]["covered_tok"] == 8
    assert out[1]["dup_tok_frac"] == pytest.approx(8 / 12)
    assert out[2]["n_dup_positions"] == 1 and out[2]["covered_tok"] == 8
    # d3: 16 tokens, grams at pos 1..9; pos 1 and 9 are the repeated gram
    # (200..207); but ALL its grams are... each gram pos1..9 appears how
    # often corpus-wide? gram(pos1)=gram(pos9)=200..207 twice; grams at
    # pos 2..8 are unique -> kept positions {1, 9}, coverage
    # min(9-1, 8) + 8 = 16 (the whole doc)
    assert out[3]["n_dup_positions"] == 2 and out[3]["covered_tok"] == 16
    assert out[3]["dup_tok_frac"] == pytest.approx(1.0)
    assert out[4]["n_dup_positions"] == 0 and out[4]["dup_tok_frac"] == 0.0
    assert out[5]["n_tok"] == 3 and out[5]["covered_tok"] == 0


def test_remove_duplicate_spans_passthrough_and_removal(spark):
    """Cleaned arrays drop exactly the covered spans; docs without dup
    grams pass their token arrays through byte-identical."""
    from mpds_spark.operators.dedup import remove_duplicate_spans

    shared = list(range(100, 108))
    rows = [
        (1, shared + [1, 2, 3, 4]),
        (2, [9, 8, 7] + shared),
        (3, list(range(300, 312))),  # untouched
        (4, [5, 6]),  # sub-k, untouched
    ]
    df = spark.createDataFrame(rows, "doc_id int, tokens array<int>")
    out = {
        r["doc_id"]: r
        for r in remove_duplicate_spans(
            df, tokens="tokens", k=8, min_df=2
        ).collect()
    }
    assert out[1]["tokens_clean"] == [1, 2, 3, 4]
    assert out[2]["tokens_clean"] == [9, 8, 7]
    assert out[3]["tokens_clean"] == list(range(300, 312))  # byte-identical
    assert out[4]["tokens_clean"] == [5, 6]
    assert out[1]["n_tok"] == 12 and out[1]["n_tok_clean"] == 4


def test_remove_duplicate_spans_overlapping_merge(spark):
    """Overlapping duplicated grams merge into one interval: a doc that is
    one long repeat of another collapses to its unique suffix only."""
    from mpds_spark.operators.dedup import remove_duplicate_spans

    body = list(range(50, 62))  # 12 tokens, duplicated wholesale
    rows = [(1, body + [7]), (2, body + [9])]
    df = spark.createDataFrame(rows, "doc_id int, tokens array<int>")
    out = {
        r["doc_id"]: r
        for r in remove_duplicate_spans(
            df, tokens="tokens", k=8, min_df=2
        ).collect()
    }
    # grams at pos 1..5 of each doc are shared -> coverage 1..12 merged
    assert out[1]["tokens_clean"] == [7]
    assert out[2]["tokens_clean"] == [9]


def test_span_measure_apply_consistency(spark):
    """Cross-op invariant: duplicate_spans' interval-union coverage equals
    the tokens actually removed by remove_duplicate_spans, per doc, on a
    messy synthetic corpus (shared spans, within-doc repeats, overlaps,
    sub-k docs)."""
    import random

    from mpds_spark.operators.dedup import (
        duplicate_spans,
        remove_duplicate_spans,
    )

    rng = random.Random(11)
    shared_a = [rng.randrange(1000) for _ in range(10)]
    shared_b = [rng.randrange(1000) for _ in range(9)]
    rows = []
    for d in range(40):
        toks = [rng.randrange(1000, 5000) for _ in range(rng.randrange(0, 30))]
        if d % 3 == 0:
            pos = rng.randrange(0, len(toks) + 1)
            toks = toks[:pos] + shared_a + toks[pos:]
        if d % 5 == 0:
            toks = shared_b + toks + shared_b  # within-doc repeat too
        rows.append((d, toks))
    df = spark.createDataFrame(rows, "doc_id int, tokens array<int>")
    meas = {
        r["doc_id"]: r
        for r in duplicate_spans(df, tokens="tokens", k=8, min_df=2).collect()
    }
    appl = {
        r["doc_id"]: r
        for r in remove_duplicate_spans(
            df, tokens="tokens", k=8, min_df=2
        ).collect()
    }
    assert set(meas) == set(appl) == set(range(40))
    for d in range(40):
        assert (
            meas[d]["covered_tok"]
            == appl[d]["n_tok"] - appl[d]["n_tok_clean"]
        ), d


def test_incremental_keep_flags(spark):
    """Planted batch: exact corpus dup, within-batch dup pair, a heavy
    near-dup of a corpus doc, and clean docs — each flag fires exactly
    where the brute-force definition says."""
    from mpds_spark.operators.dedup import incremental_keep

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus_rows = [
        (0, base),
        (1, "one two three four five six seven eight nine ten"),
        (2, "completely different corpus content words here indeed"),
    ]
    batch_rows = [
        (10, base),  # exact dup of corpus doc 0
        (11, base + " lambda"),  # near dup of corpus doc 0 (9/11 shingles)
        (12, "fresh unseen material nothing like the corpus at all"),
        (13, "twin text appearing twice in the same batch yes"),
        (14, "twin text appearing twice in the same batch yes"),  # batch dup
    ]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    batch = spark.createDataFrame(batch_rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["batch_dup"], r["exact_dup"], r["near_dup"], r["keep"])
        for r in incremental_keep(batch, corpus, threshold=0.5).collect()
    }
    assert out[10] == (False, True, True, False)  # exact implies near too
    assert out[11][1] is False and out[11][2] is True and out[11][3] is False
    assert out[12] == (False, False, False, True)
    assert out[13] == (False, False, False, True)  # min-key twin wins
    assert out[14] == (True, False, False, False)
    assert len(out) == 5


def test_dedup_impact_report_planted_clusters(spark):
    """Per-source impact stats match a hand-computed report over planted
    clusters: a 3-doc cluster inside source A, a 2-doc cluster spanning
    A and B (counted toward BOTH sources' n_clusters — the cross-source
    contamination view), and untouched singletons."""
    from mpds_spark.operators.dedup import dedup_impact_report

    # (doc_id, source, n_words via 'w ' * n)
    docs = spark.createDataFrame(
        [
            (0, "A", "w " * 10),  # cluster X rep (kept)
            (1, "A", "w " * 20),  # cluster X removed
            (2, "A", "w " * 30),  # cluster X removed
            (3, "A", "w " * 5),   # cluster Y rep (kept)
            (4, "B", "w " * 7),   # cluster Y removed (cross-source)
            (5, "B", "w " * 11),  # singleton
            (6, "C", "w " * 13),  # singleton
        ],
        ["doc_id", "source", "text"],
    )
    keep_list = spark.createDataFrame(
        [
            (0, 0, True), (1, 0, False), (2, 0, False),
            (3, 3, True), (4, 3, False),
            (5, 5, True), (6, 6, True),
        ],
        ["doc_id", "component", "keep"],
    )
    got = {
        r["source"]: r.asDict()
        for r in dedup_impact_report(docs, keep_list).collect()
    }
    a, b, c = got["A"], got["B"], got["C"]
    assert (a["n_docs"], a["n_dup_docs"], a["n_removed"]) == (4, 4, 2)
    assert a["n_clusters"] == 2 and a["max_cluster_size"] == 3
    assert (a["words_total"], a["words_removed"]) == (65, 50)
    assert a["pct_words_removed"] == pytest.approx(50 / 65, abs=1e-12)
    assert (b["n_docs"], b["n_dup_docs"], b["n_removed"]) == (2, 1, 1)
    assert b["n_clusters"] == 1  # the spanning cluster counts here too
    assert (b["words_total"], b["words_removed"]) == (18, 7)
    assert (c["n_dup_docs"], c["n_removed"], c["n_clusters"]) == (0, 0, 0)
    assert c["max_cluster_size"] == 1
    assert c["pct_words_removed"] == 0.0
