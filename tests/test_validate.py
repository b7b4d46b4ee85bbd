"""validate(): one-pass expectation suite — violation counts, NULL
predicates counting as violations, uniqueness via distinct counting."""

import pytest

from mpds_spark.operators.validate import (
    in_range,
    is_in,
    matches,
    not_null,
    unique,
    validate,
)


def test_validate_counts_and_verdicts(spark):
    rows = [
        (1, "ok", 10, "en"),
        (2, None, 5, "en"),        # null text
        (3, "ok", -1, "xx"),       # range + lang violations
        (3, "dup", 7, "de"),       # duplicate doc_id
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "n", "lang"])
    out = {
        r["rule"]: r
        for r in validate(
            df,
            [
                not_null("text"),
                unique("doc_id"),
                in_range("n", 0, 100),
                is_in("lang", ["en", "de"]),
                matches("text", "^o"),
            ],
        ).collect()
    }
    assert all(r["n_rows"] == 4 for r in out.values())
    assert out["not_null(text)"]["n_violations"] == 1
    assert out["unique(doc_id)"]["n_violations"] == 1
    assert out["in_range(n,0,100)"]["n_violations"] == 1
    assert out["is_in(lang)"]["n_violations"] == 1
    # NULL text -> matches() is NULL -> counted as violation; 'dup' fails too
    assert out["matches(text)"]["n_violations"] == 2
    assert not out["not_null(text)"]["passes"]
    clean = validate(
        df.filter("doc_id = 1"), [not_null("text"), unique("doc_id")]
    ).collect()
    assert all(r["passes"] for r in clean)


def test_unique_prefix_named_predicate_stays_predicate(spark):
    """ADVICE r3: rule dispatch is structural (Rule.kind), not display-name
    prefix — a caller-supplied predicate whose name starts with 'unique('
    must be counted as a predicate, not fed to count_distinct."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(1, "a"), (1, "b")], ["k", "v"])
    rows = {
        r["rule"]: r
        for r in validate(
            df, [("unique(k) lookalike", F.col("k") == 1), unique("k")]
        ).collect()
    }
    look = rows["unique(k) lookalike"]
    assert look["n_violations"] == 0 and look["passes"]  # both rows satisfy k==1
    real = rows["unique(k)"]
    assert real["n_violations"] == 1 and not real["passes"]  # k=1 twice


def test_length_ks_drift_brute_force(spark):
    """numpy re-derivation of the exact two-sample KS statistic (each
    source vs rest) on a planted drift fixture: one source's lengths are
    shifted, its KS must dominate."""
    import numpy as np

    from mpds_spark.operators.validate import length_ks_drift

    rows = []
    did = 0
    for i in range(30):  # two baseline sources, same length law
        for src in ("a", "b"):
            rows.append((did, src, " ".join(["w"] * (5 + i % 7)))); did += 1
    for i in range(30):  # shifted source
        rows.append((did, "c", " ".join(["w"] * (20 + i % 5)))); did += 1
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {r["source"]: r.asDict() for r in length_ks_drift(df).collect()}

    lens = {}
    for _, src, text in rows:
        lens.setdefault(src, []).append(len(text.split()))
    all_lens = sorted({x for v in lens.values() for x in v})
    for src, ls in lens.items():
        rest = [x for s2, v in lens.items() if s2 != src for x in v]
        ks = max(
            abs(
                sum(1 for x in ls if x <= t) / len(ls)
                - sum(1 for x in rest if x <= t) / len(rest)
            )
            for t in all_lens
        )
        assert got[src]["n_docs"] == len(ls)
        assert got[src]["ks_stat"] == pytest.approx(ks, abs=1e-12), src
    assert got["c"]["ks_stat"] > got["a"]["ks_stat"]
    assert got["c"]["ks_stat"] == 1.0  # fully disjoint supports


def test_gini_concentration_matches_numpy(spark):
    """Gini matches the sorted-rank formula on numpy, including the
    signature regimes: all-equal mass -> 0, one-doc-owns-everything ->
    (n-1)/n, ties in the middle (rank assignment must not matter),
    single-doc group -> 0, zero-mass group -> NULL."""
    import numpy as np

    from mpds_spark.operators.validate import gini_concentration

    rng = np.random.default_rng(23)
    data = {
        "equal": [100] * 8,                      # G = 0
        "monopoly": [0] * 9 + [500],             # G = (n-1)/n = 0.9
        "tied": [10, 10, 10, 40, 40, 900],       # tie-invariance
        "single": [77],                          # G = 0
        "zero": [0, 0, 0],                       # NULL
        "random": list(rng.integers(0, 1000, 50)),
    }
    rows, did = [], 0
    for src, xs in data.items():
        for x in xs:
            rows.append((did, src, int(x)))
            did += 1
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    got = {
        r["source"]: r.asDict()
        for r in gini_concentration(df, value="n_chars", by="source").collect()
    }
    for src, xs in data.items():
        a = np.sort(np.array(xs, dtype="float64"))
        n, t = len(a), a.sum()
        r = got[src]
        assert r["n_docs"] == n
        assert r["total_mass"] == int(t)
        if t == 0:
            assert r["gini"] is None
        else:
            expect = (2 * np.sum(np.arange(1, n + 1) * a) - (n + 1) * t) / (
                n * t
            )
            assert r["gini"] == pytest.approx(expect, abs=1e-12), src
    assert got["equal"]["gini"] == 0.0
    assert got["monopoly"]["gini"] == pytest.approx(0.9, abs=0)
    assert got["single"]["gini"] == 0.0


def test_referential_audit_counts(spark):
    import pandas as pd

    from mpds_spark.operators.validate import referential_audit

    fact = spark.createDataFrame(
        pd.DataFrame({"fk": [1, 1, 2, 5, 5, 5, 7]})
    )
    dim = spark.createDataFrame(pd.DataFrame({"dk": [1, 2, 3, 4]}))
    r = referential_audit(fact, dim, "fk", "dk", "t").collect()[0]
    assert r["relation"] == "t"
    assert r["n_fact_rows"] == 7
    assert r["n_fact_keys"] == 4          # {1, 2, 5, 7}
    assert r["n_orphan_keys"] == 2        # {5, 7}
    assert r["n_orphan_rows"] == 4        # three 5s + one 7
    assert r["n_dim_keys"] == 4
    assert r["n_unreferenced_dim"] == 2   # {3, 4}


def test_join_size_audit_exact_and_estimate(spark):
    import pandas as pd

    from mpds_spark.operators.validate import join_size_audit

    left = spark.createDataFrame(
        pd.DataFrame({"k": [1, 1, 1, 2, 3, 9]})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"j": [1, 1, 2, 2, 2, 4]})
    )
    r = join_size_audit(left, right, "k", "j", "t").collect()[0]
    # actual = 3*2 (k=1) + 1*3 (k=2) = 9
    assert r["actual_rows"] == 9
    assert (r["n_left"], r["n_right"]) == (6, 6)
    assert (r["ndv_left"], r["ndv_right"]) == (4, 3)
    est = 6 * 6 / 4
    assert abs(r["est_rows"] - est) < 1e-12
    assert abs(r["ratio"] - 9 / est) < 1e-12
    # disjoint keys -> zero actual, ratio 0
    right2 = spark.createDataFrame(pd.DataFrame({"j": [7, 8]}))
    r2 = join_size_audit(left, right2, "k", "j", "t2").collect()[0]
    assert r2["actual_rows"] == 0 and r2["ratio"] == 0.0


def test_k_anonymity_planted_classes(spark):
    """Planted QI classes of sizes 1/3/10 with known sensitive
    diversity: per-threshold risk counts must match exact enumeration."""
    from mpds_spark.operators.validate import k_anonymity

    rows = (
        [("x", 1, 100)]                                   # size 1
        + [("x", 2, v) for v in (5, 5, 7)]                # size 3, ldiv 2
        + [("y", 1, v) for v in range(10)]                # size 10, ldiv 10
    )
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["seg", "nat", "bal"])
    got = {
        r["k"]: r
        for r in k_anonymity(
            spark.createDataFrame(pdf), qi=("seg", "nat"),
            sensitive="bal", ks=(2, 5, 20),
        ).collect()
    }
    assert set(got) == {2, 5, 20}
    for k, below, risk in [(2, 1, 1), (5, 2, 4), (20, 3, 14)]:
        r = got[k]
        assert r["n_classes"] == 3
        assert r["min_class_size"] == 1
        assert r["min_l_div"] == 1
        assert r["classes_below"] == below
        assert r["rows_at_risk"] == risk
        assert r["risk_pct"] == 100.0 * risk / 14.0


def test_consistent_hash_audit_guarantee(spark):
    """The consistent-hashing contract on real keys: totals conserved,
    the grown ring's NEW node gains everything that moves, no existing
    node gains anything, and the moved share is far below 1/2 (vs
    modulo hashing which moves ~8/9 of all keys)."""
    import pandas as pd

    from mpds_spark.operators.validate import consistent_hash_audit

    pdf = pd.DataFrame({"key": range(2000)})
    rows = consistent_hash_audit(
        spark.createDataFrame(pdf), key="key", n_nodes=8, n_virtual=16
    ).collect()
    by = {r["node"]: r for r in rows}
    assert sum(r["n_before"] for r in rows) == 2000
    assert sum(r["n_after"] for r in rows) == 2000
    moved = sum(r["n_gained"] for r in rows)
    assert moved == sum(r["n_lost"] for r in rows)
    # only the new node gains
    assert by["node8"]["n_gained"] == by["node8"]["n_after"] == moved
    assert by["node8"]["n_before"] == 0
    for i in range(8):
        assert by[f"node{i}"]["n_gained"] == 0
    # moved share near 1/9, certainly below 1/3
    assert 0 < moved < 2000 / 3


def test_source_digest_partition_invariant(spark):
    """The content digest must be invariant to partitioning and row
    order, and flip on a single-byte change."""
    import hashlib

    import pandas as pd

    from pyspark.sql import functions as F

    rows = [(i, f"text {i}", "en", "s0", 10 + i) for i in range(50)]
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )

    def digest(df):
        rh = df.select(
            "source",
            F.md5(F.concat_ws(
                "\x1f", F.col("doc_id").cast("string"), "text", "lang",
                F.col("n_chars").cast("string"))).alias("h"),
        )
        return rh.groupBy("source").agg(
            F.md5(F.array_join(F.array_sort(F.collect_list("h")), ""))
            .alias("d")
        ).collect()[0]["d"]

    a = digest(spark.createDataFrame(pdf))
    b = digest(spark.createDataFrame(
        pdf.sample(frac=1.0, random_state=7)).repartition(13))
    assert a == b
    # hashlib rebuild
    hs = sorted(
        hashlib.md5(
            f"{i}\x1f{t}\x1f{lg}\x1f{nc}".encode()
        ).hexdigest()
        for i, t, lg, _s, nc in rows
    )
    assert a == hashlib.md5("".join(hs).encode()).hexdigest()
    pdf2 = pdf.copy()
    pdf2.loc[0, "text"] = "text 0!"
    assert digest(spark.createDataFrame(pdf2)) != a


def test_lpt_partition_plan_greedy_rebuild(spark):
    """The LPT fold vs the explicit greedy in python on a skewed count
    set — and LPT must beat the ideal-bound ratio naive hash gets on
    the same skew."""
    import datetime

    import pandas as pd

    from mpds_spark.queries import q_lpt_partition_plan  # noqa: F401

    # drive the same fold via the catalog query on real data instead:
    rows = q_lpt_partition_plan(
        spark, "/root/testdata/sf0.001"
    ).collect()
    import duckdb

    counts = duckdb.sql(
        "SELECT user_id, count(*) c FROM "
        "'/root/testdata/sf0.001/events.parquet' GROUP BY user_id"
    ).fetchall()
    order = sorted(counts, key=lambda r: (-r[1], r[0]))
    loads = [0, 0, 0, 0]
    for _, c in order:
        i = loads.index(min(loads))
        loads[i] += c
    got = sorted((r["partition"], r["load"]) for r in rows)
    assert got == list(enumerate(loads))
    total = sum(c for _, c in counts)
    for r in rows:
        assert r["balance_ratio"] == r["load"] / (total / 4.0)
    # LPT keeps makespan within 4/3 of ideal (Graham 1969)
    assert max(loads) / (total / 4.0) <= 4.0 / 3.0 + 1e-9


def test_merkle_diff_localizes_changes(spark):
    """Only blocks holding an edited (doc_id%97==0) or deleted
    (doc_id%101==0) row may surface; every surfaced block must hold
    one; counts must reflect deletions."""
    from mpds_spark.queries import q_merkle_diff

    rows = q_merkle_diff(spark, "/root/testdata/sf0.001").collect()
    assert rows
    import duckdb

    ids = [i for (i,) in duckdb.sql(
        "SELECT doc_id FROM "
        "'/root/testdata/sf0.001/documents.parquet'").fetchall()]
    dirty = {i // 64 for i in ids if i % 97 == 0 or i % 101 == 0}
    got = {r["block"] for r in rows}
    assert got == dirty
    for r in rows:
        dels = sum(1 for i in ids
                   if i // 64 == r["block"] and i % 101 == 0)
        n1 = sum(1 for i in ids if i // 64 == r["block"])
        assert r["n_v1"] == n1
        assert r["n_v2"] == n1 - dels


def test_jackknife_ratio_formula(spark):
    """The delete-a-group jackknife SE vs explicit recomputation from
    the same hash groups."""
    import hashlib
    import math

    from mpds_spark.queries import q_jackknife_ratio

    r = q_jackknife_ratio(spark, "/root/testdata/sf0.001").collect()[0]
    import duckdb

    rows = duckdb.sql(
        "SELECT o_orderkey, CAST(floor(abs(o_totalprice)*100 + 0.5)"
        "*sign(o_totalprice) AS BIGINT) FROM "
        "'/root/testdata/sf0.001/orders.parquet'").fetchall()
    groups = {}
    for k, c in rows:
        g = int(hashlib.md5(f"jk|{k}".encode()).hexdigest()[:15], 16) % 20
        a, b = groups.get(g, (0, 0))
        groups[g] = (a + c, b + 1)
    sa = sum(a for a, _ in groups.values())
    sb = sum(b for _, b in groups.values())
    rs = [(sa - a) / (sb - b) for g, (a, b) in sorted(groups.items())]
    rbar = 0.0
    for x in rs:
        rbar += x
    rbar /= len(rs)
    ss = 0.0
    for x in rs:
        ss += (x - rbar) * (x - rbar)
    se = math.sqrt((len(rs) - 1) / len(rs) * ss)
    assert r["n_groups"] == len(rs) and r["n_orders"] == sb
    from mpds_spark.functions.timeutil import duck_round  # noqa: F401

    def r6(v):
        return math.copysign(math.floor(abs(v) * 1e6 + 0.5), v) / 1e6

    assert r["avg_order_value"] == r6(sa / sb / 100.0)
    assert r["jackknife_se"] == r6(se / 100.0)


def test_rank_auc_brute_force(spark):
    """Tie-corrected rank-sum AUC/U/z vs literal enumeration of all
    pos x neg pairs (wins + half-ties) on the sf0.001 events."""
    import math

    from mpds_spark.queries import q_rank_auc

    r = q_rank_auc(spark, "/root/testdata/sf0.001").collect()[0]
    import duckdb

    rows = duckdb.sql(
        "SELECT CAST(floor(abs(value)*100 + 0.5)*sign(value) AS BIGINT),"
        " CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END"
        " FROM '/root/testdata/sf0.001/events.parquet'").fetchall()
    pos = [c for c, p in rows if p]
    neg = [c for c, p in rows if not p]
    u = 0.0
    for a in pos:
        for b in neg:
            u += 1.0 if a > b else (0.5 if a == b else 0.0)
    n1, n0, n = len(pos), len(neg), len(rows)
    from collections import Counter

    t = Counter(c for c, _ in rows)
    tt = sum(v * v * v - v for v in t.values())
    var = n1 * n0 * ((n + 1) - tt / (n * (n - 1))) / 12.0
    z = (u - n1 * n0 / 2.0) / math.sqrt(var)

    def r6(v):
        return math.copysign(math.floor(abs(v) * 1e6 + 0.5), v) / 1e6

    assert r["n_pos"] == n1 and r["n_neg"] == n0
    assert r["mann_whitney_u"] == u
    assert r["auc"] == r6(u / (n1 * n0))
    assert abs(r["z_score"] - r6(z)) <= 1e-6


def test_knn_shapley_vs_exact_coalitions(spark):
    """Jia et al. 2019 Theorem-1 recursion vs the LITERAL Shapley
    value — enumerating all 2^N coalitions of a planted 8-point
    training set with exact Fractions — for every training point,
    under the KNN utility v(S) = (1/K) * sum_{j<=min(K,|S|)}
    1[y_(j) = y]."""
    from fractions import Fraction
    from itertools import combinations
    from math import factorial

    from mpds_spark.operators.similarity import knn_shapley

    # planted: 8 train + 1 query, 2-dim ints so the int8 codes give a
    # clean deterministic neighbor order
    train = [
        (0, 1, [100.0, 0.0]),
        (1, 0, [90.0, 30.0]),
        (2, 1, [80.0, 50.0]),
        (3, 0, [60.0, 70.0]),
        (4, 1, [40.0, 80.0]),
        (5, 0, [20.0, 90.0]),
        (6, 1, [10.0, 95.0]),
        (7, 1, [0.0, 100.0]),
    ]
    query = [(100, 1, [99.0, 5.0])]
    K = 3
    tdf = spark.createDataFrame(
        [(i, lab, v) for i, lab, v in train],
        "vec_id long, label int, embedding array<double>",
    )
    qdf = spark.createDataFrame(
        [(i, lab, v) for i, lab, v in query],
        "vec_id long, label int, embedding array<double>",
    )
    got = {
        r["train_id"]: r["mean_shapley"]
        for r in knn_shapley(tdf, qdf, k=K).collect()
    }

    # exact neighbor order by int8 integer dot (rebuild in python)
    import math as _m

    def codes(v):
        n = _m.sqrt(sum(x * x for x in v))
        return [int(_m.floor(abs(127.0 * x / n) + 0.5)
                    * (1 if x > 0 else (-1 if x < 0 else 0)))
                for x in v]

    qc = codes(query[0][2])
    scored = sorted(
        ((-sum(a * b for a, b in zip(codes(v), qc)), i, lab)
         for i, lab, v in train),
    )
    order = [(i, lab) for _, i, lab in scored]  # rank 1 first
    y = query[0][1]
    ids = [i for i, _ in order]
    I = {i: (1 if lab == y else 0) for i, lab in order}
    rank = {i: r + 1 for r, (i, _) in enumerate(order)}
    n = len(ids)

    def util(S):  # S = frozenset of ids
        if not S:
            return Fraction(0)
        mem = sorted(S, key=lambda i: rank[i])[:K]
        return Fraction(sum(I[i] for i in mem), K)

    for i in ids:
        others = [j for j in ids if j != i]
        val = Fraction(0)
        for sz in range(n):
            for S in combinations(others, sz):
                w = Fraction(
                    factorial(sz) * factorial(n - sz - 1), factorial(n)
                )
                val += w * (util(frozenset(S) | {i}) - util(frozenset(S)))
        assert abs(got[i] - float(val)) < 1e-12, (i, got[i], float(val))


def test_wasserstein_drift_brute_force(spark):
    """Exact W1/KS vs a literal python sweep over the merged support
    (and, as a cross-check, W1 via interpolated quantile functions is
    skipped — the CDF-integral IS the definition for step CDFs)."""
    from mpds_spark.queries import q_wasserstein_drift

    r = q_wasserstein_drift(spark, "/root/testdata/sf0.001").collect()[0]
    import duckdb

    rows = duckdb.sql(
        "SELECT CAST(floor(abs(value)*100 + 0.5)*sign(value) AS BIGINT),"
        " event_type FROM '/root/testdata/sf0.001/events.parquet'"
        " WHERE event_type IN ('purchase','click')").fetchall()
    a = sorted(c for c, t in rows if t == "purchase")
    b = sorted(c for c, t in rows if t == "click")
    na, nb = len(a), len(b)
    support = sorted(set(a) | set(b))
    w1n = 0
    ksn = 0
    for v, nxt in zip(support, support[1:] + [None]):
        cA = sum(1 for x in a if x <= v)
        cB = sum(1 for x in b if x <= v)
        num = abs(cA * nb - cB * na)
        ksn = max(ksn, num)
        if nxt is not None:
            w1n += num * (nxt - v)
    assert r["n_purchase"] == na and r["n_click"] == nb
    assert r["wasserstein"] == w1n / (na * nb) / 100.0
    assert r["ks_stat"] == ksn / (na * nb)


def test_cohens_kappa_cells(spark):
    """2x2 cells + kappa vs direct python recomputation; planted
    perfect-agreement and independence sanity bounds."""
    from mpds_spark.queries import q_cohens_kappa

    r = q_cohens_kappa(spark, "/root/testdata/sf0.001").collect()[0]
    import duckdb

    rows = duckdb.sql(
        "SELECT n_chars, text FROM "
        "'/root/testdata/sf0.001/documents.parquet'").fetchall()
    n11 = n00 = n10 = n01 = 0
    for nc, text in rows:
        ra = 1 if nc >= 120 else 0
        rb = 1 if (len(text) - len(text.replace(" ", "")) + 1) >= 20 else 0
        n11 += ra * rb
        n00 += (1 - ra) * (1 - rb)
        n10 += ra * (1 - rb)
        n01 += (1 - ra) * rb
    n = len(rows)
    rc = (n11 + n10) * (n11 + n01) + (n00 + n01) * (n00 + n10)
    assert (r["n_docs"], r["n_both_keep"], r["n_both_drop"],
            r["n_only_a"], r["n_only_b"]) == (n, n11, n00, n10, n01)
    assert r["p_observed"] == (n11 + n00) / n
    assert r["kappa"] == (n * (n11 + n00) - rc) / (n * n - rc)
    # kappa <= po always; kappa == 1 iff perfect agreement
    assert r["kappa"] <= r["p_observed"] + 1e-15


def test_calibration_bins_formula(spark):
    """Per-bin confidence/accuracy + global ECE/Brier vs a literal
    python recompute from the raw (m, y) pairs — exact equality (the
    statistics are single divisions of exact integer accumulators)."""
    from mpds_spark.queries import q_calibration_bins

    out = {r["bin"]: r for r in
           q_calibration_bins(spark, "/root/testdata/sf0.001").collect()}
    import duckdb

    rows = duckdb.sql(
        "SELECT least(n_chars, 400), CASE WHEN length(text) -"
        " length(replace(text, ' ', '')) + 1 >= 50 THEN 1 ELSE 0 END"
        " FROM '/root/testdata/sf0.001/documents.parquet'").fetchall()
    bins = {}
    for m, y in rows:
        b = min(9, m // 40)
        n, pos, sm, sm2, smy = bins.get(b, (0, 0, 0, 0, 0))
        bins[b] = (n + 1, pos + y, sm + m, sm2 + m * m, smy + m * y)
    N = sum(v[0] for v in bins.values())
    eceN = sum(abs(400 * v[1] - v[2]) for v in bins.values())
    brierN = sum(v[3] - 800 * v[4] + 160000 * v[1] for v in bins.values())
    assert set(out) == set(bins)
    for b, (n, pos, sm, _, _) in bins.items():
        r = out[b]
        assert (r["n_docs"], r["n_pos"]) == (n, pos)
        assert r["confidence"] == sm / (400 * n)
        assert r["accuracy"] == pos / n
        assert r["ece"] == eceN / (400 * N)
        assert r["brier"] == brierN / (160000 * N)
    # Brier decomposable sanity: 0 <= brier <= 1, 0 <= ece <= 1
    any_r = next(iter(out.values()))
    assert 0.0 <= any_r["ece"] <= 1.0 and 0.0 <= any_r["brier"] <= 1.0


def test_markov_accuracy_rebuild(spark):
    """Transition-table argmax accuracy vs a literal python rebuild of
    the per-user lead pairs (count desc, type asc tie-break)."""
    from mpds_spark.queries import q_markov_accuracy

    got = {r["cur_type"]: r for r in
           q_markov_accuracy(spark, "/root/testdata/sf0.001").collect()}
    import duckdb
    from collections import Counter, defaultdict

    rows = duckdb.sql(
        "SELECT user_id, epoch(ts), event_type FROM"
        " '/root/testdata/sf0.001/events.parquet'"
        " ORDER BY user_id, epoch(ts)").fetchall()
    seqs = defaultdict(list)
    for u, t, e in rows:
        seqs[u].append((t, e))
    trans = defaultdict(Counter)
    for u, evs in seqs.items():
        evs.sort()
        for (_, c), (_, nx) in zip(evs, evs[1:]):
            trans[c][nx] += 1
    assert set(got) == set(trans)
    for cur, cnt in trans.items():
        best = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
        r = got[cur]
        assert r["predicted_next"] == best[0]
        assert r["n_correct"] == best[1]
        assert r["n_pairs"] == sum(cnt.values())
        assert r["accuracy"] == best[1] / sum(cnt.values())


def test_kendall_tau_brute_force(spark):
    """tau-b / gamma vs the literal O(n^2) pair sweep in python —
    proving the contingency-table collapse (C/D as cell-pair sums,
    ties from marginals) against the definitional form."""
    from mpds_spark.queries import q_kendall_tau

    r = q_kendall_tau(spark, "/root/testdata/sf0.001").collect()[0]
    import duckdb

    rows = duckdb.sql(
        "SELECT least(9, CAST(n_chars AS BIGINT) // 40),"
        " least(9, CAST(length(text) - length(replace(text, ' ', ''))"
        " + 1 AS BIGINT) // 10)"
        " FROM '/root/testdata/sf0.001/documents.parquet'").fetchall()
    C = D = 0
    n = len(rows)
    for a in range(n):
        ia, ja = rows[a]
        for b in range(a + 1, n):
            ib, jb = rows[b]
            if ia == ib or ja == jb:
                continue
            if (ia < ib) == (ja < jb):
                C += 1
            else:
                D += 1
    from collections import Counter
    import math

    tx = sum(t * (t - 1) // 2 for t in Counter(i for i, _ in rows).values())
    ty = sum(t * (t - 1) // 2 for t in Counter(j for _, j in rows).values())
    n0 = n * (n - 1) // 2
    assert (r["n_docs"], r["concordant"], r["discordant"]) == (n, C, D)
    assert r["tau_b"] == (C - D) / (math.sqrt(n0 - tx) * math.sqrt(n0 - ty))
    assert r["gamma"] == (C - D) / (C + D)


def test_did_estimate_rebuild(spark):
    """4-cell DiD + pooled SE vs a literal python recompute (exact
    integer cell moments, same fixed expression tree)."""
    from mpds_spark.queries import q_did_estimate

    r = q_did_estimate(spark, "/root/testdata/sf0.001").collect()[0]
    import duckdb
    import hashlib
    import math

    rows = duckdb.sql(
        "SELECT user_id, day(ts), value FROM"
        " '/root/testdata/sf0.001/events.parquet'"
        " WHERE event_type = 'purchase'").fetchall()
    cells = {}
    for u, mo, v in rows:
        tr = int(hashlib.md5(f"did|{u}".encode()).hexdigest()[:15], 16) % 2
        po = 1 if mo >= 16 else 0
        c = int(math.floor(abs(v) * 100 + 0.5)) * (1 if v >= 0 else -1)
        n, s, q = cells.get((tr, po), (0, 0, 0))
        cells[(tr, po)] = (n + 1, s + c, q + c * c)

    def m(tr, po):
        n, s, _ = cells[(tr, po)]
        return s / (100 * n)

    def vt(tr, po):
        n, s, q = cells[(tr, po)]
        return (q - s * s / n) / (n - 1.0) / n

    did = (m(1, 1) - m(1, 0)) - (m(0, 1) - m(0, 0))
    se = math.sqrt(vt(0, 0) + vt(0, 1) + vt(1, 0) + vt(1, 1)) / 100.0
    assert r["n_purchases"] == sum(v[0] for v in cells.values())
    assert r["mean_ctrl_pre"] == m(0, 0) and r["mean_treat_post"] == m(1, 1)
    assert r["did"] == did and r["did_se"] == se
    assert r["t_stat"] == did / se


def test_perm_entropy_brute_force(spark):
    """Branch-free pattern code vs a literal stable argsort per triple,
    and the entropy vs a direct python recompute. Also pins the code
    <-> permutation bijection on all 6 orderings."""
    from mpds_spark.queries import q_perm_entropy

    def duck_round_py(v, digits=6):
        import math as _m
        pw = float(10 ** digits)
        return _m.copysign(_m.floor(abs(v) * pw + 0.5) / pw, v)

    got = {r["user_id"]: r for r in
           q_perm_entropy(spark, "/root/testdata/sf0.001").collect()}
    import duckdb
    import math
    from collections import Counter, defaultdict

    rows = duckdb.sql(
        "SELECT user_id, epoch(ts), event_id,"
        " CAST(floor(abs(value)*100 + 0.5)*sign(value) AS BIGINT)"
        " FROM '/root/testdata/sf0.001/events.parquet'"
        " ORDER BY user_id, epoch(ts), event_id").fetchall()
    series = defaultdict(list)
    for u, t, e, c in rows:
        series[u].append(c)
    # code space: exactly 6 valid codes, one per permutation
    valid = set()
    import itertools
    for perm in itertools.permutations([10, 20, 30]):
        b01 = perm[0] <= perm[1]
        b02 = perm[0] <= perm[2]
        b12 = perm[1] <= perm[2]
        valid.add(4 * b01 + 2 * b02 + b12)
    assert len(valid) == 6
    for u, vs in series.items():
        cnt = Counter()
        for i in range(len(vs) - 2):
            a, b, c = vs[i], vs[i + 1], vs[i + 2]
            # stable ordinal pattern == the three stable comparisons
            code = 4 * (a <= b) + 2 * (a <= c) + (b <= c)
            # cross-check vs explicit stable argsort
            order = sorted(range(3), key=lambda k: ((a, b, c)[k], k))
            code2 = 4 * (order.index(0) < order.index(1)) \
                + 2 * (order.index(0) < order.index(2)) \
                + (order.index(1) < order.index(2))
            assert code == code2
            cnt[code] += 1
        n = sum(cnt.values())
        if n == 0:
            assert u not in got
            continue
        h = 0.0
        for k in sorted(cnt):
            h += (cnt[k] / n) * math.log(n / cnt[k])
        r = got[u]
        assert r["n_triples"] == n
        assert r["perm_entropy"] == duck_round_py(h / math.log(6.0), 6)
        assert 0.0 <= r["perm_entropy"] <= 1.0 + 1e-12


def test_theil_index_decomposition(spark):
    """Per-source T_g vs direct python; decomposition identity: sum of
    contributions == global Theil T computed from the pooled
    distribution (float tolerance only in the identity — the per-row
    values themselves are compared through the gate's duck_round)."""
    from mpds_spark.queries import q_theil_index

    out = {r["source"]: r for r in
           q_theil_index(spark, "/root/testdata/sf0.001").collect()}
    import duckdb
    import math
    from collections import defaultdict

    rows = duckdb.sql(
        "SELECT source, length(text) - length(replace(text, ' ', '')) + 1"
        " FROM '/root/testdata/sf0.001/documents.parquet'").fetchall()
    by = defaultdict(list)
    for s, w in rows:
        by[s].append(w)
    N = len(rows)
    X = sum(w for _, w in rows)
    total_contrib = 0.0
    for s, ws in by.items():
        n, x = len(ws), sum(ws)
        tg = sum(w * math.log(w) for w in sorted(ws)) / x - math.log(x / n)
        sg = x / X
        bt = sg * math.log((x / X) / (n / N))
        r = out[s]
        assert (r["n_docs"], r["sum_words"]) == (n, x)
        # outputs are _r6-rounded -> tolerance 1e-6
        assert abs(r["theil_within"] - tg) < 1e-6
        assert abs(r["between_term"] - bt) < 1e-6
        assert r["theil_within"] >= -1e-12  # T_g >= 0 always
        total_contrib += sg * tg + bt
    T = sum((w / X) * math.log((w / X) / (1.0 / N))
            for _, w in rows) / 1.0
    assert abs(total_contrib - T) < 1e-9


def test_anova_twoway_rebuild(spark):
    """SS decomposition vs direct python; identities: parts sum to
    total, eta^2 in [0,1], and SS_hour from the cell frame equals the
    one-way SS computed from raw rows."""
    from mpds_spark.queries import q_anova_twoway

    r = q_anova_twoway(spark, "/root/testdata/sf0.001").collect()[0]
    import duckdb
    import math
    from collections import defaultdict

    rows = duckdb.sql(
        "SELECT hour(ts), dayofweek(ts) + 1,"
        " CAST(floor(abs(value)*100 + 0.5)*sign(value) AS BIGINT)"
        " FROM '/root/testdata/sf0.001/events.parquet'"
        " WHERE event_type = 'purchase'").fetchall()
    cells = defaultdict(lambda: [0, 0, 0])
    for h, d, c in rows:
        e = cells[(h, d)]
        e[0] += 1
        e[1] += c
        e[2] += c * c
    nn = sum(v[0] for v in cells.values())
    ss = sum(v[1] for v in cells.values())
    qq = sum(v[2] for v in cells.values())
    cm = ss * ss / nn

    def marg(idx):
        m = defaultdict(lambda: [0, 0])
        for k, v in cells.items():
            m[k[idx]][0] += v[0]
            m[k[idx]][1] += v[1]
        return sum(s * s / n for k, (n, s) in sorted(m.items())) - cm

    sst = qq - cm
    ssc = sum(v[1] * v[1] / v[0] for k, v in sorted(cells.items())) - cm
    ssh, ssd = marg(0), marg(1)
    assert r["n_purchases"] == nn
    assert abs(r["ss_total"] - sst / 1e4) < 1e-6 * max(1, abs(sst / 1e4))
    assert abs(r["ss_hour"] - ssh / 1e4) < 1e-6 * max(1, abs(ssh / 1e4))
    assert abs(r["ss_dow"] - ssd / 1e4) < 1e-6 * max(1, abs(ssd / 1e4))
    # decomposition identity
    assert abs(
        (r["ss_hour"] + r["ss_dow"] + r["ss_interaction"]
         + r["ss_within"]) - r["ss_total"]
    ) < 1e-6 * max(1.0, r["ss_total"])
    assert 0.0 <= r["eta2_hour"] <= 1.0 and 0.0 <= r["eta2_dow"] <= 1.0


def test_hurst_variance_plot_rebuild(spark):
    """Block roll-up + 4-point LS slope vs direct python on the same
    per-user ordered series; white-noise sanity: iid-ish values give
    H below ~0.75 (no long-range dependence planted)."""
    from mpds_spark.queries import q_hurst_variance_plot

    r = q_hurst_variance_plot(spark, "/root/testdata/sf0.001").collect()[0]
    import duckdb
    import math
    from collections import defaultdict

    rows = duckdb.sql(
        "SELECT user_id, epoch(ts), event_id,"
        " CAST(floor(abs(value)*100 + 0.5)*sign(value) AS BIGINT)"
        " FROM '/root/testdata/sf0.001/events.parquet'"
        " ORDER BY user_id, epoch(ts), event_id").fetchall()
    series = defaultdict(list)
    for u, t, e, c in rows:
        series[u].append(c)
    vs = {}
    for m in (1, 2, 4, 8):
        b = tt = uu = 0
        for u, xs in series.items():
            nb = len(xs) // m
            for i in range(nb):
                s = sum(xs[i * m:(i + 1) * m])
                b += 1
                tt += s
                uu += s * s
        vs[m] = (uu / (m * m) - (tt / m) * (tt / m) / b) / (b - 1)
    lv = {m: math.log2(vs[m]) for m in vs}
    ybar = sum(lv.values()) / 4.0
    slope = sum(
        (lv[m] - ybar) * (x - 1.5)
        for m, x in zip((1, 2, 4, 8), (0.0, 1.0, 2.0, 3.0))
    ) / 5.0
    assert abs(r["var_m1"] - vs[1] / 1e4) < 1e-5
    assert abs(r["var_m8"] - vs[8] / 1e4) < 1e-5
    assert abs(r["slope"] - slope) < 1e-5
    assert abs(r["hurst"] - (1.0 + slope / 2.0)) < 1e-5
    assert r["hurst"] < 0.75


def test_logrank_rebuild(spark):
    """O-E / variance / chi2 vs a literal python sweep over the gap
    curve (same bins, same censoring), plus a planted two-arm check
    where one arm's gaps are doubled -> chi2 must be large."""
    from mpds_spark.queries import q_logrank_test

    r = q_logrank_test(spark, "/root/testdata/sf0.001").collect()[0]
    import duckdb
    import hashlib
    from collections import defaultdict

    rows = duckdb.sql(
        "SELECT user_id, epoch(ts), event_id FROM"
        " '/root/testdata/sf0.001/events.parquet'"
        " WHERE event_type = 'purchase'"
        " ORDER BY user_id, epoch(ts), event_id").fetchall()
    mx = duckdb.sql(
        "SELECT max(epoch(ts)) FROM"
        " '/root/testdata/sf0.001/events.parquet'").fetchone()[0]
    seqs = defaultdict(list)
    for u, t, e in rows:
        seqs[u].append(t)
    curve = defaultdict(lambda: [0, 0, 0, 0])  # d1, c1, d0, c0
    for u, ts in seqs.items():
        arm = int(hashlib.md5(f"lr|{u}".encode()).hexdigest()[:15],
                  16) % 2
        for i, t in enumerate(ts):
            nxt = ts[i + 1] if i + 1 < len(ts) else None
            gap = (nxt if nxt is not None else mx) - t
            day = int(gap // 3600)
            obs = 1 if nxt is not None else 0
            e = curve[day]
            if arm == 1:
                e[0] += obs
                e[1] += 1 - obs
            else:
                e[2] += obs
                e[3] += 1 - obs
    days = sorted(curve)
    total1 = sum(curve[d][0] + curve[d][1] for d in days)
    totalt = total1 + sum(curve[d][2] + curve[d][3] for d in days)
    oe = vv = 0.0
    rem1, remt = total1, totalt
    obs1 = obs0 = 0
    for d in days:
        d1, c1, d0, c0 = curve[d]
        dt = d1 + d0
        obs1 += d1
        obs0 += d0
        if dt > 0:
            oe += d1 - dt * rem1 / remt
            if remt > 1:
                vv += (dt * (rem1 / remt) * ((remt - rem1) / remt)
                       * ((remt - dt) / (remt - 1)))
        rem1 -= d1 + c1
        remt -= d1 + c1 + d0 + c0
    assert (r["obs_deaths_arm1"], r["obs_deaths_arm0"]) == (obs1, obs0)
    assert abs(r["o_minus_e"] - oe) < 1e-5
    assert abs(r["variance"] - vv) < 1e-5
    assert abs(r["chi2"] - oe * oe / vv) < 1e-5


def test_segmented_trend_rebuild(spark):
    """Breakpoint argmin vs a literal per-candidate python OLS sweep,
    and the decomposition sanity sse_two_piece <= sse_single_line."""
    from mpds_spark.queries import q_segmented_trend

    r = q_segmented_trend(spark, "/root/testdata/sf0.001").collect()[0]
    import duckdb

    rows = duckdb.sql(
        "SELECT CAST(day(ts) AS BIGINT), CAST(count(*) AS BIGINT)"
        " FROM '/root/testdata/sf0.001/events.parquet'"
        " GROUP BY 1 ORDER BY 1").fetchall()

    def ols_sse(pts):
        n = len(pts)
        sx = sum(x for x, _ in pts)
        sy = sum(y for _, y in pts)
        sxy = sum(x * y for x, y in pts)
        sxx = sum(x * x for x, _ in pts)
        syy = sum(y * y for _, y in pts)
        sxx_c = sxx - sx * sx / n
        sxy_c = sxy - sx * sy / n
        syy_c = syy - sy * sy / n
        return syy_c - sxy_c * sxy_c / sxx_c, sxy_c / sxx_c

    best = None
    for bi in range(len(rows)):
        left = rows[: bi + 1]
        right = rows[bi + 1:]
        if len(left) < 3 or len(right) < 3:
            continue
        sl, bl = ols_sse(left)
        sr, br = ols_sse(right)
        key = (sl + sr, rows[bi][0])
        if best is None or key < best[0]:
            best = (key, bl, br)
    (sse, b), bl, br = best
    assert r["break_day"] == b
    assert abs(r["slope_left"] - bl) < 1e-5
    assert abs(r["slope_right"] - br) < 1e-5
    assert r["sse_two_piece"] <= r["sse_single_line"] + 1e-9
    assert 0.0 <= r["sse_reduction"] <= 1.0


def test_stratified_sample_kept_counts_rebuild(spark):
    """Per-source kept counts and char sums vs a literal hashlib rebuild
    of the md5 inclusion rule at the query's rates; sources outside the
    rate dict keep nothing."""
    import hashlib

    import duckdb

    from mpds_spark.queries import q_stratified_sample

    rates = {"src0": 0.5, "src1": 0.25, "src2": 1.0}
    rows = {
        r["source"]: (r["n_docs"], r["sum_chars"])
        for r in q_stratified_sample(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    docs = duckdb.sql(
        "SELECT source, doc_id, n_chars FROM"
        " '/root/testdata/sf0.001/documents.parquet'"
    ).fetchall()
    kept = {}
    for s, d, nc in docs:
        if s not in rates:
            continue
        u = int(
            hashlib.md5(f"strat|{s}|{d}".encode()).hexdigest()[:8], 16
        ) / 4294967296.0
        if u < rates[s]:
            n, c = kept.get(s, (0, 0))
            kept[s] = (n + 1, c + nc)
    assert rows == kept
    # the rate-1 stratum keeps every one of its docs
    assert rows["src2"][0] == sum(1 for s, _, _ in docs if s == "src2")


def test_survival_km_product_limit_rebuild(spark):
    """km_survival per hour bin vs a python product-limit rebuild of the
    same binned lifetimes, 7-day right-censored at the corpus's last
    event: S(b) = prod over bins <= b of (1 - d/n_risk). Every user of
    the test data has an event in the corpus's last week, so every
    lifetime is censored here; tests/test_survival.py drives the product
    through bins with events."""
    from collections import defaultdict

    import duckdb

    from mpds_spark.queries import q_survival_km

    rows = q_survival_km(spark, "/root/testdata/sf0.001").collect()
    spans = duckdb.sql(
        "SELECT min(epoch_us(ts)), max(epoch_us(ts)) FROM"
        " '/root/testdata/sf0.001/events.parquet' GROUP BY user_id"
    ).fetchall()
    mx = max(t for _, t in spans)
    curve = defaultdict(lambda: [0, 0])
    for s, t in spans:
        obs = 1 if t <= mx - 604800000000 else 0
        curve[(t - s) // 3600000000][1 - obs] += 1
    at_risk = len(spans)
    surv = 1.0
    want = []
    for b in sorted(curve):
        d, c = curve[b]
        surv *= (at_risk - d) / at_risk
        want.append((b, at_risk, d, c, surv))
        at_risk -= d + c
    got = sorted(rows, key=lambda r: r["duration_bin"])
    assert len(got) == len(want)
    for r, (b, n, d, c, sv) in zip(got, want):
        assert (r["duration_bin"], r["n_risk"], r["n_events"],
                r["n_censored"]) == (b, n, d, c)
        assert abs(r["km_survival"] - sv) < 1e-6


def test_cosine_nn1_arrow_matches_cosine_topk(spark):
    """The r6 vectorized 1-NN scorer must reproduce cosine_topk(k=1)
    bit-for-bit on the real embedding table: same neighbor, same
    cosine double, same tie-break — the bit-equality that keeps
    knn_eval's frozen oracle green."""
    from pyspark.sql import functions as F

    from mpds_spark.operators.similarity import (
        cosine_nn1_arrow,
        cosine_topk,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    )
    q = emb.filter(F.col("vec_id") % 4 == 0)
    ref = {
        r["query_id"]: (r["neighbor_id"], r["cosine"])
        for r in cosine_topk(emb, q, k=1).collect()
    }
    got = {
        r["query_id"]: (r["neighbor_id"], r["cosine"])
        for r in cosine_nn1_arrow(emb, q).collect()
    }
    assert set(ref) == set(got)
    for k in ref:
        assert ref[k][0] == got[k][0], k
        assert ref[k][1] == got[k][1], k  # bitwise-equal doubles


def test_cosine_nn1_arrow_tie_break(spark):
    """Duplicate vectors force exact cosine ties: the Arrow 1-NN must
    pick the smallest neighbor id, matching cosine_topk's
    (cosine DESC, neighbor_id) row_number order."""
    from mpds_spark.operators.similarity import (
        cosine_nn1_arrow,
        cosine_topk,
    )

    rows = [
        (1, [1.0, 0.0, 2.0]),
        (2, [1.0, 0.0, 2.0]),   # duplicate of 1
        (3, [2.0, 0.0, 4.0]),   # same direction, scaled
        (4, [0.0, 1.0, 0.0]),
        (5, [0.0, 2.0, 0.0]),   # same direction as 4
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ref = {
        r["query_id"]: (r["neighbor_id"], r["cosine"])
        for r in cosine_topk(df, df, k=1).collect()
    }
    got = {
        r["query_id"]: (r["neighbor_id"], r["cosine"])
        for r in cosine_nn1_arrow(df, df).collect()
    }
    assert ref == got
