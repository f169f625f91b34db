"""Two-sample KS drift detection: same-distribution corpora must pass,
shifted corpora must fail, and the statistic must match scipy-free
Python recomputation."""

from __future__ import annotations

from collections import Counter

from biosample_enricher_spark.operators.drift import drift_check
from biosample_enricher_spark.spec import C_DRIFT_KIND_FREQ, C_DRIFT_SPAN_LEN
from biosample_enricher_spark.synth import GenParams, gen_documents

BASE = GenParams(seed=100).clean()


def test_same_distribution_passes(spark):
    a = gen_documents(spark, 1500, BASE)
    b = gen_documents(spark, 1500, GenParams(seed=200).clean())
    res = {r.constraint_id: r for r in drift_check(a, b).collect()}
    assert res[C_DRIFT_SPAN_LEN].passed
    assert res[C_DRIFT_KIND_FREQ].passed


def test_shifted_length_fails_span_len_only(spark):
    a = gen_documents(spark, 1500, BASE)
    shifted = GenParams(seed=200, text_len_base=24, text_len_spread=48).clean()
    b = gen_documents(spark, 1500, shifted)
    res = {r.constraint_id: r for r in drift_check(a, b).collect()}
    assert not res[C_DRIFT_SPAN_LEN].passed
    assert res[C_DRIFT_SPAN_LEN].ks_stat > res[C_DRIFT_SPAN_LEN].d_crit
    assert res[C_DRIFT_KIND_FREQ].passed


def test_shifted_kind_mix_fails_kind_freq(spark):
    a = gen_documents(spark, 1500, BASE)
    shifted = GenParams(
        seed=200, text_weight=300, image_weight=450, audio_weight=150
    ).clean()
    b = gen_documents(spark, 1500, shifted)
    res = {r.constraint_id: r for r in drift_check(a, b).collect()}
    assert not res[C_DRIFT_KIND_FREQ].passed


def test_ks_stat_matches_python(spark):
    a = gen_documents(spark, 600, BASE)
    b = gen_documents(spark, 600, GenParams(seed=300, text_len_base=10).clean())
    res = {r.constraint_id: r for r in drift_check(a, b, 16).collect()}

    def hist(df):
        c = Counter()
        for r in df.collect():
            for s in r.spans:
                if s.text is not None:
                    c[(len(s.text) // 16) * 16] += 1
        return c

    ha, hb = hist(a), hist(b)
    buckets = sorted(set(ha) | set(hb))
    na, nb = sum(ha.values()), sum(hb.values())
    ca = cb = 0.0
    d = 0.0
    for k in buckets:
        ca += ha.get(k, 0) / na
        cb += hb.get(k, 0) / nb
        d = max(d, abs(ca - cb))
    got = res[C_DRIFT_SPAN_LEN]
    assert abs(got.ks_stat - d) < 1e-12
    assert got.n_base == na and got.n_cur == nb


def test_tv_distance_identical_and_disjoint(spark):
    """TV = 0 for identical histograms, 1 for disjoint support, and is
    invariant to bucket ordering (its reason to exist next to KS)."""
    from pyspark.sql import functions as F

    from biosample_enricher_spark.operators.drift import tv_from_histograms

    def hist(pairs):
        arr = F.array(*[
            F.struct(F.lit(b).alias("bucket"), F.lit(n).alias("n"))
            for b, n in pairs
        ])
        return (
            spark.range(1)
            .select(F.explode(arr).alias("x"))
            .select("x.bucket", "x.n")
        )

    same = [("a", 10), ("b", 30)]
    r = tv_from_histograms(hist(same), hist(same[::-1]), "tv", "bucket").first()
    assert abs(r.tv_stat) < 1e-12 and bool(r.passed)

    r = tv_from_histograms(
        hist([("a", 10)]), hist([("b", 99)]), "tv", "bucket"
    ).first()
    assert abs(r.tv_stat - 1.0) < 1e-12 and not bool(r.passed)

    r = tv_from_histograms(
        hist([("a", 50), ("b", 50)]), hist([("a", 25), ("b", 75)]), "tv", "bucket"
    ).first()
    assert abs(r.tv_stat - 0.25) < 1e-12


def test_tv_zero_mass_sides_have_defined_verdicts(spark):
    """ADVICE r2: an empty/all-zero histogram side must yield a defined
    verdict — one empty side pins tv=1.0 (fails), both empty pins
    tv=0.0 (passes) — never a null tv_stat/passed."""
    from pyspark.sql import functions as F

    from biosample_enricher_spark.operators.drift import tv_from_histograms

    def hist(pairs):
        arr = F.array(*[
            F.struct(F.lit(b).alias("bucket"), F.lit(n).alias("n"))
            for b, n in pairs
        ])
        return (
            spark.range(1)
            .select(F.explode(arr).alias("x"))
            .select("x.bucket", "x.n")
        )

    full = hist([("a", 10), ("b", 30)])
    empty = full.where(F.lit(False))
    zero_mass = hist([("a", 0), ("b", 0)])

    r = tv_from_histograms(empty, full, "tv", "bucket").first()
    assert r.tv_stat == 1.0 and r.passed is False and r.n_base == 0

    r = tv_from_histograms(full, zero_mass, "tv", "bucket").first()
    assert r.tv_stat == 1.0 and r.passed is False and r.n_cur == 0

    r = tv_from_histograms(empty, empty.where(F.lit(False)), "tv", "bucket").first()
    assert r.tv_stat == 0.0 and r.passed is True


def test_psi_identical_shifted_and_empty(spark):
    """PSI = 0 on identical histograms; hand-computed value on a known
    shift; eps-floored log keeps zero buckets finite; empty sides get
    defined verdicts via the zero-mass guard."""
    import math

    from pyspark.sql import functions as F

    from biosample_enricher_spark.operators.drift import psi_from_histograms

    def hist(pairs):
        arr = F.array(*[
            F.struct(F.lit(b).alias("bucket"), F.lit(n).alias("n"))
            for b, n in pairs
        ])
        return (
            spark.range(1)
            .select(F.explode(arr).alias("x"))
            .select("x.bucket", "x.n")
        )

    same = [("a", 40), ("b", 60)]
    r = psi_from_histograms(hist(same), hist(same[::-1]), "psi", "bucket").first()
    assert r.psi_stat == 0.0 and bool(r.passed)

    # 0.5/0.5 vs 0.25/0.75: PSI = .25*ln(2) + (-.25)*ln(2/3)
    r = psi_from_histograms(
        hist([("a", 50), ("b", 50)]), hist([("a", 25), ("b", 75)]),
        "psi", "bucket",
    ).first()
    expected = 0.25 * math.log(2.0) + (-0.25) * math.log(0.5 / 0.75)
    assert abs(r.psi_stat - expected) < 1e-9
    assert not bool(r.passed)  # 0.275 > 0.1

    # disjoint support: eps floor keeps it finite and large
    r = psi_from_histograms(
        hist([("a", 10)]), hist([("b", 10)]), "psi", "bucket"
    ).first()
    assert r.psi_stat > 10 and not bool(r.passed)

    empty = hist(same).where(F.lit(False))
    r = psi_from_histograms(empty, hist(same), "psi", "bucket").first()
    assert r.passed is not None and r.psi_stat is not None


def test_per_partition_drift_matches_per_partition_recompute(spark):
    """Per-partition KS rows must equal running the global drift_check
    on each content bucket's documents separately, and a single-bucket
    planted shift must flag ONLY that bucket."""
    from pyspark.sql import functions as F

    from biosample_enricher_spark.constraints.core import stable_partition_id
    from biosample_enricher_spark.operators.drift import (
        drift_check,
        drift_check_by_partition,
    )

    a = gen_documents(spark, 1200, BASE)
    b = gen_documents(spark, 1200, GenParams(seed=201).clean())
    got = {
        (r.constraint_id, r.partition_id): (r.ks_stat, r.passed)
        for r in drift_check_by_partition(a, b, n_buckets=4).collect()
    }
    assert len(got) == 8  # 2 constraints × 4 buckets
    for pid in range(4):
        a_p = a.where(stable_partition_id(F.col("doc_id"), 4) == pid)
        b_p = b.where(stable_partition_id(F.col("doc_id"), 4) == pid)
        exp = {
            r.constraint_id: (r.ks_stat, r.passed)
            for r in drift_check(a_p, b_p).collect()
        }
        for cid, v in exp.items():
            assert got[(cid, pid)] == v, (cid, pid)

    # plant a shift in bucket 2 only: triple every text there
    shifted = b.withColumn(
        "spans",
        F.when(
            stable_partition_id(F.col("doc_id"), 4) == 2,
            F.transform(
                F.col("spans"),
                lambda s: F.struct(
                    s["kind"].alias("kind"),
                    F.when(
                        s["text"].isNotNull(),
                        F.concat(s["text"], s["text"], s["text"]),
                    ).alias("text"),
                    s["media_ref"].alias("media_ref"),
                    s["offset"].alias("offset"),
                ),
            ),
        ).otherwise(F.col("spans")),
    )
    flagged = {
        r.partition_id
        for r in drift_check_by_partition(a, shifted, n_buckets=4)
        .where(
            (F.col("constraint_id") == "drift_span_length")
            & ~F.col("passed")
        )
        .collect()
    }
    assert flagged == {2}


def _ks_by_hand(base: dict, cur: dict, order: list) -> float:
    na, nb = sum(base.values()), sum(cur.values())
    ca = cb = 0
    d = 0.0
    for k in order:
        ca += base.get(k, 0)
        cb += cur.get(k, 0)
        d = max(d, abs(ca / na - cb / nb))
    return d


def test_ks_bucket_order_is_the_bucket_type(spark):
    """KS takes its CDF in the bucket column's own order: numeric
    buckets 8 < 16 < 32 < 128, string buckets '128' < '16' < '32' < '8'.
    The two orders give different statistics on the same counts."""
    from biosample_enricher_spark.operators.drift import ks_from_histograms

    base = {8: 2, 32: 2}
    cur = {16: 2, 128: 2}
    numeric = _ks_by_hand(base, cur, [8, 16, 32, 128])
    lexical = _ks_by_hand(base, cur, [128, 16, 32, 8])
    assert (numeric, lexical) == (0.5, 1.0)

    def hist(h, typ):
        cast = str if typ == "string" else int
        return spark.createDataFrame(
            [(cast(k), n) for k, n in h.items()], f"bucket {typ}, n long"
        )

    r = ks_from_histograms(hist(base, "long"), hist(cur, "long"), "c", "bucket")
    assert r.first().ks_stat == numeric
    r = ks_from_histograms(hist(base, "string"), hist(cur, "string"), "c", "bucket")
    assert r.first().ks_stat == lexical


def test_ks_degenerate_sides(spark):
    """One empty side is maximal drift with an undefined critical value
    (ks 1.0, d_crit NULL, fails); two empty sides yield no row; a
    partition present in only one corpus gets the one-empty verdict."""
    from pyspark.sql import functions as F

    from biosample_enricher_spark.operators.drift import (
        drift_check_by_partition,
        ks_from_histograms,
    )

    full = _hist(spark, [(0, 3), (16, 5)])
    empty = _hist(spark, [])
    for a, b in ((full, empty), (empty, full)):
        (r,) = ks_from_histograms(a, b, "c", "bucket").collect()
        assert (r.ks_stat, r.d_crit, r.passed) == (1.0, None, False)
        assert {r.n_base, r.n_cur} == {0, 8}
    assert ks_from_histograms(empty, empty, "c", "bucket").collect() == []

    docs = gen_documents(spark, 200, BASE).withColumn(
        "pid", (F.xxhash64("doc_id") % 2 == 0).cast("int")
    )
    rows = drift_check_by_partition(
        docs, docs.where("pid = 0"), partition_col="pid"
    ).collect()
    assert len(rows) == 4  # 2 constraints × 2 partitions
    for r in rows:
        if r.partition_id == 1:
            assert (r.ks_stat, r.d_crit, r.passed, r.n_cur) == (1.0, None, False, 0)
            assert r.n_base > 0
        else:
            assert (r.ks_stat, r.passed) == (0.0, True) and r.d_crit > 0


def test_null_bucket_on_both_sides_is_one_bucket(spark):
    """As in a SQL ``GROUP BY``, a NULL bucket aligns with the other
    side's NULL bucket: identical histograms that each carry one are
    no drift under KS, TV and PSI."""
    from biosample_enricher_spark.operators.drift import (
        ks_from_histograms,
        psi_from_histograms,
        tv_from_histograms,
    )

    def hist():
        return spark.createDataFrame([("a", 10), (None, 5)], "bucket string, n long")

    (ks,) = ks_from_histograms(hist(), hist(), "c", "bucket").collect()
    (tv,) = tv_from_histograms(hist(), hist(), "c", "bucket").collect()
    (psi,) = psi_from_histograms(hist(), hist(), "c", "bucket").collect()
    assert (ks.ks_stat, ks.n_base, ks.n_cur, ks.passed) == (0.0, 15, 15, True)
    assert (tv.tv_stat, tv.n_base, tv.n_cur, tv.passed) == (0.0, 15, 15, True)
    assert (psi.psi_stat, psi.passed) == (0.0, True)


# --- EMD / Wasserstein-1 tier (round 5b) --------------------------------------


def _hist(spark, rows):
    return spark.createDataFrame(rows, "bucket long, n long")


def test_emd_known_value_and_gap_weighting(spark):
    from biosample_enricher_spark.operators.drift import emd_from_histograms

    # base all at bucket 0, cur all at bucket 5 → EMD = 5 bucket widths
    # (CDF diff |1-0| persists across the gap of width 5).
    base = _hist(spark, [(0, 10)])
    cur = _hist(spark, [(5, 10)])
    r = emd_from_histograms(base, cur, "c", "bucket", 1, 2).collect()[0]
    assert r["emd_buckets"] == 5.0
    assert r["passed"] is False
    assert (r["n_base"], r["n_cur"]) == (10, 10)


def test_emd_identical_histograms_zero(spark):
    from biosample_enricher_spark.operators.drift import emd_from_histograms

    h = [(0, 3), (2, 5), (7, 2)]
    r = emd_from_histograms(
        _hist(spark, h), _hist(spark, h), "c", "bucket", 1, 2
    ).collect()[0]
    assert r["emd_buckets"] == 0.0
    assert r["passed"] is True


def test_emd_fractional_shift_exact(spark):
    from biosample_enricher_spark.operators.drift import emd_from_histograms

    # base: 2@0, 2@1; cur: 1@0, 3@1. CDF diff at bucket 0:
    # |2*4 - 1*4| = 4 → /(4*4) = 0.25 bucket widths.
    base = _hist(spark, [(0, 2), (1, 2)])
    cur = _hist(spark, [(0, 1), (1, 3)])
    r = emd_from_histograms(base, cur, "c", "bucket", 1, 2).collect()[0]
    assert r["emd_buckets"] == 0.25
    assert r["passed"] is True  # 0.25 <= 0.5


def test_emd_degenerate_sides(spark):
    from biosample_enricher_spark.operators.drift import emd_from_histograms

    empty = _hist(spark, [])
    full = _hist(spark, [(0, 4)])
    one_side = emd_from_histograms(empty, full, "c", "bucket", 1, 2).collect()[0]
    assert one_side["passed"] is False and one_side["emd_buckets"] is None
    both = emd_from_histograms(empty, empty, "c", "bucket", 1, 2).collect()[0]
    assert both["passed"] is True and both["emd_buckets"] == 0.0


def test_emd_threshold_is_integer_exact(spark):
    from biosample_enricher_spark.operators.drift import emd_from_histograms

    # EMD exactly at the threshold passes (<=): base 1@0,1@1; cur 2@1
    # → diff at bucket 0 = |1*2 - 0*2| = 2 → /(2*2) = 0.5.
    base = _hist(spark, [(0, 1), (1, 1)])
    cur = _hist(spark, [(1, 2)])
    r = emd_from_histograms(base, cur, "c", "bucket", 1, 2).collect()[0]
    assert r["emd_buckets"] == 0.5
    assert r["passed"] is True


# --- chi-square contingency ------------------------------------------------


def _pairs(spark, counts):
    """counts: {(rk, ck): n} → flat two-column frame with n copies."""
    rows = [(r, c) for (r, c), n in counts.items() for _ in range(n)]
    return spark.createDataFrame(rows, "rk string, ck string")


def test_chi2_exactly_independent_table_is_all_zero(spark):
    from biosample_enricher_spark.operators.drift import chi2_contingency

    # counts proportional to row×col margins: O = r*c/n exactly.
    d = _pairs(spark, {("a", "x"): 2, ("a", "y"): 4, ("b", "x"): 1, ("b", "y"): 2})
    out = chi2_contingency(d, "rk", "ck").collect()
    assert len(out) == 4
    for r in out:
        assert r["dev_num"] == 0  # integer verdict, no float
        assert r["chi2_term_9dp"] == 0.0


def test_chi2_known_2x2_value(spark):
    from biosample_enricher_spark.operators.drift import chi2_contingency

    # O = [[10,20],[20,10]] → E = 15 everywhere → chi2 = 4·(25/15) = 20/3.
    d = _pairs(
        spark,
        {("a", "x"): 10, ("a", "y"): 20, ("b", "x"): 20, ("b", "y"): 10},
    )
    out = {(r["rk"], r["ck"]): r for r in chi2_contingency(d, "rk", "ck").collect()}
    for cell, sign in [(("a", "x"), -1), (("a", "y"), 1), (("b", "x"), 1), (("b", "y"), -1)]:
        r = out[cell]
        assert r["grand_total"] == 60 and r["row_total"] == 30 and r["col_total"] == 30
        assert r["dev_num"] == sign * 300  # 60·O − 30·30
        assert r["chi2_term_9dp"] == round(300 * 300 / (60 * 30 * 30), 9)
    total = sum(r["chi2_term_9dp"] for r in out.values())
    assert abs(total - 20 / 3) < 4 * 5e-10  # 9dp rounding per term


def test_chi2_gap_fills_unobserved_cells(spark):
    from biosample_enricher_spark.operators.drift import chi2_contingency

    # only (a,x) and (b,y) observed — the zero cells still contribute
    # E = r·c/n each.
    d = _pairs(spark, {("a", "x"): 3, ("b", "y"): 1})
    out = {(r["rk"], r["ck"]): r for r in chi2_contingency(d, "rk", "ck").collect()}
    assert len(out) == 4
    z = out[("a", "y")]
    assert z["obs"] == 0
    assert z["dev_num"] == 0 - 3 * 1  # n·0 − r_a·c_y = −3
    assert z["chi2_term_9dp"] == round(9 / (4 * 3 * 1), 9)


def test_chi2_quantized_terms_sum_exactly_and_order_independently(spark):
    from decimal import Decimal

    from pyspark.sql import functions as F

    from biosample_enricher_spark.operators.drift import chi2_contingency

    d = _pairs(
        spark,
        {("a", "x"): 7, ("a", "y"): 11, ("b", "x"): 13, ("b", "y"): 5,
         ("c", "x"): 2, ("c", "y"): 9},
    )
    cells = chi2_contingency(d, "rk", "ck")
    expected = sum(
        Decimal(str(r["chi2_term_9dp"])) for r in cells.collect()
    )
    for parts in (1, 7):
        got = (
            cells.repartition(parts)
            .agg(F.sum("chi2_term_q").alias("s"))
            .collect()[0]["s"]
        )
        assert got == expected  # exact decimal addition, any partitioning
