"""Distribution-drift constraints: two-sample Kolmogorov–Smirnov over
span-length and kind-frequency histograms (SURVEY.md §2.9), plus the
TV, PSI and EMD statistics over the same histogram inputs.

Reference analog: before/after coverage deltas and improvement
categorization (``/root/reference/biosample_enricher/weather/metrics.py:
225-268``) and distribution consistency analysis
(``random_sampling_demo.py:607-640``) — re-expressed as a statistical
test instead of hand-binned categories.

Scale shape: each drift statistic starts from one alignment step
(``_aligned``): both sides' ``(bucket, n)`` rows are unioned, each count
in its own side's column, and summed in one ``groupBy(bucket)`` whose
map-side partial aggregation bounds the shuffle to |buckets| ×
partitions rows (skew-immune) for histograms and raw items alike. The
KS drift check feeds it one explode of each side's spans, so it reads
each side once. The statistic is then window expressions and one
aggregate over the aligned rows — no join, no Python. The weighted
two-sample KS on binned data is exact for the binned distributions:
D = max_bucket |CDF_a - CDF_b|, with the CDF taken in the bucket
column's own order (numeric buckets numerically, string buckets
lexicographically).

The pass threshold uses the standard large-sample critical value
D_crit = c(alpha) * sqrt((n_a + n_b) / (n_a * n_b)), c(0.05) ≈ 1.358.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..spec import C_DRIFT_KIND_FREQ, C_DRIFT_SPAN_LEN

_KS_C_ALPHA_05 = 1.3581015157406195  # sqrt(-0.5 * ln(0.05/2))


def _aligned(
    base_hist: DataFrame,
    cur_hist: DataFrame,
    bucket_col: str,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Align two ``(keys..., bucket_col, n)`` frames → ``(keys...,
    bucket, n_base, n_cur)`` by one union-and-sum: each side's ``n``
    goes in its own column with 0 in the other's, and one
    ``groupBy(keys..., bucket)`` sums both. Inputs may be histograms or
    raw items with ``n = 1``. As in a SQL ``GROUP BY``, a NULL bucket
    is one bucket: NULL on both sides aligns into one row."""

    def side(df: DataFrame, n_base: Column, n_cur: Column) -> DataFrame:
        bucket = F.col(bucket_col).alias("bucket")
        return df.select(*keys, bucket, n_base.alias("n_base"), n_cur.alias("n_cur"))

    return (
        side(base_hist, F.col("n"), F.lit(0))
        .unionByName(side(cur_hist, F.lit(0), F.col("n")))
        .groupBy(*keys, "bucket")
        .agg(F.sum("n_base").alias("n_base"), F.sum("n_cur").alias("n_cur"))
    )


def _share(col: str) -> Column:
    """An aligned row's share of its side's total, over a whole-frame
    window of the aligned rows (|buckets| rows, not the corpus). A side
    of zero mass shares 0.0 (nullif → NULL division → coalesce). The
    window is ordered so that a later float sum adds its terms in bucket
    order, not in the order the alignment's aggregation emits them."""
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return F.coalesce(F.col(col) / F.nullif(F.sum(col).over(w), F.lit(0)), F.lit(0.0))


def _ks(aligned: DataFrame, keys: Sequence[str] = ()) -> DataFrame:
    """Weighted two-sample KS per ``(constraint_id, keys...)`` group of
    aligned rows, ``constraint_id`` being a column → ``(constraint_id,
    keys..., ks_stat, n_base, n_cur, d_crit, passed)``.

    One window pass per group, ordered by the bucket in its own type (a
    struct field by field): integer cumulative counts ``ca``/``cb`` and
    totals ``na``/``nb``, then ``ks_stat = max |ca/na − cb/nb|`` — exact
    integer cumsums divided by exact integer totals in IEEE doubles, so
    any SQL engine replays it bit for bit. Degenerate groups: one empty
    side is maximal drift (ks 1.0, d_crit NULL, fails); both sides
    empty yields no row, because no aligned row carries that group.
    """
    grp = ["constraint_id", *keys]
    w_all = Window.partitionBy(*grp)
    w_cum = w_all.orderBy("bucket")
    cdf = aligned.select(
        *grp,
        F.sum("n_base").over(w_cum).alias("ca"),
        F.sum("n_cur").over(w_cum).alias("cb"),
        F.sum("n_base").over(w_all).alias("na"),
        F.sum("n_cur").over(w_all).alias("nb"),
    )
    # ANSI mode raises on a bare `/ 0`: an empty side divides to NULL
    gap = F.abs(F.try_divide("ca", "na") - F.try_divide("cb", "nb"))
    tot = cdf.groupBy(*grp, "na", "nb").agg(F.max(gap).alias("_d"))
    both_empty = (F.col("na") == 0) & (F.col("nb") == 0)
    one_empty = (F.col("na") == 0) | (F.col("nb") == 0)
    na, nb = F.col("na").cast("double"), F.col("nb").cast("double")
    d_crit = F.lit(_KS_C_ALPHA_05) * F.sqrt(F.try_divide(na + nb, na * nb))
    ks_stat = (
        F.when(both_empty, F.lit(0.0))
        .when(one_empty, F.lit(1.0))
        .otherwise(F.col("_d"))
    )
    return tot.select(
        *grp,
        ks_stat.alias("ks_stat"),
        F.col("na").alias("n_base"),
        F.col("nb").alias("n_cur"),
        d_crit.alias("d_crit"),
        F.when(both_empty, F.lit(True))
        .when(one_empty, F.lit(False))
        .otherwise(F.col("_d") <= d_crit)
        .alias("passed"),
    )


def ks_from_histograms(
    base_hist: DataFrame,
    cur_hist: DataFrame,
    constraint_id: str,
    bucket_col: str,
) -> DataFrame:
    """Align two histograms on their bucket key and compute the KS
    statistic with window expressions → one result row (none when
    both histograms are empty)."""
    aligned = _aligned(base_hist, cur_hist, bucket_col)
    return _ks(aligned.withColumn("constraint_id", F.lit(constraint_id)))


def _drift_ks(
    base: DataFrame,
    cur: DataFrame,
    span_len_bucket_width: int,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Both KS drift constraints per ``keys`` group of the documents.

    One explode of each side's ``spans`` emits ``(keys...,
    constraint_id, bucket, n = 1)`` items: a kind item per span and a
    span-length item per text span. The bucket is a ``struct<len long,
    kind string>`` whose other constraint's field is NULL, so one KS
    window orders lengths numerically and kinds lexicographically."""
    s, width = F.col("s"), span_len_bucket_width
    length = (F.floor(F.length(s.text) / width) * width).cast("long")

    def item(cid: str, len_: Column, kind: Column) -> Column:
        bucket = F.struct(len_.alias("len"), kind.alias("kind"))
        return F.struct(F.lit(cid).alias("constraint_id"), bucket.alias("bucket"))

    no_len, no_kind = F.lit(None).cast("long"), F.lit(None).cast("string")
    len_item = F.when(s.text.isNotNull(), item(C_DRIFT_SPAN_LEN, length, no_kind))
    kind_item = item(C_DRIFT_KIND_FREQ, no_len, F.coalesce(s.kind, F.lit("<null>")))
    items = F.filter(F.array(len_item, kind_item), lambda i: i.isNotNull())

    def side(docs: DataFrame) -> DataFrame:
        exploded = docs.select(*keys, F.explode("spans").alias("s"))
        return exploded.select(*keys, F.inline(items), F.lit(1).alias("n"))

    aligned = _aligned(side(base), side(cur), "bucket", ("constraint_id", *keys))
    return _ks(aligned, keys)


def drift_check(
    baseline_docs: DataFrame,
    current_docs: DataFrame,
    span_len_bucket_width: int = 16,
) -> DataFrame:
    """Run both drift constraints baseline-vs-current → one result row
    per constraint: (constraint_id, ks_stat, n_base, n_cur, d_crit,
    passed)."""
    return _drift_ks(baseline_docs, current_docs, span_len_bucket_width)


def tv_from_histograms(
    base_hist: DataFrame,
    cur_hist: DataFrame,
    constraint_id: str,
    bucket_col: str,
    threshold: float = 0.05,
) -> DataFrame:
    """Total-variation drift: TV = 0.5 * sum_b |p_base(b) - p_cur(b)|.

    Order-independent (unlike KS, whose statistic depends on the bucket
    ordering — fine for span lengths, arguable for categorical kind
    frequencies; SURVEY.md §2.9 note). Pure expressions end-to-end: the
    histogram alignment is one aggregation on the bucket key and the
    statistic is one aggregate — no Python at all, so this tier also
    serves as the SQL-oracled drift path.
    """
    # the degenerate verdicts are pinned explicitly below: one empty
    # side = maximal drift (tv 1.0, fails), both empty = no evidence of
    # drift (tv 0.0, passes) — never a null passed column
    probs = _aligned(base_hist, cur_hist, bucket_col).select(
        "n_base", "n_cur", (_share("n_base") - _share("n_cur")).alias("pdiff")
    )
    tot = probs.groupBy().agg(
        F.coalesce(F.sum("n_base"), F.lit(0)).alias("na"),
        F.coalesce(F.sum("n_cur"), F.lit(0)).alias("nb"),
        F.coalesce(F.sum(F.abs(F.col("pdiff"))), F.lit(0.0)).alias("_absdiff"),
    )
    tv = (
        F.when((F.col("na") == 0) & (F.col("nb") == 0), F.lit(0.0))
        .when((F.col("na") == 0) | (F.col("nb") == 0), F.lit(1.0))
        .otherwise(F.col("_absdiff") / 2)
    )
    return tot.select(
        F.lit(constraint_id).alias("constraint_id"),
        tv.alias("tv_stat"),
        F.col("na").cast("long").alias("n_base"),
        F.col("nb").cast("long").alias("n_cur"),
        F.lit(float(threshold)).alias("threshold"),
        (tv <= threshold).alias("passed"),
    )


def psi_from_histograms(
    base_hist: DataFrame,
    cur_hist: DataFrame,
    constraint_id: str,
    bucket_col: str,
    threshold: float = 0.1,
    eps: float = 1e-6,
) -> DataFrame:
    """Population stability index: PSI = Σ_b (p_b − q_b)·ln(p_b/q_b).

    The industry-standard drift score next to KS (order-sensitive) and
    TV (order-free, bounded): PSI weights re-distributed mass by its
    log-ratio, so a bucket going 1% → 0.1% counts as much as one going
    10% → 1%. Zero-proportion buckets are floored at ``eps`` (pinned,
    so the SQL oracle reproduces it exactly); conventional reading:
    <0.1 stable, 0.1–0.25 moderate, >0.25 major shift. Pure
    expressions end-to-end like TV — histograms are the only input, so
    Python never sees data rows."""

    def prop(col: str) -> Column:
        raw = _share(col)
        return F.when(raw <= 0, F.lit(float(eps))).otherwise(raw)

    p, q = prop("n_base"), prop("n_cur")
    scored = _aligned(base_hist, cur_hist, bucket_col).select(
        "n_base", "n_cur", ((p - q) * F.log(p / q)).alias("contrib")
    )
    tot = scored.groupBy().agg(
        F.coalesce(F.sum("n_base"), F.lit(0)).alias("na"),
        F.coalesce(F.sum("n_cur"), F.lit(0)).alias("nb"),
        F.coalesce(F.sum("contrib"), F.lit(0.0)).alias("_psi"),
    )
    # float-sum reduction order differs across engines at the last
    # ulp — report at 9 dp like the TV tier's oracle contract
    psi = F.round(F.col("_psi"), 9)
    return tot.select(
        F.lit(constraint_id).alias("constraint_id"),
        psi.alias("psi_stat"),
        F.col("na").cast("long").alias("n_base"),
        F.col("nb").cast("long").alias("n_cur"),
        F.lit(float(threshold)).alias("threshold"),
        (psi <= threshold).alias("passed"),
    )


def drift_check_by_partition(
    baseline_docs: DataFrame,
    current_docs: DataFrame,
    span_len_bucket_width: int = 16,
    n_buckets: int = 64,
    partition_col: str | None = None,
) -> DataFrame:
    """Per-content-partition drift: the same two KS constraints, one
    verdict row per (constraint_id, partition_id) — the drift tier at
    the north_rule's per-partition pass/fail granularity, so an
    operator can see WHICH content buckets drifted instead of one
    corpus-global verdict (and the checkpoint table can carry drift
    lineage rows next to the row-scope ones).

    Same scale shape as ``drift_check``, with partition_id added to
    the alignment's grouping (shuffle bounded by |partitions| ×
    |buckets|) and to the KS window partition. A partition present in
    only one corpus gets the one-empty-side verdict (ks 1.0, d_crit
    NULL, fails).

    ``partition_col`` names a caller-supplied partition-id column on
    BOTH input frames (any deterministic int key — e.g. an
    SQL-portable ``doc_id % k`` when an external oracle must replay
    the bucketing); default is the engine's content-addressed
    ``stable_partition_id`` (pmod(xxhash64(doc_id), n_buckets))."""
    from ..constraints.core import stable_partition_id

    pid = (
        stable_partition_id(F.col("doc_id"), n_buckets)
        if partition_col is None
        else F.col(partition_col).cast("int")
    )
    return _drift_ks(
        baseline_docs.withColumn("partition_id", pid),
        current_docs.withColumn("partition_id", pid),
        span_len_bucket_width,
        ("partition_id",),
    )


def emd_from_histograms(
    base_hist: DataFrame,
    cur_hist: DataFrame,
    constraint_id: str,
    bucket_col: str,
    threshold_num: int = 1,
    threshold_den: int = 2,
) -> DataFrame:
    """Earth-mover / Wasserstein-1 drift between two histograms over a
    NUMERIC bucket key, in bucket-width units:

        EMD = sum_b |CDF_base(b) - CDF_cur(b)| * (next_bucket - b)

    The gap weight matters: histograms are sparse (only observed
    buckets materialize), and the CDF difference persists across an
    unobserved run of buckets, so each term is weighted by the distance
    to the next observed bucket. The last bucket's term is 0 (both
    CDFs have reached their total there).

    Complements the KS tier (max deviation — localized shifts) with
    total transported mass (broad shifts KS under-weights). Reference
    analog: the KS drift constraint family of the metrics scorer
    (``/root/reference/biosample_enricher/metrics/score.py``) — EMD is
    the additive counterpart over the same histogram inputs.

    Cross-engine exactness: the statistic is assembled as ONE exact
    integer numerator ``sum(|ca*nb - cb*na| * gap)`` (ca/cb integer
    cumulative counts, na/nb integer totals — an order-independent
    sum, carried in DECIMAL(38,0) because ca·nb exceeds int64 once
    both histograms pass ~3×10⁹ rows; oracle twin: HUGEINT) and
    divided by ``na*nb`` exactly once, so Spark and any ANSI-SQL
    oracle produce bit-identical doubles. The pass verdict is
    likewise the exact-integer predicate
    ``den*num <= threshold_num*na*nb`` — no float boundary. Window note: the cumsum window runs over the tiny
    aggregated histogram (|buckets| rows), not the corpus — the same
    single-partition-window contract as ``tv_from_histograms``.

    Degenerate verdicts mirror the TV tier: one empty side = maximal
    drift (emd null, fails); both empty = no evidence (emd 0.0, passes).
    """
    aligned = _aligned(base_hist, cur_hist, bucket_col).select(
        F.col("bucket").cast("long").alias("bucket"),
        F.col("n_base").cast("long").alias("n_base"),
        F.col("n_cur").cast("long").alias("n_cur"),
    )
    w = Window.partitionBy().orderBy("bucket")
    wall = Window.partitionBy()
    terms = aligned.select(
        F.sum("n_base").over(w).alias("ca"),
        F.sum("n_cur").over(w).alias("cb"),
        (F.coalesce(F.lead("bucket").over(w), F.col("bucket")) - F.col("bucket"))
        .alias("gap"),
        F.sum("n_base").over(wall).alias("na"),
        F.sum("n_cur").over(wall).alias("nb"),
    )
    # ca·nb products overflow int64 once both sides exceed ~3×10⁹ rows
    # (exactly the 100 TB tier this targets), and Spark's non-ANSI long
    # multiply would wrap SILENTLY while a HUGEINT-summing SQL oracle
    # would not — so the numerator and the na·nb denominator are
    # computed in exact DECIMAL(38,0) (oracle twin: HUGEINT). Safe
    # while na·nb·max_gap·|buckets| < 10³⁸; the wide-int→double
    # conversions below are round-to-nearest in both engines and the
    # final ops correctly-rounded IEEE, so bit-identity survives the
    # widening.
    dec = "decimal(38,0)"
    tot = terms.groupBy().agg(
        F.coalesce(
            F.sum(
                F.abs(
                    F.col("ca").cast(dec) * F.col("nb")
                    - F.col("cb").cast(dec) * F.col("na")
                )
                * F.col("gap")
            ),
            F.lit(0).cast(dec),
        ).alias("num"),
        F.coalesce(F.max("na"), F.lit(0)).cast("long").alias("na"),
        F.coalesce(F.max("nb"), F.lit(0)).cast("long").alias("nb"),
    )
    denom = F.col("na").cast(dec) * F.col("nb")
    emd = (
        F.when((F.col("na") == 0) & (F.col("nb") == 0), F.lit(0.0))
        .when((F.col("na") == 0) | (F.col("nb") == 0), F.lit(None).cast("double"))
        .otherwise(
            F.col("num").cast("double") / denom.cast("double")
        )
    )
    passed = (
        F.when((F.col("na") == 0) & (F.col("nb") == 0), F.lit(True))
        .when((F.col("na") == 0) | (F.col("nb") == 0), F.lit(False))
        .otherwise(
            F.lit(int(threshold_den)).cast(dec) * F.col("num")
            <= F.lit(int(threshold_num)).cast(dec) * denom
        )
    )
    return tot.select(
        F.lit(constraint_id).alias("constraint_id"),
        emd.alias("emd_buckets"),
        F.col("na").alias("n_base"),
        F.col("nb").alias("n_cur"),
        F.lit(float(threshold_num) / float(threshold_den)).alias("threshold"),
        passed.alias("passed"),
    )


def chi2_contingency(
    df: DataFrame,
    row_col: str,
    col_col: str,
) -> DataFrame:
    """Pearson chi-square test of independence over the contingency
    table of two categorical columns — the drift family's ASSOCIATION
    member (KS/TV/PSI/EMD compare one marginal against a baseline;
    this asks whether two dimensions of ONE corpus are independent,
    e.g. does violation kind depend on ingest source — the smoking gun
    for a broken provider).

    Per cell (i, j): observed O, row/column/grand totals r, c, n, the
    exact integer deviation n·O − r·c (zero ⟺ exactly independent
    cell — an integer verdict with no float), and the chi² term
    (n·O − r·c)² / (n·r·c), algebraically (O − E)²/E with E = r·c/n.
    The UNOBSERVED cells of the grid matter (O = 0 still contributes
    r·c/n): the observed pairs are gap-filled against the full
    distinct-rows × distinct-cols grid before totals are taken.

    Cross-engine float discipline (the a22/a23 rules): dev is an
    exact int64; its double image and square are correctly rounded
    from the same integer in any engine; the denominator is built
    left-associated double products of exact ints; ONE division, then
    9dp rounding. ``chi2_term_q`` additionally quantizes each term to
    DECIMAL(28,9), so downstream sums of the statistic are EXACT
    decimal additions — order-independent across partitions (a float
    sum of terms would be association-order-dependent and diverge
    between engines).

    Scale shape: one map-side-combined groupBy over the corpus; the
    grid/totals passes run on the |rows|×|cols| cell frame (bounded by
    category cardinalities, never the corpus). Overflow: dev² is
    computed in DECIMAL(38,0) → exact up to n·O ~ 10¹⁸.
    """
    o = (
        df.groupBy(
            F.col(row_col).alias("rk"), F.col(col_col).alias("ck")
        ).agg(F.count(F.lit(1)).alias("obs"))
    )
    grid = (
        o.select("rk").distinct().crossJoin(o.select("ck").distinct())
    )
    f = grid.join(o, ["rk", "ck"], "left").select(
        "rk", "ck", F.coalesce("obs", F.lit(0)).alias("obs")
    )
    wr, wc, wn = (
        Window.partitionBy("rk"),
        Window.partitionBy("ck"),
        Window.partitionBy(),
    )
    tot = f.select(
        "rk",
        "ck",
        "obs",
        F.sum("obs").over(wr).alias("r"),
        F.sum("obs").over(wc).alias("c"),
        F.sum("obs").over(wn).alias("n"),
    )
    dec = "decimal(38,0)"
    dev = (F.col("n") * F.col("obs") - F.col("r") * F.col("c"))
    dev_sq = (dev.cast(dec) * dev.cast(dec)).cast("double")
    den = (
        F.col("n").cast("double") * F.col("r").cast("double")
        * F.col("c").cast("double")
    )
    term = F.round(dev_sq / den, 9)
    return tot.select(
        F.col("rk"),
        F.col("ck"),
        "obs",
        F.col("r").alias("row_total"),
        F.col("c").alias("col_total"),
        F.col("n").alias("grand_total"),
        dev.alias("dev_num"),
        term.alias("chi2_term_9dp"),
        term.cast("decimal(28,9)").alias("chi2_term_q"),
    )
