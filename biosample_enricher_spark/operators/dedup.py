"""Deduplication operators for training-data pipelines.

Four tiers, cheapest first:

1. **Exact** — hash-groupBy on a canonical fingerprint. One shuffle,
   map-side combined.
2. **N-gram Jaccard** — word-shingle sets; candidate pairs restricted
   to shingle-sharing docs (inverted-index join), exact Jaccard on the
   candidates only.
3. **MinHash + LSH** — fixed-size signatures, banded into buckets;
   bucket-equijoin yields candidates with tunable recall at
   O(bands × docs) shuffle instead of O(docs²).
4. **SimHash** — 64-bit near-dup signature via per-token hash bit
   voting; Hamming-adjacent buckets for candidates.

Everything — including the SimHash bit vote — is pure DataFrame
expressions; zero Python rows cross the JVM boundary. At 100 TB the
LSH path is the scale path:
its shuffle volume is #docs × #bands rows of (band_hash), and the
pair-verify join only touches colliding buckets.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text import fingerprint, normalize_for_fingerprint

# --- 1. exact dedup ----------------------------------------------------------


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Groups of docs sharing a canonical fingerprint (size > 1):
    (fp, n_docs, doc_ids sorted). Keep-first policy = min(id)."""
    return (
        df.select(F.col(id_col).alias("doc_id"), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_id"),
        )
        .where(F.col("n_docs") > 1)
    )


def keep_first(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The deduped corpus itself (not just the dup groups): one doc per
    canonical fingerprint, keep = min(id). Window-free — a fingerprint
    groupBy picks the keeper ids (map-side combined, one shuffle), then
    a semi-join filters the corpus; no row ever carries its whole
    group.

    NULL-text docs pass through UNCHANGED: fingerprint(NULL) is NULL,
    and grouping on the NULL key would silently collapse every
    text-less document (media-only docs in an interleaved corpus) into
    one "duplicate group", dropping all but min(id). Absence of text
    is not sameness of content."""
    keepers = (
        df.where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("_kid"),
            fingerprint(F.col(text_col)).alias("_fp"),
        )
        .groupBy("_fp")
        .agg(F.min("_kid").alias("_keep"))
        .select(F.col("_keep").alias(id_col))
    )
    return df.join(keepers, id_col, "left_semi").unionByName(
        df.where(F.col(text_col).isNull())
    )


def exact_collapse(
    df: DataFrame, id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame]:
    """Collapse canonical-identical docs to one representative (min id)
    BEFORE any pairwise candidate generation.

    This is the mandatory first stage of near-dup dedup at web scale:
    a real corpus carries byte-identical clusters of 10⁵–10⁷ docs
    (boilerplate, mirrors), every member of which shares the *same
    full MinHash/SimHash/SRP signature* — banding them would put the
    whole cluster in one bucket in every band and the bucket self-join
    would emit O(n²) candidate pairs. Identical docs need no pairwise
    anything: they are the same set, so one representative stands in
    for the group and group membership is recovered by a plain
    fingerprint join afterwards. Cost: one map-side-combined groupBy
    on the fingerprint plus one semi-join — both linear.

    Reference analog: the reference's dedup semantics are set-based —
    canonical-key membership, never pairwise comparison
    (``/root/reference/biosample_enricher/adapters.py:327-338``
    deduplicates by accumulating canonical ids in a set; its
    ``http_cache.py:20-44`` canonical request keys are the same
    canonicalize-then-key pattern ``fingerprint`` re-expresses).

    Returns ``(reps, members)``:

    - ``reps`` — the representative rows (all original columns), one
      per distinct canonical fingerprint; NULL-``text_col`` docs are
      excluded (no fingerprint → nothing to collapse; they never pair).
    - ``members`` — ``(<id_col>, rep_id, group_n)`` for every
      non-NULL-text doc: its representative's id and the group width.
    """
    fp = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col), fingerprint(F.col(text_col)).alias("_fp")
    )
    groups = fp.groupBy("_fp").agg(
        F.min(id_col).alias("rep_id"), F.count(F.lit(1)).alias("group_n")
    )
    members = fp.join(groups, "_fp").select(F.col(id_col), "rep_id", "group_n")
    reps = df.join(
        members.where(F.col(id_col) == F.col("rep_id")).select(id_col),
        id_col,
        "left_semi",
    )
    return reps, members


# --- 2. shingles + exact jaccard on candidates -------------------------------


def _ngrams(tokens: Column, n: int, distinct: bool) -> Column:
    """Word n-gram shingles from a token-array Column (all occurrences,
    or the distinct set when ``distinct``).

    Expression shape matters: the token array is LET-BOUND as a
    lambda variable (``transform(array(tokens), ws -> ...)``) so every
    ``slice``/``size`` reads the materialized array. Referencing the
    token expression directly inside the per-gram lambda would
    re-derive it (re-normalize + re-split when it comes from a split)
    once per gram — O(words²) per row, measured as a >50× slowdown at
    sf0.1 (no cross-subtree CSE outside whole-stage codegen). The
    single shared implementation keeps this subtle idiom in one place
    for every shingle builder."""

    def grams(ws: Column) -> Column:
        k = F.size(ws) - (n - 1)
        arr = F.when(
            k >= 1,
            F.transform(
                F.sequence(F.lit(1), k),
                lambda i: F.concat_ws(" ", F.slice(ws, i, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.array_distinct(arr) if distinct else arr

    return F.get(F.transform(F.array(tokens), grams), 0)


def distinct_ngrams(tokens: Column, n: int) -> Column:
    """Distinct word n-gram shingles (set semantics — the Jaccard /
    MinHash input)."""
    return _ngrams(tokens, n, distinct=True)


def all_ngrams(tokens: Column, n: int) -> Column:
    """Every n-gram occurrence in order (bag semantics — repetition
    profiling needs the duplicates the distinct form erases)."""
    return _ngrams(tokens, n, distinct=False)


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the canonical text (see
    ``distinct_ngrams`` for the let-binding discipline)."""
    return distinct_ngrams(F.split(normalize_for_fingerprint(text), " "), n)


def jaccard_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    df_cap: int | None = None,
) -> DataFrame:
    """Near-dup pairs by exact n-gram Jaccard, candidate-pruned via an
    inverted shingle index: only doc pairs sharing ≥1 shingle are
    compared, and |A∩B| is counted by the index join itself — no
    per-pair set intersection. Returns (id_a, id_b, jaccard) with
    id_a < id_b and jaccard ≥ threshold.

    ``df_cap`` drops shingles whose document frequency exceeds the cap
    BEFORE the self-join (standard stop-shingle trick): a 3-gram shared
    by f docs alone contributes f(f−1)/2 candidate rows, so one common
    phrase at web scale ("and the of") is a quadratic reducer-killer.
    Capping bounds any shingle's contribution at cap²/2. Recall is
    unaffected for near-dup pairs sharing at least one sub-cap shingle
    (near-identical docs share many); the reported jaccard counts only
    surviving shared shingles, i.e. it is a lower bound, so no false
    positives are introduced. Default is ``None`` (exact) so the
    function is a true Jaccard oracle out of the box — web-scale call
    sites opt in (e.g. ``df_cap=10_000``) where the quadratic-reducer
    guard matters more than exactness.
    """
    # r6 shape: ONE aggregation per shingle instead of (doc-freq
    # precount when capped + index self-join + two sizes joins). The
    # old plan evaluated the shingle projection — the CPU hot spot —
    # up to five times (index ×2 join sides, doc_freq, sizes ×2 via
    # the joins); now each doc's shingle set is computed once, each
    # doc's set size rides the index rows as a payload, |A∩B| is the
    # count of shingle buckets emitting the pair, and the df_cap
    # stop-shingle guard is the same width filter applied before pair
    # generation. Pair set and jaccard values are identical
    # (pinned against brute force in tests/test_dedup_similarity.py;
    # dedup_ngram_jaccard's external oracle is the old construction).
    index = df.select(
        F.col(id_col).alias("doc_id"),
        word_shingles(F.col(text_col), n).alias("sh"),
    ).where(F.size("sh") > 0).select(
        "doc_id",
        F.size("sh").alias("n_sh"),
        F.explode("sh").alias("shingle"),
    )
    pairs = _bucket_pair_explode(
        index, ["shingle"], "doc_id", df_cap, payload_col="n_sh"
    )
    inter = pairs.groupBy(
        F.col("p.a.doc_id").alias("id_a"),
        F.col("p.b.doc_id").alias("id_b"),
        F.col("p.a.n_sh").alias("n_a"),
        F.col("p.b.n_sh").alias("n_b"),
    ).agg(F.count(F.lit(1)).alias("n_inter"))
    return inter.select(
        "id_a",
        "id_b",
        (F.col("n_inter")
         / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))).alias("jaccard"),
    ).where(F.col("jaccard") >= threshold)


def _bucket_pair_explode(
    bucketed: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    bucket_cap: int | None,
    payload_col: str | None = None,
) -> DataFrame:
    """One row per ordered in-bucket pair (column ``p``, a struct
    ``(a, b)`` with a < b by id), via ONE collect_list aggregation per
    bucket — the shared core of ``_bucket_pairs`` (which dedups across
    buckets) and ``jaccard_candidates`` (which COUNTS buckets per
    pair). Buckets wider than ``bucket_cap`` are dropped.

    Pair generation is a TWO-LEVEL explode (posexplode the sorted ids,
    then explode each element's tail slice): the two Generates
    pipeline in one stage and per-row memory stays O(width), where a
    single flattened pairs-array per bucket would materialize the
    whole width²/2 struct array in one row — the exact stall measured
    (and reverted) when the same shape was tried cap-free for
    triangle-count wedges. With this form even the cap-free exact
    tier (``jaccard_candidates`` ``df_cap=None``) streams."""
    if payload_col is None:
        gathered = F.array_sort(F.collect_list(F.col(id_col)))
    else:
        gathered = F.array_sort(
            F.collect_list(F.struct(F.col(id_col), F.col(payload_col)))
        )
    grouped = bucketed.groupBy(*bucket_cols).agg(gathered.alias("_ids"))
    width_ok = F.size("_ids") >= 2
    if bucket_cap is not None:
        width_ok = width_ok & (F.size("_ids") <= bucket_cap)
    # Honest state bound: the cap filter applies AFTER collect_list, so
    # a single over-cap bucket is buffered in O(width) aggregation
    # state before being dropped — ~16-24 bytes/member, i.e. a 10⁶-doc
    # hot bucket costs ~20 MB of task state, survivable well past the
    # cap; only a 10⁸-member bucket would threaten memory. A pre-
    # collect widths semi-join that would bound state at the cap was
    # MEASURED (r6) to double-evaluate the signature subtree with no
    # exchange reuse (lsh cands 5 s → 57 s at sf1.0) and was rejected;
    # identical-doc mega-buckets — the only real source of such widths
    # — are removed upstream by exact_collapse in every pipeline
    # composition, which is the documented contract.
    tail = F.slice(
        F.col("_ids"),
        F.col("_i") + 2,
        F.greatest(F.size("_ids") - F.col("_i") - 1, F.lit(0)),
    )
    return (
        grouped.where(width_ok)
        .select(F.posexplode("_ids").alias("_i", "_a"), "_ids")
        .select("_a", F.explode(tail).alias("_b"))
        .select(F.struct(F.col("_a").alias("a"), F.col("_b").alias("b")).alias("p"))
    )


def _bucket_pairs(
    bucketed: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    bucket_cap: int | None,
    payload_col: str | None = None,
) -> DataFrame:
    """Distinct ordered candidate pairs from a bucketed frame, via ONE
    aggregation per bucket instead of a widths-precount + self-join.

    ``bucketed`` holds one row per (bucket_cols..., id) — ids distinct
    within a bucket. Collects each bucket's ids (plus an optional
    payload column, e.g. a signature the verifier needs), drops buckets
    wider than ``bucket_cap`` (the same O(w²) stop-key guard the old
    join applied BEFORE joining), sorts, and emits every i<j pair with
    a higher-order transform — semantically identical to the old
    ``x.join(y, bucket_keys & x.id < y.id)`` but the bucket subtree is
    evaluated once and nothing is ever joined. Output:
    (id_a, id_b[, payload_a, payload_b]), distinct across buckets.
    """
    exploded = _bucket_pair_explode(bucketed, bucket_cols, id_col, bucket_cap, payload_col)
    if payload_col is None:
        return exploded.select(
            F.col(f"p.a").alias("id_a"), F.col(f"p.b").alias("id_b")
        ).distinct()
    return exploded.select(
        F.col(f"p.a.{id_col}").alias("id_a"),
        F.col(f"p.b.{id_col}").alias("id_b"),
        F.col(f"p.a.{payload_col}").alias(f"{payload_col}_a"),
        F.col(f"p.b.{payload_col}").alias(f"{payload_col}_b"),
    ).distinct()


# --- 3. MinHash + LSH ---------------------------------------------------------


def minhash_signature(text: Column, num_hashes: int = 64, shingle_n: int = 3) -> Column:
    """MinHash signature: for hash function i, min over shingles of
    xxhash64(shingle, i). Pure expressions — the per-i minimum is an
    array transform + array_min, all JVM-side.

    The shingle array is let-bound (see word_shingles) so the shingle
    construction runs ONCE per row, not once per hash function — the
    naive shape re-built shingles 64× (measured minutes → seconds at
    sf0.1)."""
    sh = word_shingles(text, shingle_n)
    return F.get(
        F.transform(
            F.array(sh),
            lambda s: F.transform(
                F.sequence(F.lit(0), F.lit(num_hashes - 1)),
                lambda i: F.array_min(F.transform(s, lambda g: F.xxhash64(g, i))),
            ),
        ),
        0,
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    bucket_cap: int | None = 1000,
) -> DataFrame:
    """Near-dup candidate pairs from banded MinHash.

    Docs agreeing on all rows of any band collide. Shuffle cost:
    #docs × #bands small rows. The within-bucket self-join is O(w²)
    in the bucket width w, so ``bucket_cap`` drops any (band, bucket)
    holding more than that many docs BEFORE the join (same stop-key
    guard as ``jaccard_candidates``' ``df_cap`` and the SimHash
    quarter cap): one pathological bucket — a boilerplate cluster's
    shared signature — otherwise emits O(w²) candidate rows. A true
    near-dup pair inside a dropped bucket still surfaces through any
    of its other ``bands − 1`` band collisions (near-identical docs
    collide in most bands), and *identical* docs should never reach
    banding at all — collapse them first with ``exact_collapse``
    (``dedup_pipeline`` composes both). ``None`` disables the cap
    (exact candidate semantics for small/test corpora).
    Returns distinct (id_a, id_b), id_a < id_b.
    """
    rows_per_band = num_hashes // bands
    sig = df.select(
        F.col(id_col).alias("doc_id"),
        minhash_signature(F.col(text_col), num_hashes, shingle_n).alias("sig"),
    ).where(F.size("sig") > 0)
    banded = sig.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                            lambda v: v.cast("string"),
                        ),
                    )
                ),
            )
        ).alias("band", "bucket"),
    )
    # One aggregation instead of (widths precount + bucket self-join):
    # the old three-consumer shape re-evaluated the banded projection —
    # and with it the 64-hash MinHash signature, the pipeline's CPU hot
    # spot — once for the width count and once per join side (~4×,
    # measured; guide §2.3 "aggregate before you shuffle"). collect_list
    # shuffles exactly the same (doc_id, band, bucket) rows the join
    # would, groups each (band, bucket) once, and emits the ordered
    # in-bucket pairs JVM-side; per-group state is bounded by
    # ``bucket_cap`` exactly like the join's output was.
    return _bucket_pairs(banded, ["band", "bucket"], "doc_id", bucket_cap)


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    bucket_cap: int | None = 1000,
) -> DataFrame:
    """LSH candidates verified by exact Jaccard on shingle sets:
    (id_a, id_b, jaccard ≥ threshold)."""
    cands = lsh_candidate_pairs(
        df, id_col, text_col, num_hashes, bands, shingle_n, bucket_cap
    )
    shingled = df.select(
        F.col(id_col).alias("doc_id"),
        word_shingles(F.col(text_col), shingle_n).alias("sh"),
    )
    a = shingled.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = shingled.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    verified = (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return verified


# --- 4. SimHash ---------------------------------------------------------------


def simhash(text: Column) -> Column:
    """64-bit SimHash as pure Column expressions — no Python boundary.

    One fold over the token hashes carries a 64-slot vote array
    (``+1``/``-1`` per bit via ``getbit``); a second fold packs the
    positive votes into the signature with ``shiftleft`` + OR (bit 63 =
    sign bit stays JVM-side, no Python ``1 << 63`` literal).

    CRITICAL expression-shape constraint: the vote array is referenced
    EXACTLY ONCE. An earlier formulation read ``element_at(votes, b)``
    64 times; Catalyst has no cross-subtree CSE once an expression this
    large falls back to interpreted mode, so the whole token fold was
    re-evaluated 64× per row (≈100× slowdown, measured). The pack step
    is therefore itself a fold over ``zip_with(votes, 0..63)``.

    Empty/null docs map to signature 0 (empty fold → all-zero votes →
    no positive bits; null text → coalesce) — excluded from candidate
    bucketing, they belong to the exact-dedup tier.
    """
    tokens = F.filter(
        F.split(normalize_for_fingerprint(text), " "), lambda w: w != ""
    )
    hashes = F.transform(tokens, lambda w: F.xxhash64(w))
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.transform(acc, lambda v, i: v + F.getbit(h, i) * 2 - 1),
    )
    bits = F.zip_with(
        votes,
        F.sequence(F.lit(0), F.lit(63)),
        lambda v, b: F.when(
            v > 0, F.call_function("shiftleft", F.lit(1).cast("long"), b)
        ).otherwise(F.lit(0).cast("long")),
    )
    sig = F.aggregate(
        bits,
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )
    return F.coalesce(sig, F.lit(0).cast("long"))


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bucket_cap: int = 1000,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming, candidate-
    bucketed on 16-bit signature quarters (a pair within Hamming 3 must
    agree on ≥1 of 4 quarters — pigeonhole), then verified exactly.

    Skew guards (web-scale posture): sig=0 rows (empty docs) are
    excluded — they all collide in every quarter and self-join
    quadratically — and any (quarter, value) bucket holding more than
    ``bucket_cap`` docs is dropped before the self-join, bounding the
    candidate blowup of a pathologically common signature at
    O(buckets × cap²) instead of O(n²). Pairs inside a dropped bucket
    are still found through any of their other three quarters.
    """
    sig = df.select(
        F.col(id_col).alias("doc_id"), simhash(F.col(text_col)).alias("sig")
    ).where(F.col("sig") != 0)
    quarters = sig.select(
        "doc_id",
        "sig",
        F.posexplode(
            F.array(*[
                F.shiftrightunsigned("sig", q * 16).bitwiseAND(F.lit(0xFFFF))
                for q in range(4)
            ])
        ).alias("q", "qval"),
    )
    # one collect_list aggregation per (quarter, value) bucket instead
    # of a widths-precount + self-join: the SimHash vote fold is the
    # expensive subtree and is now evaluated once (see _bucket_pairs)
    cands = _bucket_pairs(
        quarters, ["q", "qval"], "doc_id", bucket_cap, payload_col="sig"
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return cands.select("id_a", "id_b", hamming.alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )


class DedupPipelineResult(NamedTuple):
    """``dedup_pipeline`` output: the cleaned corpus plus the
    intermediate frames a caller needs for reporting. Lifecycle —
    once every frame has been consumed: ``result.pairs.unpersist()``
    (the pair frame is returned persisted, since CC's eager
    checkpoint and any caller-side count would otherwise each re-run
    the LSH join) and ``free_local_checkpoint(result.clusters)``
    (``clusters``/``kept`` hold one persisted localCheckpoint RDD).

    ``pairs`` holds REPRESENTATIVE-level near-dup pairs: exact
    duplicates are collapsed to one doc per canonical fingerprint
    before banding (see ``exact_collapse``), so two identical docs
    never appear as a pair — a 1M-doc identical cluster contributes
    zero pairs instead of 5×10¹¹. ``clusters`` and ``kept`` are
    expanded back to full membership and are unaffected by the
    collapse."""

    kept: DataFrame      # original columns, dropped docs removed
    pairs: DataFrame     # verified near-dup pairs among representatives
    clusters: DataFrame  # (doc_id, cluster_id) for every clustered doc
    # (id, rep_id, group_n) — returned PERSISTED like ``pairs``: it
    # feeds both expansion branches of ``clusters`` and would otherwise
    # re-run the collapse fingerprint pass per consumer. Callers
    # unpersist it alongside ``pairs`` once done.
    members: DataFrame | None = None


def dedup_pipeline(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    bucket_cap: int | None = 1000,
) -> DedupPipelineResult:
    """The full near-dup dedup story composed end-to-end: exact
    fingerprint collapse → MinHash+LSH candidate pairs → exact-Jaccard
    verification → connected components → keep min-id per cluster.
    NULL-``text_col`` docs never pair (no fingerprint, null shingle
    signature) and pass through to ``kept`` unchanged.

    The collapse + ``bucket_cap`` are the two O(n²) guards: identical
    docs (same signature in every band — the giant-cluster hazard of a
    web corpus) are reduced to one representative before banding, and
    any surviving over-wide (band, bucket) is dropped rather than
    self-joined. Cluster membership is recovered afterwards by the
    fingerprint map: every member of a group joins its
    representative's component (identical text ⇒ identical Jaccard to
    every third doc ⇒ collapsing cannot change connectivity), and the
    component min-label is still the global min id because each
    representative is already its group's min. Exact-dup groups whose
    representative joins no near-dup component still form their own
    cluster (cluster_id = rep id).

    This is the 100 TB path: every stage is bucketed/bounded — the
    collapse is one linear groupBy, LSH shuffles reps × bands small
    rows, verification touches only colliding sub-cap buckets, CC is
    O(log diameter) rounds over |rep nodes| labels, and the final
    materialization is one anti-join (no windows, no driver-side
    sets). Exercised end-to-end by the ``dedup_lsh_cc_keepfirst``
    driver query, whose sf0.1 wall time + two-run determinism check
    bench.py records as ``extra_dedup_pipeline_*``; the planted
    50k-identical-doc bound is pinned in
    tests/test_dedup_similarity.py."""
    reps, members = exact_collapse(df, id_col, text_col)
    # reps (collapse groupBy + two joins over the full corpus) feeds
    # BOTH the banded-signature scan and the two shingle-verify join
    # sides of the pairs DAG — persist it for the one materialization
    # below so the collapse runs once, not once per consumer (guide
    # §5: reused AND expensive to recompute). Freed before returning;
    # nothing downstream of CC reads reps.
    reps = reps.persist()
    # members (the collapse's fingerprint map, 3 small columns) feeds
    # both expansion branches of ``clusters``; persisted so the
    # fingerprint pass over the corpus runs once, not once per branch
    members = members.persist()
    # the try covers EVERYTHING from the persists on (r6 review: an
    # exception while merely BUILDING the pairs plan — e.g. a missing
    # column — would otherwise leak the two cache entries above)
    pairs = None
    try:
        pairs = minhash_near_duplicates(
            reps, id_col, text_col, threshold, num_hashes, bands,
            shingle_n, bucket_cap,
        ).select("id_a", "id_b")
        # persist BEFORE connected_components: CC is eager (it
        # localCheckpoints per round), so the LSH banding + Jaccard
        # verify — the pipeline's most expensive stage — would
        # otherwise run once for the edge frame and again for every
        # later consumer of `pairs`. The caller owns the unpersist
        # (see DedupPipelineResult docstring).
        pairs.persist()
        rep_clusters = connected_components(pairs)
    except Exception:
        # on any failure the caller never receives the handles, so
        # free the caches here or repeated failed invocations
        # accumulate frames
        if pairs is not None:
            pairs.unpersist()
        members.unpersist()
        raise
    finally:
        reps.unpersist()
    clusters, kept = expand_rep_clusters(df, id_col, members, rep_clusters)
    return DedupPipelineResult(
        kept=kept, pairs=pairs, clusters=clusters, members=members
    )


def expand_rep_clusters(
    df: DataFrame,
    id_col: str,
    members: DataFrame,
    rep_clusters: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """Expand representative-level CC output back to full group
    membership (the post-collapse half shared by the text and
    embedding dedup pipelines). Returns ``(clusters, kept)``:

    - every member of a group whose representative is in a component
      takes that component's cluster_id (still the global min id —
      each representative is already its group's min);
    - exact-dup groups (width > 1) untouched by any near-dup edge
      form their own cluster keyed by their rep. Width-1 groups
      outside CC are singletons — not clustered;
    - ``kept`` = ``df`` minus every clustered non-keeper row.
    """
    in_cc = members.join(
        rep_clusters.withColumnRenamed("doc_id", "rep_id"), "rep_id"
    ).select(F.col(id_col).alias("doc_id"), "cluster_id")
    solo = (
        members.where(F.col("group_n") > 1)
        .join(
            rep_clusters.select(F.col("doc_id").alias("rep_id")),
            "rep_id",
            "left_anti",
        )
        .select(F.col(id_col).alias("doc_id"), F.col("rep_id").alias("cluster_id"))
    )
    clusters = in_cc.unionByName(solo)
    drops = clusters.where(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias(id_col)
    )
    kept = df.join(drops, id_col, "left_anti")
    return clusters, kept


def free_local_checkpoint(
    df: DataFrame | None, rdd_ids: set[int] | None = None
) -> None:
    """Drop the cached blocks behind a ``localCheckpoint()``-ed frame
    (or any frame DERIVED from one — the analyzed plan is walked for
    LogicalRDD leaves, so a select/filter over a checkpointed frame
    frees the underlying blocks too).

    ``DataFrame.unpersist()`` only covers cacheManager entries (from
    ``persist()``); a local checkpoint lives as storage-level blocks on
    the LogicalRDD's underlying RDD, reachable only through the JVM
    plan. Must ONLY be called on frames that will never be read again —
    a locally-checkpointed RDD has no lineage to recompute from.

    SHARED-LEAF HAZARD: *every* LogicalRDD leaf in the plan is a
    candidate — and ``createDataFrame``-sourced frames are also
    LogicalRDD-backed, as is any checkpointed frame a plan shares with
    another still-live frame. Two guards keep a shared leaf from being
    freed by accident: (1) leaves whose RDD storage level is NONE
    (``createDataFrame`` inputs — nothing cached) are skipped, so
    freeing a frame *derived from* driver-local data is always safe;
    (2) pass ``rdd_ids`` to free only those specific leaves when the
    plan might share a checkpointed leaf with a frame that must stay
    readable. Without ``rdd_ids`` every *persisted* LogicalRDD leaf
    is freed. Build the allowlist from JVM-side ids —
    ``sparkContext._jsc.getPersistentRDDs().keySet()`` deltas — NOT
    from ``df.rdd.id()``: PySpark's ``df.rdd`` wraps
    ``javaToPython()`` in a fresh RDD whose id never equals the
    LogicalRDD leaf's, so an allowlist built that way silently skips
    every leaf (best-effort semantics would hide the leak).
    Best-effort: on any reflection failure the blocks simply age out.
    """
    if df is None:
        return
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() != "LogicalRDD":
                continue
            rdd = leaf.rdd()
            level = rdd.getStorageLevel()
            if not (level.useMemory() or level.useDisk()):
                continue  # nothing cached: createDataFrame-style leaf
            if rdd_ids is not None and rdd.id() not in rdd_ids:
                continue
            rdd.unpersist(False)
    except Exception:
        pass



def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
    stats: dict | None = None,
) -> DataFrame:
    """Near-dup pairs → dedup clusters: connected components by
    iterative min-label propagation, the step that turns any candidate
    generator's (id_a, id_b) output (LSH bands, SimHash buckets,
    banded SRP) into "keep one doc per cluster" groups.

    Each round: (1) every node takes the min label among itself and
    its neighbors, then (2) pointer-jumps — ``label ← label(label)`` —
    treating labels as parent pointers, so label information hops
    doubling distances and convergence is O(log diameter) rather than
    O(diameter) (the min-neighbor-only variant needs as many rounds as
    the distance to the component's min node — measured >20 on a
    sparse 400-node random graph). Per round: one shuffled edge join +
    one map-side-combined min aggregate + one self-join on the label
    frame (|nodes| rows, NOT |edges|); ``localCheckpoint`` truncates
    the growing iterative lineage so round N's plan does not replay
    rounds 1..N-1 (the standard Spark iterative-algorithm trap).

    Fixpoint test (r6): labels are monotone non-increasing per node
    (min-propagation can only lower them; the jump assigns
    ``label(label) ≤ label``), so the label SUM is strictly decreasing
    until convergence and "sum unchanged ⇒ no node changed" is exact —
    summed in DECIMAL(38,0) (10¹² nodes × 2⁶³ max label ≈ 10³¹ ≪ 10³⁸,
    no overflow, unlike a wrapping BIGINT sum). This replaces the old
    per-round new⋈old label join (a |nodes|-row shuffle job) with one
    map-side aggregate over the round's already-materialized
    checkpoint blocks. Raises if ``max_iterations`` rounds were not
    enough rather than returning a half-merged clustering.

    Returns ``(doc_id, cluster_id)`` for every node incident to an
    edge; cluster_id = min doc_id in the component.

    ``stats`` (optional dict) is filled in-place with convergence
    telemetry — ``rounds`` (label-propagation rounds executed, the
    O(log diameter) claim's observable) and ``n_edge_rows`` (directed
    edge rows shuffled per round, 2×|pairs|) — so stress tests can pin
    round counts on planted giant components without changing the
    return type.

    Lifecycle: the returned frame is (a projection over) the final
    lineage-truncated label checkpoint and holds one persisted
    |nodes|-row RDD — intermediate per-round frames and the edge frame
    are freed internally, but the result's blocks must survive for the
    caller to read it. Call ``free_local_checkpoint(result)`` once the
    result has been fully consumed; in long-lived sessions repeated
    calls otherwise accumulate one block set each.
    """
    fwd = pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
    edges = fwd.union(
        fwd.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=False)
    labels = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint(eager=True)
    )
    if stats is not None:
        stats["n_edge_rows"] = edges.count()

    def label_sum(frame: DataFrame):
        return frame.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]

    prev_sum = label_sum(labels)
    for it in range(max_iterations):
        nbr = edges.join(
            labels, edges["v"] == labels["node"], "inner"
        ).select(edges["u"].alias("node"), F.col("label"))
        stepped = (
            labels.unionByName(nbr)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        # pointer jump: every label value is itself a node (labels only
        # ever take node ids), so the inner self-join is total
        jump = stepped.select(
            F.col("node").alias("jnode"), F.col("label").alias("jlabel")
        )
        new_labels = (
            stepped.join(jump, stepped["label"] == jump["jnode"])
            .select(stepped["node"], F.col("jlabel").alias("label"))
            .localCheckpoint(eager=True)
        )
        new_sum = label_sum(new_labels)
        # the superseded label frame is never read again after the
        # fixpoint test — free its checkpoint blocks now, or up to
        # max_iterations frames of |nodes| rows pile up in storage
        # and outlive the call in long-lived sessions
        free_local_checkpoint(labels)
        labels = new_labels
        if new_sum == prev_sum:
            if stats is not None:
                stats["rounds"] = it + 1
            # edges' blocks are also dead now; labels stays persisted —
            # it IS the (lineage-truncated) result the caller reads
            free_local_checkpoint(edges)
            return labels.select(
                F.col("node").alias("doc_id"),
                F.col("label").alias("cluster_id"),
            )
        prev_sum = new_sum
    free_local_checkpoint(edges)
    free_local_checkpoint(labels)
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} "
        "rounds — component diameter exceeds the bound; raise "
        "max_iterations"
    )


def token_bigrams(tokens: Column) -> Column:
    """Distinct word-bigram shingles from a token array — the n=2 case
    of the shared ``distinct_ngrams`` builder."""
    return distinct_ngrams(tokens, 2)


def prefix_candidate_pairs(
    index: DataFrame, sizes: DataFrame, num: int, den: int
) -> DataFrame:
    """The candidate stage of ``prefix_filtered_jaccard``, exposed so
    the scale claim (prefix join ≪ full index join) tests the REAL
    construction: from an exploded ``(doc_id, shingle)`` index and a
    ``(doc_id, n_sh)`` size table, rank each doc's shingles by the
    global (document-frequency asc, shingle asc) order, keep the
    ppjoin prefix of length ``n_sh − ceil(num·n_sh/den) + 1``, and
    self-join the prefixes with BOTH lossless ppjoin prunes:

    - **prefix filter**: only prefix×prefix shingle matches generate
      candidates (the smallest common element of a qualifying pair is
      provably inside both prefixes);
    - **positional filter**: a match of A's p_a-th with B's p_b-th
      prefix shingle bounds the overlap at
      ``min(n_a − p_a, n_b − p_b) + 1`` (every common element sits at
      position ≥ p in its doc's canonical order), so a pair survives
      only if some match's bound reaches the overlap requirement
      ``α = ceil(num·(n_a+n_b)/(num+den))`` (from J ≥ t ⟺ |A∩B| ≥
      t/(1+t)·(|A|+|B|)). For a qualifying pair the match on the
      smallest common element always passes, so the prune is exact.

    Returns distinct ``(id_a, id_b)`` with ``id_a < id_b`` — a
    lossless superset of all pairs with Jaccard ≥ num/den."""
    return _prefix_pair_join(
        _prefix_frame(index, sizes, num, den), num, den
    )


def _prefix_frame(
    index: DataFrame, sizes: DataFrame, num: int, den: int
) -> DataFrame:
    """The ranked-prefix stage of ``prefix_candidate_pairs``:
    ``(doc_id, shingle, _rn, n_sh)`` rows for each doc's ppjoin prefix
    under the global (document-frequency asc, shingle asc) order.
    Factored out (r6) so ``prefix_filtered_jaccard_from`` can
    checkpoint it once for both sides of the self-join."""
    docfreq = index.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    ranked = (
        index.join(docfreq, "shingle")
        .join(sizes, "doc_id")
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("_df", "shingle")
            ),
        )
    )
    # prefix_len = n_sh - ceil(num*n_sh/den) + 1, all-integer ceil.
    prefix_len = (
        F.col("n_sh")
        - F.floor((F.lit(num) * F.col("n_sh") + F.lit(den - 1)) / F.lit(den))
        + F.lit(1)
    )
    return ranked.where(F.col("_rn") <= prefix_len).select(
        "doc_id", "shingle", "_rn", "n_sh"
    )


def _prefix_pair_join(prefix: DataFrame, num: int, den: int) -> DataFrame:
    """The prefix×prefix self-join of ``prefix_candidate_pairs`` with
    the lossless positional prune, over an already-built prefix frame."""
    pa = prefix.alias("pa")
    pb = prefix.alias("pb")
    ubound = F.least(
        F.col("pa.n_sh") - F.col("pa._rn"), F.col("pb.n_sh") - F.col("pb._rn")
    ) + F.lit(1)
    # α = ceil(num*(n_a+n_b)/(num+den)), all-integer ceil.
    alpha = F.floor(
        (
            F.lit(num) * (F.col("pa.n_sh") + F.col("pb.n_sh"))
            + F.lit(num + den - 1)
        )
        / F.lit(num + den)
    )
    return (
        pa.join(
            pb,
            (F.col("pa.shingle") == F.col("pb.shingle"))
            & (F.col("pa.doc_id") < F.col("pb.doc_id"))
            & (ubound >= alpha),
        )
        .select(
            F.col("pa.doc_id").alias("id_a"), F.col("pb.doc_id").alias("id_b")
        )
        .distinct()
    )


def prefix_filtered_jaccard(
    df: DataFrame,
    id_col: str,
    shingles: Column,
    threshold_num: int = 3,
    threshold_den: int = 5,
) -> DataFrame:
    """Exact set-Jaccard similarity join with LOSSLESS prefix
    filtering (the ppjoin prefix principle — Xiao et al., WWW 2008,
    public literature): under any global total order on shingles, two
    sets with J(A,B) ≥ t must share their SMALLEST common element
    within both prefixes of length |X| − ceil(t·|X|) + 1 (were the
    whole intersection outside A's prefix, it would fit in A's last
    ceil(t|A|) − 1 slots, contradicting |A∩B| ≥ ceil(t·|A|)).
    Candidates therefore come from joining only the prefixes,
    additionally pruned by the lossless ppjoin POSITIONAL filter (see
    ``prefix_candidate_pairs``); the result is IDENTICAL to the full
    inverted-index join (``jaccard_candidates``) while shuffling a
    fraction of it. Measured on the sf0.1 documents corpus — a
    WORST case for prefix filtering, its synthetic vocabulary is so
    small that 82% of all doc pairs share a bigram — the candidate
    join still shrinks 10.30M → 2.37M pairs (4.3×; prefix alone
    1.5×). On a natural-language corpus the rare-first prefixes are
    far more selective; and when nearly all pairs truly collide, no
    exact similarity join can beat its own output size — the LSH tier
    is the scale path there.

    The global order is (document-frequency asc, shingle asc) —
    rarest-first, the order that makes prefixes maximally selective:
    the candidate self-join only ever touches each doc's RAREST
    shingles, so hot shingles ("of the", boilerplate bigrams) never
    generate candidate pairs unless a doc consists of almost nothing
    else. This is the exact-tier scale path at 100 TB: cost =
    one map-side-combined doc-frequency agg + a self-join bounded by
    rare-shingle collisions, vs the full index join whose hot-shingle
    terms are quadratic (see ``jaccard_candidates``'s ``df_cap``
    discussion — which bounds those terms only by sacrificing
    exactness; prefix filtering keeps exactness).

    **Identical-cluster caveat (same hazard class as LSH banding —
    see ``exact_collapse``)**: byte-identical docs share EVERY
    shingle including their whole prefix, so a cluster of n identical
    docs still self-joins into O(n²) candidate pairs — prefix
    filtering bounds hot *shingles*, not hot *documents*. At corpus
    scale ALWAYS compose ``exact_collapse`` first (one linear groupBy)
    and run this join on the representatives; membership expansion
    recovers the full clusters. Pinned by
    ``test_prefix_filtered_jaccard_composes_with_exact_collapse``.

    The threshold is the rational ``threshold_num/threshold_den`` so
    the acceptance predicate is pure-integer
    (``den·|A∩B| ≥ num·|A∪B|``) — no float boundary, bit-identical
    verdicts in any ANSI-SQL oracle. Returns
    ``(id_a, id_b, n_inter, n_a, n_b, jaccard)`` with ``id_a < id_b``;
    ``jaccard`` is one exact-integer division. Shingle arrays are
    treated as sets: repeated shingles count once.

    The result is EAGER: a local checkpoint, already materialized when
    this returns, with no lineage behind it (a lost executor block
    cannot be recomputed). The caller owns its blocks and frees them
    with ``free_local_checkpoint(result)`` once done; each call that
    is not freed keeps its result blocks for the session's lifetime.

    Reference analog: set-based duplicate semantics of
    ``/root/reference/biosample_enricher/adapters.py:327-338``, here
    generalized from exact-key equality to set overlap.
    """
    num, den = int(threshold_num), int(threshold_den)
    if not (0 < num <= den):
        raise ValueError("threshold must be a fraction in (0, 1]")
    sh = df.select(F.col(id_col).alias("doc_id"), shingles.alias("sh")).where(
        F.size("sh") > 0
    )
    return prefix_filtered_jaccard_from(sh, num, den)


def prefix_filtered_jaccard_from(
    sh: DataFrame, num: int, den: int
) -> DataFrame:
    """``prefix_filtered_jaccard`` over a pre-built ``(doc_id, sh)``
    shingled frame.

    r6 shape (guide §5 + §2.3). The construction consumes the shingle
    checkpoint from five subtrees — sizes, the exploded index (feeding
    doc-frequency and the rank join inside the prefix build), and the
    two verify array sides — and the prefix checkpoint from both sides
    of the candidate self-join. Because the small side of every
    internal join broadcasts, none of those subtrees sits behind a
    reusable Exchange: the un-checkpointed plan re-tokenized the
    corpus up to 6× (measured: 20 parquet scans in the initial plan at
    sf0.1). So the frame is ``localCheckpoint``ed
    once up front — one tokenize pass, every consumer reads the
    materialized blocks (raw row blocks, NOT the columnar cache whose
    array encode/decode made a plain ``persist`` of this frame SLOWER —
    measured 34–57 s vs 20 s at sf0.1).

    The verify stage joins each candidate pair to its two shingle
    ARRAYS and computes ``|A∩B|`` with one ``array_intersect`` per pair
    — replacing the exploded index⋈index join + groupBy whose
    intermediate was Σ|A| over candidate pairs (~35M skinny rows at
    sf0.1, the old query's dominant shuffle). ``sh`` is deduplicated
    with ``array_distinct`` before the checkpoint, so every consumer
    sees sets: the intersection size is the exact overlap count, and
    ``n_a``/``n_b``, the doc-frequency counts and the prefix ranks
    count each shingle once. The size joins disappear too:
    ``n_a``/``n_b`` read off the attached arrays.

    Returns an EAGER (checkpointed) frame: the result is materialized,
    then the shingle checkpoint is freed before returning — repeated
    invocations leak only the (small) result block set, the er2 /
    connected_components lifecycle."""
    sh_ck = sh.select(
        "doc_id", F.array_distinct("sh").alias("sh")
    ).localCheckpoint(eager=True)
    prefix_ck = None
    try:
        sizes = sh_ck.select("doc_id", F.size("sh").alias("n_sh"))
        index = sh_ck.select("doc_id", F.explode("sh").alias("shingle"))
        # checkpoint the ranked prefix too: both sides of the
        # self-join (and nothing else) read it, and re-deriving it
        # means re-running the doc-frequency aggregate + two joins +
        # the rank window per side (broadcast joins leave no reusable
        # Exchange in between)
        prefix_ck = _prefix_frame(index, sizes, num, den).localCheckpoint(
            eager=True
        )
        cand = _prefix_pair_join(prefix_ck, num, den)
        arr_a = sh_ck.select(
            F.col("doc_id").alias("id_a"), F.col("sh").alias("_sh_a")
        )
        arr_b = sh_ck.select(
            F.col("doc_id").alias("id_b"), F.col("sh").alias("_sh_b")
        )
        scored = (
            cand.join(arr_a, "id_a")
            .join(arr_b, "id_b")
            .select(
                "id_a",
                "id_b",
                F.size(F.array_intersect("_sh_a", "_sh_b"))
                .cast("long")
                .alias("n_inter"),
                F.size("_sh_a").alias("n_a"),
                F.size("_sh_b").alias("n_b"),
            )
        )
        union_n = F.col("n_a") + F.col("n_b") - F.col("n_inter")
        out = (
            scored.where(F.lit(den) * F.col("n_inter") >= F.lit(num) * union_n)
            .select(
                "id_a",
                "id_b",
                "n_inter",
                "n_a",
                "n_b",
                (F.col("n_inter") / union_n).alias("jaccard"),
            )
            .localCheckpoint(eager=True)
        )
    except BaseException:
        free_local_checkpoint(prefix_ck)
        free_local_checkpoint(sh_ck)
        raise
    free_local_checkpoint(prefix_ck)
    free_local_checkpoint(sh_ck)
    return out
