"""Dedup (exact / jaccard / minhash-LSH / simhash) and embedding
similarity (brute-force / SRP) against Python ground truth."""

from __future__ import annotations

import itertools
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from biosample_enricher_spark.operators.dedup import (
    exact_duplicates,
    jaccard_candidates,
    minhash_near_duplicates,
    simhash_near_duplicates,
)
from biosample_enricher_spark.operators.similarity import (
    brute_force_topk,
    pairwise_near_neighbors,
    srp_topk,
)

BASE = "the quick brown fox jumps over the lazy dog near the river bank today"
DOCS = [
    (1, BASE),
    (2, BASE),  # exact dup of 1
    (3, BASE.replace("lazy", "sleepy")),          # near dup
    (4, BASE.replace("quick", "slow").replace("today", "tomorrow")),  # near dup
    (5, "completely different text about spark dataframes and shuffles here"),
    (6, "THE  Quick   brown fox jumps over the lazy dog near the river bank today"),  # canonical dup of 1
    (7, "short one"),
    (8, "spark dataframes and shuffles are completely different topics entirely"),
]


def _shingles(text, n=3):
    words = re.sub(r"\s+", " ", text.lower()).strip().split(" ")
    return {" ".join(words[i : i + n]) for i in range(len(words) - n + 1)}


def _true_jaccard_pairs(threshold, n=3):
    out = {}
    for (ia, ta), (ib, tb) in itertools.combinations(DOCS, 2):
        sa, sb = _shingles(ta, n), _shingles(tb, n)
        if not sa or not sb:
            continue
        j = len(sa & sb) / len(sa | sb)
        if j >= threshold:
            out[(min(ia, ib), max(ia, ib))] = j
    return out


@pytest.fixture(scope="module")
def ddf(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"]).cache()


def test_exact_duplicates(spark, ddf):
    got = exact_duplicates(ddf, "doc_id", "text").collect()
    assert len(got) == 1
    assert got[0].n_docs == 3  # docs 1, 2, 6 share the canonical form
    assert got[0].keep_id == 1


def test_jaccard_candidates_match_bruteforce(spark, ddf):
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_candidates(ddf, "doc_id", "text", 3, 0.3).collect()
    }
    expected = _true_jaccard_pairs(0.3)
    assert set(got) == set(expected)
    for k in got:
        assert abs(got[k] - expected[k]) < 1e-9


def test_minhash_lsh_finds_high_similarity_pairs(spark, ddf):
    got = {
        (r.id_a, r.id_b)
        for r in minhash_near_duplicates(
            ddf, "doc_id", "text", threshold=0.5, num_hashes=64, bands=32
        ).collect()
    }
    expected = set(_true_jaccard_pairs(0.5))
    # verified-jaccard output: no false positives possible
    assert got <= set(_true_jaccard_pairs(0.5))
    # with 32 bands of 2 rows, P(detect) at j>=0.5 is >0.999 for these pairs
    assert got == expected


def test_simhash_identical_and_near_texts(spark, ddf):
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_near_duplicates(ddf, "doc_id", "text", max_hamming=6).collect()
    }
    # canonical dups have identical signatures
    assert got.get((1, 2)) == 0
    assert got.get((1, 6)) == 0
    assert got.get((2, 6)) == 0
    # unrelated docs must not appear at tight radius
    assert (1, 5) not in got and (5, 7) not in got


# --- embeddings ---------------------------------------------------------------


@pytest.fixture(scope="module")
def edf(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()


def test_brute_force_topk_matches_numpy(spark, edf):
    rows = edf.collect()
    q = rows[0].embedding
    got = brute_force_topk(edf, q, k=5).collect()
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    qv = np.array(q, dtype=np.float64)
    sims = mat @ qv / (np.linalg.norm(mat, axis=1) * np.linalg.norm(qv))
    order = sorted(
        zip([r.vec_id for r in rows], np.round(sims, 6)),
        key=lambda t: (-t[1], t[0]),
    )[:5]
    assert [(r.vec_id, r.cos_sim) for r in got] == [(i, float(s)) for i, s in order]
    assert got[0].vec_id == rows[0].vec_id and abs(got[0].cos_sim - 1.0) < 1e-6


def test_srp_topk_recall_against_bruteforce(spark, edf):
    q = edf.first().embedding
    exact = {r.vec_id for r in brute_force_topk(edf, q, k=10).collect()}
    # the synthetic embeddings are weakly correlated (true top-10 cosines
    # ≈0.3 ⇒ angles ≈72° ⇒ expected sketch disagreement ≈6.4/16 bits), so
    # the radius must sit above that expectation for good recall
    approx = {r.vec_id for r in srp_topk(edf, q, k=10, n_planes=16,
                                         max_hamming=8).collect()}
    assert len(exact & approx) >= 8


def test_pairwise_near_neighbors_finds_planted_duplicate(spark, edf):
    rows = edf.limit(20).collect()
    planted = [(int(r.vec_id), list(r.embedding)) for r in rows]
    dup_id = 999_999
    planted.append((dup_id, list(rows[3].embedding)))
    df = spark.createDataFrame(planted, "vec_id long, embedding array<float>")
    got = {
        (r.id_a, r.id_b): r.cos_sim
        for r in pairwise_near_neighbors(df, threshold=0.999).collect()
    }
    assert (int(rows[3].vec_id), dup_id) in got
    assert abs(got[(int(rows[3].vec_id), dup_id)] - 1.0) < 1e-5


def test_ivf_assignment_and_topk(spark, edf):
    from biosample_enricher_spark.operators.similarity import (
        ivf_assign,
        ivf_topk,
        seed_centroids,
    )

    cents = seed_centroids(edf, 8)
    assert len(cents) == 8
    # determinism: same seed → same centroids
    assert seed_centroids(edf, 8) == cents

    assigned = ivf_assign(edf, cents)
    assert assigned.count() == edf.count()
    cids = {r.centroid_id for r in assigned.select("centroid_id").distinct().collect()}
    assert cids <= set(range(8))
    # every vector's assigned centroid is its true argmax over centroids
    import numpy as np

    rows = assigned.collect()
    cmat = np.array([c[1] for c in cents], dtype=np.float64)
    cmat = cmat / np.linalg.norm(cmat, axis=1, keepdims=True)
    for r in rows[:50]:
        v = np.array(r.embedding, dtype=np.float64)
        sims = cmat @ (v / np.linalg.norm(v))
        assert r.centroid_id == int(np.argmax(sims)), r.vec_id

    q = edf.first().embedding
    exact = {r.vec_id for r in brute_force_topk(edf, q, k=10).collect()}
    # probing all lists degenerates to exact search — sanity upper bound
    full = {r.vec_id for r in ivf_topk(edf, q, k=10, n_centroids=8,
                                       nprobe=8).collect()}
    assert full == exact
    # partial probe keeps decent recall on this corpus
    part = {r.vec_id for r in ivf_topk(edf, q, k=10, n_centroids=8,
                                       nprobe=4).collect()}
    assert len(part & exact) >= 4


def test_approximate_tier_recall_floors(spark):
    """The no_oracle approximate operators carry a measured recall
    signal (VERDICT r1 #9). Floors pin the sf0.01 measurements with a
    small margin: SRP 0.88, IVF 0.51 (the synthetic embeddings are
    near-isotropic — the worst case for IVF pruning), LSH 1.0."""
    from biosample_enricher_spark.queries import QUERIES

    rows = {
        r.method: r.avg_recall
        for r in QUERIES["ann_recall_metrics"](
            spark, "/root/testdata/sf0.01"
        ).collect()
    }
    assert rows["srp_sketch"] >= 0.80
    assert rows["ivf_probe"] >= 0.45
    # Lloyd-refined centroids must not lose recall vs the seeded ones
    assert rows["ivf_probe_refined"] >= rows["ivf_probe"] - 0.05

    lsh = QUERIES["dedup_lsh_recall"](spark, "/root/testdata/sf0.01").first()
    assert lsh.n_true > 0
    assert lsh.recall >= 0.95


def test_kmeans_refine_is_deterministic_and_converging(spark, edf):
    """Lloyd refinement: deterministic across runs, and each iteration
    moves centroids toward assignment means (mean within-cluster cosine
    must not degrade)."""
    import numpy as np

    from biosample_enricher_spark.operators.similarity import (
        ivf_assign,
        kmeans_refine,
        seed_centroids,
    )

    emb = edf.withColumn("embedding", F.col("embedding").cast("array<double>"))
    seeded = seed_centroids(emb, 8)
    r1 = kmeans_refine(emb, seeded, n_iters=2)
    r2 = kmeans_refine(emb, seeded, n_iters=2)
    assert r1 == r2  # byte-deterministic: no RNG, fixed reduction keys

    def mean_sim(cents):
        rows = ivf_assign(emb, cents).select("centroid_sim").collect()
        return float(np.mean([r.centroid_sim for r in rows]))

    assert mean_sim(r1) >= mean_sim(seeded) - 1e-6


def test_banded_pairwise_recall_floor(spark):
    """r2 VERDICT #6: exact-sketch equality has a recall cliff near the
    threshold; banding (4x4 bits) must recover >=0.9 pair-recall vs
    brute force at threshold 0.95."""
    rng = np.random.default_rng(11)
    dim, n_base = 24, 120
    vecs = {}
    for i in range(n_base):
        v = rng.standard_normal(dim)
        vecs[i] = v / np.linalg.norm(v)
    # plant 40 near-dup partners at cosines spread across [0.95, 0.995]
    for j in range(40):
        a = vecs[j]
        target = 0.95 + 0.045 * (j / 39)
        r = rng.standard_normal(dim)
        r -= (r @ a) * a
        r /= np.linalg.norm(r)
        b = target * a + np.sqrt(1 - target**2) * r
        vecs[10_000 + j] = b / np.linalg.norm(b)

    truth = set()
    ids = sorted(vecs)
    for ia, ib in itertools.combinations(ids, 2):
        if float(vecs[ia] @ vecs[ib]) >= 0.95:
            truth.add((ia, ib))
    assert len(truth) >= 40

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs.items()],
        "vec_id long, embedding array<float>",
    )
    got = {
        (r.id_a, r.id_b)
        for r in pairwise_near_neighbors(
            df, threshold=0.95, n_planes=16, n_bands=4
        ).collect()
    }
    # no false positives: every returned pair truly >= threshold
    # (allow float32 rounding at the boundary)
    recall = len(got & truth) / len(truth)
    assert recall >= 0.9, f"banded recall {recall:.3f} < 0.9"

    exact_sketch = {
        (r.id_a, r.id_b)
        for r in pairwise_near_neighbors(
            df, threshold=0.95, n_planes=16, n_bands=1
        ).collect()
    }
    # banding must dominate the old exact-sketch candidate rule
    assert len(got & truth) >= len(exact_sketch & truth)


def test_ivf_assign_join_path_matches_literal(spark, edf):
    from biosample_enricher_spark.operators.similarity import (
        ivf_assign,
        seed_centroids,
    )

    cents = seed_centroids(edf, 16)
    lit_rows = {
        r.vec_id: (r.centroid_id, r.centroid_sim)
        for r in ivf_assign(edf, cents).collect()
    }
    join_rows = {
        r.vec_id: (r.centroid_id, r.centroid_sim)
        for r in ivf_assign(edf, cents, max_inline=0).collect()
    }
    assert lit_rows == join_rows


def test_ivf_assign_512_centroids(spark, edf):
    """Past max_inline the join path dispatches automatically and must
    agree with a numpy argmax on a sample."""
    from biosample_enricher_spark.operators.similarity import ivf_assign

    sample = edf.limit(40).collect()
    dim = len(sample[0].embedding)
    rng = np.random.default_rng(5)
    cents = []
    for cid in range(512):
        v = rng.standard_normal(dim)
        cents.append((cid, [float(x) for x in v / np.linalg.norm(v)]))

    got = {
        r.vec_id: r.centroid_id
        for r in ivf_assign(edf.limit(40), cents).collect()
    }
    cmat = np.array([c for _, c in cents])
    cmat = cmat / np.linalg.norm(cmat, axis=1, keepdims=True)
    for row in sample:
        v = np.array(row.embedding, dtype=np.float64)
        sims = cmat @ (v / np.linalg.norm(v))
        assert got[row.vec_id] == int(np.argmax(sims)), row.vec_id


def test_connected_components_vs_union_find(spark):
    """Min-label propagation must match a Python union-find on a
    seeded random graph (chains force multi-round convergence)."""
    from biosample_enricher_spark.operators.dedup import (
        connected_components,
    )

    rng = np.random.default_rng(3)
    edges = [(int(a), int(b)) for a, b in rng.integers(0, 400, (300, 2))
             if a != b]
    # a long chain exercises diameter > 1 round
    edges += [(1000 + i, 1001 + i) for i in range(12)]

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    expected = {x: find(x) for x in parent}

    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r.doc_id: r.cluster_id
        for r in connected_components(pairs).collect()
    }
    assert got == expected


def test_connected_components_raises_past_iteration_cap(spark):
    from biosample_enricher_spark.operators.dedup import (
        connected_components,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iterations=2)


def test_connected_components_frees_superseded_checkpoints(spark):
    """Each CC round localCheckpoints a new label frame; superseded
    frames (and the edge frame) must be unpersisted, or up to
    max_iterations frames of blocks pile up per call in a long-lived
    session. Only the returned (final) label frame may stay persisted."""
    from biosample_enricher_spark.operators.dedup import (
        connected_components,
    )

    # compare persisted-RDD ID SETS, not counts: Spark's ContextCleaner
    # asynchronously unpersists GC'd RDDs from earlier tests, so raw
    # counts can shrink mid-test and mask (or fake) a leak
    before = {
        int(k)
        for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()
    }
    # 10 chains of length 4 → diameter 3, multi-round convergence
    pairs = spark.createDataFrame(
        [(10 * c + i, 10 * c + i + 1) for c in range(10) for i in range(3)],
        "id_a long, id_b long",
    )
    out = connected_components(pairs)
    assert out.count() == 40
    new = {
        int(k)
        for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()
    } - before
    assert len(new) <= 1, (
        f"CC leaked persisted RDDs {new} (want ≤1: the returned label "
        "frame only)"
    )


def test_keep_first_passes_null_text_docs_through(spark):
    """NULL-text (media-only) docs must survive keep_first unchanged:
    fingerprint(NULL)=NULL and a naive groupBy would collapse them all
    into one 'duplicate group', dropping every one but min(id)."""
    from biosample_enricher_spark.operators.dedup import keep_first

    df = spark.createDataFrame(
        [
            (1, "same text"),
            (2, "same text"),   # dup of 1 → dropped
            (3, None),          # media-only → kept
            (4, None),          # media-only → kept
            (5, "other"),
        ],
        "doc_id long, text string",
    )
    kept = sorted(r.doc_id for r in keep_first(df, "doc_id", "text").collect())
    assert kept == [1, 3, 4, 5]


def test_dedup_pipeline_kept_corpus_and_zero_leak(spark):
    """End-to-end pipeline semantics: exact clones collapse to the
    min-id keeper, singletons and NULL-text docs pass through; after
    free_local_checkpoint(result.clusters) the call leaves ZERO
    persisted RDDs behind (the cross-call leak class from the r4
    review).

    r5 contract change: identical docs are collapsed BEFORE banding
    (exact_collapse), so ``pairs`` no longer lists identical-doc
    pairs — the exact group surfaces through ``clusters`` instead."""
    from biosample_enricher_spark.operators.dedup import (
        dedup_pipeline,
        free_local_checkpoint,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    # ID-set comparison (not counts): immune to ContextCleaner
    # concurrently unpersisting stale RDDs from earlier tests, which
    # would otherwise mask a genuine 1-RDD leak behind a -1 from
    # cleanup
    before = {
        int(k)
        for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()
    }
    df = spark.createDataFrame(
        [
            (1, base),
            (2, base),            # exact clone → dropped (keeper = 1)
            (7, base),            # exact clone → dropped
            (3, "a completely different sentence with many other words"),
            (9, None),            # media-only doc → kept unchanged
        ],
        "doc_id long, text string",
    )
    res = dedup_pipeline(df, "doc_id", "text", threshold=0.5)
    kept_ids = sorted(r.doc_id for r in res.kept.collect())
    n_pairs = res.pairs.count()
    n_clusters = res.clusters.select("cluster_id").distinct().count()
    # pairs AND members come back persisted by contract (r6)
    res.pairs.unpersist(blocking=True)
    res.members.unpersist(blocking=True)
    free_local_checkpoint(res.clusters)

    assert kept_ids == [1, 3, 9]
    # the three clones collapse to rep 1 before banding: zero pairwise
    # work (r4 VERDICT's O(n²) hazard), yet the cluster still forms
    assert n_pairs == 0
    assert n_clusters == 1
    new = {
        int(k)
        for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()
    } - before
    assert not new, f"pipeline leaked persisted RDDs {new}"


# --- r5: O(n²) guards — exact collapse + hot-bucket cap -----------------------


def test_lsh_bucket_cap_bounds_identical_cluster(spark):
    """An identical-doc cluster shares the full MinHash signature, so
    every member lands in the same bucket in EVERY band: without a
    guard the bucket self-join emits C(n,2) candidate pairs (the r4
    VERDICT scale-killer). bucket_cap drops the hot bucket before the
    join; exact_collapse (the production first stage) removes the
    cluster entirely."""
    from biosample_enricher_spark.operators.dedup import lsh_candidate_pairs

    n = 500
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate sentence repeated on every mirror page").alias(
            "text"
        ),
    )
    uncapped = lsh_candidate_pairs(
        docs, "doc_id", "text", bucket_cap=None
    ).count()
    assert uncapped == n * (n - 1) // 2  # the quadratic blowup, measured
    capped = lsh_candidate_pairs(docs, "doc_id", "text", bucket_cap=100).count()
    assert capped == 0  # every bucket is the full cluster → dropped


def test_srp_bucket_cap_bounds_identical_vectors(spark):
    """Same guard on the embedding side: n identical vectors agree on
    every SRP band; the cap bounds the bucket self-join."""
    from biosample_enricher_spark.operators.similarity import (
        pairwise_near_neighbors,
    )

    n = 300
    vec = [0.3, -1.2, 0.8, 0.05, -0.4, 1.1, -0.9, 0.2]
    df = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(float(x)) for x in vec]).cast("array<float>").alias(
            "embedding"
        ),
    )
    uncapped = pairwise_near_neighbors(
        df, threshold=0.99, bucket_cap=None
    ).count()
    assert uncapped == n * (n - 1) // 2
    capped = pairwise_near_neighbors(df, threshold=0.99, bucket_cap=50).count()
    assert capped == 0


def test_exact_collapse_reps_and_members(spark):
    from biosample_enricher_spark.operators.dedup import exact_collapse

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (4, "ALPHA  beta   gamma"),  # canonical dup of 1
            (2, "something else entirely"),
            (9, None),  # media-only: excluded from reps/members
        ],
        "doc_id long, text string",
    )
    reps, members = exact_collapse(df, "doc_id", "text")
    assert sorted(r.doc_id for r in reps.collect()) == [1, 2]
    got = {r.doc_id: (r.rep_id, r.group_n) for r in members.collect()}
    assert got == {1: (1, 2), 4: (1, 2), 2: (2, 1)}


def test_dedup_pipeline_planted_giant_identical_cluster(spark):
    """r4 VERDICT top item, done-criterion test: plant a 50k-doc
    byte-identical cluster (the boilerplate/mirror shape of a real web
    corpus) next to distinct docs and one near-dup pair. The pipeline
    must (a) complete, (b) emit O(reps × bands) candidate pairs — NOT
    O(50k²) ≈ 1.25e9 — (c) keep exactly one member of the giant
    cluster, and (d) still find the planted near-dup pair."""
    from biosample_enricher_spark.operators.dedup import dedup_pipeline, free_local_checkpoint

    giant_n = 50_000
    giant = spark.range(giant_n).select(
        (F.col("id") + 1_000_000).alias("doc_id"),
        F.lit(
            "identical boilerplate navigation header repeated across every "
            "mirrored page of the site"
        ).alias("text"),
    )
    # every token is id-dependent → zero shared shingles between any
    # two "distinct" docs (a common-phrase template would accidentally
    # make them near-dups of each other at threshold 0.5)
    distinct = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.format_string(
            "alpha%d beta%d gamma%d delta%d epsilon%d zeta%d eta%d theta%d",
            F.col("id") * 3, F.col("id") * 5, F.col("id") * 7,
            F.col("id") * 11, F.col("id") * 13, F.col("id") * 17,
            F.col("id") * 19, F.col("id") * 23,
        ).alias("text"),
    )
    near_a = "the quick brown fox jumps over the lazy dog near the river bank"
    near = spark.createDataFrame(
        [(500_001, near_a), (500_002, near_a + " today")],
        "doc_id long, text string",
    )
    corpus = giant.unionByName(distinct).unionByName(near)

    res = dedup_pipeline(corpus, "doc_id", "text", threshold=0.5)
    n_pairs = res.pairs.count()
    clusters = {r.doc_id: r.cluster_id for r in res.clusters.collect()}
    kept_ids = {r.doc_id for r in res.kept.collect()}
    res.pairs.unpersist(blocking=True)
    res.members.unpersist(blocking=True)
    free_local_checkpoint(res.clusters)

    n_reps = 200 + 1 + 2  # distinct + collapsed giant + near pair
    bands = 16
    assert n_pairs <= n_reps * bands, (
        f"candidate blowup: {n_pairs} pairs from {n_reps} reps"
    )
    # planted near-dup pair found and clustered under its min id
    assert clusters.get(500_001) == 500_001
    assert clusters.get(500_002) == 500_001
    # giant cluster: all 50k members clustered under the min id …
    giant_members = {d for d in clusters if 1_000_000 <= d < 1_000_000 + giant_n}
    assert len(giant_members) == giant_n
    assert {clusters[d] for d in giant_members} == {1_000_000}
    # … and exactly one (the min id) survives
    assert kept_ids & giant_members == {1_000_000}
    # distinct docs all kept; near-dup keeps min id only
    assert {d for d in kept_ids if d < 1000} == set(range(200))
    assert 500_001 in kept_ids and 500_002 not in kept_ids


def test_dedup_pipeline_merges_exact_group_with_near_dup(spark):
    """Collapse must not break connectivity: an exact-dup group whose
    representative near-dup-pairs with a third doc pulls the WHOLE
    group into that component (identical text ⇒ identical Jaccard)."""
    from biosample_enricher_spark.operators.dedup import dedup_pipeline, free_local_checkpoint

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    df = spark.createDataFrame(
        [
            (1, base),
            (2, base),            # exact dup of 1
            (3, base),            # exact dup of 1
            (4, base + " today"),  # near dup of the group
            (5, "a completely different sentence with many other words here"),
        ],
        "doc_id long, text string",
    )
    res = dedup_pipeline(df, "doc_id", "text", threshold=0.5)
    pairs = {(r.id_a, r.id_b) for r in res.pairs.collect()}
    clusters = {r.doc_id: r.cluster_id for r in res.clusters.collect()}
    kept = sorted(r.doc_id for r in res.kept.collect())
    res.pairs.unpersist(blocking=True)
    res.members.unpersist(blocking=True)
    free_local_checkpoint(res.clusters)

    assert pairs == {(1, 4)}  # rep-level only: no (1,2)/(2,3)/(2,4)…
    assert clusters == {1: 1, 2: 1, 3: 1, 4: 1}
    assert kept == [1, 5]


def test_connected_components_giant_chain_and_star(spark):
    """r4 VERDICT #5: giant-component stress. A 10^5-node chain is the
    worst diameter case (pointer jumping must double label reach each
    round → O(log2 n) rounds, NOT O(n)); a 10^5-node star is the
    worst skew case (one hub key carries the whole component). Both
    must converge inside the round cap with correct labels; round
    counts and per-round shuffled edge rows are recorded via the
    stats out-param."""
    from biosample_enricher_spark.operators.dedup import (
        connected_components,
        free_local_checkpoint,
    )

    n = 100_000
    chain = spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    stats: dict = {}
    got = connected_components(chain, max_iterations=25, stats=stats)
    agg = got.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("cluster_id").alias("k"),
        F.max("cluster_id").alias("mx"),
    ).first()
    free_local_checkpoint(got)
    assert (agg.n, agg.k, agg.mx) == (n, 1, 0)
    assert stats["n_edge_rows"] == 2 * (n - 1)
    # doubling reach: ~log2(diameter) rounds plus slack, far below O(n)
    assert stats["rounds"] <= 2 * 17 + 2, stats

    star = spark.range(1, n).select(
        F.lit(0).cast("long").alias("id_a"), F.col("id").alias("id_b")
    )
    stats2: dict = {}
    got2 = connected_components(star, max_iterations=25, stats=stats2)
    agg2 = got2.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("cluster_id").alias("k"),
        F.max("cluster_id").alias("mx"),
    ).first()
    free_local_checkpoint(got2)
    assert (agg2.n, agg2.k, agg2.mx) == (n, 1, 0)
    assert stats2["rounds"] <= 3, stats2  # hub propagates min in one hop


def test_free_local_checkpoint_skips_unpersisted_and_filters_ids(spark):
    """ADVICE r4: the leaf walk must (1) skip LogicalRDD leaves whose
    storage level is NONE (createDataFrame inputs — freeing them is a
    no-op today but the guard makes the contract explicit), and
    (2) honor an explicit rdd_ids allowlist so a plan that SHARES a
    checkpointed leaf with a still-live frame can free only its own."""
    from biosample_enricher_spark.operators.dedup import free_local_checkpoint

    def persisted_ids():
        return {
            int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()
        }

    before = persisted_ids()
    a = spark.range(100).select(F.col("id").alias("x")).localCheckpoint(eager=True)
    b = spark.range(100).select(F.col("id").alias("y")).localCheckpoint(eager=True)
    new = persisted_ids() - before
    assert len(new) == 2
    # derived plan touching BOTH checkpoints plus a storage-NONE leaf
    plain = spark.createDataFrame([(1,)], "x long")
    derived = a.unionByName(plain).crossJoin(b)
    # free only one checkpoint's leaf via the allowlist
    one = sorted(new)[0]
    free_local_checkpoint(derived, rdd_ids={one})
    after = persisted_ids()
    assert one not in after
    assert (new - {one}) <= after  # the other checkpoint survives
    free_local_checkpoint(derived)  # default: frees remaining persisted leaf
    assert not (new & persisted_ids())


def test_quantified_rowsonly_queries_pin_metric_floors(spark):
    """r4 VERDICT #6: the rows-only driver queries carry their own
    measured-quality columns; pin the sf0.01 values with margin
    (measured: minhash recall 1.0 vs the exhaustive Jaccard tier,
    SRP recall@10 0.8 vs brute force)."""
    from biosample_enricher_spark.queries import QUERIES

    mh = QUERIES["dedup_minhash_pairs"](spark, "/root/testdata/sf0.01").collect()
    assert len(mh) > 0
    assert all(r.in_exact for r in mh)       # precision 1.0 by verification
    assert all(r.jaccard >= 0.7 for r in mh)
    assert mh[0].n_true > 0
    assert mh[0].recall >= 0.95

    srp = QUERIES["ann_srp_topk"](spark, "/root/testdata/sf0.01").collect()
    assert len(srp) == 10
    assert srp[0].recall_at_k >= 0.7
    # the query vector itself must always survive the prefilter
    assert any(r.vec_id == 0 and r.in_exact_topk for r in srp)


def test_exact_vector_collapse_and_embedding_pipeline(spark):
    """Embedding twin of the text-side O(n²) guards: identical vectors
    collapse to one representative BEFORE SRP banding (without the
    collapse the bucket_cap guard would DROP an identical cluster's
    cos-1.0 pairs — every bucket it occupies is over-wide), membership
    comes back through the fingerprint join, and near-dup connectivity
    survives the collapse."""
    from biosample_enricher_spark.operators.dedup import free_local_checkpoint
    from biosample_enricher_spark.operators.similarity import (
        embedding_dedup_pipeline,
        exact_vector_collapse,
    )

    dim = 8
    base = [0.3, -1.2, 0.8, 0.05, -0.4, 1.1, -0.9, 0.2]
    # 300 byte-identical vectors (ids 1000..1299) + 40 distinct ones +
    # one near-dup partner of the identical cluster (tiny perturbation
    # keeps cosine > 0.9999) + one orthogonal-ish singleton
    giant = spark.range(1000, 1300).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(float(x)) for x in base]).cast("array<float>").alias(
            "embedding"
        ),
    )
    rng = np.random.default_rng(9)
    distinct_rows = []
    for i in range(40):
        v = rng.standard_normal(dim)
        distinct_rows.append((i, [float(x) for x in v / np.linalg.norm(v)]))
    near = np.array(base) + 1e-4 * rng.standard_normal(dim)
    distinct_rows.append((5000, [float(x) for x in near]))
    others = spark.createDataFrame(
        distinct_rows, "vec_id long, embedding array<float>"
    )
    df = giant.unionByName(others)

    reps, members = exact_vector_collapse(df)
    assert reps.count() == 42  # 1 rep for the giant + 40 distinct + near
    m = {r.vec_id: (r.rep_id, r.group_n) for r in members.collect()}
    assert m[1000] == (1000, 300) and m[1299] == (1000, 300)
    assert m[5000] == (5000, 1)

    res = embedding_dedup_pipeline(df, threshold=0.999, bucket_cap=50)
    n_pairs = res.pairs.count()
    clusters = {r.doc_id: r.cluster_id for r in res.clusters.collect()}
    kept = {r.vec_id for r in res.kept.collect()}
    res.pairs.unpersist(blocking=True)
    res.members.unpersist(blocking=True)
    free_local_checkpoint(res.clusters)

    # rep-level pairs only: the identical cluster contributes zero
    # pairwise work; the planted near-dup pairs with the rep
    assert n_pairs == 1
    assert clusters.get(5000) == 1000
    # all 300 identical members clustered under the min id, one kept
    giant_members = {d for d in clusters if 1000 <= d < 1300}
    assert len(giant_members) == 300
    assert {clusters[d] for d in giant_members} == {1000}
    assert kept & set(range(1000, 1300)) == {1000}
    assert 5000 not in kept  # near-dup of the kept rep → dropped
    assert set(range(40)) <= kept  # distinct vectors untouched


def test_quantified_rowsonly_family_round5_floors(spark):
    """r5 extension of the quantified-rows-only pattern to the rest of
    the family; floors pin the sf0.01 measurements with margin
    (a2 rel_err 0.0067; IVF single-query recall 0.3 at nprobe 4/16 on
    near-isotropic embeddings — the documented IVF worst case, avg
    0.51 over 10 queries in ann_recall_metrics; simhash word-jaccard
    min 0.862)."""
    from biosample_enricher_spark.queries import QUERIES

    sf = "/root/testdata/sf0.01"
    a2 = QUERIES["a2_approx_distinct"](spark, sf).first()
    assert a2.n_users_exact > 0
    assert a2.rel_err <= 0.02

    ivf = QUERIES["ann_ivf_topk"](spark, sf).collect()
    assert len(ivf) == 10
    assert ivf[0].recall_at_k >= 0.2
    probe = QUERIES["ann_ivf_build_probe"](spark, sf).collect()
    # row-SET equality: physical row order after the decoration join +
    # whole-frame window is plan-dependent, not contractual
    assert sorted(tuple(r) for r in ivf) == sorted(tuple(r) for r in probe)

    sh = QUERIES["dedup_simhash_pairs"](spark, sf).collect()
    assert len(sh) > 0
    assert all(r.hamming <= 3 for r in sh)
    assert min(r.word_jaccard for r in sh) >= 0.8


# --- prefix-filtered exact Jaccard (round 5b) ---------------------------------

from biosample_enricher_spark.operators import dedup as D  # noqa: E402


def _bigram_docs(spark):
    """Small corpus with planted near-dup pairs, disjoint docs, short
    docs (0/1 tokens → no bigrams), and a hot shingle shared by many
    docs that must NOT create accepted pairs."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    rows = [
        (1, base),
        (2, near),            # high-jaccard pair with 1
        (3, base.upper()),    # identical after ASCII fold → jaccard 1 with 1
        (4, "totally different words entirely here now"),
        (5, "one"),           # 1 token → no bigrams
        (6, ""),              # blank
        (7, None),            # null text
    ]
    # hot-shingle docs: all share "common pair" plus unique tails
    for i in range(20):
        rows.append((100 + i, f"common pair unique{i} tail{i} more{i} words{i}"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _full_index_pairs(spark, docs, num, den):
    """Reference: FULL inverted-index exact Jaccard (no prefix filter)."""
    from biosample_enricher_spark.operators.text import ascii_word_tokens

    sh = docs.where(F.col("text").isNotNull()).select(
        "doc_id", D.token_bigrams(ascii_word_tokens(F.col("text"))).alias("sh")
    ).where(F.size("sh") > 0)
    idx = sh.select("doc_id", F.explode("sh").alias("shingle"))
    sizes = sh.select("doc_id", F.size("sh").alias("n_sh"))
    a, b = idx.alias("a"), idx.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    out = (
        inter.join(sizes.select(F.col("doc_id").alias("id_a"),
                                F.col("n_sh").alias("n_a")), "id_a")
        .join(sizes.select(F.col("doc_id").alias("id_b"),
                           F.col("n_sh").alias("n_b")), "id_b")
        .where(F.lit(den) * F.col("c")
               >= F.lit(num) * (F.col("n_a") + F.col("n_b") - F.col("c")))
    )
    return {
        (r["id_a"], r["id_b"]): (r["c"], r["n_a"], r["n_b"])
        for r in out.collect()
    }


def test_prefix_filtered_jaccard_equals_full_index(spark):
    """The losslessness claim itself: prefix-filtered result ==
    full-inverted-index result, pair for pair and value for value."""
    from biosample_enricher_spark.operators.text import ascii_word_tokens

    docs = _bigram_docs(spark)
    got = {
        (r["id_a"], r["id_b"]): (r["n_inter"], r["n_a"], r["n_b"])
        for r in D.prefix_filtered_jaccard(
            docs, "doc_id",
            D.token_bigrams(ascii_word_tokens(F.col("text"))),
            threshold_num=3, threshold_den=5,
        ).collect()
    }
    exp = _full_index_pairs(spark, docs, 3, 5)
    assert got == exp
    assert (1, 2) in got and (1, 3) in got  # planted pairs found
    assert got[(1, 3)][0] == got[(1, 3)][1]  # identical → full overlap
    assert not any(a >= 100 or b >= 100 for a, b in got)  # hot shingle: no pairs


def test_prefix_filtered_jaccard_thresholds(spark):
    """Integer threshold semantics: at num/den = 9/10 only the
    identical pair survives; at 1/1 jaccard must be exactly 1.0."""
    from biosample_enricher_spark.operators.text import ascii_word_tokens

    docs = _bigram_docs(spark)
    sh = D.token_bigrams(ascii_word_tokens(F.col("text")))
    strict = D.prefix_filtered_jaccard(docs, "doc_id", sh, 9, 10).collect()
    assert {(r["id_a"], r["id_b"]) for r in strict} == {(1, 3)}
    exact = D.prefix_filtered_jaccard(docs, "doc_id", sh, 1, 1).collect()
    assert all(r["jaccard"] == 1.0 for r in exact)
    assert {(r["id_a"], r["id_b"]) for r in exact} == {(1, 3)}


def test_prefix_filtered_jaccard_treats_shingles_as_sets(spark):
    """A repeated shingle counts once: [x, x, y] and [x, y] are the
    same set, so their Jaccard is 1.0, not 2/3."""
    docs = spark.createDataFrame(
        [(1, ["x", "x", "y"]), (2, ["x", "y"])], "doc_id long, sh array<string>"
    )
    out = D.prefix_filtered_jaccard(docs, "doc_id", F.col("sh"), 3, 5)
    rows = [(r.id_a, r.id_b, r.n_inter, r.n_a, r.n_b, r.jaccard) for r in out.collect()]
    D.free_local_checkpoint(out)
    assert rows == [(1, 2, 2, 2, 2, 1.0)]


def test_prefix_join_is_smaller_than_full_index(spark):
    """The scale claim: the prefix candidate join emits strictly fewer
    pairs than the full index join on a corpus with a hot shingle
    (rarest-first prefixes skip it)."""
    from biosample_enricher_spark.operators.text import ascii_word_tokens

    docs = _bigram_docs(spark)
    sh = docs.where(F.col("text").isNotNull()).select(
        "doc_id", D.token_bigrams(ascii_word_tokens(F.col("text"))).alias("sh")
    ).where(F.size("sh") > 0)
    idx = sh.select("doc_id", F.explode("sh").alias("shingle"))
    a, b = idx.alias("a"), idx.alias("b")
    full_pairs = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id"), F.col("b.doc_id")).distinct().count()
    )
    # candidate pairs actually compared by the prefix-filtered path —
    # the operator's OWN candidate stage, not a re-implementation.
    sizes = sh.select("doc_id", F.size("sh").alias("n_sh"))
    cand_pairs = D.prefix_candidate_pairs(idx, sizes, 3, 5).count()
    assert cand_pairs < full_pairs
    # the hot "common pair" shingle alone would contribute 20*19/2 pairs
    assert cand_pairs < 20 * 19 // 2


def test_prefix_filtered_jaccard_composes_with_exact_collapse(spark):
    """Identical-cluster guard: prefix filtering bounds hot SHINGLES,
    not hot DOCUMENTS (identical docs share their whole prefix), so
    the corpus-scale composition is exact_collapse → prefix join on
    representatives. A 300-doc identical cluster contributes ZERO
    candidate pairs after collapse (one representative), while the
    planted near-dup pair must still surface among the reps."""
    from biosample_enricher_spark.operators.dedup import exact_collapse
    from biosample_enricher_spark.operators.text import ascii_word_tokens

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    rows = [(i, base) for i in range(300)]  # identical cluster
    rows += [(1000, near), (2000, "entirely different words over here now")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    reps, members = exact_collapse(docs, "doc_id", "text")
    assert reps.count() == 3  # one per distinct text
    pairs = D.prefix_filtered_jaccard(
        reps, "doc_id",
        D.token_bigrams(ascii_word_tokens(F.col("text"))),
        threshold_num=3, threshold_den=5,
    ).collect()
    # exactly the rep-level near-dup pair; no intra-cluster pairs at all
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(0, 1000)}
    # membership expansion still knows the full cluster
    grp = members.where(F.col("rep_id") == 0)
    assert grp.count() == 300 and grp.agg(F.max("group_n")).first()[0] == 300


def test_prefix_positional_filter_lossless_on_random_worst_case(spark):
    """Randomized losslessness check on the WORST case for prefix
    filtering — a tiny vocabulary where nearly all docs share
    shingles — at several thresholds: prefix+positional candidates
    must reproduce the full inverted-index join exactly."""
    import random

    from biosample_enricher_spark.operators.text import ascii_word_tokens

    rng = random.Random(1234)
    vocab = ["aa", "bb", "cc", "dd", "ee", "ff"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 12))))
        for i in range(80)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = D.token_bigrams(ascii_word_tokens(F.col("text")))
    for num, den in [(1, 2), (3, 5), (4, 5)]:
        got = {
            (r["id_a"], r["id_b"]): (r["n_inter"], r["n_a"], r["n_b"])
            for r in D.prefix_filtered_jaccard(docs, "doc_id", sh, num, den).collect()
        }
        exp = _full_index_pairs(spark, docs, num, den)
        assert got == exp, f"threshold {num}/{den}: {len(got)} vs {len(exp)}"
