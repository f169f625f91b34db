"""Skew model + skew-hardening evidence (north_rule: skewed
kind/media_ref distributions, explicit salting, AQE skew handling)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from biosample_enricher_spark.synth import GenParams, gen_asset_catalog, gen_documents

P = GenParams(seed=42, n_assets=5_000)


def test_generator_produces_hot_keys(spark):
    """The skew the engine must survive is real: one asset takes ~30%
    of all media references and 'text' dominates kinds (~75%)."""
    docs = gen_documents(spark, 3_000, P)
    refs = (
        docs.select(F.explode(F.col("spans.media_ref")).alias("media_ref"))
        .where(F.col("media_ref").isNotNull())
        .groupBy("media_ref")
        .count()
        .orderBy(F.col("count").desc())
    )
    top = refs.first()
    total = refs.agg(F.sum("count")).first()[0]
    assert top["media_ref"] == "asset-00000000"
    assert 0.2 < top["count"] / total < 0.4

    kinds = (
        docs.select(F.explode(F.col("spans.kind")).alias("k"))
        .groupBy("k")
        .count()
        .collect()
    )
    share = {r.k: r["count"] for r in kinds}
    assert share["text"] / sum(share.values()) > 0.6


def test_salted_two_stage_agg_is_exact_under_skew(spark):
    """The salted two-stage pattern must give byte-identical counts to
    a naive groupBy on the hot-key distribution (stage 1 pre-aggregates
    per physical partition, bounding any reducer's input)."""
    docs = gen_documents(spark, 3_000, P)
    refs = docs.select(F.explode(F.col("spans.media_ref")).alias("media_ref")).where(
        F.col("media_ref").isNotNull()
    )
    naive = {
        r.media_ref: r.n
        for r in refs.groupBy("media_ref").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    salted = (
        refs.withColumn("_salt", F.pmod(F.spark_partition_id(), F.lit(64)))
        .groupBy("_salt", "media_ref")
        .agg(F.count(F.lit(1)).alias("_partial"))
        .groupBy("media_ref")
        .agg(F.sum("_partial").alias("n"))
    )
    got = {r.media_ref: r.n for r in salted.collect()}
    assert got == naive


def test_jaccard_df_cap_bounds_hot_shingle_candidates(spark):
    """A shingle shared by ~30% of docs must NOT explode the candidate
    join: with df_cap below the hot shingle's document frequency, the
    pair count stays bounded by the rare-shingle near-dups, and true
    near-dups (which share rare shingles too) are still found."""
    from biosample_enricher_spark.operators.dedup import jaccard_candidates

    hot = "lorem ipsum dolor"  # 3-gram planted in 30% of docs
    rows = []
    for i in range(200):
        base = f"unique text body number {i} with distinct words w{i} v{i} u{i}"
        if i % 3 == 0:
            base = f"{hot} {base}"
        rows.append((i, base))
    # planted near-dup pair sharing rare shingles
    rows.append((900, "alpha beta gamma delta epsilon zeta eta theta iota"))
    rows.append((901, "alpha beta gamma delta epsilon zeta eta theta kappa"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    capped = jaccard_candidates(df, "doc_id", "text", 3, 0.3, df_cap=10)
    pairs = {(r.id_a, r.id_b) for r in capped.collect()}
    assert (900, 901) in pairs
    # hot-shingle-only doc pairs (jaccard << 0.3 anyway) must not appear,
    # and the candidate set must stay tiny — not the ~2000 pairs the hot
    # 3-gram alone would generate pre-verification
    assert len(pairs) <= 5

    # capped jaccard is a lower bound of the true jaccard: the planted
    # pair shares only sub-cap shingles so its score is exact
    j = {(r.id_a, r.id_b): r.jaccard for r in capped.collect()}[(900, 901)]
    uncapped = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_candidates(
            df, "doc_id", "text", 3, 0.3, df_cap=None
        ).collect()
    }
    assert abs(j - uncapped[(900, 901)]) < 1e-12


def test_simhash_skew_guards(spark):
    """sig=0 (empty) docs and over-cap buckets must not quadratic-blow
    the quarter self-join; real near-dups still pair up."""
    from biosample_enricher_spark.operators.dedup import simhash_near_duplicates

    rows = [(i, "") for i in range(100)]  # 100 empty docs → sig = 0
    rows += [(200, "the quick brown fox jumps over the lazy dog today"),
             (201, "the quick brown fox jumps over the lazy dog tonight")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {(r.id_a, r.id_b) for r in
           simhash_near_duplicates(df, "doc_id", "text", max_hamming=8).collect()}
    assert (200, 201) in got
    # none of the 100×99/2 empty-doc pairs may appear
    assert all(a >= 200 for a, _ in got)


def test_violations_write_one_file_per_bucket_under_skew(spark, tmp_path):
    """On the hot-key corpus every bucket of the violations output is
    still exactly one parquet file, written by one task."""
    from biosample_enricher_spark.checkpoint import ResumableRun
    from biosample_enricher_spark.operators.dedup import free_local_checkpoint

    docs, cat = gen_documents(spark, 3_000, P), gen_asset_catalog(spark, P)
    run = ResumableRun(spark, str(tmp_path / "cp"), run_id="skew")
    vpath = str(tmp_path / "viols")
    free_local_checkpoint(run.run(docs, cat, violations_path=vpath))
    buckets = [d for d in os.listdir(vpath) if d.startswith("partition_id=")]
    assert len(buckets) == run.suite.n_buckets
    for d in buckets:
        parts = [f for f in os.listdir(os.path.join(vpath, d))
                 if f.startswith("part-") and f.endswith(".parquet")]
        assert len(parts) == 1, (d, parts)
