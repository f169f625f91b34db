"""Structured Streaming tier: streamed violations must equal the batch
engine's rows exactly; windowed rollups respect watermarked state."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from biosample_enricher_spark.constraints import ConstraintSuite
from biosample_enricher_spark.streaming import (
    run_streaming_validation,
    stream_documents,
    streaming_violations,
    windowed_violation_counts,
)
from biosample_enricher_spark.synth import GenParams, gen_documents


@pytest.fixture(scope="module")
def base(tmp_path_factory):
    return str(tmp_path_factory.mktemp("streaming"))


@pytest.fixture(scope="module")
def corpus_dir(spark, base):
    path = f"{base}/corpus"
    # several files so the incremental source has multiple splits
    gen_documents(spark, 3_000, GenParams(seed=9)).repartition(6).write.mode(
        "overwrite"
    ).parquet(path)
    return path


def _batch_rows(spark, path):
    suite = ConstraintSuite()
    docs = spark.read.parquet(path)
    return sorted(
        (r.partition_id, r.doc_id, r.constraint_id, r.field, r.message)
        for r in suite.row_violations(suite.with_partition_id(docs)).collect()
    )


def test_streaming_matches_batch_exactly(spark, base, corpus_dir):
    out = f"{base}/viol_out"
    cp = f"{base}/viol_cp"
    run_streaming_validation(spark, corpus_dir, out, cp)
    got = sorted(
        (r.partition_id, r.doc_id, r.constraint_id, r.field, r.message)
        for r in spark.read.parquet(out).collect()
    )
    expected = _batch_rows(spark, corpus_dir)
    assert len(expected) > 0
    assert got == expected


def test_streaming_resume_is_exactly_once(spark, base, corpus_dir):
    """Re-running availableNow against the same checkpoint must add
    nothing: the file-source offsets are committed, so a drained
    backlog is never re-validated (the streaming analog of the batch
    checkpoint's cache-HIT partitions)."""
    out = f"{base}/viol_out2"
    cp = f"{base}/viol_cp2"
    run_streaming_validation(spark, corpus_dir, out, cp)
    n1 = spark.read.parquet(out).count()
    run_streaming_validation(spark, corpus_dir, out, cp)
    n2 = spark.read.parquet(out).count()
    assert n1 == n2 > 0


def test_windowed_violation_counts_with_watermark(spark, corpus_dir):
    """Event-time windows over the violation stream (complete mode to
    a memory sink; availableNow drains everything) must equal the
    batch per-window counts."""
    docs = stream_documents(spark, corpus_dir)
    viol = streaming_violations(docs)
    # deterministic event time: doc hash spread over 10 minutes
    with_ts = viol.withColumn(
        "event_ts",
        F.timestamp_seconds(
            F.lit(1_700_000_000) + F.pmod(F.xxhash64("doc_id"), F.lit(600))
        ),
    )
    windowed = windowed_violation_counts(with_ts)
    q = (
        windowed.writeStream.format("memory")
        .queryName("winviol")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.window_start, r.constraint_id): r.n_violations
        for r in spark.table("winviol").collect()
    }

    suite = ConstraintSuite()
    bdocs = spark.read.parquet(corpus_dir)
    bviol = suite.row_violations(suite.with_partition_id(bdocs)).withColumn(
        "event_ts",
        F.timestamp_seconds(
            F.lit(1_700_000_000) + F.pmod(F.xxhash64("doc_id"), F.lit(600))
        ),
    )
    expected = {
        (r.window_start, r.constraint_id): r.n
        for r in bviol.groupBy(
            F.window("event_ts", "1 minute").alias("w"), "constraint_id"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "constraint_id", "n")
        .collect()
    }
    assert got == expected
    assert len(got) >= 10  # multiple windows actually exercised


def test_clean_backlog_empty_sink_reads_as_zero(spark, base):
    """ADVICE r2: a violation-free corpus leaves only _spark_metadata
    in the sink dir; read_violations must return 0 rows with the
    pinned schema instead of failing parquet schema inference."""
    from biosample_enricher_spark.streaming import read_violations

    corpus = f"{base}/clean_corpus"
    out = f"{base}/clean_out"
    cp = f"{base}/clean_cp"
    gen_documents(spark, 500, GenParams(seed=11).clean()).write.mode(
        "overwrite"
    ).parquet(corpus)
    run_streaming_validation(spark, corpus, out, cp)
    got = read_violations(spark, out)
    assert got.count() == 0
    assert [f.name for f in got.schema.fields] == [
        "partition_id", "doc_id", "constraint_id", "field", "message",
    ]


def _write_id_file(path, ids):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.string())}), path)


def _drain_uniqueness(spark, src, out, cp):
    from biosample_enricher_spark.streaming import (
        streaming_duplicate_violations,
    )

    stream = (
        spark.readStream.schema("doc_id string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streaming_duplicate_violations(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", cp)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_streaming_uniqueness_across_microbatches(spark, base):
    """A duplicate arriving in a LATER micro-batch must yield exactly
    one violation row, and state must survive a checkpoint resume: a
    post-resume duplicate continues the occurrence count instead of
    restarting it."""
    import os
    import time

    from biosample_enricher_spark.streaming import read_violations

    src, out, cp = f"{base}/uniq/src", f"{base}/uniq/out", f"{base}/uniq/cp"
    os.makedirs(src)
    now = time.time()
    # f1: doc-3 duplicated WITHIN one batch; f2/f3: dupes across batches
    _write_id_file(f"{src}/f1.parquet", ["doc-1", "doc-2", "doc-3", "doc-3"])
    _write_id_file(f"{src}/f2.parquet", ["doc-3", "doc-5"])
    _write_id_file(f"{src}/f3.parquet", ["doc-5", "doc-3", "doc-9"])
    for i, f in enumerate(["f1", "f2", "f3"]):
        os.utime(f"{src}/{f}.parquet", (now + i, now + i))

    _drain_uniqueness(spark, src, out, cp)
    got = sorted(
        (r.doc_id, r.message) for r in read_violations(spark, out).collect()
    )
    assert got == [
        ("doc-3", "duplicate doc_id: occurrence 2"),
        ("doc-3", "duplicate doc_id: occurrence 3"),
        ("doc-3", "duplicate doc_id: occurrence 4"),
        ("doc-5", "duplicate doc_id: occurrence 2"),
    ]
    for r in read_violations(spark, out).collect():
        assert r.constraint_id == "doc_id_unique" and r.field == "doc_id"

    # re-drain with nothing new: exactly-once, zero additional rows
    _drain_uniqueness(spark, src, out, cp)
    assert read_violations(spark, out).count() == 4

    # resume: a NEW file with an old key continues its counter from
    # the checkpointed state (occurrence 5, not 2)
    _write_id_file(f"{src}/f4.parquet", ["doc-3", "doc-10"])
    os.utime(f"{src}/f4.parquet", (now + 10, now + 10))
    _drain_uniqueness(spark, src, out, cp)
    new = sorted(
        (r.doc_id, r.message) for r in read_violations(spark, out).collect()
    )
    assert new == sorted(got + [("doc-3", "duplicate doc_id: occurrence 5")])


def test_streaming_with_uniqueness_union_sink(spark, base, corpus_dir):
    """--stream-uniqueness deployment shape: row-scope violations and
    stateful dedup rows land in ONE sink from one query; the row-scope
    subset still equals the batch engine exactly."""
    from biosample_enricher_spark.streaming import read_violations

    out = f"{base}/union_out"
    cp = f"{base}/union_cp"
    run_streaming_validation(spark, corpus_dir, out, cp,
                             with_uniqueness=True)
    rows = read_violations(spark, out).collect()
    by_kind = {}
    for r in rows:
        by_kind.setdefault(r.constraint_id, 0)
        by_kind[r.constraint_id] += 1
    # the seeded corpus contains duplicate doc_ids → stateful rows exist
    assert by_kind.get("doc_id_unique", 0) > 0
    row_scope = sorted(
        (r.partition_id, r.doc_id, r.constraint_id, r.field, r.message)
        for r in rows
        if r.constraint_id != "doc_id_unique"
    )
    assert row_scope == _batch_rows(spark, corpus_dir)
