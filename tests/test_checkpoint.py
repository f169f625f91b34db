"""Checkpoint/resume: partition-granular work skipping (the batch
analog of HTTP-cache HIT/MISS, FIXTURES.md §A3)."""

from __future__ import annotations

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from biosample_enricher_spark.checkpoint import (
    CHECKPOINT_SCHEMA,
    CheckpointTable,
    ResumableRun,
    checkpoint_rows_from_summary,
)
from biosample_enricher_spark.constraints import ConstraintSuite, stable_partition_id
from biosample_enricher_spark.operators.dedup import free_local_checkpoint
from biosample_enricher_spark.synth import GenParams, gen_asset_catalog, gen_documents

P = GenParams(seed=33, n_assets=200)


@pytest.fixture
def corpus(spark):
    return gen_documents(spark, 500, P), gen_asset_catalog(spark, P)


def test_fresh_run_completes_all_partitions(spark, corpus, tmp_path):
    docs, catalog = corpus
    run = ResumableRun(spark, str(tmp_path / "cp"), run_id="r1",
                       suite=ConstraintSuite(n_buckets=16))
    summary = run.run(docs, catalog)
    assert summary.select("partition_id").distinct().count() == 16
    done = run.table.completed_partitions("r1")
    assert done.count() == 16
    # second invocation: everything HIT → no pending docs, empty summary
    assert run.pending(docs).count() == 0
    summary2 = run.run(docs, catalog)
    assert summary2.count() == 0


def test_resume_processes_only_missing_partitions(spark, corpus, tmp_path):
    docs, catalog = corpus
    path = str(tmp_path / "cp")
    suite = ConstraintSuite(n_buckets=16)
    # simulate an interrupted run: checkpoint only buckets 0..7
    docs_p = suite.with_partition_id(docs)
    first_half = docs_p.where(F.col("partition_id") < 8).drop("partition_id")
    run = ResumableRun(spark, path, run_id="r2", suite=suite)
    run.run(first_half, catalog)
    assert run.table.completed_partitions("r2").count() == 8

    pending = suite.with_partition_id(run.pending(docs))
    pids = {r.partition_id for r in pending.select("partition_id").distinct().collect()}
    assert pids == set(range(8, 16))

    summary2 = run.run(docs, catalog)
    pids2 = {r.partition_id for r in summary2.select("partition_id").distinct().collect()}
    assert pids2 == set(range(8, 16))
    assert run.table.completed_partitions("r2").count() == 16


def test_resume_result_equals_single_shot(spark, corpus, tmp_path):
    """Interrupted-then-resumed violations == one-shot violations."""
    docs, catalog = corpus
    suite = ConstraintSuite(n_buckets=16)
    one_shot = sorted(map(tuple, suite.run(docs, catalog).violations.collect()))

    path = str(tmp_path / "cp")
    vpath = str(tmp_path / "viols")
    docs_p = suite.with_partition_id(docs)
    run = ResumableRun(spark, path, run_id="r3", suite=suite)
    run.run(docs_p.where(F.col("partition_id") < 5).drop("partition_id"),
            catalog, violations_path=vpath)
    run.run(docs, catalog, violations_path=vpath)
    resumed = sorted(map(tuple, spark.read.parquet(vpath).select(
        "partition_id", "doc_id", "constraint_id", "field", "message").collect()))
    assert resumed == one_shot


def test_runs_are_isolated_by_run_id(spark, corpus, tmp_path):
    docs, catalog = corpus
    path = str(tmp_path / "cp")
    suite = ConstraintSuite(n_buckets=16)
    ResumableRun(spark, path, run_id="a", suite=suite).run(docs, catalog)
    fresh = ResumableRun(spark, path, run_id="b", suite=suite)
    assert fresh.table.completed_partitions("b").count() == 0
    assert fresh.pending(docs).count() == docs.count()


def test_duplicate_doc_ids_share_a_bucket(spark, corpus):
    """Uniqueness is safe under partition-granular resume because equal
    doc_ids land in the same content-addressed bucket."""
    docs, _ = corpus
    dup_buckets = (
        docs.groupBy("doc_id")
        .count()
        .where(F.col("count") > 1)
        .select(stable_partition_id(F.col("doc_id"), 16).alias("b"))
    )
    assert dup_buckets.count() > 0


def test_sketch_sidecar_accumulates_across_resume(spark, corpus, tmp_path):
    """The distinct-doc count read back from the lineage rows covers
    every bucket this run_id finished: after an interrupted run + resume
    it is the corpus's exact distinct doc_id count (the corpus has
    duplicate doc_ids), and a no-op re-invocation appends no lineage."""
    docs, catalog = corpus
    suite = ConstraintSuite(n_buckets=16)
    path = str(tmp_path / "cp")
    docs_p = suite.with_partition_id(docs)
    run = ResumableRun(spark, path, run_id="rs", suite=suite)
    # interrupted: only buckets 0..7
    run.run(docs_p.where(F.col("partition_id") < 8).drop("partition_id"),
            catalog)
    partial = run.distinct_docs().first()
    assert partial.n_partitions == 8

    # resume: remaining buckets; the count is now the whole corpus's
    run.run(docs, catalog)
    got = run.distinct_docs().first()
    exact = docs.select("doc_id").distinct().count()
    assert exact < docs.count()
    assert got.n_partitions == 16
    assert got.n_docs == exact
    assert partial.n_docs < got.n_docs

    # fully resumed: nothing pending, no new lineage rows
    n_rows = run.table.read().count()
    run.run(docs, catalog)
    assert run.table.read().count() == n_rows
    assert run.distinct_docs().first() == got


def test_foreign_lineage_rows_do_not_satisfy_completeness(spark, corpus, tmp_path):
    """Code-review r3: drift verdict rows share the checkpoint table;
    they must NOT count toward a partition's suite completeness. Run
    without referential, append 2 drift rows per partition (k+2 >= k+1
    distinct ids), then resume WITH a catalog: every partition must
    still be pending so the referential check actually runs."""
    docs, catalog = corpus
    suite = ConstraintSuite(n_buckets=16)
    run = ResumableRun(spark, str(tmp_path / "cp"), run_id="fx", suite=suite)
    run.run(docs)  # no catalog: k row-scope+uniqueness constraints

    # simulate --drift-by-partition lineage: 2 foreign constraint rows
    # per partition under the same run_id
    drift_rows = (
        spark.range(16)
        .selectExpr("cast(id as int) AS partition_id")
        .selectExpr(
            "'fx' AS run_id",
            "partition_id",
            "explode(array('drift_span_length','drift_kind_frequency'))"
            " AS constraint_id",
            "'ok' AS status",
            "cast(1 as long) AS n_rows",
            "cast(0 as long) AS n_violations",
            "map('ks_stat', cast(0.0 as double)) AS metrics",
            "current_timestamp() AS finished_at",
        )
    )
    run.table.append(drift_rows)

    # without the constraint_ids filter, k+2 foreign-inflated ids would
    # satisfy the k+1 referential-inclusive bar and skip everything
    pending = run.pending(docs, with_referential=True)
    assert pending.count() == docs.count()
    summary = run.run(docs, catalog)
    assert "media_ref_referential" in {
        r.constraint_id for r in summary.collect()
    }


def test_violations_write_is_idempotent_under_crash_retry(spark, corpus, tmp_path):
    """Crash between the violations write and the lineage append makes
    the resume reprocess those partitions: dynamic partition overwrite
    must replace their violation rows, not duplicate them."""
    docs, catalog = corpus
    suite = ConstraintSuite(n_buckets=16)
    vpath = str(tmp_path / "viols")
    cpath = str(tmp_path / "cp")

    one_shot = sorted(
        map(tuple, suite.run(docs, catalog).violations.collect())
    )

    run = ResumableRun(spark, cpath, run_id="cr", suite=suite)
    run.run(docs, catalog, violations_path=vpath)
    # simulate the crash: violations landed but the lineage append was
    # lost → wipe the checkpoint table and retry the whole run
    import shutil

    shutil.rmtree(cpath)
    run2 = ResumableRun(spark, cpath, run_id="cr", suite=suite)
    run2.run(docs, catalog, violations_path=vpath)

    resumed = sorted(
        map(
            tuple,
            spark.read.parquet(vpath)
            .select("partition_id", "doc_id", "constraint_id", "field", "message")
            .collect(),
        )
    )
    assert resumed == one_shot  # no duplicates from the retried write


def _lineage(spark, run_id, rows):
    """Checkpoint rows for ``(partition_id, constraint_id, status)``."""
    return spark.createDataFrame(
        [(run_id, pid, cid, status, 1, 0, {}, None) for pid, cid, status in rows],
        CHECKPOINT_SCHEMA,
    )


def _pending_buckets(run, docs, n_buckets=16):
    pending = run.pending(docs).select(
        stable_partition_id(F.col("doc_id"), n_buckets).alias("b")
    )
    return {r.b for r in pending.distinct().collect()}


def test_pending_frame_is_a_snapshot(spark, corpus, tmp_path):
    """The frontier is resolved when pending() is called: appending
    lineage for the frame's buckets afterwards does not shrink it,
    whether or not the frame is persisted (an append refreshes cached
    plans that read the checkpoint path)."""
    docs, catalog = corpus
    suite = ConstraintSuite(n_buckets=16)
    run = ResumableRun(spark, str(tmp_path / "cp"), run_id="snap", suite=suite)
    run.run(docs.where(stable_partition_id(F.col("doc_id"), 16) < 8), catalog)

    todo = run.pending(docs, with_referential=True)
    cached = run.pending(docs, with_referential=True).persist()
    n = todo.count()
    assert cached.count() == n > 0
    run.run(docs, catalog)  # appends lineage for every pending bucket
    assert run.pending(docs, with_referential=True).count() == 0
    assert todo.count() == n
    assert cached.count() == n
    cached.unpersist()


def test_failed_lineage_row_keeps_bucket_pending(spark, corpus, tmp_path):
    """A bucket with a ``failed`` row is not complete, even when every
    constraint also has an ok row for it."""
    docs, _ = corpus
    run = ResumableRun(spark, str(tmp_path / "cp"), run_id="fail",
                       suite=ConstraintSuite(n_buckets=16))
    active = run.suite.active_constraints(False)
    run.table.append(_lineage(
        spark, "fail", [(b, c, "ok") for b in range(16) for c in active]
    ))
    assert _pending_buckets(run, docs) == set()
    run.table.append(_lineage(spark, "fail", [(3, active[0], "failed")]))
    assert _pending_buckets(run, docs) == {3}
    assert run.partitions_skipped == 15


def test_missing_constraint_row_keeps_bucket_pending(spark, corpus, tmp_path):
    """A bucket lacking one active constraint's row (a partial lineage
    write) stays pending."""
    docs, _ = corpus
    run = ResumableRun(spark, str(tmp_path / "cp"), run_id="part",
                       suite=ConstraintSuite(n_buckets=16))
    active = run.suite.active_constraints(False)
    run.table.append(_lineage(spark, "part", [
        (b, c, "ok") for b in range(16) for c in active
        if (b, c) != (7, active[-1])
    ]))
    assert _pending_buckets(run, docs) == {7}
    assert run.partitions_skipped == 15


def test_sketch_run_leaves_caller_cache_alone(spark, corpus, tmp_path):
    """On a fresh checkpoint pending() hands back the caller's docs
    frame; run() must not drop a cache the caller owns."""
    docs, catalog = corpus
    docs = docs.persist()
    docs.count()
    run = ResumableRun(spark, str(tmp_path / "cp"), run_id="cc",
                       suite=ConstraintSuite(n_buckets=16))
    run.run(docs, catalog)
    assert docs.storageLevel.useMemory or docs.storageLevel.useDisk
    docs.unpersist()


def _jobs_of(spark, group, fn):
    """Run ``fn`` under its own job group → (its result, job ids)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, sorted(sc.statusTracker().getJobIdsForGroup(group))


def _listing(path):
    return {
        (os.path.relpath(os.path.join(d, f), path), os.path.getmtime(os.path.join(d, f)))
        for d, _, files in os.walk(path)
        for f in files
    }


def test_resume_past_the_end_runs_no_suite_job(spark, corpus, tmp_path):
    """A run over a finished run_id resolves its frontier and stops: the
    frontier collect is its only job, no violation file is touched, no
    lineage is appended, and the empty summary has a normal summary's
    schema (collecting it runs no job either)."""
    docs, catalog = corpus
    vpath = str(tmp_path / "viols")
    run = ResumableRun(spark, str(tmp_path / "cp"), run_id="end",
                       suite=ConstraintSuite(n_buckets=16))
    first = run.run(docs, catalog, violations_path=vpath)
    n_lineage = run.table.read().count()
    files = _listing(vpath)

    again, jobs = _jobs_of(
        spark, "resume-past-the-end",
        lambda: run.run(docs, catalog, violations_path=vpath),
    )
    _, frontier_jobs = _jobs_of(
        spark, "frontier-only",
        lambda: run.pending(docs, with_referential=True),
    )
    assert run.partitions_skipped == 16
    assert frontier_jobs and len(jobs) == len(frontier_jobs)
    rows, collect_jobs = _jobs_of(spark, "empty-collect", again.collect)
    assert rows == [] and collect_jobs == []
    assert again.schema == first.schema
    assert run.table.read().count() == n_lineage
    assert _listing(vpath) == files


def _bucket_file_hashes(vpath):
    """``partition_id=*`` directory → sha256 of its one parquet file."""
    out = {}
    for name in sorted(os.listdir(vpath)):
        if not name.startswith("partition_id="):
            continue
        d = os.path.join(vpath, name)
        parts = [f for f in os.listdir(d) if f.startswith("part-") and f.endswith(".parquet")]
        assert len(parts) == 1, (name, parts)
        with open(os.path.join(d, parts[0]), "rb") as fh:
            out[name] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_violation_files_are_byte_identical(spark, corpus, tmp_path):
    """Each bucket is one sorted parquet file whose bytes, within one
    session, depend only on the bucket's rows: a single-shot run, a run
    over the same docs in 7 input partitions, and a seeded-then-resumed
    run write the same files."""
    docs, catalog = corpus
    suite = ConstraintSuite(n_buckets=16)

    def write(name, *invocations):
        run = ResumableRun(spark, str(tmp_path / f"cp_{name}"), run_id=name, suite=suite)
        vpath = str(tmp_path / f"viols_{name}")
        for todo in invocations:
            free_local_checkpoint(run.run(todo, catalog, violations_path=vpath))
        return _bucket_file_hashes(vpath)

    single = write("single", docs)
    assert len(single) > 8  # most of the 16 buckets hold violations
    assert write("repartitioned", docs.repartition(7)) == single
    seeded = docs.where(stable_partition_id(F.col("doc_id"), 16) < 5)
    assert write("resumed", seeded, docs) == single
