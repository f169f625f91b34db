"""Checkpointed, partition-granular resumable runs.

The reference achieves idempotent re-runs with a read-through HTTP
cache keyed by canonicalized request (``/root/reference/
biosample_enricher/http_cache.py:20-44``) with HIT/MISS/BYPASS states
(``http_cache.py:199-243``). The engine's batch equivalent: a
checkpoint table of per-partition lineage + metrics rows
(FIXTURES.md §A3)::

    checkpoint(run_id, partition_id, constraint_id, status,
               n_rows, n_violations, metrics map<string,double>,
               finished_at timestamp)

On resume, the pending work list is ``all_buckets EXCEPT
completed_buckets``. The completed set (at most ``n_buckets`` ids) is
resolved once on the driver when ``pending()`` is called: no job at all
when the table does not exist yet, one small ``collect()`` otherwise.
The docs are then filtered by a literal ``NOT bucket IN (...)``
predicate, evaluated in the scan's codegen stage, so the suite's scans
never read the checkpoint table, and the pending frame is a snapshot
that later lineage appends cannot change. Partitions are the stable content-addressed buckets from
``constraints.core``, so a resume at a different executor count
processes exactly the same remaining documents.

A run whose frontier already holds every bucket stops there: it
returns an empty summary and runs no suite job, writes no violations
and appends no lineage.

The violations output is partitioned by ``partition_id`` and holds one
parquet file per bucket, sorted by ``(doc_id, constraint_id, field,
message)``. The write hash-partitions on ``partition_id`` into
``min(n_buckets, defaultParallelism)`` tasks, so each bucket is written
by exactly one task and the write uses every core; the count is
explicit because AQE coalesces a plain ``repartition("partition_id")``
of a small result into a single task that writes every bucket
serially. A bucket's file therefore holds the same rows in the same
order whatever the core count or the input partitioning (in one JVM,
the same bytes; across JVMs the parquet footer may list a column's
encodings in another order), and the dynamic partition overwrite that
makes a crash retry idempotent replaces whole files.

This table is the engine's only per-partition store: a run's exact
distinct-doc count is a sum over its lineage rows
(``ResumableRun.distinct_docs``), not a second table of sketches.

Storage is a parquet directory with an Iceberg-like append-only table
surface (``CheckpointTable``). On a cluster with an Iceberg catalog the
same API maps to ``writeTo(...).append()``; the sandbox has no Iceberg
runtime jar, so the thin writer abstraction (SURVEY.md §7 risk note)
keeps the call sites identical.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .constraints.core import SUMMARY_SCHEMA, ConstraintSuite, stable_partition_id
from .spec import C_KIND_VOCAB

CHECKPOINT_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("constraint_id", T.StringType(), False),
        T.StructField("status", T.StringType(), False),  # ok|violations|failed
        T.StructField("n_rows", T.LongType()),
        T.StructField("n_violations", T.LongType()),
        T.StructField("metrics", T.MapType(T.StringType(), T.DoubleType())),
        T.StructField("finished_at", T.TimestampType()),
    ]
)


class CheckpointTable:
    """Append-only checkpoint table behind the TableIO abstraction:
    a parquet path in the sandbox, an ``iceberg:<catalog.db.table>``
    identifier on a cluster (see sources/tableio.py)."""

    def __init__(self, spark: SparkSession, path: str) -> None:
        from .sources import resolve_table_io

        self.spark = spark
        self.path = path
        self._io = resolve_table_io(spark, path, schema=CHECKPOINT_SCHEMA)

    def exists(self) -> bool:
        return self._io.exists()

    def read(self) -> DataFrame:
        return self._io.read()

    def append(self, rows: DataFrame) -> None:
        self._io.append(rows.select([f.name for f in CHECKPOINT_SCHEMA.fields]))

    def completed_partitions(
        self,
        run_id: str,
        constraint_ids: list[str] | None = None,
    ) -> DataFrame:
        """Distinct partition ids fully finished for this run: no
        ``failed`` row, and (when ``constraint_ids`` is given) a row for
        every one of those constraints — a partition with a partial or
        mixed ok/failed write is NOT skipped on resume.

        ``constraint_ids`` are the suite's OWN constraints: the table
        may also carry foreign lineage rows (per-partition drift
        verdicts from ``--drift-by-partition``), and counting those
        would let a drift row stand in for a missing suite constraint —
        e.g. a resume that newly adds the referential check would see
        k+2 ≥ k+1 distinct ids and silently skip the partition."""
        cp = self.read().where(F.col("run_id") == run_id)
        ok = cp.where(F.col("status") != "failed").select(
            "partition_id", "constraint_id"
        )
        if constraint_ids is not None:
            done = (
                ok.where(F.col("constraint_id").isin(list(constraint_ids)))
                .groupBy("partition_id")
                .agg(F.countDistinct("constraint_id").alias("_n"))
                .where(F.col("_n") >= len(constraint_ids))
                .select("partition_id")
            )
        else:
            done = ok.select("partition_id").distinct()
        bad = cp.where(F.col("status") == "failed").select("partition_id").distinct()
        return done.join(bad, "partition_id", "left_anti")


def checkpoint_rows_from_summary(
    summary: DataFrame, run_id: str
) -> DataFrame:
    """Summary → checkpoint lineage rows. ``finished_at`` is metadata
    only (never feeds a data path, keeping runs deterministic)."""
    return summary.select(
        F.lit(run_id).alias("run_id"),
        F.col("partition_id"),
        F.col("constraint_id"),
        F.when(F.col("failed") > 0, F.lit("violations"))
        .otherwise(F.lit("ok"))
        .alias("status"),
        F.col("total").cast("long").alias("n_rows"),
        F.col("failed").cast("long").alias("n_violations"),
        F.create_map(
            F.lit("pass_rate"), F.col("pass_rate").cast("double")
        ).alias("metrics"),
        F.current_timestamp().alias("finished_at"),
    )


def _empty_frame(spark: SparkSession, schema: T.StructType) -> DataFrame:
    """An empty frame of exactly ``schema`` (nullability included) that
    is a local relation in the JVM, so collecting it runs no job;
    ``createDataFrame([], schema)`` is a Python-backed RDD that only a
    job proves empty."""
    jspark = spark._jsparkSession
    rows = spark._jvm.java.util.ArrayList()
    return DataFrame(
        jspark.createDataFrame(rows, jspark.parseDataType(schema.json())), spark
    )


class ResumableRun:
    """Run the constraint suite with partition-granular resume."""

    def __init__(
        self,
        spark: SparkSession,
        checkpoint_path: str,
        run_id: str | None = None,
        suite: ConstraintSuite | None = None,
    ) -> None:
        self.spark = spark
        self.table = CheckpointTable(spark, checkpoint_path)
        self.run_id = run_id or uuid.uuid4().hex
        self.suite = suite or ConstraintSuite()
        self.partitions_skipped = 0  # size of the frontier pending() resolved

    def pending(self, docs: DataFrame, with_referential: bool = False) -> DataFrame:
        """Documents in not-yet-completed partitions, as of this call.

        The completed bucket ids are collected now (no job when the
        table does not exist) and filtered as a literal, so the returned
        frame never rescans the checkpoint table and keeps its rows when
        lineage for its buckets is appended later. ``completed_partitions``
        decides which buckets count; how many did is left in
        ``partitions_skipped``."""
        done = []
        if self.table.exists():
            done = sorted(
                r.partition_id
                for r in self.table.completed_partitions(
                    self.run_id,
                    constraint_ids=self.suite.active_constraints(with_referential),
                ).collect()
            )
        self.partitions_skipped = len(done)
        if not done:
            return docs
        bucket = stable_partition_id(F.col("doc_id"), self.suite.n_buckets)
        return docs.where(~bucket.isin(done))

    def run(
        self,
        docs: DataFrame,
        asset_catalog: DataFrame | None = None,
        violations_path: str | None = None,
    ) -> DataFrame:
        """Validate all pending partitions; append one lineage row per
        (bucket, constraint), whose ``n_rows`` is the bucket's distinct
        doc count; return the summary of the work done in THIS
        invocation (empty if resumed past the end)."""
        todo = self.pending(docs, with_referential=asset_catalog is not None)
        if self.partitions_skipped == self.suite.n_buckets:
            # resumed past the end: no suite job, no write, no lineage
            return _empty_frame(self.spark, SUMMARY_SCHEMA)
        result = self.suite.run(todo, asset_catalog)
        if violations_path is not None:
            # One sorted file per bucket, written by one task: its
            # contents depend on its rows alone. The task count is explicit
            # because AQE would coalesce a plain
            # repartition("partition_id") into one task writing every
            # bucket serially.
            # Dynamic partition overwrite keyed by partition_id: a crash
            # AFTER this write but BEFORE the lineage append makes the
            # resume reprocess those partitions — overwrite-by-partition
            # replaces their files instead of duplicating their rows
            # (append mode would double every violation of the retried
            # buckets).
            n_tasks = min(
                self.suite.n_buckets, self.spark.sparkContext.defaultParallelism
            )
            (
                result.violations.repartition(n_tasks, "partition_id")
                .sortWithinPartitions(
                    "partition_id", "doc_id", "constraint_id", "field", "message"
                )
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("partition_id")
                .parquet(violations_path)
            )
        # Materialize the summary once: it feeds both the lineage append
        # and the caller, and its plan reads the suite's persisted
        # frames, which result.unpersist() below releases before the
        # caller collects it.
        summary = result.summary.localCheckpoint(eager=True)
        self.table.append(checkpoint_rows_from_summary(summary, self.run_id))
        # release the suite's persisted blocks (violations + dups) now
        # that the summary is materialized — repeated/resumed runs in a
        # long-lived session must not accumulate cached frames
        result.unpersist()
        return summary

    def distinct_docs(self) -> DataFrame:
        """Exact distinct-doc count over every bucket this ``run_id`` has
        finished, across all its invocations → one row ``(n_partitions,
        n_docs)``, read from the lineage rows alone (no document scan).

        A summary's ``total`` is the bucket's distinct doc_id count, and
        equal doc_ids share a content-addressed bucket, so the per-bucket
        totals of one constraint add up to the corpus-wide distinct
        count. A bucket whose lineage append was cut short stays pending,
        and its retry appends a second row for it; the latest one
        counts."""
        latest = (
            self.table.read()
            .where(
                (F.col("run_id") == self.run_id)
                & (F.col("constraint_id") == C_KIND_VOCAB)
                & (F.col("status") != "failed")
            )
            .groupBy("partition_id")
            .agg(F.max_by("n_rows", "finished_at").alias("n_rows"))
        )
        return latest.agg(
            F.count(F.lit(1)).alias("n_partitions"),
            F.coalesce(F.sum("n_rows"), F.lit(0)).cast("long").alias("n_docs"),
        )
