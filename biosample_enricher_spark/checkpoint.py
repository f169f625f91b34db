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

Storage is a parquet directory with an Iceberg-like append-only table
surface (``CheckpointTable``). On a cluster with an Iceberg catalog the
same API maps to ``writeTo(...).append()``; the sandbox has no Iceberg
runtime jar, so the thin writer abstraction (SURVEY.md §7 risk note)
keeps the call sites identical.
"""

from __future__ import annotations

import uuid

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .constraints.core import ConstraintSuite, stable_partition_id
from .spec import N_BUCKETS_DEFAULT

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


SKETCH_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("column", T.StringType(), False),
        T.StructField("sketch", T.BinaryType()),
        T.StructField("finished_at", T.TimestampType()),
    ]
)


class SketchTable:
    """Sidecar to the checkpoint table: one mergeable HLL distinct
    sketch per (run, partition, column). A resumed or incremental run
    unions these instead of recounting completed partitions; duplicate
    appends for a reprocessed partition are harmless because HLL union
    is idempotent (register-wise max)."""

    def __init__(self, spark: SparkSession, path: str) -> None:
        from .sources import resolve_table_io

        self.spark = spark
        self.path = path
        self._io = resolve_table_io(spark, path, schema=SKETCH_SCHEMA)

    def read(self) -> DataFrame:
        return self._io.read()

    def append(self, rows: DataFrame) -> None:
        self._io.append(rows.select([f.name for f in SKETCH_SCHEMA.fields]))

    def distinct_estimates(self, run_id: str) -> DataFrame:
        """Merged distinct-count estimate per column across every
        partition sketched so far for ``run_id`` — no data rescan."""
        return (
            self.read()
            .where(F.col("run_id") == run_id)
            .groupBy("column")
            .agg(
                F.count_distinct("partition_id").alias("n_partitions"),
                F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias(
                    "estimate"
                ),
            )
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


class ResumableRun:
    """Run the constraint suite with partition-granular resume."""

    def __init__(
        self,
        spark: SparkSession,
        checkpoint_path: str,
        run_id: str | None = None,
        suite: ConstraintSuite | None = None,
        sketch_columns: tuple[str, ...] = (),
    ) -> None:
        self.spark = spark
        self.table = CheckpointTable(spark, checkpoint_path)
        self.run_id = run_id or uuid.uuid4().hex
        self.suite = suite or ConstraintSuite()
        self.partitions_skipped = 0  # size of the frontier pending() resolved
        # per-partition HLL distinct sketches (north_star:
        # "approx_count_distinct via HyperLogLog") ride a sidecar table
        # next to the lineage rows; empty tuple = feature off
        self.sketch_columns = tuple(sketch_columns)
        self.sketches = SketchTable(
            spark, f"{checkpoint_path.rstrip('/')}_sketches"
        )

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
        """Validate all pending partitions; append lineage; return the
        summary of the work done in THIS invocation (empty if resumed
        past the end)."""
        todo = self.pending(docs, with_referential=asset_catalog is not None)
        # todo feeds both the suite and the sketch pass — persist so
        # --sketch-distinct does not rescan the pending input, unless it
        # is cached already: pending() returns the caller's docs as-is
        # when no bucket is done, and their cache is theirs to release
        cache_todo = (
            bool(self.sketch_columns) and todo.storageLevel == StorageLevel.NONE
        )
        if cache_todo:
            todo = todo.persist()
        result = self.suite.run(todo, asset_catalog)
        if violations_path is not None:
            # dynamic partition overwrite keyed by partition_id: a crash
            # AFTER this write but BEFORE the lineage append makes the
            # resume reprocess those partitions — overwrite-by-partition
            # replaces their rows instead of duplicating them (append
            # mode would double every violation of the retried buckets)
            (
                result.violations.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("partition_id")
                .parquet(violations_path)
            )
        # Materialize the summary once: it feeds both the lineage append
        # and the caller, and its plan reads the suite's persisted
        # frames, which result.unpersist() below releases before the
        # caller collects it.
        summary = result.summary.localCheckpoint(eager=True)
        # sketches BEFORE lineage: a crash between the two appends then
        # leaves these partitions pending, and their re-run sketches
        # union idempotently; the reverse order would mark them done
        # with no sketch
        if self.sketch_columns:
            self.sketches.append(self._sketch_rows(todo))
        self.table.append(checkpoint_rows_from_summary(summary, self.run_id))
        # release the suite's persisted blocks (violations + dups) now
        # that the summary is materialized — repeated/resumed runs in a
        # long-lived session must not accumulate cached frames
        result.unpersist()
        if cache_todo:
            todo.unpersist()
        return summary

    def _sketch_rows(self, todo: DataFrame) -> DataFrame:
        """Sidecar rows for this invocation's pending documents —
        delegates to the shared per-partition sketch machinery
        (operators/stats.py::partition_sketch_rows) so sketch
        precision lives in one place."""
        from .operators.stats import partition_sketch_rows

        rows = partition_sketch_rows(
            todo, self.sketch_columns, n_buckets=self.suite.n_buckets
        )
        return rows.select(
            F.lit(self.run_id).alias("run_id"),
            "partition_id",
            "column",
            "sketch",
            F.current_timestamp().alias("finished_at"),
        )

    def distinct_estimates(self) -> DataFrame:
        """Merged HLL distinct estimates per sketched column across
        everything this run_id has processed so far (incl. previous
        interrupted invocations) — no rescan of completed partitions."""
        return self.sketches.distinct_estimates(self.run_id)
