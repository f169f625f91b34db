#!/usr/bin/env python
"""spark-submit entry point: run the constraint suite over a documents
table with checkpointed, partition-granular resume.

Deployment (north_rule posture)::

    # package the engine once
    cd /root/repo && zip -r /tmp/engine.zip biosample_enricher_spark

    spark-submit --py-files /tmp/engine.zip jobs/validate.py \\
        --input  <path or iceberg table of documents(doc_id, spans)> \\
        --catalog <path of asset_catalog(media_ref, ...)> \\
        --checkpoint <checkpoint table path> \\
        --violations-out <violations output path> \\
        --run-id <stable id for resume> \\
        [--n-buckets 64] [--baseline <path>]

On a cluster, --master/--num-executors come from spark-submit; in the
sandbox the same script runs under local[N]. Re-running with the same
--run-id resumes: the completed buckets are collected once on the
driver and filtered out of the docs scan, and the report's
``partitions_skipped`` says how many there were.

With --baseline, drift constraints (two-sample KS over span-length and
kind-frequency histograms) run against the baseline corpus and are
appended to the summary output.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input",
                   help="documents table path (required unless --synthesize)")
    p.add_argument("--catalog")
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--violations-out")
    p.add_argument("--run-id", required=True)
    p.add_argument("--n-buckets", type=int, default=64)
    p.add_argument("--baseline",
                   help="baseline documents path for drift constraints")
    p.add_argument("--drift-by-partition", action="store_true",
                   help="with --baseline: per-content-partition drift "
                        "verdicts, appended to the checkpoint table as "
                        "lineage rows (metrics carry ks_stat/d_crit)")
    p.add_argument("--synthesize", type=int, metavar="N_DOCS",
                   help="ignore --input path contents and synthesize N "
                        "documents deterministically (demo/bench mode)")
    p.add_argument("--referential-bloom", action="store_true",
                   help="referential check via the Bloom pre-filter "
                        "tier (operators/bloom.py) instead of the exact "
                        "broadcast anti-join — for catalogs past "
                        "broadcast size; output provably identical")
    p.add_argument("--sketch-distinct", action="store_true",
                   help="write per-partition HLL distinct sketches for "
                        "doc_id to the <checkpoint>_sketches sidecar and "
                        "report the merged estimate (resumes union "
                        "sketches instead of recounting)")
    p.add_argument("--streaming", action="store_true",
                   help="validate --input via the Structured Streaming "
                        "tier: drain the backlog with availableNow, "
                        "append violations to --violations-out with "
                        "exactly-once sink checkpointing (row-scope "
                        "constraints; see streaming/validate.py)")
    p.add_argument("--stream-uniqueness", action="store_true",
                   help="with --streaming: also run stateful in-stream "
                        "doc_id dedup (applyInPandasWithState) into the "
                        "same sink")
    args = p.parse_args(argv)
    if not args.input and not args.synthesize:
        p.error("one of --input or --synthesize is required")
    if args.streaming and (not args.input or not args.violations_out):
        p.error("--streaming requires --input and --violations-out")
    if args.referential_bloom and args.streaming:
        p.error("--referential-bloom has no effect under --streaming "
                "(the streaming tier runs row-scope constraints only)")
    if args.referential_bloom and not (args.catalog or args.synthesize):
        p.error("--referential-bloom requires a catalog source "
                "(--catalog, or --synthesize which generates one) — "
                "without one no referential check runs at all")
    return args


def main(argv: list[str]) -> None:
    args = parse_args(argv)

    from pyspark.sql import SparkSession

    from biosample_enricher_spark.checkpoint import ResumableRun
    from biosample_enricher_spark.constraints import ConstraintSuite
    from biosample_enricher_spark.operators.drift import drift_check
    from biosample_enricher_spark.synth import GenParams, gen_asset_catalog, gen_documents

    # under spark-submit the session/master is provided by the launcher
    spark = SparkSession.builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if args.streaming:
        from biosample_enricher_spark.streaming import run_streaming_validation

        t0 = time.perf_counter()
        run_streaming_validation(
            spark,
            args.input,
            args.violations_out,
            f"{args.checkpoint.rstrip('/')}_stream",
            n_buckets=args.n_buckets,
            with_uniqueness=args.stream_uniqueness,
        )
        from biosample_enricher_spark.streaming import read_violations

        n_viol = read_violations(spark, args.violations_out).count()
        print(json.dumps({
            "run_id": args.run_id,
            "mode": "streaming",
            "violations_written": n_viol,
            "elapsed_sec": round(time.perf_counter() - t0, 3),
        }))
        return

    if args.synthesize:
        params = GenParams(seed=42)
        docs = gen_documents(spark, args.synthesize, params)
        # the generator's catalog is deterministic from the same params —
        # synthesize it too so the referential tier (broadcast or bloom)
        # is exercised unless the caller supplies an explicit catalog
        catalog = (
            spark.read.parquet(args.catalog)
            if args.catalog
            else gen_asset_catalog(spark, params)
        )
    else:
        docs = spark.read.parquet(args.input)
        catalog = spark.read.parquet(args.catalog) if args.catalog else None

    suite = ConstraintSuite(
        n_buckets=args.n_buckets,
        referential_mode="bloom" if args.referential_bloom else "broadcast",
    )
    run = ResumableRun(
        spark,
        args.checkpoint,
        run_id=args.run_id,
        suite=suite,
        sketch_columns=("doc_id",) if args.sketch_distinct else (),
    )

    t0 = time.perf_counter()
    summary = run.run(docs, catalog, violations_path=args.violations_out)
    rows = summary.collect()
    elapsed = time.perf_counter() - t0
    # the summary is a lineage-truncated local checkpoint; its blocks
    # are dead once collected
    from biosample_enricher_spark.operators.dedup import (
        free_local_checkpoint,
    )

    free_local_checkpoint(summary)

    n_total = sum(r.total for r in rows if r.constraint_id == "kind_vocabulary")
    report = {
        "run_id": args.run_id,
        "partitions_processed": len({r.partition_id for r in rows}),
        "partitions_skipped": run.partitions_skipped,
        "docs_processed": n_total,
        "elapsed_sec": round(elapsed, 3),
        "docs_per_sec": round(n_total / elapsed, 1) if elapsed > 0 else None,
        "constraints": sorted({r.constraint_id for r in rows}),
    }

    if args.sketch_distinct:
        report["distinct_estimates"] = {
            r.column: {"estimate": r.estimate, "n_partitions": r.n_partitions}
            for r in run.distinct_estimates().collect()
        }

    if args.baseline:
        base = spark.read.parquet(args.baseline)
        drift_rows = drift_check(base, docs).orderBy("constraint_id").collect()
        report["drift"] = [
            {
                "constraint_id": r.constraint_id,
                "ks_stat": r.ks_stat,
                "d_crit": r.d_crit,
                "passed": r.passed,
            }
            for r in drift_rows
        ]
        if args.drift_by_partition:
            from pyspark.sql import functions as F

            from biosample_enricher_spark.operators.drift import (
                drift_check_by_partition,
            )

            per_part = drift_check_by_partition(
                base, docs, n_buckets=args.n_buckets
            ).localCheckpoint(eager=True)
            run.table.append(
                per_part.select(
                    F.lit(args.run_id).alias("run_id"),
                    F.col("partition_id"),
                    F.col("constraint_id"),
                    F.when(F.col("passed"), F.lit("ok"))
                    .otherwise(F.lit("violations"))
                    .alias("status"),
                    F.col("n_cur").cast("long").alias("n_rows"),
                    F.when(F.col("passed"), F.lit(0))
                    .otherwise(F.lit(1))
                    .cast("long")
                    .alias("n_violations"),
                    F.create_map(
                        F.lit("ks_stat"), F.col("ks_stat").cast("double"),
                        F.lit("d_crit"), F.col("d_crit").cast("double"),
                    ).alias("metrics"),
                    F.current_timestamp().alias("finished_at"),
                )
            )
            flagged = [
                {"constraint_id": r.constraint_id,
                 "partition_id": r.partition_id, "ks_stat": r.ks_stat}
                for r in per_part.where(~F.col("passed"))
                .orderBy("constraint_id", "partition_id")
                .collect()
            ]
            report["drift_partitions_flagged"] = flagged
            report["drift_partitions_checked"] = per_part.count()

    print(json.dumps(report))


if __name__ == "__main__":
    main(sys.argv[1:])
