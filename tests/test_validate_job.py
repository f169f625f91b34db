"""``jobs/validate.py`` end to end in the test session: the JSON report
of a resumed run."""

from __future__ import annotations

import importlib.util
import json
from pathlib import Path

from pyspark.sql import functions as F

from biosample_enricher_spark.checkpoint import ResumableRun
from biosample_enricher_spark.constraints import ConstraintSuite, stable_partition_id
from biosample_enricher_spark.synth import GenParams, gen_asset_catalog, gen_documents

JOB = Path(__file__).resolve().parents[1] / "jobs" / "validate.py"


def _load_job():
    spec = importlib.util.spec_from_file_location("validate_job", JOB)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_resumed_synthesize_run_reports_skipped_buckets(spark, tmp_path, capsys):
    """Seed buckets 0..4 of the corpus --synthesize generates, then
    resume it through the job: the report counts the seeded buckets as
    skipped and processes the rest."""
    cp, n_docs = str(tmp_path / "cp"), 400
    params = GenParams(seed=42)  # what --synthesize generates
    docs = gen_documents(spark, n_docs, params)
    seeded = docs.where(stable_partition_id(F.col("doc_id"), 16) < 5)
    ResumableRun(spark, cp, run_id="job", suite=ConstraintSuite(n_buckets=16)).run(
        seeded, gen_asset_catalog(spark, params)
    )

    _load_job().main([
        "--synthesize", str(n_docs), "--checkpoint", cp,
        "--run-id", "job", "--n-buckets", "16",
    ])
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["partitions_skipped"] == 5
    assert report["partitions_processed"] == 11


def test_baseline_drift_report_is_sorted(spark, tmp_path, capsys):
    """With --baseline and --drift-by-partition the report lists the
    global drift rows by constraint_id and the flagged partitions by
    (constraint_id, partition_id)."""
    base = str(tmp_path / "base")
    shifted = GenParams(seed=7, text_len_base=24, text_len_spread=48)
    gen_documents(spark, 400, shifted).write.parquet(base)

    _load_job().main([
        "--synthesize", "400", "--checkpoint", str(tmp_path / "cp"),
        "--run-id", "drift", "--n-buckets", "16",
        "--baseline", base, "--drift-by-partition",
    ])
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    ids = [d["constraint_id"] for d in report["drift"]]
    assert ids == sorted(ids) and len(ids) == 2
    flagged = [
        (f["constraint_id"], f["partition_id"])
        for f in report["drift_partitions_flagged"]
    ]
    assert len(flagged) > 1 and flagged == sorted(flagged)
