"""``jobs/validate.py`` end to end in the test session: the JSON report
of a resumed run. Under spark-submit, both jobs (``validate.py`` and
``schema_infer.py``) build the engine's session on the submitted
master."""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys
from pathlib import Path

from pyspark.sql import functions as F

from biosample_enricher_spark.checkpoint import ResumableRun
from biosample_enricher_spark.constraints import ConstraintSuite, stable_partition_id
from biosample_enricher_spark.session import LOCAL_FS_CLASS
from biosample_enricher_spark.synth import GenParams, gen_asset_catalog, gen_documents

REPO = Path(__file__).resolve().parents[1]
JOB = REPO / "jobs" / "validate.py"
SCHEMA_JOB = REPO / "jobs" / "schema_infer.py"


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


def test_resumed_run_reports_exact_distinct_docs(spark, tmp_path, capsys):
    """Seed buckets 0..4, resume through the job: ``docs_distinct_total``
    is the exact distinct doc_id count of the whole --synthesize corpus,
    which has duplicate doc_ids, over both invocations."""
    cp, n_docs = str(tmp_path / "cp"), 2000
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
    exact = docs.select("doc_id").distinct().count()
    assert exact < n_docs
    assert report["partitions_skipped"] == 5
    assert report["docs_distinct_total"] == exact


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


SUBMITTED = """
import importlib.util, json, sys
from pyspark.sql import SparkSession

spec = importlib.util.spec_from_file_location("validate_job", sys.argv[1])
job = importlib.util.module_from_spec(spec)
spec.loader.exec_module(job)
job.main(sys.argv[2:])
spark = SparkSession.getActiveSession()
jvm = spark._jvm
fs = jvm.org.apache.hadoop.fs.FileSystem.get(
    jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration()
)
print(json.dumps({
    "master": spark.sparkContext.master,
    "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    "cached_plan": spark.conf.get(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    ),
    "local_fs": fs.getClass().getName(),
}))
"""


def _submit(tmp_path, job: Path, *job_args: str) -> tuple[dict, dict]:
    """spark-submit ``job`` on ``--master local[2]`` with the prewarm
    off and without the FileSystem jar → (the job's report, the
    session it left active)."""
    from pyspark.find_spark_home import _find_spark_home

    script = tmp_path / "submitted.py"
    script.write_text(SUBMITTED)
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(filter(None, (str(REPO), os.environ.get("PYTHONPATH")))),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_GRAFT_PREWARM="0",
    )
    proc = subprocess.run(
        [
            os.path.join(_find_spark_home(), "bin", "spark-submit"),
            "--master", "local[2]", "--driver-memory", "1g",
            str(script), str(job), *job_args,
        ],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    report, session = (json.loads(line) for line in proc.stdout.strip().splitlines()[-2:])
    return report, session


def test_spark_submit_keeps_master_and_gets_engine_settings(tmp_path):
    """spark-submit --master local[2], without the FileSystem jar on the
    driver class path: the job runs on local[2] with the engine's SQL
    settings, on the local FileSystem Spark loads by default."""
    report, session = _submit(
        tmp_path, JOB,
        "--synthesize", "200", "--checkpoint", str(tmp_path / "cp"),
        "--run-id", "submit", "--n-buckets", "8",
    )
    assert report["partitions_processed"] == 8
    assert report["session_sec"] > 0
    assert session.pop("local_fs") != LOCAL_FS_CLASS
    assert session == {"master": "local[2]", "shuffle_partitions": "32", "cached_plan": "true"}


def test_schema_infer_spark_submit_gets_engine_settings(spark, tmp_path):
    """``jobs/schema_infer.py`` under spark-submit --master local[2]
    builds its session as the validate job does: the submitted master
    stays and the engine's SQL settings apply."""
    docs = str(tmp_path / "docs")
    gen_documents(spark, 200, GenParams(seed=3)).write.parquet(docs)
    out = tmp_path / "schema.json"
    report, session = _submit(
        tmp_path, SCHEMA_JOB, "--input", docs, "--out-json-schema", str(out),
    )
    assert report["n_properties"] > 0
    assert json.loads(out.read_text())["properties"].keys() >= {"doc_id", "spans"}
    session.pop("local_fs")
    assert session == {"master": "local[2]", "shuffle_partitions": "32", "cached_plan": "true"}


def test_in_process_main_keeps_the_callers_session(spark, tmp_path, capsys):
    """``main`` called on a live session runs on it and leaves its
    settings alone: the fixture's 8 shuffle partitions stay 8."""
    before = spark.conf.get("spark.sql.shuffle.partitions")
    _load_job().main([
        "--synthesize", "200", "--checkpoint", str(tmp_path / "cp"),
        "--run-id", "live", "--n-buckets", "8",
    ])
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["partitions_processed"] == 8
    assert spark.conf.get("spark.sql.shuffle.partitions") == before == "8"
