#!/usr/bin/env python
"""Per-stage shuffle-volume evidence for the constraint suite.

r4 VERDICT #7: the 100×-scale claims are plan-shape verified
(pushdown, salting, broadcast; pinned in tests/test_plans.py) but
shuffle VOLUME was never measured beyond the 8M-doc scaling corpus,
and the scaling JSONs record partition counts only. This harness
runs the full suite at a given corpus size with the Spark UI's REST
status API enabled and reports per-stage shuffle read/write bytes,
input bytes, and task counts for the suite's jobs — so linear-growth
claims are measured, not asserted:

    python bench_shuffle.py --docs 500000  --tag sf0.1
    python bench_shuffle.py --docs 5000000 --tag sf1

Prints one JSON line per invocation; ``--compare a.json b.json``
merges two runs into a growth report (bytes ratio per matched stage
class and in total — anything super-linear in docs is a scale bug).

The corpus parquet is generated once per size under /tmp and reused
(generation excluded from timing; stands in for the pre-existing
Iceberg table, matching bench_scaling.py's protocol).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

UI_PORT = int(os.environ.get("SPARK_GRAFT_UI_PORT", "4057"))
JOB_GROUP = "suite-shuffle-bench"


def _corpus_path(n_docs: int) -> str:
    return f"/tmp/shuffle_corpus_{n_docs}_seed42"


def ensure_corpus(n_docs: int) -> str:
    from biosample_enricher_spark.session import get_spark
    from biosample_enricher_spark.synth import GenParams, gen_documents

    path = _corpus_path(n_docs)
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    spark = get_spark(app_name="gen-shuffle-corpus", master="local[32]",
                      shuffle_partitions=32)
    parts = max(64, n_docs // 31_250)  # ~31k docs per file
    gen_documents(
        spark, n_docs, GenParams(seed=42, n_assets=100_000), partitions=parts
    ).write.mode("overwrite").parquet(path)
    spark.stop()
    return path


def _rest(path: str):
    url = f"http://localhost:{UI_PORT}/api/v1/{path}"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def run(n_docs: int, tag: str) -> dict:
    from biosample_enricher_spark.constraints import ConstraintSuite
    from biosample_enricher_spark.session import get_spark
    from biosample_enricher_spark.synth import GenParams, gen_asset_catalog

    corpus = ensure_corpus(n_docs)
    spark = get_spark(
        app_name=f"shuffle-bench-{tag}",
        master="local[32]",
        shuffle_partitions=32,
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.port": str(UI_PORT),
            # size input splits so wave balance matches bench_scaling
            "spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024),
        },
    )
    docs = spark.read.parquet(corpus)
    catalog = gen_asset_catalog(spark, GenParams(seed=42, n_assets=100_000))
    suite = ConstraintSuite()

    # warm-up run outside the job group: codegen + broadcast build
    warm = suite.run(docs, catalog)
    warm.violations.count()
    warm.summary.collect()
    warm.unpersist()

    sc = spark.sparkContext
    sc.setJobGroup(JOB_GROUP, "timed suite run", interruptOnCancel=False)
    t0 = time.perf_counter()
    res = suite.run(docs, catalog)
    n_viol = res.violations.count()
    res.summary.collect()
    suite_sec = time.perf_counter() - t0
    res.unpersist()
    sc.setLocalProperty("spark.jobGroup.id", None)

    app_id = _rest("applications")[0]["id"]
    jobs = _rest(f"applications/{app_id}/jobs")
    stage_ids = sorted(
        {
            sid
            for j in jobs
            if j.get("jobGroup") == JOB_GROUP
            for sid in j.get("stageIds", [])
        }
    )
    # one entry per stageId: keep only the LATEST complete attempt —
    # a retried stage (task loss, fetch failure) reports one StageData
    # per attempt under the same stageId, and summing attempts would
    # inflate the byte totals and corrupt the linear-growth verdict.
    # Retries are disclosed, not silently merged.
    by_stage: dict[int, dict] = {}
    n_extra_attempts = 0
    for st in _rest(f"applications/{app_id}/stages?status=complete"):
        if st["stageId"] not in stage_ids:
            continue
        prev = by_stage.get(st["stageId"])
        if prev is not None:
            n_extra_attempts += 1
            if prev["attempt_id"] >= st.get("attemptId", 0):
                continue
        by_stage[st["stageId"]] = {
            "stage_id": st["stageId"],
            "attempt_id": st.get("attemptId", 0),
            "name": st["name"].split("\n")[0][:80],
            "num_tasks": st["numTasks"],
            "input_bytes": st.get("inputBytes", 0),
            "output_bytes": st.get("outputBytes", 0),
            "shuffle_read_bytes": st.get("shuffleReadBytes", 0),
            "shuffle_write_bytes": st.get("shuffleWriteBytes", 0),
            "shuffle_write_records": st.get("shuffleWriteRecords", 0),
        }
    spark.stop()
    stages = sorted(by_stage.values(), key=lambda s: s["stage_id"])
    return {
        "tag": tag,
        "n_docs": n_docs,
        "suite_sec": round(suite_sec, 3),
        "n_violations": n_viol,
        "docs_per_sec": round(n_docs / suite_sec, 1),
        "n_stages": len(stages),
        "total_input_bytes": sum(s["input_bytes"] for s in stages),
        "total_shuffle_read_bytes": sum(
            s["shuffle_read_bytes"] for s in stages
        ),
        "total_shuffle_write_bytes": sum(
            s["shuffle_write_bytes"] for s in stages
        ),
        "total_shuffle_write_records": sum(
            s["shuffle_write_records"] for s in stages
        ),
        "n_retried_stage_attempts": n_extra_attempts,
        "stages": stages,
    }


def compare(a: dict, b: dict) -> dict:
    """Growth report: b vs a (b = the larger corpus). Anything growing
    faster than docs_ratio is super-linear — a scale bug."""
    docs_ratio = b["n_docs"] / a["n_docs"]

    def ratio(key):
        return round(b[key] / a[key], 2) if a[key] else None

    return {
        "metric": "suite_shuffle_growth",
        "docs_ratio": round(docs_ratio, 2),
        "small": {k: a[k] for k in
                  ("tag", "n_docs", "suite_sec", "n_stages",
                   "total_shuffle_write_bytes", "total_shuffle_read_bytes",
                   "total_input_bytes")},
        "large": {k: b[k] for k in
                  ("tag", "n_docs", "suite_sec", "n_stages",
                   "total_shuffle_write_bytes", "total_shuffle_read_bytes",
                   "total_input_bytes")},
        "growth": {
            "suite_sec": ratio("suite_sec"),
            "input_bytes": ratio("total_input_bytes"),
            "shuffle_write_bytes": ratio("total_shuffle_write_bytes"),
            "shuffle_read_bytes": ratio("total_shuffle_read_bytes"),
            "shuffle_write_records": ratio("total_shuffle_write_records"),
        },
        "linear_or_better": all(
            r is None or r <= docs_ratio * 1.1
            for r in (
                ratio("total_input_bytes"),
                ratio("total_shuffle_write_bytes"),
                ratio("total_shuffle_read_bytes"),
            )
        ),
    }


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--docs", type=int)
    p.add_argument("--tag", default=None)
    p.add_argument("--compare", nargs=2, metavar=("SMALL", "LARGE"))
    args = p.parse_args()
    if args.compare:
        with open(args.compare[0]) as f:
            a = json.load(f)
        with open(args.compare[1]) as f:
            b = json.load(f)
        print(json.dumps(compare(a, b)))
        return
    if not args.docs:
        p.error("--docs or --compare required")
    out = run(args.docs, args.tag or f"{args.docs}docs")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
