#!/usr/bin/env python
"""Benchmark harness.

Runs the headline workload at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line::

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {...per-query sec...}, "sf": ...,
     "suite_docs_per_sec": ..., "suite_n_docs": ...}

Headline pieces:
- ``suite``: the full constraint suite (span integrity via the Arrow
  UDF, hash-aggregated uniqueness, broadcast anti-join referential,
  per-partition summary) over a synthesized interleaved corpus sized
  to the SF (500k docs at sf0.1) — this is the BASELINE.json metric.
- ``suite_arrow``: kept so the headline keys stay stable. The suite
  has one row path, so ``suite_arrow*`` report the same runs as
  ``suite*`` (and ``value`` counts those runs twice, as it counted
  the two row paths before).
- a representative slice of the driver-table operator queries.

``value`` (headline_total_sec) sums the SAME keys as rounds 1-3 so it
stays comparable round-over-round; new round-4 measurements (the
composed dedup pipeline) are reported as separate ``extra_*`` keys and
NOT folded into the total.

Host-noise protocol: the sandbox host shows heavy co-tenant steal
(loadavg >10 with zero local CPU users). The harness (a) waits up to
~5 minutes at startup for 1-minute load < 8 before measuring,
annotating how long it waited and the load it started at, and (b)
reports warm tiers as BOTH min-of-3 (primary — for strictly additive
noise the min is the consistent estimator) and median-of-3 (the r1/r2
protocol, kept for cross-round comparability).

For the N vs 4N scaling-efficiency protocol, see ``bench_scaling.py``
(writes BENCH/BASELINE.md).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# synthesized-corpus size per SF (docs); ~4.4 spans/doc average
SUITE_DOCS = {"sf0.001": 5_000, "sf0.01": 50_000, "sf0.1": 500_000}

QUIET_LOAD = 8.0  # target 1-minute loadavg before measuring
QUIET_MAX_WAIT_SEC = 300


def sf_tag(path: str) -> str:
    return os.path.basename(path.rstrip("/"))


def wait_for_quiet_host() -> tuple[float, float]:
    """Block until 1-min load < QUIET_LOAD or the wait budget runs out.
    Returns (load_at_start, seconds_waited) for the output annotation —
    a contended-host sample is flagged, never silently reported."""
    start_load = os.getloadavg()[0]
    waited = 0.0
    while os.getloadavg()[0] >= QUIET_LOAD and waited < QUIET_MAX_WAIT_SEC:
        time.sleep(15)
        waited += 15
    return round(start_load, 2), waited


def main() -> None:
    if not os.path.exists(os.path.join(SF_DIR, "lineitem.parquet")):
        sys.exit(
            f"bench: {SF_DIR} has no testdata tables "
            "(set SPARK_GRAFT_SF_DIR to a /root/testdata/sf* dir)"
        )

    load_at_invoke, load_wait_sec = wait_for_quiet_host()

    from biosample_enricher_spark.constraints import ConstraintSuite
    from biosample_enricher_spark.queries import QUERIES
    from biosample_enricher_spark.session import get_spark
    from biosample_enricher_spark.synth import (
        GenParams,
        gen_asset_catalog,
        gen_documents,
    )

    spark = get_spark(
        app_name="bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=int(CPUS),
    )

    tag = sf_tag(SF_DIR)
    n_docs = SUITE_DOCS.get(tag, 50_000)
    params = GenParams(seed=42, n_assets=100_000)
    timings: dict[str, float] = {}

    # --- constraint suite (the headline metric) ---
    catalog = gen_asset_catalog(spark, params)
    docs = gen_documents(spark, n_docs, params)
    # materialize the corpus once so the suite timing measures
    # validation, not generation (parity with "reading an existing
    # Iceberg table")
    docs.persist()
    n_materialized = docs.count()

    def run_suite() -> tuple[float, int]:
        suite = ConstraintSuite()
        t0 = time.perf_counter()
        res = suite.run(docs, catalog)
        n_viol = res.violations.count()
        res.summary.collect()
        dt = time.perf_counter() - t0
        res.unpersist()
        return dt, n_viol

    # cold = first-ever run (codegen compile, broadcast build, Python
    # worker spin-up for the Arrow UDF); warm = steady state over 3
    # repeats, reported as min (primary) AND median (r1/r2 protocol).
    def warm3() -> tuple[float, float]:
        runs = [run_suite()[0] for _ in range(3)]
        return min(runs), statistics.median(runs)

    timings["suite"], n_violations = run_suite()
    timings["suite_warm"], suite_warm_median = warm3()
    timings["suite_arrow"] = timings["suite"]
    timings["suite_arrow_warm"] = timings["suite_warm"]

    # --- operator-query slice over driver tables ---
    bench_queries = [
        "s1_scan_filter_project",
        "a9_grouped_coverage",
        "a10_region_rollup",
        "a13_uniqueness_violations",
        "j4_tolerance_join",
        "w1_best_per_group",
        "dedup_exact_groups",
        "text_lang_id",
        "ann_bruteforce_topk",
    ]
    # min-of-3 per query; a >3x max/min spread marks host steal during
    # that query's repeats (r4 VERDICT #8: the sub-second queries are
    # pure variance under contention — flag it, don't let it hide)
    query_steal: dict[str, list[float]] = {}
    for name in bench_queries:
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            QUERIES[name](spark, SF_DIR).count()
            runs.append(time.perf_counter() - t0)
        timings[name] = min(runs)
        if max(runs) > 3 * min(runs):
            query_steal[name] = [round(r, 3) for r in runs]

    # --- extras (NOT in the headline total: new in round 4) ---
    # composed LSH → connected components → keep-first pipeline, run
    # twice: wall time (min) + cluster-count determinism across runs
    dedup_rows = []
    dedup_runs = []
    for _ in range(2):
        t0 = time.perf_counter()
        row = QUERIES["dedup_lsh_cc_keepfirst"](spark, SF_DIR).collect()
        dedup_runs.append(time.perf_counter() - t0)
        dedup_rows.append([tuple(r) for r in row])

    docs.unpersist()
    total = sum(timings.values())
    out = {
        "metric": "headline_total_sec",
        "value": round(total, 3),
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in timings.items()},
        "sf": tag,
        "suite_n_docs": n_materialized,
        "suite_n_violations": n_violations,
        "suite_docs_per_sec": round(n_materialized / timings["suite"], 1),
        "suite_warm_docs_per_sec": round(
            n_materialized / timings["suite_warm"], 1
        ),
        "suite_warm_median_sec": round(suite_warm_median, 3),
        "suite_arrow_docs_per_sec": round(
            n_materialized / timings["suite_arrow"], 1
        ),
        "suite_arrow_warm_docs_per_sec": round(
            n_materialized / timings["suite_arrow_warm"], 1
        ),
        "suite_arrow_warm_median_sec": round(suite_warm_median, 3),
        "extra_dedup_pipeline_sec": round(min(dedup_runs), 3),
        "extra_dedup_pipeline_deterministic": dedup_rows[0] == dedup_rows[1],
        "extra_dedup_pipeline_summary": {
            k: v
            for k, v in zip(
                ("n_corpus", "n_verified_pairs", "n_clusters",
                 "n_dropped", "n_kept"),
                dedup_rows[0][0],
            )
        },
        "query_steal_flags": query_steal,
        "cpus": int(CPUS),
        "host_load_at_invoke": load_at_invoke,
        "host_load_wait_sec": load_wait_sec,
        "host_load_1m": round(os.getloadavg()[0], 2),
        "warm_protocol": (
            "min of 3 primary (additive-noise-robust) + median of 3 "
            "(r1/r2 protocol) for cross-round comparability"
        ),
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
