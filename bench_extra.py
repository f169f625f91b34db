#!/usr/bin/env python
"""Supplementary benchmarks for the r6 optimization round (bench.py is
frozen for driver measurement; everything extra lives here).

Modes:

- ``--registry``: time EVERY registered query at ``$SPARK_GRAFT_SF_DIR``
  (default sf0.1) — ``min`` of ``--repeats`` timed ``.count()`` runs per
  query, slowest first: per-operator timing evidence.
- ``--noop NAME``: isolate one query with the noop sink (guide §1.4)
  instead of ``.count()``.

Output: one JSON line per mode, mirroring bench.py's shape.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def _spark():
    from biosample_enricher_spark.session import get_spark

    return get_spark(
        app_name="bench_extra",
        master=f"local[{CPUS}]",
        shuffle_partitions=int(CPUS),
    )


def run_registry(repeats: int, only: list[str] | None = None) -> None:
    from biosample_enricher_spark.queries import QUERIES

    spark = _spark()
    sc = spark.sparkContext
    times: dict[str, float] = {}
    errors: dict[str, str] = {}
    names = only or list(QUERIES)
    for name in names:
        runs = []
        try:
            for _ in range(repeats):
                sc.setJobDescription(name)
                t0 = time.perf_counter()
                QUERIES[name](spark, SF_DIR).count()
                runs.append(time.perf_counter() - t0)
            times[name] = round(min(runs), 3)
        except Exception as exc:  # noqa: BLE001 — report, keep sweeping
            errors[name] = f"{type(exc).__name__}: {exc}"[:200]
        finally:
            # always clear, or a failed query's label sticks to every
            # later query's jobs and corrupts the attribution evidence
            sc.setJobDescription(None)
        print(
            f"{name:35s} {times.get(name, 'ERR')}",
            file=sys.stderr,
            flush=True,
        )
    out = {
        "metric": "registry_sweep_sec",
        "sf": os.path.basename(SF_DIR.rstrip("/")),
        "repeats": repeats,
        "total": round(sum(times.values()), 3),
        "queries": dict(
            sorted(times.items(), key=lambda kv: kv[1], reverse=True)
        ),
        "errors": errors,
        "host_load_1m": round(os.getloadavg()[0], 2),
    }
    print(json.dumps(out))
    spark.stop()


def run_noop(name: str, repeats: int) -> None:
    from biosample_enricher_spark.queries import QUERIES

    spark = _spark()
    runs = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        QUERIES[name](spark, SF_DIR).write.format("noop").mode(
            "overwrite"
        ).save()
        runs.append(round(time.perf_counter() - t0, 3))
    print(json.dumps({"metric": "noop_sec", "query": name, "runs": runs}))
    spark.stop()


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--registry", action="store_true")
    ap.add_argument("--noop")
    ap.add_argument("--only", nargs="*")
    ap.add_argument("--repeats", type=int, default=2)
    args = ap.parse_args()
    if args.registry:
        run_registry(args.repeats, args.only)
    elif args.noop:
        run_noop(args.noop, args.repeats)
    else:
        ap.error("pick a mode: --registry / --noop NAME")
