#!/usr/bin/env python
"""Two-cluster-size scaling protocol (BASELINE.md sandbox rule).

A real multi-executor cluster is unavailable in the sandbox, so the
north_rule's N→4N criterion is evidenced by running the IDENTICAL
constraint-suite job at two local parallelism levels on the same
deterministic SF-scale input, reporting throughput at both plus
scaling efficiency = (T_N / T_4N) / 4.

Hardware note (measured, see BENCH/BASELINE.md): this sandbox is a
virtualized 32-vCPU box where a pure-CPU control (multiprocessing
sha256 burn) scales 1→8 procs at 8.0× but 8→32 at only ~2.7× — the
vCPUs beyond ~8-16 are SMT/oversubscribed and CANNOT yield 4× by
construction. The primary N→4N levels are therefore 2→8 cores (within
the linear-scaling region of the hardware); 8→32 is reported as a
secondary datapoint against that measured hardware ceiling.

Protocol per level (own subprocess = fresh JVM, no JIT leakage):
- corpus: deterministic seeded documents written ONCE to parquet and
  shared by both levels (generation excluded from timing; stands in
  for the pre-existing Iceberg table),
- one warm-up suite run (codegen compile, broadcast build),
- median of RUNS timed runs of: read parquet → full constraint suite
  (span integrity + hash-aggregated uniqueness + broadcast anti-join
  referential) → violations count + summary collect.

Usage:
    python bench_scaling.py                # orchestrate + write BENCH/BASELINE.md
    python bench_scaling.py --level 8      # single level (internal)
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

N_DOCS = int(os.environ.get("SPARK_GRAFT_SCALING_DOCS", "8000000"))
LEVELS = tuple(
    int(x) for x in os.environ.get("SPARK_GRAFT_SCALING_LEVELS", "2,8").split(",")
)
RUNS = int(os.environ.get("SPARK_GRAFT_SCALING_RUNS", "5"))
# per-RUN load gate (r4 VERDICT #4: gate per-run, not per-invoke).
# 0 disables (r1-r4 behavior). When >0: before every timed run, block
# until the 1-minute load drops below the gate (bounded wait — our own
# just-finished run keeps the 1-min average inflated for ~60-90 s, so
# the gate needs decay time between runs), and afterwards retry runs
# that still look stolen (> 2x the level's min), replacing the worst.
QUIET_GATE = float(os.environ.get("SPARK_GRAFT_SCALING_QUIET", "0"))
QUIET_MAX_WAIT = float(os.environ.get("SPARK_GRAFT_SCALING_QUIET_WAIT", "420"))
STEAL_RETRIES = int(os.environ.get("SPARK_GRAFT_SCALING_RETRIES", "3"))
CORPUS = f"/tmp/scaling_corpus_{N_DOCS}_seed42"


def wait_quiet() -> tuple[float, float, bool]:
    """Block until 1-min load < QUIET_GATE (bounded). Returns
    (load_at_release, seconds_waited, gate_met)."""
    if QUIET_GATE <= 0:
        return round(os.getloadavg()[0], 2), 0.0, True
    waited = 0.0
    while os.getloadavg()[0] >= QUIET_GATE and waited < QUIET_MAX_WAIT:
        time.sleep(10)
        waited += 10
    load = os.getloadavg()[0]
    return round(load, 2), waited, load < QUIET_GATE


def ensure_corpus() -> None:
    from biosample_enricher_spark.session import get_spark
    from biosample_enricher_spark.synth import GenParams, gen_documents

    if os.path.exists(os.path.join(CORPUS, "_SUCCESS")):
        return
    spark = get_spark(app_name="gen-corpus", master="local[32]",
                      shuffle_partitions=32)
    gen_documents(
        spark, N_DOCS, GenParams(seed=42, n_assets=100_000), partitions=256
    ).write.mode("overwrite").parquet(CORPUS)
    spark.stop()


def run_level(cores: int) -> dict:
    from biosample_enricher_spark.constraints import ConstraintSuite
    from biosample_enricher_spark.session import get_spark
    from biosample_enricher_spark.synth import GenParams, gen_asset_catalog

    spark = get_spark(
        app_name=f"scaling-{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        # split the corpus into ~4 input partitions per core so waves
        # stay balanced at every level (default 128MB splits gave only
        # 13 partitions for the 8M-doc corpus)
        extra_conf={"spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024)},
    )
    docs = spark.read.parquet(CORPUS)
    n = docs.count()
    catalog = gen_asset_catalog(spark, GenParams(seed=42, n_assets=100_000))

    def one_run() -> float:
        suite = ConstraintSuite()
        t0 = time.perf_counter()
        res = suite.run(docs, catalog)
        res.violations.count()
        res.summary.collect()
        dt = time.perf_counter() - t0
        res.unpersist()
        return dt

    warmup = one_run()
    times = []
    run_loads = []
    gate_misses = 0
    for _ in range(RUNS):
        load, _waited, ok = wait_quiet()
        if not ok:
            gate_misses += 1
        run_loads.append(load)
        times.append(one_run())
    # per-run steal retry (quiet-gate mode only): a run > 2× the
    # level's own min on this deterministic plan is co-tenant steal —
    # replace the worst run, up to the retry budget, each retry again
    # gated on load. Discarded times are disclosed, never dropped
    # silently.
    discarded = []
    retries = STEAL_RETRIES if QUIET_GATE > 0 else 0
    while retries > 0 and max(times) > 2 * min(times):
        load, _waited, ok = wait_quiet()
        if not ok:
            gate_misses += 1
        run_loads.append(load)
        worst = max(times)
        discarded.append(round(worst, 3))
        times[times.index(worst)] = one_run()
        retries -= 1
    times = sorted(times)
    t_med = statistics.median(times)
    # co-tenant steal shows up as strictly additive outliers (same
    # deterministic plan, same data); flag any run > 2× the level's own
    # min so a contaminated median is visible, never silent
    stolen = [round(t, 3) for t in times if t > 2 * times[0]]
    out = {
        "cores": cores,
        "n_docs": n,
        "warmup_sec": round(warmup, 3),
        "times_sec": [round(t, 3) for t in times],
        "median_sec": round(t_med, 3),
        "best_sec": round(times[0], 3),
        "docs_per_sec": round(n / t_med, 1),
        "docs_per_sec_best": round(n / times[0], 1),
        "steal_outlier_runs": stolen,
        "quiet_gate": QUIET_GATE,
        "load_at_run_start": run_loads,
        "gate_misses": gate_misses,
        "retried_discarded_sec": discarded,
        "host_load_1m": round(os.getloadavg()[0], 2),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "input_partitions": docs.rdd.getNumPartitions(),
    }
    spark.stop()
    return out


def _burn(_):
    import hashlib

    h = b"x"
    t0 = time.perf_counter()
    n = 0
    while time.perf_counter() - t0 < 3:
        h = hashlib.sha256(h).digest()
        n += 1
    return n


def cpu_control() -> dict:
    """Pure-CPU scaling control: measures what the hardware itself can
    deliver at each level, independent of Spark."""
    import multiprocessing as mp

    burn = _burn
    out = {}
    for procs in sorted({1, *LEVELS, 32}):
        with mp.Pool(procs) as pool:
            t0 = time.perf_counter()
            total = sum(pool.map(burn, range(procs)))
            dt = time.perf_counter() - t0
        out[procs] = round(total / dt / 1e6, 2)  # M hashes/sec
    return out


def main() -> None:
    if len(sys.argv) == 3 and sys.argv[1] == "--level":
        ensure_corpus()
        print("RESULT " + json.dumps(run_level(int(sys.argv[2]))))
        return

    ensure_corpus()
    control = cpu_control()
    results = {}
    for cores in LEVELS:
        proc = subprocess.run(
            [sys.executable, __file__, "--level", str(cores)],
            capture_output=True,
            text=True,
            timeout=3400,
            cwd=REPO,
        )
        line = [l for l in proc.stdout.splitlines() if l.startswith("RESULT ")]
        if not line:
            sys.stderr.write(proc.stdout[-2000:] + proc.stderr[-4000:])
            raise SystemExit(f"level {cores} failed")
        results[cores] = json.loads(line[-1][len("RESULT "):])

    n, m = LEVELS
    factor = m / n
    eff_med = (results[n]["median_sec"] / results[m]["median_sec"]) / factor
    eff_best = (results[n]["best_sec"] / results[m]["best_sec"]) / factor
    ctl_eff = (control[m] / control[n]) / factor if n in control and m in control else None
    pooled = pooled_min_efficiency(results, n, m, factor)
    # ADVICE r4: a single execution's min-of-runs is the most
    # favorable estimator — one lucky 4N run can flip the gate. The
    # PASS gate therefore pools every disclosed execution's raw runs
    # (this one + BENCH/scaling_r*_exec*.json) and takes min per
    # level; this exec's own min/median/trimmed figures are reported
    # alongside, and the single-exec pass only counts when min and the
    # trimmed mean (runs ≤ 2× level min) agree within 15%.
    trimmed = {
        lvl: statistics.mean(
            [t for t in results[lvl]["times_sec"]
             if t <= 2 * results[lvl]["best_sec"]]
        )
        for lvl in (n, m)
    }
    eff_trimmed = (trimmed[n] / trimmed[m]) / factor
    min_trim_agree = abs(eff_best - eff_trimmed) <= 0.15 * eff_best
    summary = {
        # metric name carries the estimator so r4+ numbers are never
        # silently compared against the r1-r3 median-based series under
        # one key; the median-based figure is reported under its own
        # explicitly-protocol-labelled key (nothing in this summary
        # reuses the old bare metric name)
        "metric": "scaling_efficiency_N_to_4N_pooled_min",
        "value": pooled["efficiency"],
        "unit": "ratio",
        "estimator": (
            "pooled min across all disclosed executions "
            f"({pooled['n_samples']} samples/level); single-exec "
            "min/trimmed/median alongside"
        ),
        "levels": results,
        "this_exec_min": round(eff_best, 3),
        "this_exec_trimmed": round(eff_trimmed, 3),
        "this_exec_min_trimmed_agree_15pct": min_trim_agree,
        "scaling_efficiency_N_to_4N_median_r1_r3_protocol": round(eff_med, 3),
        "pooled": pooled,
        "cpu_control_mhashes_per_sec": control,
        "cpu_control_efficiency": round(ctl_eff, 3) if ctl_eff else None,
        "n_docs": N_DOCS,
        # the pass gate is the POOLED estimator (ADVICE r4); the
        # single-exec min only "passes" when corroborated by the
        # trimmed mean
        "passes_0.8": pooled["efficiency"] >= 0.8,
        "passes_0.8_this_exec": eff_best >= 0.8 and min_trim_agree,
        "passes_0.8_median": eff_med >= 0.8,
    }
    persist_exec(results)
    print(json.dumps(summary))
    write_report(summary)


def _exec_files() -> list[str]:
    import glob

    return sorted(glob.glob(os.path.join(REPO, "BENCH", "scaling_r*_exec*.json")))


def pooled_min_efficiency(current: dict, n: int, m: int, factor: float) -> dict:
    """Pool raw per-run times from every disclosed execution file plus
    the current one; min per level over the pool; efficiency from the
    pooled mins. Strictly-additive-steal argument: every sample is the
    same deterministic plan over the same seeded corpus, so the pooled
    min converges on true cost as samples accumulate."""
    pool: dict[int, list[float]] = {n: [], m: []}
    files = []
    for path in _exec_files():
        try:
            with open(path) as f:
                doc = json.load(f)
            # pool ONLY executions of the same protocol: a smoke run at
            # a different corpus size has arbitrary fixed-cost ratios
            # and must not feed (or contaminate) the 8M-doc pass gate
            if doc.get("n_docs") != N_DOCS:
                continue
            levels = doc.get("levels", {})
            for lvl in (n, m):
                ts = levels.get(str(lvl), {}).get("times_sec")
                if ts:
                    pool[lvl].extend(float(t) for t in ts)
            files.append(os.path.basename(path))
        except (OSError, ValueError):
            continue
    for lvl in (n, m):
        pool[lvl].extend(float(t) for t in current[lvl]["times_sec"])
    eff = (min(pool[n]) / min(pool[m])) / factor
    return {
        "efficiency": round(eff, 3),
        "n_samples": min(len(pool[n]), len(pool[m])),
        "min_sec": {str(n): min(pool[n]), str(m): min(pool[m])},
        "pooled_files": files,
    }


def persist_exec(results: dict) -> None:
    """Write this execution's raw per-level runs to the next free
    BENCH/scaling_r6_execN.json so future invocations (and the manual
    pooled analysis in BENCH/BASELINE.md) can pool it."""
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    i = 1
    while os.path.exists(
        os.path.join(REPO, "BENCH", f"scaling_r6_exec{i}.json")
    ):
        i += 1
    doc = {
        "metric": "raw_scaling_execution",
        "levels": {str(k): v for k, v in results.items()},
        "n_docs": N_DOCS,
        "runs_per_level": RUNS,
        "quiet_gate": QUIET_GATE,
    }
    path = os.path.join(REPO, "BENCH", f"scaling_r6_exec{i}.json")
    with open(path, "w") as f:
        json.dump(doc, f, indent=1)
    print(f"wrote {path}", file=sys.stderr)


def write_report(s: dict) -> None:
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    lo, hi = LEVELS
    rl, rh = s["levels"][lo], s["levels"][hi]
    ctl = s["cpu_control_mhashes_per_sec"]
    ctl_rows = "\n".join(
        f"| {p} | {v} |" for p, v in sorted(ctl.items())
    )
    md = f"""# BENCH/BASELINE — scaling-efficiency evidence

Protocol per `/root/repo/BASELINE.md`: the identical constraint-suite
job (span-sequence integrity, salted two-stage uniqueness, broadcast
anti-join referential, per-partition summary) runs at two local
parallelism levels on the same deterministic seeded input (no
wall-clock in data paths; corpus parquet generated once and shared).
Corpus: {s['n_docs']:,} interleaved documents (~4.4 spans/doc, seeded
violations). Per level: fresh JVM subprocess, one warm-up run, then
{RUNS} timed runs of read-parquet → full suite → violations count +
summary collect. Primary estimator: min-of-{RUNS} (the job is the same
deterministic plan over the same parquet, so run-to-run variation is
strictly additive co-tenant steal — matching bench.py's warm
protocol); median reported alongside, steal outliers (>2× the level's
own min) flagged per level.

## Hardware control (what the box can scale to)

Pure-CPU control — multiprocessing sha256 burn, no Spark:

| procs | M hashes/sec |
|---|---|
{ctl_rows}

1→8 processes scales ~linearly; beyond 8 the vCPUs are
SMT/oversubscribed (virtualized sandbox) and cannot deliver 4×.
The N→4N levels are therefore **{lo}→{hi} cores**, inside the
hardware's linear region; the CPU control itself gives
{s['cpu_control_efficiency']} efficiency over the same span.

## Constraint-suite scaling ({lo} → {hi} cores)

| level | cores | input parts | shuffle parts | best sec | median sec | docs/sec (best) | steal outliers |
|---|---|---|---|---|---|---|---|
| N  | {rl['cores']} | {rl['input_partitions']} | {rl['shuffle_partitions']} | {rl['best_sec']} | {rl['median_sec']} | {rl['docs_per_sec_best']:,} | {rl['steal_outlier_runs']} |
| 4N | {rh['cores']} | {rh['input_partitions']} | {rh['shuffle_partitions']} | {rh['best_sec']} | {rh['median_sec']} | {rh['docs_per_sec_best']:,} | {rh['steal_outlier_runs']} |

- throughput @ N={rl['cores']}: **{rl['docs_per_sec_best']:,} docs/sec** best,
  {rl['docs_per_sec']:,} median (runs: {rl['times_sec']}, load {rl.get('host_load_1m')})
- throughput @ 4N={rh['cores']}: **{rh['docs_per_sec_best']:,} docs/sec** best,
  {rh['docs_per_sec']:,} median (runs: {rh['times_sec']}, load {rh.get('host_load_1m')})
- **PASS-GATE estimator (pooled min over {s['pooled']['n_samples']}
  samples/level across all disclosed executions:
  {', '.join(s['pooled']['pooled_files']) or 'this exec only'}):
  ({s['pooled']['min_sec'][str(lo)]} / {s['pooled']['min_sec'][str(hi)]}) / {int(hi/lo)}
  = **{s['value']}** — {"meets" if s['passes_0.8'] else "BELOW"} the ≥0.8 target**
- this execution alone: min {s['this_exec_min']}, trimmed
  {s['this_exec_trimmed']} (agree ≤15%: {s['this_exec_min_trimmed_agree_15pct']}),
  median ({rl['median_sec']} / {rh['median_sec']}) / {int(hi/lo)}
  = **{s['scaling_efficiency_N_to_4N_median_r1_r3_protocol']}** — {"meets" if s['passes_0.8_median'] else "below"} ≥0.8
  {"(median contaminated by the flagged steal outliers above)" if (rl['steal_outlier_runs'] or rh['steal_outlier_runs']) and not s['passes_0.8_median'] else ""}
- per-run load gate: quiet_gate={rl.get('quiet_gate')}, gate_misses
  N/4N = {rl.get('gate_misses')}/{rh.get('gate_misses')}, retried+discarded
  stolen runs N/4N = {rl.get('retried_discarded_sec')}/{rh.get('retried_discarded_sec')}

Reference throughput for the same per-record semantics: 0.8–5 docs/sec
single-process (`BASELINE.md`). The suite at either level exceeds it by
4-5 orders of magnitude.
"""
    if os.path.exists(os.path.join(REPO, "BENCH", "SF1_SHUFFLE.md")):
        md += (
            "\nPer-stage shuffle-volume evidence (sf0.1 vs sf1, linear-"
            "growth check): see BENCH/SF1_SHUFFLE.md / sf1_shuffle.json.\n"
        )
    path = os.path.join(REPO, "BENCH", "BASELINE.md")
    with open(path, "w") as f:
        f.write(md)
    print(f"wrote {path}", file=sys.stderr)


if __name__ == "__main__":
    main()
