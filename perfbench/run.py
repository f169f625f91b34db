#!/usr/bin/env python3
"""End-to-end benchmark of the validation engine on ``local[<cores>]``.

Run from the repository root::

    python3 perfbench/run.py --workload validate_full --seed 1 --seconds 10 --trace 0

One client drives the engine's public API in a closed loop: each
operation starts after the previous one finished. The last line of
stdout is the result, ``{"correct", "attempted", "failed", "metrics"}``;
the line before it annotates the run (host load and steal, Spark
driver memory, op samples, warm-up ops dropped, fail fraction).

Workloads (the seed makes every input; the program only reads files):

- ``validate_full``: one op is what ``jobs/validate.py`` does, a
  ``ResumableRun`` over the whole seeded corpus into a fresh checkpoint
  with the default suite (64 buckets, uniqueness, broadcast
  referential), then ``collect()`` of the summary. The row layer, the
  rest of the suite and the checkpoint commit do the work.
- ``registry_mix``: one op is a pass, in a fixed order, over one
  registry query per layer on seeded TPC-H-shaped tables, each drained with
  the ``noop`` sink. It uses the operators, streaming and queries
  layers, which the suite never touches; suite changes should not move
  it.

Inputs and the expected results of the checks are made first, with
numpy, pyarrow and the engine's pure-Python reference validator: the
load generator starts no JVM and warms nothing that is timed.

With ``--trace 0`` it reports the end-to-end metrics: ``setup_s``
(``get_spark`` on a fresh JVM plus input registration), ``op_p50_s``
(median warm op, after ``WARMUP_OPS`` warm-up ops), and ``peak_rss_mb``
(VmHWM of the Spark JVM). The cold op (first op after set-up) is one
sample per JVM, too few for a bound on a shared host: its time is
printed on the annotation line and, with ``--trace 1``, as
``trace.cold_op_s``. With ``--trace 1`` it runs set-up, the cold op and
the warm ops up to the first one kept with the event log on, and
reports that op as ``trace.op_s``: the tracing overhead is it minus
the first kept warm op of an untraced run with the same seed. It then
times every layer of both workloads around one public call, drained
with ``noop`` and tagged with its own job group; CPU, shuffle, spill and
input records come from the event log (``perfbench/eventlog.py``).

Every op is checked: validate ops against the reference verdicts of
every row constraint, the distinct ``doc_id`` count and each other;
registry passes against each other and, once per run, against the
DuckDB oracles.

Self-tests: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager, nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

VALIDATE_DOCS = 5_000
RESUME_DONE_BUCKETS = 56  # of the suite's 64: the resume probe redoes 8
# One query per layer, in the order a pass runs them: streaming,
# operators (dedup) and a plain registry query. The order is fixed
# because the first query of a fresh JVM pays its first-job cost.
REGISTRY_MIX = (
    "streaming_validation",
    "dedup_ngram_jaccard",
    "a13_uniqueness_violations",
)
# Warm ops get faster for the whole run (20 registry passes on a 4-core
# host went 4.3 -> 2.6 s; 9 validate ops 8.6 -> 5.8 s), so there is no
# point where they settle. A rule that drops 0 or 1 ops by comparing
# noisy times moves op_p50_s by a step; dropping a fixed count keeps
# the median at the same point of that curve in every run. The first
# warm op is 10-25% above the next on both workloads.
WARMUP_OPS = 1
WALL_LIMIT_S = 150  # start no optional op after this much of the run


def docs_validated(summary_rows) -> int:
    from biosample_enricher_spark.spec import C_KIND_VOCAB

    return sum(r.total for r in summary_rows if r.constraint_id == C_KIND_VOCAB)


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


# The engine's 16g default exceeds small hosts. The inputs are a few MB:
# a heap far above the working set lets G1 grow it by GC timing. On a
# 4-core host, validate_full on a 20k-doc corpus peaked at 1585-2329 MB
# RSS over five seeds at 3g and 1144-1318 MB over nine at 1g, with the
# same op times.
DRIVER_MEMORY = "1g"


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        kib = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kib / 1024


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def observed_drain(df) -> tuple[int, int, int]:
    """Drain ``df`` with the ``noop`` sink and return an order-independent
    checksum of its rows, observed during that same drain:
    ``(count, Σ low 32 bits of xxhash64, bit_xor of xxhash64)``."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(f"`{c}`") for c in df.columns])
    obs = Observation()
    noop(df.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))), F.lit(0)).alias("s"),
        F.coalesce(F.bit_xor(h), F.lit(0)).alias("x"),
    ))
    got = obs.get
    return got["n"], got["s"], got["x"]


def count_files(*dirs: str) -> int:
    return sum(
        1
        for d in dirs
        for _, _, files in os.walk(d)
        for f in files
        if not f.startswith((".", "_"))
    )


class Bench:
    """One run: the session, its inputs, and the spans and checks it
    records."""

    def __init__(self, args: argparse.Namespace, work: str) -> None:
        self.args = args
        self.work = work
        self.cpus = host_cpus()
        self.spark = None
        self.spans: list = []
        self.failures: list[str] = []
        self.info: dict = {}
        self.validate_inputs = os.path.join(work, "validate")
        self.registry_dir = os.path.join(work, "registry")
        self.eventlog_dir = os.path.join(work, "eventlog")
        self._ops = 0
        self.start = time.perf_counter()

    # --- session -------------------------------------------------------

    def build(self, traced: bool = False) -> float:
        """Time ``get_spark`` on a fresh JVM (any earlier one was shut
        down)."""
        from biosample_enricher_spark.session import get_spark

        if self.spark is not None:
            raise RuntimeError("shut the running session down first")
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData",
            "spark.sql.warehouse.dir": f"{self.work}/warehouse",
        }
        if traced:
            os.makedirs(self.eventlog_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{self.eventlog_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{self.cpus}]", extra_conf=conf
        )
        return time.perf_counter() - t0

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def jvm_gc_s(self) -> float:
        jvm = self.spark.sparkContext._jvm
        beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1e3

    def shutdown(self) -> None:
        """Stop the session and the JVM it runs in, and wait for both."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
            proc = gateway.proc
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None

    @contextmanager
    def span(self, name: str):
        """Time a layer call and tag its jobs with its own job group."""
        from eventlog import Span

        sc = self.spark.sparkContext
        sc.setJobGroup(name, name)
        start = time.time() * 1000
        try:
            yield
        finally:
            self.spans.append(Span(name, start, time.time() * 1000))
            sc.setJobGroup("perfbench", "perfbench")

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.failures.append(what)
            print(f"perfbench: check failed: {what}", file=sys.stderr)
        return ok

    def record(self, ok: bool) -> bool:
        """Count one attempted op, and a failed one unless ``ok``."""
        self.info["attempted"] = self.info.get("attempted", 0) + 1
        self.info["failed"] = self.info.get("failed", 0) + (not ok)
        return ok

    def fresh_dir(self, name: str) -> str:
        self._ops += 1
        return os.path.join(self.work, "ops", f"{name}{self._ops}")


class ValidateFull:
    """``ResumableRun`` over the whole corpus, as ``jobs/validate.py``."""

    warm_ops = 4  # ~7 s each: three kept

    def __init__(self, bench: Bench) -> None:
        self.b = bench
        self.checksum = None  # of the first op that passed the other checks

    def generate(self) -> None:
        """Write the corpus and derive the expectations from it: the
        distinct doc_id count and the reference verdicts of every row
        constraint."""
        import pyarrow.compute as pc
        from inputs import write_validate_corpus

        from biosample_enricher_spark.constraints import ConstraintSuite
        from biosample_enricher_spark.constraints.reference import validate_rows

        docs = write_validate_corpus(self.b.validate_inputs, self.b.args.seed, VALIDATE_DOCS)
        self.n_distinct = pc.count_distinct(docs.column("doc_id")).as_py()
        self.constraints = ConstraintSuite().active_constraints(with_referential=True)
        self.row_expected = validate_rows(docs.to_pylist())

    def register(self) -> None:
        read = self.b.spark.read.parquet
        self.docs = read(os.path.join(self.b.validate_inputs, "docs"))
        self.catalog = read(os.path.join(self.b.validate_inputs, "catalog"))

    def check_output(self, rows, vpath: str, label: str) -> bool:
        from checks import read_violations, rows_checksum

        from biosample_enricher_spark.spec import ROW_CONSTRAINTS

        b = self.b
        totals: dict[str, int] = {}
        for r in rows:
            totals[r.constraint_id] = totals.get(r.constraint_id, 0) + r.total
        ok = b.check(
            set(totals) == set(self.constraints) and set(totals.values()) == {self.n_distinct},
            f"{label}: summary totals {totals} != {self.n_distinct} distinct docs",
        )
        viol = read_violations(vpath)
        got = sorted(v[1:] for v in viol if v[2] in ROW_CONSTRAINTS)
        ok &= b.check(got == self.row_expected, f"{label}: row violations differ from the reference")
        checksum = rows_checksum(viol)
        if ok and self.checksum is None:
            self.checksum = checksum
        if self.checksum is not None:
            ok &= b.check(checksum == self.checksum, f"{label}: violations checksum {checksum} != {self.checksum}")
        return ok

    def op(self):
        """The timed part of one op."""
        from biosample_enricher_spark.checkpoint import ResumableRun

        cp, vpath = self.b.fresh_dir("cp"), self.b.fresh_dir("violations")
        summary = ResumableRun(self.b.spark, cp, run_id="perfbench").run(
            self.docs, self.catalog, violations_path=vpath
        )
        return summary, summary.collect(), cp, vpath

    def finish(self, out, label: str) -> tuple[int, bool]:
        """Free and check an op's output; returns (docs validated, ok)."""
        from biosample_enricher_spark.operators.dedup import free_local_checkpoint

        summary, rows, cp, vpath = out
        free_local_checkpoint(summary)
        ok = self.check_output(rows, vpath, label)
        shutil.rmtree(cp, ignore_errors=True)
        shutil.rmtree(vpath, ignore_errors=True)
        return docs_validated(rows), ok

    def traced_op(self) -> None:
        """One op as the ``checkpoint.run`` span, then an append of its
        lineage rows."""
        from biosample_enricher_spark.checkpoint import (
            CheckpointTable,
            checkpoint_rows_from_summary,
        )

        b = self.b
        with b.span("checkpoint.run"):
            out = self.op()
        summary, _, cp, vpath = out
        self.files_written = count_files(cp, vpath)
        with b.span("checkpoint.append"):
            CheckpointTable(b.spark, b.fresh_dir("append")).append(
                checkpoint_rows_from_summary(summary, "perfbench")
            )
        b.record(self.finish(out, "traced op")[1])

    def probes(self) -> None:
        """Traced layer calls of the suite and the resume path."""
        from checks import read_violations, rows_checksum
        from pyspark.sql import functions as F

        from biosample_enricher_spark.checkpoint import ResumableRun
        from biosample_enricher_spark.constraints import ConstraintSuite
        from biosample_enricher_spark.constraints.core import stable_partition_id
        from biosample_enricher_spark.operators.dedup import free_local_checkpoint

        b, docs, cat = self.b, self.docs, self.catalog
        with b.span("sources.docs_scan"):
            noop(docs)
        suite = ConstraintSuite()
        docs_p = suite.with_partition_id(docs)
        with b.span("constraints.row_fold"):
            fold = observed_drain(suite.row_violations(docs_p))
        with b.span("constraints.row_arrow"):
            arrow = observed_drain(ConstraintSuite(use_arrow_udf=True).row_violations(docs_p))
        b.check(fold == arrow, f"row violations: fold {fold} != Arrow {arrow}")
        with b.span("constraints.uniqueness"):
            noop(suite.uniqueness_violations(docs_p))
        with b.span("constraints.referential"):
            noop(suite.referential_violations(docs_p, cat))
        with b.span("constraints.referential_bloom"):
            noop(ConstraintSuite(referential_mode="bloom").referential_violations(docs_p, cat))
        with b.span("constraints.suite_violations"):
            result = suite.run(docs, cat)
            noop(result.violations)
        with b.span("constraints.summary"):
            result.summary.collect()
        result.unpersist()

        # resume: seed buckets < 56 with a real run, then finish the rest
        cp, vpath = b.fresh_dir("cp"), b.fresh_dir("violations")
        run = ResumableRun(b.spark, cp, run_id="resume")
        seeded = docs.where(stable_partition_id(F.col("doc_id")) < RESUME_DONE_BUCKETS)
        free_local_checkpoint(run.run(seeded, cat, violations_path=vpath))
        with b.span("checkpoint.completed"):
            noop(run.table.completed_partitions(
                run.run_id, constraint_ids=run.suite.active_constraints(True)
            ))
        with b.span("checkpoint.pending"):
            noop(run.pending(docs, with_referential=True))
        with b.span("checkpoint.resume"):
            summary = run.run(docs, cat, violations_path=vpath)
            rows = summary.collect()
            free_local_checkpoint(summary)
        self.resume_docs = docs_validated(rows)
        got = rows_checksum(read_violations(vpath))
        b.check(got == self.checksum, f"seeded + resumed violations {got} != full {self.checksum}")


class RegistryMix:
    """One pass over ``REGISTRY_MIX``."""

    warm_ops = 5  # ~3.5 s each: four kept

    def __init__(self, bench: Bench) -> None:
        self.b = bench
        self.checksums: dict[str, tuple] = {}
        self.schemas: dict = {}
        self.oracles_checked = False

    def generate(self) -> None:
        from inputs import write_registry_tables

        write_registry_tables(self.b.registry_dir, self.b.args.seed)

    def register(self) -> None:
        pass  # each query reads its own tables from the directory

    def op(self, traced: bool = False) -> dict[str, tuple]:
        """One pass; returns each query's checksum."""
        from biosample_enricher_spark.operators.dedup import free_local_checkpoint
        from biosample_enricher_spark.queries import QUERIES

        got, times = {}, {}
        for name in REGISTRY_MIX:
            t0 = time.perf_counter()
            with self.b.span(f"queries.{name}") if traced else nullcontext():
                df = QUERIES[name](self.b.spark, self.b.registry_dir)
                got[name] = observed_drain(df)
                free_local_checkpoint(df)
            times[name] = time.perf_counter() - t0
            self.schemas[name] = df.schema
        self.b.info.setdefault("query_s", []).append(times)
        return got

    def finish(self, got: dict[str, tuple], label: str) -> tuple[None, bool]:
        ok = True
        for name, checksum in got.items():
            expected = self.checksums.setdefault(name, checksum)
            ok &= self.b.check(
                checksum == expected and checksum[0] > 0,
                f"{label}: {name} checksum {checksum} != first pass {expected}",
            )
        return None, ok

    def traced_op(self) -> None:
        """One pass with a span per query."""
        self.b.record(self.finish(self.op(traced=True), "traced pass")[1])

    def check_oracles(self) -> None:
        """Each oracled query's pass checksum equals the checksum of the
        DuckDB oracle's rows, taken the same way."""
        import duckdb

        from biosample_enricher_spark.queries import ORACLES

        con = duckdb.connect()
        for t in ("documents", "orders", "lineitem"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.b.registry_dir}/{t}.parquet'")
        for name in REGISTRY_MIX:
            if name not in ORACLES or name not in self.checksums:
                continue
            res = con.execute(ORACLES[name])
            cols = [d[0] for d in res.description]
            schema = self.schemas[name]
            idx = [cols.index(f.name) for f in schema.fields]
            rows = [tuple(r[i] for i in idx) for r in res.fetchall()]
            got = observed_drain(self.b.spark.createDataFrame(rows, schema))
            self.b.check(got == self.checksums[name], f"{name}: DuckDB oracle {got} != Spark {self.checksums[name]}")
        con.close()
        self.oracles_checked = True


def make_inputs(bench: Bench, workloads) -> None:
    """Every input and expected result, made before any JVM starts."""
    t0 = time.perf_counter()
    for w in workloads:
        w.generate()
    bench.info["generate_s"] = time.perf_counter() - t0


def setup(bench: Bench, workloads, traced: bool = False) -> tuple[float, float]:
    """Set-up on a fresh JVM: ``(session build s, build + input
    registration s)``."""
    build_s = bench.build(traced=traced)
    t0 = time.perf_counter()
    for w in workloads:
        w.register()
    return build_s, build_s + time.perf_counter() - t0


def timed_op(bench: Bench, wl, label: str) -> tuple[float, int | None, bool]:
    """Run, time, check and count one op: ``(seconds, docs validated,
    ok)``. An op that raises is timed up to the raise and fails; so does
    one whose check raises."""
    t0 = time.perf_counter()
    dt = None
    try:
        out = wl.op()
        dt = time.perf_counter() - t0
        n_docs, ok = wl.finish(out, label)
    except Exception:
        traceback.print_exc()
        if dt is None:
            dt = time.perf_counter() - t0
        return dt, None, bench.record(bench.check(False, f"{label}: raised"))
    return dt, n_docs, bench.record(ok)


def op_loop(bench: Bench, wl, min_warm: int, seconds: float) -> tuple[list, list]:
    """The cold op, then warm ops until at least ``min_warm`` ran and
    ``seconds`` passed since the cold op ended. Returns every op's
    seconds and docs validated."""
    times, docs = [], []
    warm_start = None
    while True:
        dt, n_docs, _ = timed_op(bench, wl, f"op {len(times)}")
        times.append(dt)
        docs.append(n_docs)
        now = time.perf_counter()
        if warm_start is None:
            warm_start = now
        elif now - bench.start >= WALL_LIMIT_S or (
            len(times) > min_warm and now - warm_start >= seconds
        ):
            return times, docs


def measure(bench: Bench, workloads, min_warm: int, seconds: float, traced: bool = False) -> dict:
    """Set-up on a fresh JVM, then the cold op and the warm ops of the
    first workload; the median is over the warm ops after the first
    ``WARMUP_OPS``."""
    wl = workloads[0]
    build_s, setup_s = setup(bench, workloads, traced)
    times, docs = op_loop(bench, wl, min_warm, seconds)
    warm = times[1:]
    kept = list(zip(warm, docs[1:]))[WARMUP_OPS:]
    bench.info.update({
        "session_build_s": build_s,
        "cold_op_s": times[0],
        "warm_op_samples_s": warm,
        "warmup_dropped": WARMUP_OPS,
        "op_samples": len(kept),
    })
    rates = [n / t for t, n in kept if n is not None]
    if rates:
        bench.info["docs_per_s"] = statistics.median(rates)
    return {
        "build_s": build_s,
        "setup_s": setup_s,
        "cold_op_s": times[0],
        "op_p50_s": statistics.median(t for t, _ in kept),
    }


def end_to_end(bench: Bench, wl, seconds: float) -> dict:
    m = measure(bench, [wl], wl.warm_ops, seconds)
    return {
        "setup_s": (m["setup_s"], "s"),
        "op_p50_s": (m["op_p50_s"], "s"),
        "peak_rss_mb": (peak_rss_mb(bench.jvm_pid()), "MB"),
    }


def traced(bench: Bench, wl, other, seconds: float) -> dict:
    """Set-up, the cold op and the warm ops up to the first one kept
    with the event log on, then one traced op of each workload and every
    layer probe.

    ``trace.op_s`` is that first kept op: the tracing overhead is it
    minus the first kept op (``warm_op_samples_s[WARMUP_OPS]``) of an
    untraced run with the same seed, the op in the same position."""
    from eventlog import attribute

    m = measure(bench, [wl, other], WARMUP_OPS + 1, 0, traced=True)
    app_id = bench.spark.sparkContext.applicationId
    gc0 = bench.jvm_gc_s()
    wl.traced_op()
    other.traced_op()
    validate = wl if isinstance(wl, ValidateFull) else other
    registry = other if validate is wl else wl
    validate.probes()
    gc_s = bench.jvm_gc_s() - gc0
    if not registry.oracles_checked:
        registry.check_oracles()
    bench.shutdown()
    with open(os.path.join(bench.eventlog_dir, app_id)) as f:
        spans = {s.name: s for s in attribute(f, bench.spans)}

    def secs(name):
        return (spans[name].end_ms - spans[name].start_ms) / 1e3

    def tot(name, key):
        return spans[name].totals[key]

    suite_s = secs("constraints.suite_violations") + secs("constraints.summary")
    m = {
        "session.build_s": (m["build_s"], "s"),
        "sources.docs_scan_s": (secs("sources.docs_scan"), "s"),
        "constraints.suite_s": (suite_s, "s"),
        "constraints.summary_s": (secs("constraints.summary"), "s"),
        "constraints.suite.spill_bytes": (
            tot("constraints.suite_violations", "spill_bytes") + tot("constraints.summary", "spill_bytes"), "B"),
        "constraints.referential_s": (secs("constraints.referential"), "s"),
        "constraints.referential_bloom_s": (secs("constraints.referential_bloom"), "s"),
        "constraints.uniqueness_s": (secs("constraints.uniqueness"), "s"),
        "constraints.uniqueness.shuffle_write_bytes": (tot("constraints.uniqueness", "shuffle_write_bytes"), "B"),
        "constraints.uniqueness.spill_bytes": (tot("constraints.uniqueness", "spill_bytes"), "B"),
        "constraints.row_arrow.python_rows": (tot("constraints.row_arrow", "input_records"), "count"),
        "checkpoint.run_s": (secs("checkpoint.run"), "s"),
        "checkpoint.self_s": (secs("checkpoint.run") - suite_s, "s"),
        "checkpoint.completed_s": (secs("checkpoint.completed"), "s"),
        "checkpoint.pending_s": (secs("checkpoint.pending"), "s"),
        "checkpoint.append_s": (secs("checkpoint.append"), "s"),
        "checkpoint.resume_s": (secs("checkpoint.resume"), "s"),
        "checkpoint.files_written": (validate.files_written, "count"),
        "checkpoint.scan_ratio": (
            tot("checkpoint.resume", "input_records") / validate.resume_docs, "ratio"),
        "jvm.gc_s": (gc_s, "s"),
        "trace.op_s": (m["op_p50_s"], "s"),
        "trace.cold_op_s": (m["cold_op_s"], "s"),
    }
    for layer in ("row_fold", "row_arrow"):
        name = f"constraints.{layer}"
        m[f"{name}_s"] = (secs(name), "s")
        m[f"{name}.cpu_s"] = (tot(name, "cpu_s"), "s")
    for q in REGISTRY_MIX:
        name = f"queries.{q}"
        m[f"{name}_s"] = (secs(name), "s")
        m[f"{name}.cpu_s"] = (tot(name, "cpu_s"), "s")
        m[f"{name}.shuffle_write_bytes"] = (tot(name, "shuffle_write_bytes"), "B")
    return m


def run(args: argparse.Namespace, work: str) -> dict:
    bench = Bench(args, work)
    load0, stat0 = os.getloadavg(), cpu_times()
    validate, registry = ValidateFull(bench), RegistryMix(bench)
    wl, other = (validate, registry) if args.workload == "validate_full" else (registry, validate)
    metrics = {}
    try:
        make_inputs(bench, [wl, other] if args.trace else [wl])
        if args.trace:
            metrics = traced(bench, wl, other, args.seconds)
        else:
            metrics = end_to_end(bench, wl, args.seconds)
            if wl is registry:
                registry.check_oracles()
    except Exception:
        traceback.print_exc()
        bench.check(False, "run raised")
    finally:
        bench.shutdown()
    stat1 = cpu_times()
    busy = [b - a for a, b in zip(stat0, stat1)]
    bench.info.update({
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cpus": bench.cpus,
        "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
        "loadavg_start": load0,
        "loadavg_end": os.getloadavg(),
        "steal_frac": busy[7] / max(1, sum(busy)),
        "wall_s": time.perf_counter() - bench.start,
        "check_failures": bench.failures,
    })
    attempted, failed = bench.info.get("attempted", 0), bench.info.get("failed", 0)
    bench.info["fail_frac"] = failed / max(1, attempted)
    print(json.dumps({"perfbench": bench.info}, default=str))
    if not metrics:
        raise RuntimeError(f"{args.workload}: the run ended before it measured anything")
    return {
        "correct": not bench.failures and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("validate_full", "registry_mix"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "biosample_enricher_spark")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    # Spark's Python workers inherit this environment: they must import
    # the engine whatever the caller's working directory.
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, (ROOT, os.environ.get("PYTHONPATH")))
    )
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the JVMs would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
