"""The session-build Python-worker prewarm must ACTUALLY execute.

This job has silently no-op'd twice (a quoted type hint raising at
decoration behind the failure guard, then count() pruning the
deterministic UDF projection so the job never touched Python). The
operator contract is behavioral: the warm-up returns True only when
the UDF BODY executed on workers (a per-row accumulator inside the
UDF must reach the row count — a job that completes without touching
Python cannot fake it), and a daemon process must exist afterwards.
"""

from __future__ import annotations

import os

from biosample_enricher_spark.session import _prewarm_python_workers


def _descendants(root: int) -> set[int]:
    """Pids of every live process descended from ``root``, from the
    parent pid each ``/proc/<pid>/stat`` records."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # exited mid-walk
            continue
        # the command name (field 2) may hold spaces or parentheses:
        # state and ppid are the first two fields after its last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    found, stack = set(), [root]
    while stack:
        for child in children.get(stack.pop(), ()):
            found.add(child)
            stack.append(child)
    return found


def _daemon_count() -> int:
    """pyspark daemons and workers descended from this test process
    (its JVM's children), so a concurrent Spark user on the same host
    cannot satisfy the assertion."""
    n = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        n += b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd
    return n


def test_prewarm_executes_udf_job(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_PREWARM", "1")
    assert _prewarm_python_workers(spark) is True
    # the warm-up spawned (or reused) the worker pool: the daemon that
    # forks per-task workers is alive
    assert _daemon_count() >= 1


def test_prewarm_disabled_by_env(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_PREWARM", "0")
    assert _prewarm_python_workers(spark) is False
