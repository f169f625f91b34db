"""The session-build Python-worker prewarm must ACTUALLY execute.

This job has silently no-op'd twice (a quoted type hint raising at
decoration behind the failure guard, then count() pruning the
deterministic UDF projection so the job never touched Python). The
operator contract is behavioral: the warm-up returns True only when
the UDF BODY executed on workers (a per-row accumulator inside the
UDF must reach the row count — a job that completes without touching
Python cannot fake it), and a daemon process must exist afterwards.
``get_spark`` runs it once per SparkContext, in the background: the
fresh-session and stop tests run in their own interpreter.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time
import uuid
from pathlib import Path

from biosample_enricher_spark.session import PREWARM_JOB, _prewarm_python_workers, get_spark

REPO = Path(__file__).resolve().parents[1]


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


def test_get_spark_on_a_live_session_submits_no_job(spark):
    """A second ``get_spark`` returns the running session and neither
    runs the prewarm job nor starts its thread."""
    for t in threading.enumerate():
        if t.name == PREWARM_JOB:  # the fixture's own prewarm
            t.join(timeout=300)
    sc = spark.sparkContext
    # a prewarm job would inherit this thread's job group
    group = sc.getLocalProperty("spark.jobGroup.id")
    before = set(sc.statusTracker().getJobIdsForGroup(group))
    assert get_spark(app_name="tests", master="local[4]", shuffle_partitions=8) is spark
    assert not any(t.name == PREWARM_JOB for t in threading.enumerate())
    assert set(sc.statusTracker().getJobIdsForGroup(group)) == before


FRESH = """
import json, sys, threading, time
sys.path.insert(0, sys.argv[1])
from test_session_prewarm import _daemon_count
from biosample_enricher_spark.session import PREWARM_JOB, get_spark

spark = get_spark(master="local[2]", shuffle_partitions=4)
background = any(t.name == PREWARM_JOB for t in threading.enumerate())
store = spark.sparkContext._jsc.sc().statusStore()

def prewarm_status():
    jobs = store.jobsList(None)
    for job in (jobs.apply(i) for i in range(jobs.size())):
        if job.description().isDefined() and job.description().get() == PREWARM_JOB:
            return job.status().toString()

deadline = time.monotonic() + 300
while prewarm_status() != "SUCCEEDED" and time.monotonic() < deadline:
    time.sleep(0.2)
print(json.dumps({
    "background": background, "status": prewarm_status(), "daemons": _daemon_count()
}))
"""

STOPPED = """
import json, threading
from biosample_enricher_spark.session import PREWARM_JOB, get_spark

spark = get_spark(master="local[2]", shuffle_partitions=4)
prewarm = next(t for t in threading.enumerate() if t.name == PREWARM_JOB)
running = prewarm.is_alive()
spark.stop()
prewarm.join(timeout=120)
print(json.dumps({"running_at_stop": running, "ended": not prewarm.is_alive()}))
"""


def _run_fresh(script: str, mark: str) -> dict:
    """Run ``script`` in its own interpreter, which builds a fresh
    session; every process it starts carries ``mark`` in its
    environment. Returns the script's last stdout line."""
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(filter(None, (str(REPO), os.environ.get("PYTHONPATH")))),
        PYSPARK_PYTHON=sys.executable,
        SPARK_DRIVER_MEMORY="1g",
        SPARK_GRAFT_PREWARM="1",
        SPARK_GRAFT_TEST_MARK=mark,
    )
    proc = subprocess.run(
        [sys.executable, "-c", script, str(Path(__file__).parent)],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "Traceback" not in proc.stderr, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _marked(mark: str) -> list[int]:
    """Pids of live processes whose environment carries ``mark``."""
    needle = f"SPARK_GRAFT_TEST_MARK={mark}".encode()
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/environ", "rb") as f:
                if needle in f.read().split(b"\0"):
                    pids.append(int(entry))
        except OSError:  # exited mid-walk, or not ours
            continue
    return pids


def _left_behind(mark: str, grace_s: float = 30) -> list[int]:
    """Processes carrying ``mark`` still alive ``grace_s`` after the
    script exited (its JVM and workers exit once their pipes close)."""
    deadline = time.monotonic() + grace_s
    while (pids := _marked(mark)) and time.monotonic() < deadline:
        time.sleep(0.5)
    return pids


def test_fresh_session_prewarms_in_the_background():
    """The ``get_spark`` that creates the context returns before the
    prewarm job ends; that job still reaches SUCCEEDED and leaves a
    ``pyspark.daemon`` under the driver process."""
    mark = uuid.uuid4().hex
    got = _run_fresh(FRESH, mark)
    assert got["background"] and got["status"] == "SUCCEEDED"
    assert got["daemons"] >= 1
    assert _left_behind(mark) == []


def test_stop_during_prewarm_is_silent():
    """``spark.stop()`` right after ``get_spark``, while the prewarm job
    runs: the job is cancelled, its thread ends, the script exits 0
    with no traceback and leaves no process behind."""
    mark = uuid.uuid4().hex
    got = _run_fresh(STOPPED, mark)
    assert got == {"running_at_stop": True, "ended": True}
    assert _left_behind(mark) == []
