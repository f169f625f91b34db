"""Per-span task metrics from a Spark event log.

The benchmark turns the event log on through ``get_spark(extra_conf=...)``
(uncompressed, not rolled: one JSON object per line) and wraps every
layer call in a span with its own ``setJobGroup``. This module maps each
task back to its job and each job to a span:

- a job whose ``spark.jobGroup.id`` names a span belongs to it;
- any other job (Structured Streaming micro-batches run on the query's
  own thread, under the query's job group) belongs to the span whose
  wall-clock window contains the job's submission time. The benchmark
  is a closed loop with one client, so windows never overlap.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

TASK_FIELDS = ("cpu_s", "shuffle_write_bytes", "spill_bytes", "input_records")


@dataclass
class Span:
    name: str
    start_ms: float
    end_ms: float
    totals: dict[str, float] = field(
        default_factory=lambda: dict.fromkeys(TASK_FIELDS, 0.0)
    )


def _task_totals(metrics: dict) -> dict[str, float]:
    shuffle = metrics.get("Shuffle Write Metrics", {})
    inputs = metrics.get("Input Metrics", {})
    return {
        "cpu_s": metrics.get("Executor CPU Time", 0) / 1e9,
        "shuffle_write_bytes": shuffle.get("Shuffle Bytes Written", 0),
        "spill_bytes": metrics.get("Disk Bytes Spilled", 0),
        "input_records": inputs.get("Records Read", 0),
    }


def attribute(lines, spans: list[Span]) -> list[Span]:
    """Add each task's metrics to the span its job belongs to.

    ``lines`` are the event log's lines; tasks of jobs outside every
    span are ignored. Returns ``spans`` with ``totals`` filled in."""
    by_name = {s.name: s for s in spans}
    stage_span: dict[int, Span] = {}
    for line in lines:
        event = json.loads(line)
        kind = event.get("Event")
        if kind == "SparkListenerJobStart":
            group = (event.get("Properties") or {}).get("spark.jobGroup.id")
            span = by_name.get(group)
            if span is None:
                t = event.get("Submission Time", -1)
                span = next(
                    (s for s in spans if s.start_ms <= t <= s.end_ms), None
                )
            if span is not None:
                for stage in event.get("Stage IDs", []):
                    stage_span.setdefault(stage, span)
        elif kind == "SparkListenerTaskEnd":
            span = stage_span.get(event.get("Stage ID"))
            if span is not None and event.get("Task Metrics"):
                for k, v in _task_totals(event["Task Metrics"]).items():
                    span.totals[k] += v
    return spans
