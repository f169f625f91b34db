"""Pins for the r5n batch: HLL sliding distinct, foreachBatch sink."""

from __future__ import annotations

import os

from biosample_enricher_spark.queries import QUERIES

SF01 = "/root/testdata/sf0.01"


def test_hll_sliding_distinct_error_floor_and_agreement_with_a21(spark):
    rows = QUERIES["a38_sliding_distinct_hll"](spark, SF01).collect()
    assert len(rows) > 20
    for r in rows:
        assert r.rel_err <= 0.02, (r.day, r.rel_err)
    # the exact tier must equal a21's exact sliding distinct
    a21 = {
        (r.day, r.active_7d)
        for r in QUERIES["a21_sliding_distinct"](spark, SF01).collect()
    }
    assert {(r.day, r.exact_7d) for r in rows} == a21


def test_foreachbatch_sink_rerun_is_idempotent(spark):
    """Two invocations (fresh checkpoint and sink directory each) must
    produce identical sink aggregates over the 5 event types, and the
    sink of a single availableNow drain must hold exactly one epoch, 0.
    The sink is located from the result itself, so the check reads the
    output of the call under test, never a leftover of an earlier run."""
    first = QUERIES["streaming_foreachbatch_sink"](spark, SF01)
    second = QUERIES["streaming_foreachbatch_sink"](spark, SF01)
    one = {tuple(r) for r in first.collect()}
    two = {tuple(r) for r in second.collect()}
    assert one == two and len(one) == 5
    first_dirs = {os.path.dirname(f) for f in first.inputFiles()}
    sink_dirs = {os.path.dirname(f) for f in second.inputFiles()}
    assert len(sink_dirs) == 1
    # each call drains into its own directory
    assert first_dirs.isdisjoint(sink_dirs)
    back = spark.read.parquet(sink_dirs.pop())
    epochs = [r._epoch for r in back.select("_epoch").distinct().collect()]
    assert epochs == [0]
