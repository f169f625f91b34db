"""normalize_offsets / running_offsets (operators/spans.py): prefix-sum
exactness vs a plain-Python model, schema preservation, and the
repair↔detect round trip against the constraint suite's
offset_ordering check on the dirty synthetic corpus."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from biosample_enricher_spark.constraints import udf
from biosample_enricher_spark.operators.spans import (
    normalize_offsets,
    running_offsets,
    span_lengths,
)
from biosample_enricher_spark.synth import GenParams, gen_documents


def test_running_offsets_matches_python(spark):
    rng = random.Random(3)
    rows = [([rng.randrange(0, 50) for _ in range(rng.randrange(1, 12))],)
            for _ in range(200)]
    df = spark.createDataFrame(rows, "lens array<long>")
    got = df.select(
        "lens", running_offsets(F.col("lens")).alias("offs")
    ).collect()
    for r in got:
        acc, expect = 0, []
        for x in r.lens:
            expect.append(acc)
            acc += x
        assert list(r.offs) == expect


def _dirty_docs(spark, n=400):
    return gen_documents(spark, n, GenParams(seed=9, n_assets=100))


def test_normalize_offsets_preserves_schema_and_fields(spark):
    docs = _dirty_docs(spark)
    repaired = docs.select(
        "doc_id", normalize_offsets(F.col("spans")).alias("spans")
    )
    assert repaired.schema["spans"].dataType == docs.schema["spans"].dataType
    # kind/text/media_ref untouched; only offset changes
    a = docs.select(
        "doc_id",
        F.transform(
            "spans", lambda s: F.struct(s["kind"], s["text"], s["media_ref"])
        ).alias("body"),
    )
    b = repaired.select(
        "doc_id",
        F.transform(
            "spans", lambda s: F.struct(s["kind"], s["text"], s["media_ref"])
        ).alias("body"),
    )
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_repair_zeroes_offset_violations_for_positive_length_docs(spark):
    """The round trip: normalize_offsets must eliminate every
    offset_ordering violation the dirty generator planted — for docs
    whose spans all advance the stream (len > 0; an empty/null text
    span legitimately repairs to an equal offset, which the STRICT
    ordering constraint still rejects, so those docs are excluded —
    and checked separately below)."""
    docs = _dirty_docs(spark)
    all_positive = F.forall(
        span_lengths(F.col("spans")), lambda x: x > 0
    )
    repaired = docs.where(all_positive).select(
        "doc_id", normalize_offsets(F.col("spans")).alias("spans")
    )
    before = (
        docs.where(all_positive)
        .select(F.explode(udf.span_violations(F.col("spans"))).alias("v"))
        .where(F.col("v.constraint_id") == "offset_ordering")
        .count()
    )
    after = (
        repaired.select(
            F.explode(udf.span_violations(F.col("spans"))).alias("v")
        )
        .where(F.col("v.constraint_id") == "offset_ordering")
        .count()
    )
    assert before > 0  # the generator really plants offset violations
    assert after == 0


def test_repair_leaves_only_zero_length_ties(spark):
    """On the full dirty corpus the only offset_ordering findings that
    survive repair are non-increasing ties at zero-length spans —
    never a null or negative offset."""
    docs = _dirty_docs(spark)
    repaired = docs.select(
        "doc_id", normalize_offsets(F.col("spans")).alias("spans")
    )
    leftover = (
        repaired.select(
            F.explode(udf.span_violations(F.col("spans"))).alias("v")
        )
        .where(F.col("v.constraint_id") == "offset_ordering")
        .select("v.message")
        .collect()
    )
    assert all("not increasing" in r.message for r in leftover)


SPAN_SCHEMA = (
    "doc_id long, spans array<struct<"
    "kind string, text string, media_ref string, offset int>>"
)


def _span(kind, text, media_ref, offset):
    return {
        "kind": kind, "text": text, "media_ref": media_ref, "offset": offset
    }


def _txt(n, offset):
    return _span("text", "x" * n, None, offset)


def test_overlap_count_planted_cases(spark):
    from biosample_enricher_spark.operators.spans import overlap_count

    rows = [
        # (doc_id, spans, expected adjacent-overlap count)
        (0, [], 0),                                  # empty
        (1, [_txt(5, 0)], 0),                        # single span
        (2, [_txt(5, 0), _txt(5, 5)], 0),            # touching: half-open
        (3, [_txt(5, 0), _txt(5, 4)], 1),            # 1-char overlap
        (4, [_txt(10, 0), _txt(10, 5), _txt(10, 12)], 2),  # chain
        # 3 MUTUALLY overlapping spans: C(3,2)=3 pairs but the
        # operator's contract is ADJACENT pairs after sorting → 2
        # (the audit verdict >0 is what's exact, not the magnitude)
        (11, [_txt(10, 0), _txt(10, 1), _txt(10, 2)], 2),
        (5, [_txt(5, 20), _txt(5, 0), _txt(5, 3)], 1),     # unsorted input
        # media span occupies ONE position: [7, 8) overlaps text [0, 8)
        (6, [_txt(8, 0), _span("image", None, "img", 7)], 1),
        # media at the touching boundary [8, 9): no overlap
        (7, [_txt(8, 0), _span("image", None, "img", 8)], 0),
        # null text counts as length 0: [3, 3) empty interval, no overlap
        (8, [_txt(5, 0), _span("text", None, None, 3)], 0),
        # empty interval inside a genuine overlap must not sever the
        # adjacent chain (it is filtered before the sort)
        (10, [_txt(10, 0), _span("text", None, None, 5), _txt(3, 6)], 1),
        # duplicate identical spans DO overlap
        (9, [_txt(5, 2), _txt(5, 2)], 1),
    ]
    df = spark.createDataFrame(
        [(d, s) for d, s, _ in rows], SPAN_SCHEMA
    )
    got = {
        r.doc_id: r.n
        for r in df.select(
            "doc_id", overlap_count(F.col("spans")).alias("n")
        ).collect()
    }
    for doc_id, _, want in rows:
        assert got[doc_id] == want, f"doc {doc_id}: {got[doc_id]} != {want}"


def test_overlap_count_zero_after_normalize(spark):
    """Repair then audit: normalize_offsets lays spans back-to-back,
    so the overlap audit must read 0 for every doc whose spans all
    have positive stream length (zero-length spans produce empty
    intervals that never overlap either)."""
    from biosample_enricher_spark.operators.spans import overlap_count

    docs = _dirty_docs(spark)
    repaired = docs.select(
        "doc_id", normalize_offsets(F.col("spans")).alias("spans")
    )
    bad = repaired.where(overlap_count(F.col("spans")) > 0).count()
    assert bad == 0
