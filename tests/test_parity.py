"""Parity: the Arrow UDF row path == the plain-Python oracle, over the
seeded-violation corpus and hand-built edge cases.

This is the engine's primary correctness gate (SURVEY.md §5.3): the
Spark paths must reproduce the reference-style per-record verdicts and
violation rows exactly.
"""

from __future__ import annotations

from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from biosample_enricher_spark.constraints import ConstraintSuite
from biosample_enricher_spark.constraints.reference import validate_rows
from biosample_enricher_spark.spec import DOCUMENTS_SCHEMA
from biosample_enricher_spark.synth import GenParams, gen_documents

N_DOCS = 400
ARROW_BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"


@contextmanager
def _arrow_batch_size(spark, small):
    """With ``small`` set, cap Arrow batches at 3 records, so each
    partition reaches the kernel as many batches and the list arrays it
    sees start at non-zero offsets."""
    if not small:
        yield
        return
    old = spark.conf.get(ARROW_BATCH_CONF)
    spark.conf.set(ARROW_BATCH_CONF, "3")
    try:
        yield
    finally:
        spark.conf.set(ARROW_BATCH_CONF, old)


def _row_viols(spark, docs, small_arrow_batches=False):
    suite = ConstraintSuite()
    df = suite.row_violations(suite.with_partition_id(docs))
    with _arrow_batch_size(spark, small_arrow_batches):
        rows = df.collect()
    return sorted(
        (r.doc_id, r.constraint_id, r.field, r.message) for r in rows
    )


# Hand-built edge cases: every violation class plus boundary conditions
# (analog of the reference's pydantic_validation_demo corpus,
# /root/reference/biosample_enricher/pydantic_validation_demo.py:23-192).
EDGE_DOCS = [
    # clean doc
    ("ok-1", [
        {"kind": "text", "text": "hello world", "media_ref": None, "offset": 0},
        {"kind": "image", "text": None, "media_ref": "asset-1", "offset": 5},
    ]),
    # empty / null spans
    ("empty-1", []),
    ("null-1", None),
    # kind violations
    ("kind-1", [{"kind": None, "text": "x", "media_ref": None, "offset": 0}]),
    ("kind-2", [{"kind": "video", "text": "x", "media_ref": None, "offset": 0}]),
    # text presence: null, whitespace, sentinels (case-insensitive)
    ("txt-1", [{"kind": "text", "text": None, "media_ref": None, "offset": 0}]),
    ("txt-2", [{"kind": "text", "text": "   ", "media_ref": None, "offset": 0}]),
    ("txt-3", [{"kind": "text", "text": "N/A", "media_ref": None, "offset": 0}]),
    ("txt-4", [{"kind": "text", "text": "Unknown", "media_ref": None, "offset": 0}]),
    ("txt-5", [{"kind": "text", "text": "null", "media_ref": None, "offset": 0}]),
    # cross-presence violations
    ("x-1", [{"kind": "text", "text": "ok", "media_ref": "asset-9", "offset": 0}]),
    ("x-2", [{"kind": "audio", "text": "bad", "media_ref": "asset-2", "offset": 0}]),
    ("x-3", [{"kind": "table", "text": None, "media_ref": None, "offset": 0}]),
    ("x-4", [{"kind": "image", "text": None, "media_ref": " n/a ", "offset": 0}]),
    # offset violations: null, negative, equal, decreasing, null-skip chain
    ("off-1", [{"kind": "text", "text": "a", "media_ref": None, "offset": None}]),
    ("off-2", [{"kind": "text", "text": "a", "media_ref": None, "offset": -3}]),
    ("off-3", [
        {"kind": "text", "text": "a", "media_ref": None, "offset": 4},
        {"kind": "text", "text": "b", "media_ref": None, "offset": 4},
    ]),
    ("off-4", [
        {"kind": "text", "text": "a", "media_ref": None, "offset": 9},
        {"kind": "text", "text": "b", "media_ref": None, "offset": 2},
    ]),
    ("off-5", [
        {"kind": "text", "text": "a", "media_ref": None, "offset": 7},
        {"kind": "text", "text": "b", "media_ref": None, "offset": None},
        {"kind": "text", "text": "c", "media_ref": None, "offset": 3},
    ]),
    # boundary: offset 0 then 1 is valid; single span valid
    ("bound-1", [
        {"kind": "text", "text": "a", "media_ref": None, "offset": 0},
        {"kind": "text", "text": "b", "media_ref": None, "offset": 1},
    ]),
    # multiple violations in one span (invalid kind + negative offset)
    ("multi-1", [{"kind": "blob", "text": None, "media_ref": None, "offset": -1}]),
]


def _edge_df(spark):
    rows = [
        {
            "doc_id": d,
            "spans": None
            if spans is None
            else [
                {
                    "kind": s["kind"],
                    "text": s["text"],
                    "media_ref": s["media_ref"],
                    "offset": s["offset"],
                }
                for s in spans
            ],
        }
        for d, spans in EDGE_DOCS
    ]
    return spark.createDataFrame(rows, DOCUMENTS_SCHEMA)


def _oracle_for_df(df):
    rows = [r.asDict(recursive=True) for r in df.collect()]
    return sorted(validate_rows(rows))


@pytest.mark.parametrize("small_arrow_batches", [False, True])
def test_edge_corpus_matches_oracle(spark, small_arrow_batches):
    docs = _edge_df(spark)
    got = _row_viols(spark, docs, small_arrow_batches)
    expected = _oracle_for_df(docs)
    assert got == expected
    # sanity: the corpus actually exercises every row constraint
    cids = {c for _, c, _, _ in expected}
    assert cids == {
        "spans_nonempty",
        "kind_vocabulary",
        "text_presence",
        "media_ref_presence",
        "offset_ordering",
    }


@pytest.mark.parametrize("small_arrow_batches", [False, True])
def test_synth_corpus_matches_oracle(spark, small_arrow_batches):
    docs = gen_documents(spark, N_DOCS, GenParams(seed=7))
    got = _row_viols(spark, docs, small_arrow_batches)
    expected = _oracle_for_df(docs)
    assert got == expected
    assert len(expected) > 0  # seeded violations present


def test_larger_corpus_matches_oracle(spark):
    docs = gen_documents(spark, 2000, GenParams(seed=11))
    assert _row_viols(spark, docs) == _oracle_for_df(docs)


def test_removed_fold_cannot_be_selected():
    with pytest.raises(ValueError, match="fold"):
        ConstraintSuite(use_arrow_udf=False)


def test_generator_is_deterministic(spark):
    p = GenParams(seed=5)
    a = gen_documents(spark, 300, p, partitions=2).collect()
    b = gen_documents(spark, 300, p, partitions=7).collect()
    key = lambda r: r.doc_id
    assert sorted(a, key=key) == sorted(b, key=key)


def test_clean_corpus_has_no_row_violations(spark):
    docs = gen_documents(spark, 300, GenParams(seed=3).clean())
    assert _row_viols(spark, docs) == []
