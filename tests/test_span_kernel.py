"""JVM-free property test of the Arrow row kernel: hypothesis-generated
documents are packed into ``pyarrow`` list arrays exactly as Spark hands
them to the UDF (four parallel field lists, null lists for null
``spans``) and ``span_violations_kernel`` must return the oracle's
violation items, in the oracle's order, for every document. The
strategies (shared with tests/test_parity_fuzz.py) produce null and
empty span lists, sentinels padded with every character of
spec.STRIP_WHITESPACE and with whitespace outside it; the slicing test
adds non-zero list offsets and empty batches."""

from __future__ import annotations

import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from biosample_enricher_spark.constraints.reference import validate_spans
from biosample_enricher_spark.constraints.udf import (
    RESULT_TYPE,
    span_violations_kernel,
)

from test_parity_fuzz import BATCH

FIELDS = (
    ("kind", pa.string()),
    ("text", pa.string()),
    ("media_ref", pa.string()),
    ("offset", pa.int32()),
)


def _field_lists(docs: list) -> list[pa.ListArray]:
    return [
        pa.array(
            [None if d is None else [s[name] for s in d] for d in docs],
            pa.list_(typ),
        )
        for name, typ in FIELDS
    ]


def _expected(docs: list) -> list[list[tuple[str, str, str]]]:
    return [validate_spans(d) for d in docs]


def _items(result: pa.ListArray) -> list[list[tuple[str, str, str]]]:
    assert result.type == RESULT_TYPE
    assert result.null_count == 0
    return [
        [(v["constraint_id"], v["field"], v["message"]) for v in doc]
        for doc in result.to_pylist()
    ]


@settings(max_examples=300, deadline=None)
@given(batch=BATCH)
def test_kernel_matches_oracle(batch):
    assert _items(span_violations_kernel(*_field_lists(batch))) == _expected(
        batch
    )


@settings(max_examples=200, deadline=None)
@given(batch=BATCH, data=st.data())
def test_kernel_on_sliced_arrays(batch, data):
    """A batch that is a slice of a larger array (non-zero list offset)
    validates exactly the documents in the slice."""
    start = data.draw(st.integers(0, len(batch)))
    stop = data.draw(st.integers(start, len(batch)))
    sliced = [a.slice(start, stop - start) for a in _field_lists(batch)]
    assert _items(span_violations_kernel(*sliced)) == _expected(
        batch[start:stop]
    )


def test_kernel_ignores_values_behind_null_slots():
    """A null list slot may still cover values in the child array; the
    kernel must skip them, as Arrow's list_flatten does."""
    value_offsets = pa.array([0, 2, 3], pa.int32())
    mask = pa.array([True, False])
    columns = {
        "kind": ["video", None, "text"],
        "text": ["a", "b", "c"],
        "media_ref": [None, None, None],
        "offset": [-1, None, 5],
    }
    arrays = [
        pa.ListArray.from_arrays(
            value_offsets, pa.array(columns[name], typ), mask=mask
        )
        for name, typ in FIELDS
    ]
    docs = [None, [{"kind": "text", "text": "c", "media_ref": None,
                    "offset": 5}]]
    assert _items(span_violations_kernel(*arrays)) == _expected(docs)

