"""Span-sequence integrity as a single vectorized Arrow UDF.

The engine's one row path (``BASELINE.json:north_star``): a scalar
``arrow_udf`` over the four parallel field arrays of ``spans``
(``spans.kind`` etc., projected JVM-side), returning
``array<struct<constraint_id, field, message>>`` per document — the
reference's ``[{field, message}]`` error rows
(``synthetic_validation_demo.py:82-94``) with the constraint id
attached.

The body is ``span_violations_kernel``, a plain function of
``pyarrow`` arrays: each batch is flattened once to one entry per span,
every predicate is a ``pyarrow.compute``/numpy mask over the flat
values, and strings are built only for violating spans. There is no
pandas and no per-row Python, and the kernel runs without a JVM. It is
an *independent* implementation from the plain-Python oracle in
``reference.py``; parity is asserted in tests/test_parity.py,
tests/test_parity_fuzz.py and tests/test_span_kernel.py.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf

from ..spec import (
    C_KIND_VOCAB,
    C_MEDIA_REF_PRESENCE,
    C_OFFSET_ORDERING,
    C_SPANS_NONEMPTY,
    C_TEXT_PRESENCE,
    KIND_VOCAB,
    MEDIA_KINDS,
    MSG_KIND_NULL,
    MSG_OFFSET_NULL,
    MSG_REF_MISSING,
    MSG_REF_ON_TEXT,
    MSG_SPANS_EMPTY,
    MSG_TEXT_MISSING,
    MSG_TEXT_ON_MEDIA,
    NULL_SENTINELS,
    STRIP_WHITESPACE,
    VIOLATION_ITEM_TYPE,
)

ITEM_TYPE = pa.struct(
    [pa.field(f.name, pa.string(), nullable=False)
     for f in VIOLATION_ITEM_TYPE.fields]
)
RESULT_TYPE = pa.list_(ITEM_TYPE)

_KIND_VOCAB = pa.array(KIND_VOCAB, pa.string())
_MEDIA_KINDS = pa.array(MEDIA_KINDS, pa.string())
_NULL_SENTINELS = pa.array(sorted(NULL_SENTINELS), pa.string())


def _absent(values: pa.Array) -> np.ndarray:
    """True where the string is absent after strip + sentinel folding
    (vectorized analog of spec.normalize_text: strips exactly
    spec.STRIP_WHITESPACE, as the oracle does)."""
    folded = pc.utf8_lower(pc.utf8_trim(values, characters=STRIP_WHITESPACE))
    return _mask(pc.is_null(values)) | _mask(
        pc.is_in(folded, value_set=_NULL_SENTINELS)
    )


def _mask(values: pa.Array) -> np.ndarray:
    return values.fill_null(False).to_numpy(zero_copy_only=False)


def _strings(values: pa.Array | np.ndarray) -> pa.Array:
    return pc.cast(pa.array(values), pa.string())


def span_violations_kernel(
    kinds: pa.Array, texts: pa.Array, refs: pa.Array, offsets: pa.Array
) -> pa.ListArray:
    """Violation items per document for one batch of the four parallel
    ``list`` arrays (same length and validity per row, as Spark projects
    them from ``spans``). A null or empty list yields the
    spans_nonempty item. Items keep the oracle's order: by span, then
    kind, text/media_ref presence and offset checks."""
    n_docs = len(kinds)
    # per-doc span counts and doc index per span. np.repeat over the
    # counts, not list_parent_indices: the latter also counts the
    # values backing a null slot, which list_flatten drops
    lengths = np.asarray(pc.list_value_length(kinds).fill_null(0), np.int64)
    doc = np.repeat(np.arange(n_docs, dtype=np.int64), lengths)
    starts = np.cumsum(lengths) - lengths
    n_spans = len(doc)
    pos = np.arange(n_spans, dtype=np.int64) - starts[doc]

    kind = pc.list_flatten(kinds)
    text = pc.list_flatten(texts)
    ref = pc.list_flatten(refs)
    off = pc.list_flatten(offsets)
    if not len(kind) == len(text) == len(ref) == len(off) == n_spans:
        raise ValueError("span field arrays are not parallel")

    kind_null = _mask(pc.is_null(kind))
    kind_bad = ~kind_null & ~_mask(pc.is_in(kind, value_set=_KIND_VOCAB))
    is_text = _mask(pc.equal(kind, "text"))
    is_media = _mask(pc.is_in(kind, value_set=_MEDIA_KINDS))
    text_set = _mask(pc.is_valid(text))
    ref_set = _mask(pc.is_valid(ref))

    off_null = _mask(pc.is_null(off))
    off_vals = pc.cast(off, pa.int64()).fill_null(0).to_numpy()
    # previous non-null offset in the same doc: the running max of the
    # non-null span indices, shifted by one, if it lies in this doc
    last_valid = np.maximum.accumulate(
        np.where(off_null, -1, np.arange(n_spans, dtype=np.int64))
    )
    prev_idx = np.concatenate(([-1], last_valid))[:n_spans]
    has_prev = prev_idx >= starts[doc]
    prev_vals = off_vals[np.maximum(prev_idx, 0)]

    # (mask, constraint, field, message); message is a constant or a
    # function of the violating span indices
    checks = (
        (kind_null, C_KIND_VOCAB, "kind", MSG_KIND_NULL),
        (kind_bad, C_KIND_VOCAB, "kind",
         lambda i: pc.binary_join_element_wise(
             "kind not in vocabulary: ", kind.take(i), "")),
        (is_text & _absent(text), C_TEXT_PRESENCE, "text", MSG_TEXT_MISSING),
        (is_text & ref_set, C_MEDIA_REF_PRESENCE, "media_ref",
         MSG_REF_ON_TEXT),
        (is_media & _absent(ref), C_MEDIA_REF_PRESENCE, "media_ref",
         MSG_REF_MISSING),
        (is_media & text_set, C_TEXT_PRESENCE, "text", MSG_TEXT_ON_MEDIA),
        (off_null, C_OFFSET_ORDERING, "offset", MSG_OFFSET_NULL),
        (~off_null & (off_vals < 0), C_OFFSET_ORDERING, "offset",
         lambda i: pc.binary_join_element_wise(
             "offset negative: ", _strings(off_vals[i]), "")),
        (~off_null & has_prev & (off_vals <= prev_vals),
         C_OFFSET_ORDERING, "offset",
         lambda i: pc.binary_join_element_wise(
             "offset not increasing: ", _strings(off_vals[i]), " <= ",
             _strings(prev_vals[i]), "")),
    )

    empty = np.flatnonzero(lengths == 0)
    item_doc = [empty]
    item_key = [np.zeros(len(empty), dtype=np.int64)]
    cids = [pa.repeat(pa.scalar(C_SPANS_NONEMPTY), len(empty))]
    fields = [pa.repeat(pa.scalar("spans"), len(empty))]
    messages = [pa.repeat(pa.scalar(MSG_SPANS_EMPTY), len(empty))]
    for rank, (mask, cid, field, message) in enumerate(checks):
        idx = np.flatnonzero(mask)
        if not len(idx):
            continue
        item_doc.append(doc[idx])
        item_key.append(idx * len(checks) + rank)
        cids.append(pa.repeat(pa.scalar(cid), len(idx)))
        fields.append(pc.binary_join_element_wise(
            "spans[", _strings(pos[idx]), "].", field, ""))
        messages.append(
            pa.repeat(pa.scalar(message), len(idx))
            if isinstance(message, str) else message(idx)
        )

    item_doc = np.concatenate(item_doc)
    order = pa.array(np.lexsort((np.concatenate(item_key), item_doc)))
    items = pa.StructArray.from_arrays(
        [pa.concat_arrays([_strings(a) for a in parts]).take(order)
         for parts in (cids, fields, messages)],
        fields=list(ITEM_TYPE),
    )
    list_offsets = np.zeros(n_docs + 1, dtype=np.int32)
    np.cumsum(np.bincount(item_doc, minlength=n_docs), out=list_offsets[1:])
    return pa.ListArray.from_arrays(
        pa.array(list_offsets), items, type=RESULT_TYPE
    )


@arrow_udf(T.ArrayType(VIOLATION_ITEM_TYPE))
def span_violations_udf(
    kinds: pa.Array, texts: pa.Array, refs: pa.Array, offsets: pa.Array
) -> pa.Array:
    return span_violations_kernel(kinds, texts, refs, offsets)


def span_violations(spans: Column) -> Column:
    """Column of ``array<struct<constraint_id, field, message>>``.

    The array<struct> is decomposed into four parallel field arrays
    JVM-side (``spans.kind`` is an ``array<string>`` projection), so
    the Arrow transfer carries flat primitive arrays, not structs, and
    nested-schema pruning reads only the four span fields.

    A row whose ``spans`` is NULL arrives as four NULL lists and, like
    spans=[], yields the spans_nonempty violation, matching the
    oracle's semantics for missing-or-empty.
    """
    return span_violations_udf(
        spans.getField("kind"),
        spans.getField("text"),
        spans.getField("media_ref"),
        spans.getField("offset"),
    )
