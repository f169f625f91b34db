"""Canonical constraint-suite specification.

Single source of truth for vocabularies, null-sentinel rules, constraint
ids, and violation-message formats. Two independent implementations
consume it and must agree exactly (tested in tests/test_parity.py):

1. the vectorized Arrow UDF (``constraints/udf.py``) — the engine's
   one per-row path,
2. the plain-Python reference oracle (``constraints/reference.py``) —
   the parity model of the reference's per-record verdict logic
   (``/root/reference/biosample_enricher/synthetic_validation_demo.py:69-94``
   and the pydantic field rules in ``models.py:15-134``).

Violation rows follow the reference's error shape ``[{field, message}]``
(``synthetic_validation_demo.py:82-94``), keyed by
``(partition_id, doc_id, constraint_id)``.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- vocabularies -----------------------------------------------------------

# Analog of the reference's enum constraints, e.g. database_source
# ^(NMDC|GOLD)$ (/root/reference/biosample_enricher/models.py:38-40).
KIND_VOCAB = ("text", "image", "audio", "table")
MEDIA_KINDS = ("image", "audio", "table")

# Strings normalized to "no value" before presence checks. Analog:
# null-sentinel normalization at metrics/aligner.py:234-238 plus
# whitespace stripping at models.py:133.
NULL_SENTINELS = frozenset({"null", "n/a", "unknown", "none", ""})

# The single whitespace class stripped by both implementations (the
# Arrow UDF passes it to utf8_trim, the Python oracle to str.strip) and
# by the Column-expression operators (btrim). It equals Java regex
# ``\s`` ([ \t\n\x0B\f\r]); no path may strip a character another
# path keeps, e.g. NBSP or U+3000 (parity contract).
STRIP_WHITESPACE = " \t\n\x0b\f\r"

# --- constraint ids ---------------------------------------------------------

C_SPANS_NONEMPTY = "spans_nonempty"
C_KIND_VOCAB = "kind_vocabulary"
C_TEXT_PRESENCE = "text_presence"
C_MEDIA_REF_PRESENCE = "media_ref_presence"
C_OFFSET_ORDERING = "offset_ordering"
C_DOC_ID_UNIQUE = "doc_id_unique"
C_MEDIA_REF_REFERENTIAL = "media_ref_referential"
C_DRIFT_SPAN_LEN = "drift_span_length"
C_DRIFT_KIND_FREQ = "drift_kind_frequency"

ROW_CONSTRAINTS = (
    C_SPANS_NONEMPTY,
    C_KIND_VOCAB,
    C_TEXT_PRESENCE,
    C_MEDIA_REF_PRESENCE,
    C_OFFSET_ORDERING,
)

# --- message formats (exact-match contract) ---------------------------------

MSG_SPANS_EMPTY = "spans missing or empty"
MSG_KIND_NULL = "kind is null"
MSG_KIND_BAD = "kind not in vocabulary: {kind}"
MSG_TEXT_MISSING = "text missing for text span"
MSG_TEXT_ON_MEDIA = "text set on media span"
MSG_REF_MISSING = "media_ref missing for media span"
MSG_REF_ON_TEXT = "media_ref set on text span"
MSG_OFFSET_NULL = "offset is null"
MSG_OFFSET_NEG = "offset negative: {offset}"
MSG_OFFSET_ORDER = "offset not increasing: {offset} <= {prev}"
MSG_DUP_DOC_ID = "duplicate doc_id: {n} occurrences"
MSG_REF_DANGLING = "media_ref not in asset catalog: {ref}"

# --- schemas ----------------------------------------------------------------

SPAN_TYPE = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),
    ]
)

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("spans", T.ArrayType(SPAN_TYPE)),
    ]
)

VIOLATION_ITEM_TYPE = T.StructType(
    [
        T.StructField("constraint_id", T.StringType(), False),
        T.StructField("field", T.StringType(), False),
        T.StructField("message", T.StringType(), False),
    ]
)

VIOLATIONS_SCHEMA = T.StructType(
    [
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("doc_id", T.StringType()),
        T.StructField("constraint_id", T.StringType(), False),
        T.StructField("field", T.StringType(), False),
        T.StructField("message", T.StringType(), False),
    ]
)

# Number of stable content-addressed partitions. Lineage / summaries /
# resume are keyed by pmod(xxhash64(doc_id), N_BUCKETS) rather than
# spark_partition_id(): physical partition ids change under AQE and
# across parallelism levels, while content buckets make pass/fail rows
# byte-identical between local[8] and local[32] (and between N and 4N
# executors on a real cluster).
N_BUCKETS_DEFAULT = 64


def normalize_text(value: str | None) -> str | None:
    """Python-side null-sentinel normalization (the oracle's version).

    Mirrors ``_absent`` in ``constraints/udf.py``.
    """
    if value is None:
        return None
    stripped = value.strip(STRIP_WHITESPACE)
    if stripped.lower() in NULL_SENTINELS:
        return None
    return stripped
