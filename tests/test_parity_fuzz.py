"""Property-based parity through Spark: hypothesis-generated span
documents (arbitrary kinds/texts/refs/offsets incl. junk, sentinels,
nulls, empties) must produce identical violation rows from the suite's
Arrow UDF row path and the Python oracle. The JVM-free kernel test
(tests/test_span_kernel.py) runs the same strategies with many more
examples."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from biosample_enricher_spark.constraints import ConstraintSuite
from biosample_enricher_spark.constraints.reference import validate_rows
from biosample_enricher_spark.spec import DOCUMENTS_SCHEMA

KINDS = st.sampled_from(
    ["text", "image", "audio", "table", "video", "TEXT", "", " ", None]
)
TEXTS = st.one_of(
    st.none(),
    st.sampled_from(
        [
            "", "   ", "n/a", "N/A", "null", "unknown", "None", "ok text",
            # whitespace-padded sentinels: both paths must strip the same
            # class (spec.STRIP_WHITESPACE), not just 0x20
            "n/a\t", "\nnull ", "\x0bunknown\r", " none\x0c",
            # NBSP-padded sentinel: NOT in the strip class, so it
            # must survive normalization as a PRESENT value
            "\u00a0null\u00a0", "n/a\u3000",
        ]
    ),
    st.text(
        # accents + CJK + the full ASCII strip class + UNICODE
        # whitespace (NBSP, ideographic space, line separator) that is
        # OUTSIDE spec.STRIP_WHITESPACE: both paths must agree on
        # NOT stripping it (python str.strip() with no args would)
        alphabet="abc XYZ0é中\t\n\r\x0b\x0c\u00a0\u3000\u2028",
        min_size=0,
        max_size=12,
    ),
)
REFS = st.one_of(
    st.none(),
    st.sampled_from(
        ["asset-00000001", "asset-99999999", "n/a", " ", "", "\tn/a\n", "x\r"]
    ),
)
OFFSETS = st.one_of(
    st.none(), st.integers(min_value=-100, max_value=200)
)

SPAN = st.fixed_dictionaries(
    {"kind": KINDS, "text": TEXTS, "media_ref": REFS, "offset": OFFSETS}
)
DOC = st.one_of(st.none(), st.lists(SPAN, min_size=0, max_size=6))
BATCH = st.lists(DOC, min_size=1, max_size=40)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(batch=BATCH)
def test_fuzzed_docs_match_oracle(spark, batch):
    rows = [
        {"doc_id": f"doc-{i:04d}", "spans": spans} for i, spans in enumerate(batch)
    ]
    df = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)
    suite = ConstraintSuite()
    got = sorted(
        (r.doc_id, r.constraint_id, r.field, r.message)
        for r in suite.row_violations(suite.with_partition_id(df)).collect()
    )
    assert got == sorted(validate_rows(rows))
