"""Span transforms for the interleaved text+media document shape
(``spans: array<struct<kind,text,media_ref,offset>>``) — the repair /
re-chunk side of the payload whose *validation* side lives in
``constraints/`` (the offset_ordering check in constraints/udf.py).

``normalize_offsets`` REPAIRS what ``offset_ordering`` detects: it
recomputes every span's offset as the running position in the
document's token stream (text spans advance by their character length,
media spans by one placeholder position — the ``<media>``-token
convention of interleaved training corpora). Pure higher-order Column
expressions (transform / aggregate / zip_with) — per-row, JVM-side,
zero shuffle, no Python. The per-span prefix sum is O(k²) in spans per
doc (aggregate over a slice per element); fine for document-shaped k
(tens), while a corpus with thousands of spans per doc would switch to
the posexplode + block-window form (see queries.py x9 / a26 for that
pattern).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def span_lengths(spans: Column) -> Column:
    """array<long> of per-span stream lengths: text → char length
    (null text → 0), anything else → 1 placeholder position."""
    return F.transform(
        spans,
        lambda s: F.when(
            s["kind"] == "text", F.length(F.coalesce(s["text"], F.lit("")))
        )
        .otherwise(F.lit(1))
        .cast("long"),
    )


def running_offsets(lens: Column) -> Column:
    """Exclusive prefix sums of a numeric array as array<long>:
    [a,b,c] → [0, a, a+b]."""

    def prefix(ls: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(1), F.size(ls)),
            lambda i: F.aggregate(
                F.slice(ls, 1, i - 1),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
        )

    # let-bind via the array+get idiom (see dedup._ngrams) so `lens`
    # is materialized once, not re-derived per element
    return F.get(F.transform(F.array(lens), prefix), 0)


def normalize_offsets(spans: Column) -> Column:
    """The spans array with every ``offset`` replaced by its correct
    running-stream position; all other fields preserved."""
    offs = running_offsets(span_lengths(spans))
    return F.zip_with(
        spans,
        offs,
        lambda s, o: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            o.cast("int").alias("offset"),
        ),
    )


def overlap_count(spans: Column) -> Column:
    """Number of ADJACENT overlapping span pairs (after sorting by
    interval start) in a document's span array, as a per-row long —
    NOT the total C(k,2) pair count: a chain of k mutually-overlapping
    spans reports k-1 (use ``> 0`` as the audit verdict; the adjacency
    theorem below makes that verdict exact). This is
    the interval-consistency audit on the interleaved
    shape (spans that claim the same stream positions corrupt
    training-chunk assembly the way mis-ordered offsets do; this is
    the pairwise complement of the monotonicity check in
    constraints/udf.py offset_ordering).

    Each span occupies the half-open interval ``[offset, offset +
    stream_length)`` (text → char length, media → 1 placeholder — the
    same ``span_lengths`` convention normalize_offsets repairs with).
    Intervals are sorted by (start, end); for start-sorted intervals,
    some pair overlaps iff some ADJACENT pair overlaps (if every
    ``end_i ≤ start_{i+1}`` then for any i<j, ``end_i ≤ start_{i+1} ≤
    start_j``), so one zip of the sorted array against its shift
    counts exactly the adjacent overlaps — O(k log k) per row instead
    of O(k²) pairs. Touching spans (``end == next start``) do NOT
    overlap (half-open), and ZERO-LENGTH spans (empty intervals —
    e.g. null-text spans) are dropped before the sort: an empty
    interval intersects nothing, and keeping it would also break the
    adjacency argument (an empty interval sandwiched inside a genuine
    overlap would sever the adjacent chain). Pure higher-order Column
    expressions: per-row, JVM-side, zero shuffle, no Python."""
    iv = F.array_sort(
        F.filter(
            F.zip_with(
                F.transform(spans, lambda s: s["offset"].cast("long")),
                span_lengths(spans),
                lambda o, ln: F.struct(o.alias("s"), (o + ln).alias("e")),
            ),
            lambda i: i["e"] > i["s"],
        )
    )

    def adjacent_overlaps(a: Column) -> Column:
        n = F.size(a)
        return F.aggregate(
            F.zip_with(
                F.slice(a, F.lit(1), n - 1),
                F.slice(a, F.lit(2), n - 1),
                lambda p, nx: F.when(p["e"] > nx["s"], F.lit(1)).otherwise(
                    F.lit(0)
                ),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    # let-bind the sorted interval array once (dedup._ngrams idiom)
    return F.when(F.size(iv) < 2, F.lit(0).cast("long")).otherwise(
        F.get(F.transform(F.array(iv), adjacent_overlaps), 0)
    )


def kind_grammar_audit(kinds: Column) -> Column:
    """Grammar audit over a document's span-KIND sequence, as
    ``struct<n_spans, starts_with_media, ends_with_media,
    n_adjacent_media>`` — the sequence-shape complement of
    offset_ordering (positions) and overlap_count (intervals): an
    interleaved training document should open and close with text and
    never put two media spans back-to-back (nothing anchors the
    second one to the token stream). Media kinds per
    ``spec.MEDIA_KINDS``. Empty/null-safe: a 0-span doc reports
    (0, false, false, 0). Pure higher-order Column expressions —
    per-row, JVM-side, zero shuffle (the sp1/sp2 discipline)."""
    from ..spec import MEDIA_KINDS

    def is_media(k: Column) -> Column:
        return F.coalesce(k.isin(*MEDIA_KINDS), F.lit(False))

    n = F.size(kinds)
    starts = F.when(n > 0, is_media(F.element_at(kinds, 1))).otherwise(
        F.lit(False)
    )
    ends = F.when(n > 0, is_media(F.element_at(kinds, -1))).otherwise(
        F.lit(False)
    )
    # slice length must be >= 0 — a 0-span doc would pass -1
    pairs_len = F.greatest(n - 1, F.lit(0))
    adj = F.aggregate(
        F.zip_with(
            F.slice(kinds, F.lit(1), pairs_len),
            F.slice(kinds, F.lit(2), pairs_len),
            lambda a, b: F.when(is_media(a) & is_media(b), F.lit(1)).otherwise(
                F.lit(0)
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return F.struct(
        n.cast("long").alias("n_spans"),
        starts.alias("starts_with_media"),
        ends.alias("ends_with_media"),
        adj.alias("n_adjacent_media"),
    )


def token_budget(spans: Column, media_cost: int = 64) -> Column:
    """Per-document token accounting over an interleaved span array:
    text spans cost ``(len + 3) div 4`` tokens (the ~4-chars-per-BPE-
    token heuristic, EXACT integer arithmetic), media spans a fixed
    ``media_cost`` placeholder tokens (vision-token style). Returns
    ``struct<text_tokens, media_tokens, total_tokens>`` — the packing
    pre-pass that decides whether a doc fits a training-context
    budget before x9's chunk assembly. Null text counts 0. Pure HOFs,
    zero shuffle."""
    # (len + 3) / 4 is EXACT in IEEE double (division by a power of
    # two preserves the integer's bits; quotient has <= 2 fractional
    # bits), so the long cast is a true per-span floor:
    text_tokens = F.aggregate(
        spans,
        F.lit(0).cast("long"),
        lambda acc, s: acc
        + F.when(
            s["kind"] == "text",
            ((F.coalesce(F.length(s["text"]), F.lit(0)) + 3) / 4).cast("long"),
        ).otherwise(F.lit(0)),
    )
    media_tokens = F.aggregate(
        spans,
        F.lit(0).cast("long"),
        lambda acc, s: acc
        + F.when(s["kind"] != "text", F.lit(int(media_cost))).otherwise(
            F.lit(0)
        ),
    )
    return F.struct(
        text_tokens.alias("text_tokens"),
        media_tokens.alias("media_tokens"),
        (text_tokens + media_tokens).alias("total_tokens"),
    )
