"""Column-statistics operator group (SURVEY.md §2.4, A1-A14).

Spark re-expression of the reference's schema profiler
(``/root/reference/biosample_enricher/schema_statistics.py:68-153``):
the recursive per-document ``walk`` becomes two wide aggregation passes
— one over documents, one over exploded spans — each computing many
accumulators in a single shuffle (A14 multi-accumulator analog).

Output is a tall DataFrame ``(scope, partition_id, metric, value)`` so
stats can be grouped per content partition (lineage) or globally, and
stored in the checkpoint table's ``map<string,double>``.

Scale notes: distinct counts use ``approx_count_distinct`` (HLL) and
quantiles use ``percentile_approx`` — both sketch-based, single-pass,
mergeable, as the north_star names. Exact variants exist only in tests
via the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..constraints.core import stable_partition_id
from ..spec import N_BUCKETS_DEFAULT


def _tall(df: DataFrame, group_cols: list[str], exprs: dict[str, F.Column]) -> DataFrame:
    """One wide agg → melt to (group..., metric, value double)."""
    agg = df.groupBy(*group_cols).agg(
        *[e.cast("double").alias(name) for name, e in exprs.items()]
    )
    names = list(exprs)
    stack = F.stack(
        F.lit(len(names)),
        *[x for name in names for x in (F.lit(name), F.col(name))],
    ).alias("metric", "value")
    return agg.select(*group_cols, stack)


def doc_level_exprs() -> dict[str, F.Column]:
    """Per-document metrics. Analog of per-field coverage %
    (``schema_statistics.py:78-87``) and distinct-doc counting
    (``schema_statistics.py:78-86``)."""
    return {
        "n_docs": F.count(F.lit(1)),
        "doc_id_null_rate": F.avg(F.col("doc_id").isNull().cast("int")),
        "doc_id_approx_distinct": F.approx_count_distinct("doc_id"),
        "spans_null_rate": F.avg(
            (F.col("spans").isNull() | (F.size("spans") == 0)).cast("int")
        ),
        "spans_len_avg": F.avg(F.size("spans")),
        "spans_len_min": F.min(F.size("spans")),
        "spans_len_max": F.max(F.size("spans")),
        "spans_len_p50": F.percentile_approx(F.size("spans"), 0.5),
        "spans_len_p99": F.percentile_approx(F.size("spans"), 0.99),
    }


def span_level_exprs() -> dict[str, F.Column]:
    """Per-span metrics over the exploded spans. Analog of per-path
    type histograms + array-element stats
    (``schema_statistics.py:80-103``)."""
    text_len = F.length("s.text")
    return {
        "n_spans": F.count(F.lit(1)),
        "kind_null_rate": F.avg(F.col("s.kind").isNull().cast("int")),
        "text_null_rate": F.avg(F.col("s.text").isNull().cast("int")),
        "media_ref_null_rate": F.avg(F.col("s.media_ref").isNull().cast("int")),
        "offset_null_rate": F.avg(F.col("s.offset").isNull().cast("int")),
        "offset_min": F.min("s.offset"),
        "offset_max": F.max("s.offset"),
        "text_len_avg": F.avg(text_len),
        "text_len_min": F.min(text_len),
        "text_len_max": F.max(text_len),
        "text_len_p50": F.percentile_approx(text_len, 0.5),
        "text_len_p95": F.percentile_approx(text_len, 0.95),
        "media_ref_approx_distinct": F.approx_count_distinct("s.media_ref"),
    }


def column_stats(
    docs: DataFrame,
    by_partition: bool = False,
    n_buckets: int = N_BUCKETS_DEFAULT,
) -> DataFrame:
    """Stats over documents + spans → tall DF
    ``(scope, partition_id, metric, value)``. ``partition_id`` is -1 for
    global scope."""
    if by_partition:
        base = docs.withColumn(
            "partition_id", stable_partition_id(F.col("doc_id"), n_buckets)
        )
        group = ["partition_id"]
    else:
        base = docs.withColumn("partition_id", F.lit(-1).cast("int"))
        group = ["partition_id"]

    doc_stats = _tall(base, group, doc_level_exprs()).withColumn(
        "scope", F.lit("document")
    )
    spans = base.select("partition_id", F.explode("spans").alias("s"))
    span_stats = _tall(spans, group, span_level_exprs()).withColumn(
        "scope", F.lit("span")
    )
    return doc_stats.unionByName(span_stats).select(
        "scope", "partition_id", "metric", "value"
    )


def kind_histogram(docs: DataFrame) -> DataFrame:
    """Kind-frequency histogram (A3/A12): explode → groupBy(kind).
    Null kinds are kept as the literal bucket '<null>', as the drift
    check's kind items keep them. Map-side partial aggregation bounds
    the shuffle to |kinds| × partitions rows regardless of skew."""
    return (
        docs.select(F.explode("spans").alias("s"))
        .select(F.coalesce(F.col("s.kind"), F.lit("<null>")).alias("kind"))
        .groupBy("kind")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def span_length_histogram(docs: DataFrame, bucket_width: int = 16) -> DataFrame:
    """Text span-length histogram bucketed by ``bucket_width`` chars,
    the buckets the span-length drift check (§2.9) compares."""
    return (
        docs.select(F.explode("spans").alias("s"))
        .where(F.col("s.text").isNotNull())
        .select(
            (F.floor(F.length("s.text") / bucket_width) * bucket_width)
            .cast("long")
            .alias("bucket"),
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def top_k_examples(docs: DataFrame, k: int = 5, salt_buckets: int = 32) -> DataFrame:
    """Top-K example text values per kind (A4 analog of max_examples,
    ``schema_statistics.py:88-94``): deterministic — the K
    lexicographically-smallest distinct texts per kind.

    Salted two-stage: stage 1 keeps only the local top-K per
    (kind, salt) group, so the stage-2 shuffle carries at most
    ``salt_buckets × k`` values per kind regardless of how hot the
    kind is (text is the hot key in the generator's skew model)."""
    spans = (
        docs.select(F.explode("spans").alias("s"))
        .where(F.col("s.kind").isNotNull() & F.col("s.text").isNotNull())
        .select(
            F.col("s.kind").alias("kind"),
            F.col("s.text").alias("text"),
            F.pmod(F.xxhash64("s.text"), F.lit(salt_buckets)).alias("_salt"),
        )
    )
    stage1 = spans.groupBy("kind", "_salt").agg(
        F.slice(F.array_sort(F.collect_set("text")), 1, k).alias("_local_topk")
    )
    return stage1.groupBy("kind").agg(
        F.slice(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("_local_topk")))),
            1,
            k,
        ).alias("examples")
    )


# --- mergeable distinct-count sketches (HLL, datasketches-compatible) ---------

# log2 of the HLL bucket count for every per-partition sketch, the
# checkpoint sidecar's included
HLL_LG_K = 12


def partition_sketch_rows(
    docs: DataFrame,
    columns: tuple[str, ...],
    n_buckets: int = N_BUCKETS_DEFAULT,
) -> DataFrame:
    """One HLL sketch per (content partition, column) — every column in
    a single wide aggregation (map-side partial sketches; the shuffle
    carries one small binary per task × bucket). Shared machinery for
    the standalone sketch API below and the checkpoint sidecar
    (checkpoint.py::ResumableRun), so sketch precision is decided in
    exactly one place."""
    docs_p = docs.withColumn(
        "partition_id", stable_partition_id(F.col("doc_id"), n_buckets)
    )
    wide = docs_p.groupBy("partition_id").agg(
        *[
            F.hll_sketch_agg(F.col(c), F.lit(HLL_LG_K)).alias(f"_s{i}")
            for i, c in enumerate(columns)
        ]
    )
    kv = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(c).alias("column"), F.col(f"_s{i}").alias("sketch")
                )
                for i, c in enumerate(columns)
            ]
        )
    ).alias("kv")
    return wide.select("partition_id", kv).select(
        "partition_id",
        F.col("kv.column").alias("column"),
        F.col("kv.sketch").alias("sketch"),
    )


def partition_distinct_sketches(
    docs: DataFrame,
    col: str = "doc_id",
    n_buckets: int = N_BUCKETS_DEFAULT,
) -> DataFrame:
    """Per-content-partition HyperLogLog sketches for ``col`` —
    ``(partition_id, sketch binary, estimate)``.

    The 10^12-row upgrade over a one-shot ``approx_count_distinct``:
    sketches are MERGEABLE state, sized O(2^HLL_LG_K) bytes each, so
    they persist to the checkpoint table next to the per-partition
    lineage rows and a resumed/incremental run unions them WITHOUT
    rescanning completed partitions (north_star: "approx_count_distinct
    via HyperLogLog"; the reference recomputes its Compass-style
    distinct counts from scratch each run, schema_statistics.py:78-86).
    ``F.hll_sketch_agg`` emits Apache DataSketches-compatible binaries,
    readable outside Spark."""
    return partition_sketch_rows(docs, (col,), n_buckets).select(
        "partition_id",
        "sketch",
        F.hll_sketch_estimate("sketch").alias("estimate"),
    )


def merge_distinct_sketches(sketches: DataFrame) -> DataFrame:
    """Union per-partition HLL sketches into one global estimate —
    ``(n_partitions, merged_estimate)``. Merging is associative and
    tiny (one binary per partition), so incremental ingest unions the
    new partitions' sketches against the checkpointed ones instead of
    recounting 10^12 keys."""
    return sketches.agg(
        F.count(F.lit(1)).alias("n_partitions"),
        F.hll_sketch_estimate(
            F.hll_union_agg(F.col("sketch"))
        ).alias("merged_estimate"),
    )
