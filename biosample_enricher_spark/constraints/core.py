"""Constraint-suite orchestration.

Compiles the declarative suite into one DataFrame pipeline:

    scan documents
      → stable partition_id (content-addressed bucket)
      → row-scope violations  (one vectorized Arrow UDF, §udf)
      → uniqueness violations (one hash aggregation, map-side partial counts)
      → referential violations (broadcast left-anti join vs asset catalog)
      → union → violations(partition_id, doc_id, constraint_id, field, message)
      → per-(constraint, partition) summary with pass/fail counts

Shapes follow FIXTURES.md §A4, which mirrors the reference's
pass/fail partition + error rows + summary rates
(``/root/reference/biosample_enricher/synthetic_validation_demo.py:
69-113``).

Scale posture:
- partition_id is ``pmod(xxhash64(doc_id), n_buckets)`` — deterministic
  across parallelism levels (local[8] == local[32] == a 1000-executor
  cluster), unlike ``spark_partition_id()`` which AQE re-plans freely.
- the uniqueness check is one hash aggregation whose partial (map-side)
  stage pre-counts per physical partition, bounding any reducer's
  input for hot keys to one row per map task (north_rule semantics,
  one Exchange).
- the asset catalog is broadcast; the probe side only carries
  ``(partition_id, doc_id, pos, media_ref)`` after nested-field pruning.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..spec import (
    C_DOC_ID_UNIQUE,
    C_MEDIA_REF_REFERENTIAL,
    MEDIA_KINDS,
    N_BUCKETS_DEFAULT,
    ROW_CONSTRAINTS,
)
from .udf import span_violations

def stable_partition_id(doc_id: Column, n_buckets: int = N_BUCKETS_DEFAULT) -> Column:
    """Content-addressed partition id: deterministic under any physical
    partitioning / AQE re-plan / executor count."""
    return F.pmod(F.xxhash64(doc_id), F.lit(n_buckets)).cast("int")


# ``ConstraintSuite.summarize``'s output, nullability included
SUMMARY_SCHEMA = T.StructType(
    [
        T.StructField("constraint_id", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), True),
        T.StructField("total", T.LongType(), False),
        T.StructField("passed", T.LongType(), False),
        T.StructField("failed", T.LongType(), False),
        T.StructField("pass_rate", T.DoubleType(), True),
    ]
)


@dataclass
class SuiteResult:
    violations: DataFrame  # partition_id, doc_id, constraint_id, field, message
    summary: DataFrame     # constraint_id, partition_id, total, passed, failed, pass_rate
    persisted: tuple[DataFrame, ...] = ()  # every frame run() persisted

    def unpersist(self) -> None:
        for df in self.persisted:
            df.unpersist()


class ConstraintSuite:
    """The engine's built-in suite over the interleaved-documents table.

    Row-scope constraints always run through the Arrow UDF
    (``constraints/udf.py``). ``use_arrow_udf`` is kept only so callers
    that pass ``use_arrow_udf=True`` keep working; ``False`` used to
    select the Column-expression fold, which was removed, and now raises
    ``ValueError`` instead of silently running the Arrow path.
    """

    def __init__(
        self,
        n_buckets: int = N_BUCKETS_DEFAULT,
        use_arrow_udf: bool = True,
        referential_mode: str = "broadcast",
        bloom_m_bits: int = 1 << 24,
    ) -> None:
        if referential_mode not in ("broadcast", "bloom"):
            # ValueError, not assert: under python -O an assert is
            # stripped and a typo would silently run the broadcast
            # tier against the huge catalog the bloom tier exists for
            raise ValueError(
                f"referential_mode must be 'broadcast' or 'bloom', "
                f"got {referential_mode!r}"
            )
        if not use_arrow_udf:
            raise ValueError(
                "use_arrow_udf=False selected the Column-expression fold, "
                "which was removed; the Arrow UDF is the only row path"
            )
        self.n_buckets = n_buckets
        self.referential_mode = referential_mode
        self.bloom_m_bits = bloom_m_bits

    # --- pieces -------------------------------------------------------------

    def with_partition_id(self, docs: DataFrame) -> DataFrame:
        return docs.withColumn(
            "partition_id", stable_partition_id(F.col("doc_id"), self.n_buckets)
        )

    def row_violations(self, docs_p: DataFrame) -> DataFrame:
        """Per-row span-sequence violations, exploded to violation rows.
        Needs only ``partition_id``, ``doc_id`` and ``spans``, so it runs
        unchanged over a streaming frame."""
        items = docs_p.select(
            "partition_id",
            "doc_id",
            F.explode(span_violations(F.col("spans"))).alias("v"),
        )
        return items.select(
            "partition_id",
            "doc_id",
            F.col("v.constraint_id").alias("constraint_id"),
            F.col("v.field").alias("field"),
            F.col("v.message").alias("message"),
        )

    def duplicate_keys(self, docs_p: DataFrame) -> DataFrame:
        """Duplicate detection on ``doc_id`` → ``(doc_id, n)`` with
        n > 1, as a single hash aggregation.

        Skew posture: Spark's partial (map-side) aggregation already
        pre-counts per physical input partition before the exchange, so
        a pathologically hot doc_id contributes at most one partial row
        per map task to the shuffle — the same bound the previous
        explicit (salt, doc_id) stage provided, minus that stage's extra
        Exchange (one Exchange, pinned in tests/test_plans.py).
        Reference analog: ID dedup semantics
        (``/root/reference/biosample_enricher/adapters.py:327-338``).
        """
        return (
            docs_p.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") > 1)
        )

    def uniqueness_violations(self, docs_p: DataFrame) -> DataFrame:
        return self.uniqueness_violations_from(self.duplicate_keys(docs_p))

    def uniqueness_violations_from(self, dups: DataFrame) -> DataFrame:
        return dups.select(
            stable_partition_id(F.col("doc_id"), self.n_buckets).alias("partition_id"),
            "doc_id",
            F.lit(C_DOC_ID_UNIQUE).alias("constraint_id"),
            F.lit("doc_id").alias("field"),
            F.format_string("duplicate doc_id: %d occurrences", F.col("n")).alias(
                "message"
            ),
        )

    def referential_violations(
        self, docs_p: DataFrame, asset_catalog: DataFrame
    ) -> DataFrame:
        """Media refs with no catalog entry.

        Probe side is pruned to ``(partition_id, doc_id, pos,
        media_ref)`` before the join; the catalog dimension is pruned
        to its key. Two tiers, selected by ``referential_mode``:

        - ``"broadcast"`` (default): exact broadcast left-anti join —
          right while the catalog key set fits an exact broadcast.
        - ``"bloom"``: the operators/bloom.py pre-filter tier for
          catalogs past broadcast size (a 10⁹-key exact set is 8+
          GB; the bloom is m/8 bytes — 2 MiB at the default 2²⁴
          bits): bloom-failing refs are definite violations with
          zero shuffle, bloom-passing refs are verified by the exact
          anti-join. Output provably equals the broadcast tier
          (equality pinned in tests/test_suite_ops.py).

        Reference analog: cross-collection ``$in`` membership lookups
        (``/root/reference/biosample_enricher/adapters.py:610-640``).
        """
        # Project the two needed struct fields as parallel arrays BEFORE
        # exploding: GetArrayStructFields is nested-pruning-friendly, so
        # the parquet scan reads only spans.kind + spans.media_ref —
        # posexplode(spans) directly would drag the text payloads
        # through the scan (verified in tests/test_plans.py).
        media = (
            docs_p.select(
                "partition_id",
                "doc_id",
                F.posexplode(
                    F.arrays_zip(
                        F.col("spans.kind").alias("kind"),
                        F.col("spans.media_ref").alias("media_ref"),
                    )
                ).alias("pos", "s"),
            )
            .where(F.col("s.kind").isin(*MEDIA_KINDS) & F.col("s.media_ref").isNotNull())
            .select(
                "partition_id",
                "doc_id",
                "pos",
                F.col("s.media_ref").alias("media_ref"),
            )
        )
        catalog_keys = asset_catalog.select("media_ref")
        if self.referential_mode == "bloom":
            from ..operators.bloom import bloom_referential_violations

            dangling = bloom_referential_violations(
                media,
                "media_ref",
                catalog_keys,
                "media_ref",
                m_bits=self.bloom_m_bits,
            )
        else:
            dangling = media.join(
                F.broadcast(catalog_keys), "media_ref", "left_anti"
            )
        return dangling.select(
            "partition_id",
            "doc_id",
            F.lit(C_MEDIA_REF_REFERENTIAL).alias("constraint_id"),
            F.format_string("spans[%d].media_ref", F.col("pos")).alias("field"),
            F.format_string(
                "media_ref not in asset catalog: %s", F.col("media_ref")
            ).alias("message"),
        )

    # --- suite --------------------------------------------------------------

    def active_constraints(self, with_referential: bool) -> list[str]:
        ids = [*ROW_CONSTRAINTS, C_DOC_ID_UNIQUE]
        if with_referential:
            ids.append(C_MEDIA_REF_REFERENTIAL)
        return ids

    def summarize(
        self,
        docs_p: DataFrame,
        violations: DataFrame,
        with_referential: bool,
        dups: DataFrame,
    ) -> DataFrame:
        """Per-(constraint, partition) pass/fail summary.

        ``total`` counts distinct documents in the partition (the unit
        of validation is the document; duplicate doc_ids are one
        logical document; doc_id is assumed non-null per the input
        contract). ``failed`` counts distinct documents with at least
        one violation of the constraint. Shape follows the reference's
        validation_summary (``synthetic_validation_demo.py:96-113``).

        ``total`` is ``count(*) − Σ(n−1)`` per partition, with the
        correction taken from ``dups``, the uniqueness stage's
        ``duplicate_keys`` output: a map-side-combined row count plus
        a join with the (tiny) duplicate set, instead of a corpus-wide
        distinct hash aggregation (which would build per-task hash
        tables of every doc_id and spill at scale).

        ``docs_p`` must already carry this suite's content-addressed
        ``partition_id`` (``with_partition_id``; ``run()`` passes its
        own): the dups correction and the violations frame key by
        ``stable_partition_id(n_buckets)``, so an unrelated
        ``partition_id`` column would mis-join.
        """
        row_counts = docs_p.groupBy("partition_id").agg(
            F.count(F.lit(1)).alias("_n_rows")
        )
        extra = (
            dups.select(
                stable_partition_id(F.col("doc_id"), self.n_buckets).alias(
                    "partition_id"
                ),
                (F.col("n") - 1).alias("_extra"),
            )
            .groupBy("partition_id")
            .agg(F.sum("_extra").alias("_extra"))
        )
        totals = (
            row_counts.join(F.broadcast(extra), "partition_id", "left")
            .select(
                "partition_id",
                (
                    F.col("_n_rows") - F.coalesce(F.col("_extra"), F.lit(0))
                ).alias("total"),
            )
        )
        # constraint × partition grid via a literal-array explode — pure
        # JVM; a local createDataFrame here would pay Python-runner
        # startup (~seconds) for a 7-row dimension
        grid = totals.select(
            "partition_id",
            "total",
            F.explode(
                F.array(
                    *[F.lit(c) for c in self.active_constraints(with_referential)]
                )
            ).alias("constraint_id"),
        )
        failed = violations.groupBy("constraint_id", "partition_id").agg(
            F.countDistinct("doc_id").alias("failed")
        )
        failed_n = F.coalesce(F.col("failed"), F.lit(0))
        return (
            grid.join(failed, ["constraint_id", "partition_id"], "left")
            .select(
                "constraint_id",
                "partition_id",
                "total",
                (F.col("total") - failed_n).alias("passed"),
                failed_n.alias("failed"),
                F.when(F.col("total") > 0,
                       (F.col("total") - failed_n) / F.col("total"))
                .otherwise(F.lit(1.0))
                .alias("pass_rate"),
            )
        )

    def run(
        self,
        docs: DataFrame,
        asset_catalog: DataFrame | None = None,
    ) -> SuiteResult:
        """Full suite. The violations frame is persisted so the summary
        reuses it instead of recomputing the row-constraint scan —
        violations are tiny relative to the corpus (call
        ``SuiteResult.unpersist()`` when done)."""
        docs_p = self.with_partition_id(docs)
        # duplicate keys are tiny (violations only); persisting them
        # lets both the violation rows and the summary's distinct-doc
        # totals reuse one aggregation
        dups = self.duplicate_keys(docs_p).persist()
        out = self.row_violations(docs_p).unionByName(
            self.uniqueness_violations_from(dups)
        )
        if asset_catalog is not None:
            out = out.unionByName(self.referential_violations(docs_p, asset_catalog))
        out = out.persist()
        summary = self.summarize(docs_p, out, asset_catalog is not None, dups)
        return SuiteResult(violations=out, summary=summary, persisted=(dups, out))
