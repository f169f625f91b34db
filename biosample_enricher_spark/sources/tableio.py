"""Table IO abstraction: one surface, two backends.

The engine's deployment target is Iceberg (``BASELINE.json:north_rule``)
— scans benefit from partition/file pruning via table metadata, writes
are atomic appends, and the checkpoint table's resume contract rides on
snapshot isolation. The sandbox has no Iceberg runtime jar (SURVEY.md
§7 risk note), so the same call sites run against plain parquet paths.

``resolve_table_io`` picks the backend from the identifier:

- ``iceberg:<catalog.db.table>`` → Iceberg table via ``spark.table`` /
  ``writeTo(...).append()`` (requires the runtime jar + catalog conf on
  the cluster),
- anything else → a parquet directory path.

Both backends expose: ``read()``, ``append(df)``, ``overwrite(df)``,
``exists()``. Engine modules (checkpoint, sinks, jobs) depend only on
this surface, so switching a deployment to Iceberg is a config change,
not a code change.
"""

from __future__ import annotations

import os
from abc import ABC, abstractmethod

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


class TableIO(ABC):
    @abstractmethod
    def read(self) -> DataFrame: ...

    @abstractmethod
    def append(self, df: DataFrame) -> None: ...

    @abstractmethod
    def overwrite(self, df: DataFrame) -> None: ...

    @abstractmethod
    def exists(self) -> bool: ...


class ParquetTableIO(TableIO):
    """Parquet-directory backend (the sandbox fallback)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        schema: T.StructType | None = None,
    ) -> None:
        self.spark = spark
        self.path = path
        self.schema = schema

    def exists(self) -> bool:
        if os.path.isfile(self.path):
            # single-file table (e.g. the driver's documents.parquet)
            return True
        return os.path.isdir(self.path) and any(
            name.endswith(".parquet") or name.startswith("part-")
            for name in os.listdir(self.path)
        )

    def read(self) -> DataFrame:
        if not self.exists():
            if self.schema is None:
                raise FileNotFoundError(self.path)
            # an empty relation that stays in the JVM: PruneFilters folds
            # it to an empty LocalRelation, so joins and scans against a
            # missing table vanish at planning (a local empty DataFrame
            # is a Python-backed LogicalRDD that only a job proves empty)
            return (
                self.spark.range(1)
                .select([
                    F.lit(None).cast(f.dataType).alias(f.name)
                    for f in self.schema.fields
                ])
                .where(F.lit(False))
            )
        reader = self.spark.read
        if self.schema is not None:
            reader = reader.schema(self.schema)
        return reader.parquet(self.path)

    def append(self, df: DataFrame) -> None:
        df.write.mode("append").parquet(self.path)

    def overwrite(self, df: DataFrame) -> None:
        df.write.mode("overwrite").parquet(self.path)


class IcebergTableIO(TableIO):
    """Iceberg-table backend (cluster deployments).

    Uses only the public DataFrameWriterV2 API; requires
    ``spark.sql.catalog.<name>`` configuration and the
    iceberg-spark-runtime jar on the cluster (unavailable in the
    sandbox — exercised there only through this thin surface's parquet
    twin)."""

    def __init__(self, spark: SparkSession, table: str) -> None:
        self.spark = spark
        self.table = table

    def exists(self) -> bool:
        return self.spark.catalog.tableExists(self.table)

    def read(self) -> DataFrame:
        return self.spark.table(self.table)

    def append(self, df: DataFrame) -> None:
        if self.exists():
            df.writeTo(self.table).append()
        else:
            df.writeTo(self.table).create()

    def overwrite(self, df: DataFrame) -> None:
        df.writeTo(self.table).createOrReplace()


def resolve_table_io(
    spark: SparkSession,
    identifier: str,
    schema: T.StructType | None = None,
) -> TableIO:
    if identifier.startswith("iceberg:"):
        return IcebergTableIO(spark, identifier[len("iceberg:"):])
    return ParquetTableIO(spark, identifier, schema=schema)
