"""TableIO abstraction: parquet backend round-trips; iceberg
identifiers resolve to the Iceberg backend (jar unavailable in the
sandbox, so only resolution + parquet behavior are exercised here)."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from biosample_enricher_spark.sources import resolve_table_io
from biosample_enricher_spark.sources.tableio import IcebergTableIO, ParquetTableIO

SCHEMA = T.StructType(
    [T.StructField("k", T.StringType()), T.StructField("v", T.LongType())]
)


def test_parquet_roundtrip_append_overwrite(spark, tmp_path):
    io = resolve_table_io(spark, str(tmp_path / "t"), schema=SCHEMA)
    assert isinstance(io, ParquetTableIO)
    assert not io.exists()
    # empty read with schema → typed empty frame
    assert io.read().count() == 0
    df = spark.createDataFrame([("a", 1), ("b", 2)], SCHEMA)
    io.append(df)
    assert io.exists() and io.read().count() == 2
    io.append(df)
    assert io.read().count() == 4
    io.overwrite(df)
    assert io.read().count() == 2


def test_missing_table_read_folds_to_empty_local_relation(spark, tmp_path):
    """A missing table reads as a JVM-side empty relation that Catalyst
    folds at planning, not a Python-backed LogicalRDD that only a job
    can prove empty."""
    df = resolve_table_io(spark, str(tmp_path / "missing"), schema=SCHEMA).read()
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in optimized
    assert "LogicalRDD" not in optimized
    assert df.schema.names == SCHEMA.names
    assert [f.dataType for f in df.schema] == [f.dataType for f in SCHEMA]


def test_missing_parquet_without_schema_raises(spark, tmp_path):
    io = resolve_table_io(spark, str(tmp_path / "nope"))
    with pytest.raises(FileNotFoundError):
        io.read()


def test_iceberg_identifier_resolution(spark):
    io = resolve_table_io(spark, "iceberg:cat.db.checkpoint")
    assert isinstance(io, IcebergTableIO)
    assert io.table == "cat.db.checkpoint"


def test_iceberg_methods_exercise_writer_v2_surface():
    """r2 VERDICT #5: the iceberg branch was dead code in the sandbox
    (no runtime jar). Drive every IcebergTableIO method against mocks
    so the DataFrameWriterV2 call shapes are at least executed:
    append→writeTo().append() when the table exists, writeTo().create()
    when it doesn't, overwrite→createOrReplace(), read→spark.table()."""
    from unittest.mock import MagicMock

    mspark = MagicMock(name="spark")
    io = IcebergTableIO(mspark, "cat.db.t")

    mspark.catalog.tableExists.return_value = True
    assert io.exists() is True
    mspark.catalog.tableExists.assert_called_with("cat.db.t")

    io.read()
    mspark.table.assert_called_once_with("cat.db.t")

    df = MagicMock(name="df")
    io.append(df)
    df.writeTo.assert_called_once_with("cat.db.t")
    df.writeTo.return_value.append.assert_called_once_with()
    df.writeTo.return_value.create.assert_not_called()

    mspark.catalog.tableExists.return_value = False
    df2 = MagicMock(name="df2")
    io.append(df2)
    df2.writeTo.return_value.create.assert_called_once_with()
    df2.writeTo.return_value.append.assert_not_called()

    df3 = MagicMock(name="df3")
    io.overwrite(df3)
    df3.writeTo.assert_called_once_with("cat.db.t")
    df3.writeTo.return_value.createOrReplace.assert_called_once_with()


def test_checkpoint_accepts_iceberg_identifier():
    """The resume tier resolves its checkpoint table through the same
    surface, so an iceberg: identifier must construct cleanly."""
    from unittest.mock import MagicMock

    from biosample_enricher_spark.checkpoint import CheckpointTable

    mspark = MagicMock(name="spark")
    table = CheckpointTable(mspark, "iceberg:cat.db.cp")
    assert isinstance(table._io, IcebergTableIO)
    assert table._io.table == "cat.db.cp"
