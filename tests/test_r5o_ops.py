"""Pins for the r5o batch: CSV round trip, null-safe join."""

from __future__ import annotations

from pyspark.sql import functions as F

from biosample_enricher_spark.queries import QUERIES

SF01 = "/root/testdata/sf0.01"


def test_csv_roundtrip_preserves_every_row(spark):
    got = QUERIES["s13_csv_roundtrip"](spark, SF01).collect()
    n_back = sum(r.n_orders for r in got)
    n_src = spark.read.parquet(f"{SF01}/orders.parquet").count()
    assert n_back == n_src == 15000


def test_csv_roundtrip_result_survives_a_second_call(spark):
    """The result reads its CSV lazily, so each call writes its own
    directory: a second call must not delete the first result's files."""
    first = QUERIES["s13_csv_roundtrip"](spark, SF01)
    second = QUERIES["s13_csv_roundtrip"](spark, SF01)
    assert first.collect() == second.collect()


def test_nullsafe_join_keeps_null_group_plain_join_drops_it(spark):
    rows = QUERIES["j14_nullsafe_join"](spark, SF01).collect()
    nulls = [r for r in rows if r.nk is None]
    # the planted %19 rows survive the null-safe join...
    assert len(nulls) == sum(1 for r in rows if r.k % 19 == 0) > 0
    # ...and the null group's size annotation is consistent
    assert all(r.n_group == len(nulls) for r in nulls)
    # total row preservation: every customer joins exactly once
    assert len(rows) == 1500
    # contrast: a PLAIN equality join on the same frames drops them
    a = spark.read.parquet(f"{SF01}/customer.parquet").select(
        F.col("c_custkey").alias("k"),
        F.when(F.col("c_custkey") % 19 == 0, F.lit(None).cast("int"))
        .otherwise(F.col("c_nationkey"))
        .alias("nk"),
    )
    g = (
        a.groupBy("nk")
        .agg(F.count(F.lit(1)).alias("n_group"))
        .select(F.col("nk").alias("gnk"), "n_group")
    )
    plain = a.join(g, F.col("nk") == F.col("gnk")).count()
    assert plain == 1500 - len(nulls)


def test_rolling_median_matches_python_on_planted_ties(spark, tmp_path):
    import datetime as dt

    t0 = dt.datetime(2023, 1, 1)
    vals = [10, 10, 30, 30, 20, 50, 40, 40, 40, 10]
    rows = [
        (i, t0 + dt.timedelta(seconds=i), 1, "view", v / 100.0)
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    out = str(tmp_path / "rm")
    df.write.mode("overwrite").parquet(f"{out}/events.parquet")
    got = {
        r.event_id: r.med_c
        for r in QUERIES["w14_rolling_median"](spark, out).collect()
    }
    exp = {
        i: sorted(vals[i - 4 : i + 1])[2] for i in range(4, len(vals))
    }
    assert got == exp


def test_split_decontamination_counts_are_consistent(spark):
    rows = QUERIES["x17_split_decontamination"](spark, SF01).collect()
    assert {r.split for r in rows} == {"val", "test"}
    for r in rows:
        assert 0 < r.n_contaminated <= r.n_docs
