"""Mirror of the driver's correctness gate: every registry query runs
on Spark AND its oracle SQL on DuckDB over the same sf0.01 parquet;
row counts, column names, and order-insensitive values must match."""

from __future__ import annotations

import math

import duckdb
import pytest

from biosample_enricher_spark.queries import ORACLES, QUERIES

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return c


def _canon(v):
    """Full-precision canonicalization — floats compare by exact repr
    (mirrors a value-hash over raw values; rounding differences between
    engines must be fixed in the queries, not papered over here)."""
    if v is None:
        return "\x00<null>"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    return str(v)


def _rows_to_multiset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(_canon(r[i]) for i in idx) for r in rows
    )


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, con, name):
    got_df = QUERIES[name](spark, SF_DIR)
    got_cols = got_df.columns
    got = [tuple(r) for r in got_df.collect()]

    res = con.execute(ORACLES[name])
    exp_cols = [d[0] for d in res.description]
    exp = res.fetchall()

    assert sorted(got_cols) == sorted(exp_cols), f"{name}: column names differ"
    assert len(got) == len(exp), f"{name}: row count {len(got)} != {len(exp)}"
    g = _rows_to_multiset(got_cols, got)
    e = _rows_to_multiset(exp_cols, exp)
    mismatches = [(a, b) for a, b in zip(g, e) if a != b][:5]
    assert g == e, f"{name}: first value mismatches: {mismatches}"


@pytest.mark.parametrize(
    "name", sorted(set(QUERIES) - set(ORACLES))
)
def test_rows_only_queries_run(spark, name):
    df = QUERIES[name](spark, "/root/testdata/sf0.001")
    assert df.count() >= 0
    assert len(df.columns) > 0


def test_driver_window_ordering():
    """Round-6 rotation: every query that has NEVER had an external
    CORRECTNESS row in rounds 1-5 fills the window first (48 — the
    r5f-r5o registrations that landed after the r5 window filled, r5
    VERDICT #1), then the two SQL-oracled queries whose implementation
    changed in the r6 optimization round; all parked queries keep
    prior green rows as signal."""
    import json
    import os

    from biosample_enricher_spark.queries import DRIVER_WINDOW, QUERIES

    names = list(QUERIES)
    assert names[: len(DRIVER_WINDOW)] == DRIVER_WINDOW
    assert len(DRIVER_WINDOW) == 50
    # derive "never externally checked" from the recorded CORRECTNESS
    # files themselves, so this pin cannot drift from the evidence
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    checked: set[str] = set()
    for r in range(1, 6):
        path = os.path.join(repo, f"CORRECTNESS_r0{r}.json")
        if os.path.exists(path):
            with open(path) as f:
                checked |= set(json.load(f))
    never = [n for n in names if n not in checked]
    assert len(never) == 48
    for q in never:
        assert names.index(q) < 48, q
    # the two r6-changed SQL-oracled queries get re-verified externally
    assert names[48] == "a13_uniqueness_violations"
    assert names[49] == "ann_bruteforce_topk"
    # parked queries keep their prior green rows as the valid signal
    for q in ("j3_referential_antijoin", "j4_tolerance_join",
              "f18_geo_loc_parse", "o5_offset_pagination",
              "p2_multiformat_coordinates", "s3_tablesample",
              "p1_normalizing_projection", "dsl_validation_verdicts"):
        assert names.index(q) >= 50


def test_registry_counts_match_docs():
    """The registry counts stated in the docs (SURVEY.md §2.14,
    .claude/skills/verify/SKILL.md, README.md) are
    pinned here so they cannot silently drift from the registry (r3
    verdict item #7). Whoever registers a query updates the asserts
    AND the doc sites in the same commit; README's statement that its
    numbers are test-pinned is enforced by the grep below."""
    assert len(QUERIES) == 183
    assert len(ORACLES) == 165
    from pathlib import Path

    readme = (Path(__file__).parent.parent / "README.md").read_text()
    assert f"{len(QUERIES)} operator queries" in readme
    assert f"{len(ORACLES)} with column-aligned DuckDB oracle SQL" in readme


def test_manual_sessionize_matches_builtin_session_window(spark):
    """w5's lag+running-sum composition must produce the same session
    boundaries as Spark's built-in session_window(ts, '30 minutes')
    gap-merge — two independent implementations of the semantics."""
    from pyspark.sql import functions as F

    from biosample_enricher_spark.queries import QUERIES

    sf = "/root/testdata/sf0.01"
    manual = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in QUERIES["w5_sessionize"](spark, sf).collect()
    }
    e = spark.read.parquet(f"{sf}/events.parquet")
    builtin = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in e.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .select("user_id", "session_start", "session_end", "n_events")
        .collect()
    }
    assert manual == builtin and len(manual) > 100
