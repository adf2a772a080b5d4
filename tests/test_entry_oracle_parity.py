"""Replicates the driver's correctness gate: every ``queries()`` entry vs
its ``oracle_sql()`` twin via DuckDB (row count + columns + values)."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entrymod

SF = __import__("os").environ.get("PARITY_SF_DIR", "/root/testdata/sf0.001")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(autouse=True)
def _fresh_memorystore(spark):
    """Start every parity query from an empty block store.

    The full suite shares one 8g SparkSession; by the time this module
    runs, earlier modules' caches and checkpoint blocks fill the
    MemoryStore, and the heavy composed queries (incremental_dedup,
    curation_pipeline) then serialize every memory acquisition through
    `evictBlocksToFreeSpace` scans over thousands of dead blocks — a
    measured 45-min livelock that the same query run solo finishes in
    seconds.  Clearing up front (cache + any persisted RDDs, which
    includes spent localCheckpoints) restores the solo-run behavior the
    driver gate itself sees (it runs queries in a fresh session)."""
    spark.catalog.clearCache()
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.unpersist()
    yield


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf.copy()
    for c in out.columns:
        if pd.api.types.is_datetime64_any_dtype(out[c]):
            out[c] = out[c].astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(out[c]):
            out[c] = out[c].round(6)
        elif pd.api.types.is_integer_dtype(out[c]):
            out[c] = out[c].astype("int64")
    out = out[sorted(out.columns)]
    return out.sort_values(list(out.columns), kind="stable").reset_index(drop=True)


SQL_CHECKED = sorted(entrymod.oracle_sql().keys())


@pytest.mark.parametrize("name", SQL_CHECKED)
def test_query_matches_oracle(spark, duck, name):
    q = entrymod.queries()[name]
    got = _normalize(q(spark, SF).toPandas())
    want = _normalize(duck.execute(entrymod.oracle_sql()[name]).df())
    assert list(got.columns) == list(want.columns), f"{name}: column mismatch"
    # The driver hashes raw values, so int64 `123` vs float64 `123.0` is a
    # FAIL there even though pandas compares them equal. Replicate that:
    # dtype *kinds* (i/u vs f) must agree column-for-column. DuckDB returns
    # HUGEINT (-> float64 in pandas) for sum(BIGINT); oracles must CAST the
    # outer sum to BIGINT, not just the summand.
    kinds = {
        c: (got[c].dtype.kind, want[c].dtype.kind)
        for c in got.columns
        if got[c].dtype.kind != want[c].dtype.kind
    }
    numericish = {k: v for k, v in kinds.items() if set(v) <= {"i", "u", "f"}}
    assert not numericish, (
        f"{name}: int/float dtype-kind mismatch (driver value-hash would "
        f"differ): {numericish} — cast the oracle's outer aggregate"
    )
    assert len(got) == len(want), f"{name}: row count {len(got)} vs {len(want)}"
    pd.testing.assert_frame_equal(got, want, check_dtype=False, obj=name)


def test_every_query_has_an_oracle():
    """A query registered without a DuckDB oracle (or an oracle left
    behind by a removed query) fails here, not silently unchecked."""
    assert set(entrymod.queries()) == set(entrymod.oracle_sql())


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
