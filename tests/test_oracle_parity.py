"""Local replica of the driver's correctness gate.

Runs every registered query on Spark AND its DuckDB oracle at sf0.001,
then compares row count, sorted column names, and order-insensitive
values (exact for ints/strings/timestamps; floats must match to 1e-9 —
the plans round explicitly so they should be bit-equal).
"""

from __future__ import annotations

import math

import duckdb
import pytest

from drive_bc_datapipeline_spark.plans import registry
from drive_bc_datapipeline_spark.plans.registry import ORACLES, QUERIES
from drive_bc_datapipeline_spark.tables import TABLE_NAMES

registry.load_all_plans()

SF_DIR = "/root/testdata/sf0.001"


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
        )
    return con


def normalize(rows: list[tuple], cols: list[str]) -> list[tuple]:
    """Sort columns by name, then rows; canonicalize cell values."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def canon(v):
        if isinstance(v, bool):
            return int(v)
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            return round(v, 9)
        return v

    out = [tuple(canon(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda tup: tuple(str(x) for x in tup))


def session_state(spark) -> tuple[dict[str, str], int]:
    """The session's SQL conf map and its CacheManager entry count."""
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    return spark.conf.getAll, cache_manager.numCachedEntries()


def assert_session_unchanged(spark, name: str, before) -> None:
    """Session hygiene: running a key leaves no conf change and no
    cached plan behind."""
    (conf0, cached0), (conf1, cached1) = before, session_state(spark)
    changed = {
        k: (conf0.get(k), conf1.get(k))
        for k in conf0.keys() | conf1.keys()
        if conf0.get(k) != conf1.get(k)
    }
    assert not changed, f"{name}: session conf changed {changed}"
    assert cached1 == cached0, f"{name}: CacheManager {cached0} -> {cached1} entries"


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, name):
    before = session_state(spark)
    spark_df = QUERIES[name](spark, SF_DIR)
    spark_cols = spark_df.columns
    spark_rows = [tuple(r) for r in spark_df.collect()]

    con = duck_con(SF_DIR)
    res = con.sql(ORACLES[name])
    duck_cols = res.columns
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    ns, nd = normalize(spark_rows, spark_cols), normalize(duck_rows, duck_cols)
    mismatches = [(a, b) for a, b in zip(ns, nd) if a != b]
    assert not mismatches, f"{name}: {len(mismatches)} mismatching rows; first 3: {mismatches[:3]}"
    assert_session_unchanged(spark, name, before)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_dtypes_are_cross_engine_safe(name):
    """Registry lint (round-6): DuckDB widens SUM(int) to HUGEINT, which
    pandas silently coerces to float64 while Spark returns int64 — the
    driver's value-hash then fails on dtype alone with values exactly
    equal (5 such artifacts in r5). Every oracle must cast integer
    aggregates so its declared DuckDB types stay in the cross-engine
    set; HUGEINT/UHUGEINT/UBIGINT never survive the pandas round-trip.
    """
    con = duck_con(SF_DIR)
    rel = con.sql(ORACLES[name])
    bad = [
        (c, str(t))
        for c, t in zip(rel.columns, rel.types)
        if str(t).upper() in {"HUGEINT", "UHUGEINT", "UBIGINT"}
    ]
    assert not bad, (
        f"{name}: oracle columns {bad} need CAST(... AS BIGINT) — "
        "see plans/registry.py cross-engine rules"
    )


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, name):
    before = session_state(spark)
    df = QUERIES[name](spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.columns) > 0
    assert_session_unchanged(spark, name, before)


def test_entry_smoke(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    assert df.count() > 0
