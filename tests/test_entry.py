"""Mirror of the driver correctness gate: every queries() entry with an
oracle_sql() must match DuckDB at sf0.01 on row count, column names, and an
order-insensitive value hash (columns sorted by name, floats normalized)."""

import math
import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _normalize(df: pd.DataFrame) -> list:
    df = df[sorted(df.columns)].copy()
    rows = []
    for row in df.itertuples(index=False):
        vals = []
        for v in row:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                vals.append("NULL")
            elif isinstance(v, float):
                vals.append(f"{v:.6f}")
            else:
                vals.append(str(v))
        rows.append("|".join(vals))
    return sorted(rows)


ORACLE_NAMES = sorted(entrymod.oracle_sql().keys())
ALL_NAMES = sorted(entrymod.queries().keys())


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_query_matches_duckdb(spark, ddb, name):
    q = entrymod.queries()[name]
    sql = entrymod.oracle_sql()[name]
    spark_pdf = q(spark, SF_DIR).toPandas()
    duck_pdf = ddb.execute(sql).df()
    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), (
        f"{name}: columns {sorted(spark_pdf.columns)} vs {sorted(duck_pdf.columns)}"
    )
    assert len(spark_pdf) == len(duck_pdf), (
        f"{name}: rows {len(spark_pdf)} vs {len(duck_pdf)}"
    )
    s, d = _normalize(spark_pdf), _normalize(duck_pdf)
    mismatches = [(a, b) for a, b in zip(s, d) if a != b][:5]
    assert s == d, f"{name}: first mismatches {mismatches}"


@pytest.mark.parametrize("name", [n for n in ALL_NAMES if n not in ORACLE_NAMES])
def test_rows_only_queries_run(spark, name):
    df = entrymod.queries()[name](spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.columns) > 0


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_q09_subsecond_gap_matches_duckdb(spark, tmp_path):
    """A 1800.5 s gap opens a new session in the DuckDB oracle (epoch() is
    a DOUBLE); q09 must not truncate it to a whole 1800 s."""
    t0 = pd.Timestamp("2024-01-01 00:00:00")
    gaps_s = {1: [0.0, 1800.5, 1800.0], 2: [0.0, 1799.999999, 1800.000001]}
    rows = []
    for user, gaps in gaps_s.items():
        ts = t0
        for gap in gaps:
            ts = ts + pd.Timedelta(microseconds=round(gap * 1e6))
            rows.append({"event_id": len(rows), "ts": ts, "user_id": user})
    events = pd.DataFrame(rows)
    events["ts"] = events["ts"].astype("datetime64[us]")
    path = tmp_path / "events.parquet"
    events.to_parquet(path, index=False)

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
    duck_pdf = con.execute(entrymod.oracle_sql()["q09_sessionize"]).df()
    spark_pdf = entrymod.queries()["q09_sessionize"](spark, str(tmp_path)).toPandas()
    assert _normalize(spark_pdf) == _normalize(duck_pdf)
    sessions = dict(zip(spark_pdf["user_id"], spark_pdf["n_sessions"]))
    assert sessions == {1: 2, 2: 2}
