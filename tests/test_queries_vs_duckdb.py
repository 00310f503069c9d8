"""Driver-contract replica: run every oracled query in Spark AND DuckDB on
the same parquet, compare row count + column names + order-insensitive
values (the CORRECTNESS_r{N}.json gate, __spark_entry__.py docstring)."""

import math
import os

import duckdb
import pytest

from gtfs_conflation_pipeline_spark.plans.queries import ORACLE_SQL, QUERIES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def canon(val):
    if val is None:
        return "NULL"
    if isinstance(val, float):
        if math.isnan(val):
            return "NaN"
        if val == int(val) and abs(val) < 1e15:
            return str(int(val))
        return f"{val:.6g}"
    if isinstance(val, bool):
        return str(int(val))
    return str(val)


def rows_canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


@pytest.mark.parametrize("name", sorted(ORACLE_SQL))
def test_query_matches_oracle(name, spark, duck):
    sdf = QUERIES[name](spark, SF_DIR)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]
    res = duck.execute(ORACLE_SQL[name])
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()
    assert sorted(s_cols) == sorted(d_cols), f"{name}: columns {s_cols} vs {d_cols}"
    assert len(s_rows) == len(d_rows), f"{name}: rows {len(s_rows)} vs {len(d_rows)}"
    sc = rows_canon(s_cols, s_rows)
    dc = rows_canon(d_cols, d_rows)
    if sc != dc:
        diffs = [(a, b) for a, b in zip(sc, dc) if a != b][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")


@pytest.mark.parametrize(
    "name", sorted(set(QUERIES) - set(ORACLE_SQL) - {"tile_assignments"})
)
def test_rows_only_queries_run(name, spark):
    df = QUERIES[name](spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.columns) > 0


def test_sig_ckpt_reads_through_the_callers_session(spark):
    """A `_sig_ckpt` query run off the thread that built the session, with
    a second session alive, reads its signature table through the caller's
    session: `SparkSession.getActiveSession()` is None on such a thread."""
    import threading

    other = spark.newSession()
    out = {}

    def run():
        try:
            df = QUERIES["phash_neardup"](spark, SF_DIR)
            out["session"], out["rows"] = df.sparkSession, df.count()
        except Exception as e:  # surfaced by the assertion below
            out["error"] = e

    t = threading.Thread(target=run)
    t.start()
    t.join()
    assert "error" not in out, out.get("error")
    assert out["session"] is spark and out["session"] is not other
    assert out["rows"] > 0
