"""Spark-vs-DuckDB comparison shared by the degenerate-input gates
(tests/test_{empty,nulls,extreme,duplicates,dates}_inputs.py): run a
registered query on a fixture directory, run its oracle through DuckDB
views over the same parquet files, and compare both result sets under
one normalization."""

from __future__ import annotations

import math

import duckdb

import __spark_entry__ as entrymod

TABLES = (
    "region nation customer supplier part orders lineitem events"
    " documents embeddings"
).split()


def norm(rows, cols):
    """Rows as sorted tuples of tagged values, columns in name order:
    floats rounded to 9 dp with NaN and ±inf tagged apart, midnight
    datetimes truncated to their date (DuckDB DATE columns fetch as
    midnight timestamps, Spark returns dates), NULL last."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def nv(v):
        if v is None:
            return (2,)
        if isinstance(v, float):
            if math.isnan(v):
                return (1,)
            if math.isinf(v):
                return (3, v > 0)
            return (0, round(v, 9))
        if hasattr(v, "isoformat"):
            iso = v.isoformat()
            return (0, iso[:10] if iso.endswith("T00:00:00") else iso)
        return (0, v)

    return sorted(tuple(nv(r[i]) for i in order) for r in rows)


def assert_matches_oracle(spark, fixture_dir: str, name: str) -> None:
    """Query ``name`` on ``fixture_dir`` equals its DuckDB oracle."""
    sdf = entrymod.queries()[name](spark, fixture_dir)
    srows = norm([tuple(r) for r in sdf.collect()], sdf.columns)
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM '{fixture_dir}/{t}.parquet'"
            )
        res = con.sql(entrymod.oracle_sql()[name])
        drows = norm(res.fetchall(), list(res.columns))
    finally:
        con.close()
    assert srows == drows
