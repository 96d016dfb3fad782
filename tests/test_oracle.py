"""Correctness gate: every ``__spark_entry__.queries()`` entry that has an
``oracle_sql()`` twin must return the same frame on Spark as the oracle
does on DuckDB over the same parquet tables.

Frames are compared by row count, column-name set and an order-insensitive
value hash (columns sorted by name, rows sorted by their string form).
Floats are compared rounded to 12 decimal places: the gate queries are built
to be bit-identical across engines (DECIMAL aggregation, arithmetic
coordinates), so any difference is a real one.
"""

import hashlib
import math

import duckdb
import pytest

import __spark_entry__ as entry
from nominatim_spark.plans.gate import TABLES

ORACLES = entry.oracle_sql()


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(round(v, 12))
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def _rows(rows, cols):
    """Rows as tuples of normalized values, columns in name order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [tuple(_norm(r[i]) for i in order) for r in rows]


def _frame_hash(rows):
    h = hashlib.sha256()
    for line in sorted("\x1f".join(r) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, sf_dir, duck, name):
    sdf = entry.queries()[name](spark, sf_dir)
    scols = sdf.columns
    srows = _rows(sdf.collect(), scols)
    res = duck.execute(ORACLES[name])
    dcols = [c[0] for c in res.description]
    drows = _rows(res.fetchall(), dcols)

    assert sorted(scols) == sorted(dcols)
    assert len(srows) == len(drows)
    if _frame_hash(srows) != _frame_hash(drows):
        only_s = sorted(set(srows) - set(drows))[:3]
        only_d = sorted(set(drows) - set(srows))[:3]
        pytest.fail(f"value-hash mismatch: spark-only={only_s} "
                    f"duckdb-only={only_d}")
