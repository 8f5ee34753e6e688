"""Driver-contract parity: every queries() entry with an oracle_sql()
entry must match DuckDB on row count, schema width, and sorted values —
the same comparison the grading driver performs (at sf0.01; sf0.001 here
to keep the suite fast, plus a smoke of the full entry())."""

import os

import duckdb
import pytest

import __spark_entry__ as entry_mod
from lasutility_spark.oracle_compare import norm_value as _norm
from lasutility_spark.oracle_compare import rows_duck as _rows_duck
from lasutility_spark.oracle_compare import rows_spark as _rows_spark

SF_DIR = "/root/testdata/sf0.001"
TABLES = "region nation customer supplier part orders lineitem".split()


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(SF_DIR, t)}.parquet'"
        )
    return con


ORACLES = entry_mod.oracle_sql()
QUERIES = entry_mod.queries()

# Spark simpleString -> canonical type name; DuckDB type str -> canonical.
# Purpose: catch engine-dependent result types (e.g. DuckDB list_sum ->
# HUGEINT vs Spark aggregate -> BIGINT) that stringified values hide but
# the grading driver's typed hash does not.
_SPARK_CANON = {
    "bigint": "int",
    "int": "int",
    "smallint": "int",
    "tinyint": "int",
    "double": "float",
    "float": "float",
    "string": "str",
    "boolean": "bool",
    "date": "date",
    "timestamp": "ts",
    "timestamp_ntz": "ts",
    "binary": "bin",
}
_DUCK_CANON = {
    "BIGINT": "int",
    "INTEGER": "int",
    "SMALLINT": "int",
    "TINYINT": "int",
    # DuckDB exports HUGEINT/UBIGINT through Arrow as double/uint64 — the
    # value repr the driver hashes changes, so these are NOT int-compatible.
    "HUGEINT": "float",
    "UBIGINT": "uint",
    "DOUBLE": "float",
    "FLOAT": "float",
    "VARCHAR": "str",
    "BOOLEAN": "bool",
    "DATE": "date",
    "TIMESTAMP": "ts",
    "TIMESTAMP WITH TIME ZONE": "ts",
    "BLOB": "bin",
}


def _type_mismatches(sdf, duck_res):
    """Columns whose canonical result type differs between engines.
    Unmapped (complex) types are skipped — value compare still covers them."""
    spark_types = {f.name.lower(): f.dataType.simpleString() for f in sdf.schema.fields}
    out = []
    for col, dtyp in zip(duck_res.columns, duck_res.types):
        s = _SPARK_CANON.get(spark_types.get(col.lower(), ""), None)
        d = _DUCK_CANON.get(str(dtyp), None)
        if s is not None and d is not None and s != d:
            out.append((col, spark_types[col.lower()], str(dtyp)))
    return out


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, ddb, name):
    sdf = QUERIES[name](spark, SF_DIR)
    got = _rows_spark(sdf)
    want = _rows_duck(ddb, ORACLES[name])
    assert len(got) == len(want), f"{name}: row count {len(got)} != {len(want)}"
    res = ddb.sql(ORACLES[name])
    assert sorted(c.lower() for c in sdf.columns) == sorted(
        c.lower() for c in res.columns
    ), f"{name}: column names differ"
    mism = _type_mismatches(sdf, res)
    assert not mism, f"{name}: result types differ (spark vs duckdb): {mism}"
    assert got == want, f"{name}: values differ; first diff: " + str(
        next((a, b) for a, b in zip(got, want) if a != b)
    )


def test_every_query_has_oracle():
    assert set(QUERIES) == set(ORACLES)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"cell_id", "image_id", "n_points"} <= set(df.columns)
