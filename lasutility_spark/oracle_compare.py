"""Oracle-comparison helpers used by tests/test_oracle_parity.py — ONE
definition of the normalization contract (NULL/NaN/bool/float repr,
sorted-by-column-name tuple ordering) that mirrors the grading driver's
compare."""

from __future__ import annotations

import math


def norm_value(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    return str(v)


def rows_spark(df):
    return sorted(
        tuple(norm_value(row[c]) for c in sorted(df.columns))
        for row in df.collect()
    )


def rows_duck(con, sql):
    res = con.sql(sql)
    cols = res.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_value(r[i]) for i in order) for r in res.fetchall())
