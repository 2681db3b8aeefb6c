"""Local replica of the driver's correctness gate: run each queries()
entry on Spark and its oracle_sql() on DuckDB over the same parquet
tables, compare row count, column set, COLUMN TYPES, and
order-insensitive values.

The type check exists because the driver's value hash is
type-sensitive where stringified comparison is not: round 4's only
red row was a DuckDB HUGEINT (uncast sum()) hashing differently from
Spark's bigint while every stringified value matched.  Types are
taken from ``DESCRIBE <oracle sql>`` and compared against the Spark
schema through an exact map — any DuckDB type outside the map
(HUGEINT, UBIGINT, ...) fails loudly.

Usage: python scripts/compare_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
from datetime import datetime
from pathlib import Path

import duckdb

# this checkout's code, wherever it is cloned (a parent copy compares itself)
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import __spark_entry__ as entrymod  # noqa: E402
from yadex_spark.session import get_spark  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, list):
        return "[" + ",".join(norm(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{norm(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def rowset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(norm(r[i]) for i in idx) for r in rows)


#: Spark simpleString -> the DuckDB type(s) that hash identically in
#: the driver's comparator.  Anything unmapped / unmatched is a FAIL.
_TYPE_MAP = {
    "tinyint": {"TINYINT"},
    "smallint": {"SMALLINT"},
    "int": {"INTEGER"},
    "bigint": {"BIGINT"},
    "float": {"FLOAT"},
    "double": {"DOUBLE"},
    "string": {"VARCHAR"},
    "boolean": {"BOOLEAN"},
    "date": {"DATE"},
    "timestamp": {"TIMESTAMP", "TIMESTAMP WITH TIME ZONE"},
    # Spark's naive timestamp; session tz is pinned UTC so it compares
    # bit-equal to DuckDB's (UTC-naive) TIMESTAMP
    "timestamp_ntz": {"TIMESTAMP"},
    "binary": {"BLOB"},
}


def _duck_type_ok(spark_t: str, duck_t: str) -> bool:
    if spark_t.startswith("decimal"):
        return duck_t.replace(" ", "") == spark_t.upper().replace(" ", "")
    if spark_t.startswith("array<"):
        inner = spark_t[len("array<"):-1]
        return duck_t.endswith("[]") and _duck_type_ok(inner, duck_t[:-2])
    return duck_t in _TYPE_MAP.get(spark_t, set())


def check_types(df, con, sql):
    """[(col, spark_type, duck_type)] for every type-incompatible col."""
    duck = {
        r[0]: r[1]
        for r in con.execute(f"DESCRIBE {sql}").fetchall()
    }
    bad = []
    for f in df.schema.fields:
        dt = duck.get(f.name)
        st = f.dataType.simpleString()
        if dt is not None and not _duck_type_ok(st, dt):
            bad.append((f.name, st, dt))
    return bad


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    # no console progress bar: it shares the terminal line with the verdicts
    spark = get_spark("compare-oracle", cpus=8, shuffle_partitions=8,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sql = oracles.get(name)
        try:
            df = fn(spark, sf)
            srows = df.collect()
            scols = df.columns
        except Exception as ex:
            print(f"FAIL {name}: spark error {ex}")
            failures += 1
            continue
        if sql is None:
            print(f"ok?  {name}: rows-only check, {len(srows)} rows")
            continue
        try:
            res = con.execute(sql)
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error {ex}")
            failures += 1
            continue
        if sorted(scols) != sorted(dcols):
            print(f"FAIL {name}: columns spark={sorted(scols)} duck={sorted(dcols)}")
            failures += 1
            continue
        badtypes = check_types(df, con, sql)
        if badtypes:
            print(f"FAIL {name}: type mismatch (col, spark, duck): {badtypes}")
            failures += 1
            continue
        if len(srows) != len(drows):
            print(f"FAIL {name}: rowcount spark={len(srows)} duck={len(drows)}")
            failures += 1
            continue
        a, b = rowset(scols, [tuple(r) for r in srows]), rowset(dcols, drows)
        if a != b:
            bad = [(x, y) for x, y in zip(a, b) if x != y][:3]
            print(f"FAIL {name}: value mismatch, first diffs: {bad}")
            failures += 1
        else:
            print(f"PASS {name}: {len(srows)} rows")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
