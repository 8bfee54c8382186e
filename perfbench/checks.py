"""Output checks, run by ``run.py`` after the workload process ended.

- Oracled queries: DuckDB runs the query's oracle SQL over the same
  generated directory; rows are compared with the package's type-strict
  canonicalizer (``mysql2parquet_spark.canon``), as ``driver_sim`` does.
- Rows-only queries: non-empty, one schema, and one digest across every
  pass of the run and every earlier run of the same seed and source.
- Exports: DuckDB reads the written parquet back and compares column
  names, type classes, row count and an order-insensitive row hash with
  the same SQL run on the source.

``self_check`` plants wrong results; the benchmark refuses to run unless
every check rejects them.
"""

from __future__ import annotations

import hashlib
from decimal import Decimal

_TYPE_CLASS = (
    ("TIMESTAMP", "ts"), ("DATE", "ts"), ("DECIMAL", "decimal"),
    ("DOUBLE", "float"), ("FLOAT", "float"), ("REAL", "float"),
    ("INT", "int"), ("VARCHAR", "str"), ("BOOL", "bool"), ("BLOB", "bytes"),
)


def canon_digest(rows, cols) -> str:
    from mysql2parquet_spark.canon import canon

    return hashlib.sha256("\n".join(canon(rows, cols)).encode()).hexdigest()


def oracle_expectation(con, sql: str) -> dict:
    from mysql2parquet_spark.canon import fetch_oracle_arrow

    cols, rows = fetch_oracle_arrow(con, sql)
    return {"cols": sorted(cols), "rows": len(rows), "digest": canon_digest(rows, cols)}


def check_oracled(sample: dict, want: dict) -> str | None:
    if sorted(sample["cols"]) != want["cols"]:
        return f"columns {sorted(sample['cols'])} != oracle {want['cols']}"
    if sample["rows"] != want["rows"]:
        return f"{sample['rows']} rows != oracle {want['rows']}"
    if sample["digest"] != want["digest"]:
        return "values differ from the oracle"
    return None


def check_rows_only(samples: list[dict], earlier: str | None) -> dict[int, str]:
    """Failures by sample index: empty output, a schema or digest that
    differs from the first sample, or from an earlier run's digest."""
    bad = {}
    if not samples:
        return bad
    ref = samples[0]
    for i, s in enumerate(samples):
        if s["rows"] == 0:
            bad[i] = "empty output"
        elif (s["cols"], s["types"]) != (ref["cols"], ref["types"]):
            bad[i] = f"schema {s['cols']} {s['types']} changed between passes"
        elif s["digest"] != ref["digest"]:
            bad[i] = "digest changed between passes"
        elif earlier is not None and s["digest"] != earlier:
            bad[i] = "digest differs from an earlier run of this seed and source"
    return bad


def _type_class(duck_type: str) -> str:
    t = duck_type.upper()
    for prefix, cls in _TYPE_CLASS:
        if prefix in t:
            return cls
    return t


# A JDBC driver that declares a column unsigned makes Spark widen it
# (BIGINT -> DECIMAL(20,0), INTEGER -> BIGINT, ...). The DuckDB JDBC driver
# declares every column unsigned (ResultSetMetaData.isSigned is false).
_UNSIGNED_WIDENING = {
    "TINYINT": "SMALLINT", "SMALLINT": "INTEGER", "INTEGER": "BIGINT",
    "BIGINT": "DECIMAL(20,0)",
}


def declared_unsigned(con, rel: str) -> str:
    """``rel`` with the column types an all-unsigned JDBC declaration of
    it maps to in Spark."""
    cols = []
    for name, t, *_ in con.execute(f"DESCRIBE {rel}").fetchall():
        wide = _UNSIGNED_WIDENING.get(t.upper())
        cols.append(f'CAST("{name}" AS {wide}) AS "{name}"' if wide else f'"{name}"')
    return f"SELECT {', '.join(cols)} FROM ({rel})"


def _fingerprint(con, rel: str) -> tuple[dict, int, str]:
    desc = con.execute(f"DESCRIBE {rel}").fetchall()
    types = {name: _type_class(t) for name, t, *_ in desc}
    exprs = []
    for name in sorted(types):
        c = f'"{name}"'
        cls = types[name]
        if cls == "float":
            c = f"round({c}, 6)"
        elif cls == "ts":
            c = f"CAST({c} AS TIMESTAMP)"
        elif cls == "int":
            c = f"CAST({c} AS BIGINT)"
        exprs.append(c)
    n, h = con.execute(
        f"SELECT count(*), CAST(sum(hash({', '.join(exprs)})) AS VARCHAR) FROM ({rel})"
    ).fetchone()
    return types, n, h


def check_export(con, written: str, expected: str) -> str | None:
    """``written`` and ``expected`` are DuckDB relations (SQL text)."""
    got_t, got_n, got_h = _fingerprint(con, written)
    want_t, want_n, want_h = _fingerprint(con, expected)
    if got_t != want_t:
        return f"columns/types {got_t} != source {want_t}"
    if got_n != want_n:
        return f"{got_n} rows != source {want_n}"
    if got_h != want_h:
        return "row hash differs from the source"
    return None


def self_check() -> list[str]:
    """Plant wrong results; return the checks that failed to reject one."""
    import duckdb

    missed = []
    cols = ["o_orderstatus", "total"]
    good = [("F", 1233170551.74), ("O", 2.5)]
    want = {"cols": sorted(cols), "rows": 2, "digest": canon_digest(good, cols)}
    planted = {
        "decimal-vs-float": [("F", Decimal("1233170551.74")), ("O", 2.5)],
        "wrong value": [("F", 1233170551.75), ("O", 2.5)],
        "missing row": [("F", 1233170551.74)],
    }
    if check_oracled({"cols": cols, "rows": 2, "digest": want["digest"]}, want):
        missed.append("oracle check rejects a correct result")
    for name, rows in planted.items():
        s = {"cols": cols, "rows": len(rows), "digest": canon_digest(rows, cols)}
        if check_oracled(s, want) is None:
            missed.append(f"oracle check accepts planted {name}")
    s = {"cols": cols, "types": ["string", "double"], "rows": 2}
    if not check_rows_only([{**s, "digest": "a"}, {**s, "digest": "b"}], None):
        missed.append("rows-only check accepts a changed digest")
    if not check_rows_only([{**s, "digest": "a"}], "b"):
        missed.append("rows-only check accepts a digest unlike an earlier run")
    con = duckdb.connect()
    src = "SELECT * FROM (VALUES (1, 'a', 1.5), (2, 'b', 2.5)) t(k, s, v)"
    if check_export(con, src, src):
        missed.append("export check rejects an identical relation")
    for name, rel in {
        "changed value": "SELECT * FROM (VALUES (1, 'a', 1.5), (2, 'b', 2.6)) t(k, s, v)",
        "float key": "SELECT * FROM (VALUES (1.0, 'a', 1.5), (2.0, 'b', 2.5)) t(k, s, v)",
        "dropped row": "SELECT * FROM (VALUES (1, 'a', 1.5)) t(k, s, v)",
    }.items():
        if check_export(con, rel, src) is None:
            missed.append(f"export check accepts planted {name}")
    con.close()
    return missed
