"""Result comparison outside Spark.

Both sides arrive as Arrow tables (the engine's result via
``DataFrame.toArrow``, the oracle from DuckDB or pyarrow) and are
compared as multisets in DuckDB after the normalization the
repository's oracle gate applies: numbers rounded to six decimals,
timestamps to microseconds in UTC, columns matched by name.
"""

from __future__ import annotations

import pyarrow as pa


def _norm_expr(name: str, typ: pa.DataType) -> str:
    col = '"' + name.replace('"', '""') + '"'
    if pa.types.is_floating(typ) or pa.types.is_decimal(typ):
        return f"CAST(round(CAST({col} AS DOUBLE), 6) AS VARCHAR)"
    if pa.types.is_timestamp(typ):
        return f"strftime(CAST({col} AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f')"
    return f"CAST({col} AS VARCHAR)"


def compare(got: pa.Table, want: pa.Table) -> list[str]:
    """Empty when ``got`` equals ``want`` as a multiset of normalized
    rows (row count plus the sum of per-row hashes); otherwise the
    differences found."""
    import duckdb

    cols = sorted(got.column_names)
    if cols != sorted(want.column_names):
        return [f"columns {cols} != {sorted(want.column_names)}"]
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        sums = []
        for side, table in (("got", got), ("want", want)):
            con.register(side, table)
            exprs = ", ".join(_norm_expr(c, table.schema.field(c).type) for c in cols)
            sums.append(
                con.execute(
                    f"SELECT count(*), sum(hash(row({exprs}))::HUGEINT) FROM {side}"
                ).fetchone()
            )
    finally:
        con.close()
    problems = []
    if sums[0][0] != sums[1][0]:
        problems.append(f"rows {sums[0][0]} != {sums[1][0]}")
    elif sums[0][1] != sums[1][1]:
        problems.append("row values differ")
    return problems


def drop_one_row(table: pa.Table) -> pa.Table:
    """A deliberately wrong oracle, for the gate's self-test."""
    return table.slice(1) if table.num_rows else table
