"""Output checks: registry results against their DuckDB oracles, and the
medallion zones against totals DuckDB reads from the generated CSVs.

Registry results are compared exactly the way ``tools/check_oracle.py``
compares them: sorted column names, row count and ``value_hash`` over
``_norm_cell``. Both functions are imported from that file, so the
benchmark cannot drift from the repository's gate. DuckDB sums of
integer columns arrive as HUGEINT or DECIMAL, and ``_norm_cell`` renders
them with ``str`` exactly as the gate does.
"""

from __future__ import annotations

import glob
import os
import sys
from dataclasses import dataclass

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from check_oracle import value_hash  # noqa: E402

from bootcamp_stackacademy_datalake_minio_airflow_spark.catalog import (  # noqa: E402
    TESTDATA_TABLES,
)
from bootcamp_stackacademy_datalake_minio_airflow_spark.schemas import (  # noqa: E402
    OLIST_SCHEMAS,
    PAYMENT_TYPES,
)
from bootcamp_stackacademy_datalake_minio_airflow_spark.plans.vendas import (  # noqa: E402
    VENDAS_RENAMES,
)


@dataclass(frozen=True)
class Expected:
    columns: tuple[str, ...]
    rows: int
    digest: str


def result_digest(columns: list[str], rows: list[tuple]) -> Expected:
    order = [columns.index(c) for c in sorted(columns)]
    return Expected(tuple(sorted(columns)), len(rows), value_hash(rows, order))


def check_result(expected: Expected, columns: list[str], rows: list[tuple]) -> str | None:
    """None when the result matches, else what differs."""
    got = result_digest(columns, rows)
    if got.columns != expected.columns:
        return f"columns {list(got.columns)} != {list(expected.columns)}"
    if got.rows != expected.rows:
        return f"rows {got.rows} != {expected.rows}"
    if got.digest != expected.digest:
        return f"value hash {got.digest} != {expected.digest}"
    return None


def _connect(tmp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    con.execute("SET threads = 2")
    return con


def oracle_expectations(lake: str, sqls: dict[str, str], tmp_dir: str) -> dict[str, Expected]:
    """Run each oracle SQL on DuckDB over ``lake`` and digest its result."""
    con = _connect(tmp_dir)
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{lake}/{t}.parquet'")
    out = {}
    for name, sql in sqls.items():
        res = con.execute(sql)
        out[name] = result_digest([d[0] for d in res.description], res.fetchall())
    con.close()
    return out


# --- medallion -----------------------------------------------------------

_DUCK_TYPES = {
    "StringType()": "VARCHAR", "IntegerType()": "INTEGER",
    "DoubleType()": "DOUBLE", "TimestampType()": "TIMESTAMP",
}
GOLD_SUM_COLUMNS = ("VALOR_VENDA", "FRETE", *(VENDAS_RENAMES[t] for t in PAYMENT_TYPES))


def _csv(path: str, table: str) -> str:
    cols = ", ".join(
        f"'{f.name}': '{_DUCK_TYPES[repr(f.dataType)]}'" for f in OLIST_SCHEMAS[table].fields
    )
    return (
        f"read_csv('{path}/bronze/olist/{table}/*.csv', header=true, quote='\"', "
        f"escape='\"', columns={{{cols}}}, timestampformat='%Y-%m-%d %H:%M:%S')"
    )


def bronze_counts(base: str, tables, tmp_dir: str) -> dict[str, int]:
    """Rows per table as DuckDB parses the bronze CSVs."""
    con = _connect(tmp_dir)
    out = {t: con.execute(f"SELECT count(*) FROM {_csv(base, t)}").fetchone()[0] for t in tables}
    con.close()
    return out


def expected_gold(base: str, tmp_dir: str) -> dict[str, float]:
    """Gold row count and column sums for the bronze facts under ``base``:
    one gold row per order item, whose payment columns hold the order's
    pivoted payment sums. The dimension joins are left joins on unique
    keys, so they change no count and no sum."""
    pay_cols = ", ".join(
        f"SUM(CASE WHEN payment_type = '{t}' THEN payment_value END) AS \"{VENDAS_RENAMES[t]}\""
        for t in PAYMENT_TYPES
    )
    sums = ", ".join(f'SUM(COALESCE("{c}", 0))' for c in GOLD_SUM_COLUMNS)
    con = _connect(tmp_dir)
    row = con.execute(f"""
        WITH pay AS (
          SELECT order_id, {pay_cols} FROM {_csv(base, 'order_payments')} GROUP BY order_id),
        items AS (
          SELECT order_id, price AS "VALOR_VENDA", freight_value AS "FRETE"
          FROM {_csv(base, 'order_items')})
        SELECT count(*), {sums} FROM items LEFT JOIN pay USING (order_id)
    """).fetchone()
    con.close()
    return dict(zip(("rows", *GOLD_SUM_COLUMNS), row))


def parquet_rows(table_dir: str, tmp_dir: str) -> int:
    con = _connect(tmp_dir)
    n = con.execute(f"SELECT count(*) FROM read_parquet('{table_dir.rstrip('/')}/*.parquet')").fetchone()[0]
    con.close()
    return n


def gold_totals(gold: str, tmp_dir: str) -> dict[str, float]:
    sums = ", ".join(f'SUM("{c}")' for c in GOLD_SUM_COLUMNS)
    con = _connect(tmp_dir)
    row = con.execute(
        f"SELECT count(*), {sums} FROM read_parquet('{gold}/*/*.parquet', hive_partitioning=true)"
    ).fetchone()
    con.close()
    return dict(zip(("rows", *GOLD_SUM_COLUMNS), row))


def check_totals(expected: dict[str, float], got: dict[str, float]) -> str | None:
    """Row counts equal and every sum equal to the cent."""
    if got["rows"] != expected["rows"]:
        return f"gold rows {got['rows']} != {expected['rows']}"
    for c in GOLD_SUM_COLUMNS:
        if abs((got[c] or 0.0) - (expected[c] or 0.0)) >= 0.005:
            return f"gold sum {c} {got[c]!r} != {expected[c]!r}"
    return None


def files_under(root: str) -> dict[str, tuple[int, int, int]]:
    """Data files under ``root``: path -> (inode, mtime_ns, size). Hidden
    and underscore files (checksums, _SUCCESS markers) are left out."""
    out = {}
    for path in glob.glob(os.path.join(root, "**", "*"), recursive=True):
        name = os.path.basename(path)
        if name.startswith((".", "_")) or not os.path.isfile(path):
            continue
        st = os.stat(path)
        out[path] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return out


def written_since(before: dict, after: dict) -> tuple[int, int]:
    """(bytes, files) of the files in ``after`` that are new or rewritten."""
    new = [v for k, v in after.items() if before.get(k) != v]
    return sum(v[2] for v in new), len(new)
