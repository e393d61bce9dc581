"""Seeded reference-native text and its DuckDB oracle.

``write_store_text`` emits ``store_sales.dat`` (23 pipe-delimited fields)
and ``store.dat`` (29 fields) in the layout of
``hadoop_hive_analysis_spark/sources/store_sales_gen.py``: fields 0, 2, 7,
10 and 22 carry the date, item, store, quantity and net profit, the rest
are empty, and about 1.5% of rows fall in the three CS346 Fig.-2 dirty
classes (empty store key, unparsable profit, short row with missing
delimiters). Every value and the dirty class come from DuckDB's ``hash``
of the row id salted with the seed, so one seed names one input set.

``oracle_answers`` computes the four reference top-K answers from the same
files with an all-VARCHAR read plus ``TRY_CAST``: an empty, unparsable or
missing field becomes NULL, which is the PERMISSIVE/Hive semantics the
engine's ``sources.csv`` reader implements.
"""

from __future__ import annotations

import os
from decimal import Decimal

import duckdb

TEXT_ROWS = 400_000
N_STORES = 60
N_ITEMS = 18_000
DATE_LO = 2_451_000
DATE_HI = 2_452_000
N_DATES = 1_400
K = 10
N_PARTS = 8
N_STORE_FIELDS = 29


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 4")
    return con


def _line_sql(seed: int, lo: int, hi: int) -> str:
    fields = [
        "date_sk", "''", "item_sk", "''", "''", "''", "''", "store_sk",
        "''", "''", "qty", *(["''"] * 11), "profit",
    ]
    return f"""
        WITH r AS (
            SELECT hash(i, {seed}) AS h, hash(i, {seed}, 'dirty') % 1000 AS d
            FROM range({lo}, {hi}) t(i)
        ), f AS (
            SELECT d,
                   ({DATE_LO - 200} + h % {N_DATES})::VARCHAR AS date_sk,
                   ((h >> 11) % {N_ITEMS})::VARCHAR AS item_sk,
                   CASE WHEN d < 5 THEN ''
                        ELSE ((h >> 26) % {N_STORES})::VARCHAR END AS store_sk,
                   (1 + (h >> 32) % 100)::VARCHAR AS qty,
                   ((h >> 40) % 20000)::BIGINT - 5000 AS cents
            FROM r
        )
        SELECT CASE
            WHEN d BETWEEN 10 AND 14 THEN concat_ws('|', date_sk, 'x', 'y')
            ELSE concat_ws('|', {", ".join(fields)})
        END AS line
        FROM (
            SELECT *, CASE WHEN d BETWEEN 5 AND 9 THEN 'not-a-number'
                           ELSE printf('%s%d.%02d', CASE WHEN cents < 0 THEN '-'
                                       ELSE '' END, abs(cents) // 100,
                                       abs(cents) % 100) END AS profit
            FROM f
        )
    """


def _copy(con, sql: str, path: str) -> None:
    con.execute(
        f"COPY ({sql}) TO '{path}' "
        "(FORMAT csv, HEADER false, DELIMITER '\t', QUOTE '', ESCAPE '')"
    )


def write_store_text(out_dir: str, seed: int) -> tuple[str, str]:
    """Write the two text tables (``TEXT_ROWS`` sales rows) under
    ``out_dir``; return their paths."""
    sales = os.path.join(out_dir, "store_sales.dat")
    store = os.path.join(out_dir, "store.dat")
    os.makedirs(sales, exist_ok=True)
    os.makedirs(store, exist_ok=True)
    con = _connect()
    try:
        step = -(-TEXT_ROWS // N_PARTS)
        for p, lo in enumerate(range(0, TEXT_ROWS, step)):
            hi = min(lo + step, TEXT_ROWS)
            _copy(con, _line_sql(seed, lo, hi), os.path.join(sales, f"part-{p:05d}.txt"))
        # Five stores beyond the sales key space (the COALESCE path) and
        # every third store without an employee count (dropped by Q2).
        emp = (
            f"CASE WHEN i % 3 = 2 THEN '' "
            f"ELSE (50 + hash(i, {seed}, 'store') % 500)::VARCHAR END"
        )
        blanks = ", ".join(["''"] * (N_STORE_FIELDS - 7))
        _copy(
            con,
            f"SELECT concat_ws('|', i::VARCHAR, '', '', '', '', '', {emp}, "
            f"{blanks}) FROM range({N_STORES + 5}) t(i)",
            os.path.join(store, "part-00000.txt"),
        )
    finally:
        con.close()
    return sales, store


def _typed_view(
    con, name: str, path: str, n_fields: int, casts: dict[int, tuple[str, str]]
) -> None:
    cols = ", ".join(f"'c{i}': 'VARCHAR'" for i in range(n_fields))
    sel = ", ".join(f"TRY_CAST(c{i} AS {t}) AS {c}" for i, (c, t) in casts.items())
    con.execute(
        f"CREATE VIEW {name} AS SELECT {sel} FROM read_csv('{path}/*.txt', "
        "delim='|', header=false, quote='', escape='', auto_detect=false, "
        f"null_padding=true, columns={{{cols}}})"
    )


ORACLE_SQL = {
    "q1a": f"""
        SELECT ss_store_sk, SUM(ss_net_profit) FROM store_sales
        WHERE ss_sold_date_sk BETWEEN {DATE_LO} AND {DATE_HI}
          AND ss_store_sk IS NOT NULL AND ss_net_profit IS NOT NULL
        GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT {K}""",
    "q1b": f"""
        SELECT ss_item_sk, SUM(ss_quantity) FROM store_sales
        WHERE ss_sold_date_sk BETWEEN {DATE_LO} AND {DATE_HI}
          AND ss_item_sk IS NOT NULL
        GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT {K}""",
    "q1c": f"""
        SELECT ss_sold_date_sk, SUM(ss_net_profit) FROM store_sales
        WHERE ss_sold_date_sk BETWEEN {DATE_LO} AND {DATE_HI}
        GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT {K}""",
    "q2": f"""
        SELECT s.s_store_sk, COALESCE(a.p, 0), s.s_number_employees
        FROM (SELECT ss_store_sk, SUM(ss_net_profit) AS p FROM store_sales
              WHERE ss_sold_date_sk BETWEEN {DATE_LO} AND {DATE_HI}
                AND ss_store_sk IS NOT NULL GROUP BY 1) a
        RIGHT JOIN store s ON a.ss_store_sk = s.s_store_sk
        WHERE s.s_number_employees IS NOT NULL
        ORDER BY 1 LIMIT {K}""",
}


def canon(rows) -> list[tuple]:
    """Ordered rows with every number as an exact ``Decimal``."""
    return [
        tuple(None if v is None else Decimal(str(v)) for v in row) for row in rows
    ]


def oracle_answers(sales: str, store: str) -> dict[str, list[tuple]]:
    """The four reference answers over the text at ``sales``/``store``."""
    con = _connect()
    try:
        _typed_view(con, "store_sales", sales, 23, {
            0: ("ss_sold_date_sk", "BIGINT"), 2: ("ss_item_sk", "BIGINT"),
            7: ("ss_store_sk", "BIGINT"), 10: ("ss_quantity", "INTEGER"),
            22: ("ss_net_profit", "DECIMAL(7,2)"),
        })
        _typed_view(con, "store", store, N_STORE_FIELDS, {
            0: ("s_store_sk", "BIGINT"), 6: ("s_number_employees", "INTEGER"),
        })
        return {q: canon(con.execute(sql).fetchall()) for q, sql in ORACLE_SQL.items()}
    finally:
        con.close()
