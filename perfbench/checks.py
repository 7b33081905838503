"""Result comparators and the independent DuckDB references.

A comparison reduces both sides to sorted tuples of normalized values, so
row order and the value types each engine picks (Spark ``long`` vs DuckDB
``HUGEINT``→float, ``Decimal`` vs ``float``, tz-aware vs naive UTC
timestamps) do not matter, while every value still has to match.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math

import duckdb

#: per-sink aggregates recomputed from the raw transcript files with DuckDB
#: SQL, independent of the Spark operators (same statement as the pipeline
#: oracle test in the engine's suite); ``{src}`` is a parquet glob
PIPELINE_SQL = r"""
WITH parsed AS (
  SELECT conv_id, turn_idx, tool, ts,
         regexp_extract(text, 'ns=([a-zA-Z0-9_.$]+)', 1) AS ns,
         regexp_extract(text, 'op:([iudcn])', 1) AS op,
         CAST(strlen(text) AS BIGINT) AS size,
         regexp_extract(text, 'sub:(\S+)', 1) AS sub
  FROM read_parquet({src})
), filtered AS (
  SELECT * FROM parsed WHERE ns NOT LIKE 'config.%'
), unwound AS (
  SELECT conv_id, turn_idx, tool, ts, ns, op, size
  FROM filtered WHERE NOT (op = 'c' AND sub <> '')
  UNION ALL
  SELECT conv_id, turn_idx, tool, ts,
         string_split(u.s, '/')[1] AS ns,
         string_split(u.s, '/')[2] AS op,
         CAST(floor(size / len(string_split(sub, ';'))) AS BIGINT) AS size
  FROM filtered, unnest(string_split(sub, ';')) AS u(s)
  WHERE op = 'c' AND sub <> ''
), routed AS (
  SELECT w.*, coalesce(c.category, 'uncat') AS category
  FROM unwound w LEFT JOIN cat c ON w.tool = c.tool
)
SELECT category, ns, count(*) AS op_count,
       sum(CASE WHEN op='i' THEN 1 ELSE 0 END) AS n_insert,
       sum(CASE WHEN op='u' THEN 1 ELSE 0 END) AS n_update,
       sum(CASE WHEN op='d' THEN 1 ELSE 0 END) AS n_delete,
       sum(CASE WHEN op='c' THEN 1 ELSE 0 END) AS n_command,
       count(DISTINCT conv_id) AS distinct_conv,
       min(ts) AS min_ts, max(ts) AS max_ts, sum(size) AS total_bytes
FROM routed GROUP BY category, ns
"""

#: the tail's cumulative ns::op report recomputed as one batch aggregate
#: over every file landed so far (no applyOps unwind on the tail path)
TAIL_SQL = r"""
WITH parsed AS (
  SELECT regexp_extract(text, 'ns=([a-zA-Z0-9_.$]+)', 1) AS ns,
         regexp_extract(text, 'op:([iudcn])', 1) AS op,
         CAST(strlen(text) AS BIGINT) AS size, ts
  FROM read_parquet({src})
)
SELECT ns, op, count(*) AS count, sum(size) AS total_size,
       min(size) AS min_size, max(size) AS max_size, max(ts) AS latest_ts,
       {buckets}
       CAST(floor(sum(size) / count(*)) AS BIGINT) AS avg_size
FROM parsed WHERE ns NOT LIKE 'config.%' GROUP BY ns, op
"""


def connect(threads: int) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection capped at ``threads`` worker threads."""
    con = duckdb.connect()
    con.execute(f"SET threads = {int(threads)}")
    return con


def _sql_list(paths: list[str]) -> str:
    return "[" + ", ".join("'" + p.replace("'", "''") + "'" for p in paths) + "]"


def pipeline_reference(con, files: list[str], catalog: list[tuple[str, str]]) -> Table:
    """Per-sink aggregates of ``files`` under the tool → category
    ``catalog``."""
    con.execute("CREATE OR REPLACE TEMP TABLE cat(tool VARCHAR, category VARCHAR)")
    con.executemany("INSERT INTO cat VALUES (?, ?)", catalog)
    return fetch(con, PIPELINE_SQL.format(src=_sql_list(files)))


def tail_reference(con, files: list[str], buckets: tuple[int, ...]) -> Table:
    cols = "".join(
        f"sum(CASE WHEN size > {b} THEN 1 ELSE 0 END) AS gt_{b}, " for b in buckets
    )
    return fetch(con, TAIL_SQL.format(src=_sql_list(files), buckets=cols))


class Table:
    """Column names plus rows of plain Python values."""

    def __init__(self, columns: list[str], rows: list[tuple]) -> None:
        self.columns = list(columns)
        self.rows = [tuple(r) for r in rows]


def fetch(con, sql: str) -> Table:
    cur = con.execute(sql)
    return Table([d[0] for d in cur.description], cur.fetchall())


def from_spark(rows: list, columns: list[str]) -> Table:
    return Table(columns, [tuple(r) for r in rows])


def norm_value(v) -> str:
    """Type-insensitive text form of one value: numbers to 9 significant
    digits (floats of exact integers print as integers), timestamps as naive
    UTC ISO text, lists/structs element-wise."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (int, float, decimal.Decimal)) or type(v).__module__ == "numpy":
        try:
            f = float(v)
        except (TypeError, ValueError):
            return str(v)
        if math.isnan(f):
            return "NULL"
        if f == int(f) and abs(f) < 2**53:
            return str(int(f))
        return f"{f:.9g}"
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{norm_value(x)}" for k, x in sorted(v.items())) + "}"
    if hasattr(v, "asDict"):  # pyspark Row (struct column)
        return norm_value(v.asDict())
    return str(v)


def normalize(t: Table) -> tuple[list[str], list[tuple[str, ...]]]:
    """Columns sorted by name; rows re-ordered to match and sorted."""
    order = sorted(range(len(t.columns)), key=lambda i: t.columns[i])
    cols = [t.columns[i] for i in order]
    rows = sorted(tuple(norm_value(r[i]) for i in order) for r in t.rows)
    return cols, rows


def compare(got: Table, want: Table) -> str | None:
    """None when equal as unordered tables, else a one-line reason."""
    gc, gr = normalize(got)
    wc, wr = normalize(want)
    if gc != wc:
        return f"columns {gc} != {wc}"
    if len(gr) != len(wr):
        return f"row count {len(gr)} != {len(wr)}"
    for a, b in zip(gr, wr):
        if a != b:
            return f"first differing row {a} != {b}"
    return None


def fingerprint(t: Table) -> tuple[int, str]:
    """Row count and an order-insensitive digest of the normalized rows."""
    cols, rows = normalize(t)
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(repr(r).encode())
    return len(rows), h.hexdigest()
