"""Output checks: engine warehouse vs DuckDB over the same source rows,
and operator queries vs their ``oracle_sql()``.

Every check returns a list of problem strings; an empty list passes.
"""

from __future__ import annotations

import math
import os

import duckdb

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
UNKNOWN = "__UNKNOWN_VAL__"


def duck(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _canon(v):
    return "NaN" if isinstance(v, float) and math.isnan(v) else v


def _rows(cols, rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_canon(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda r: tuple(str(x) for x in r))


def _diff(label: str, got: list[tuple], want: list[tuple]) -> list[str]:
    if len(got) != len(want):
        return [f"{label}: {len(got)} rows, expected {len(want)}"]
    bad = [(g, w) for g, w in zip(got, want) if g != w]
    return [f"{label}: {len(bad)} rows differ, e.g. {bad[0][0]} != {bad[0][1]}"
            ] if bad else []


# --- operator queries --------------------------------------------------------


def query_matches_oracle(name: str, df, con, sql: str) -> list[str]:
    """Exact, order-insensitive cell comparison of a query's result with
    its DuckDB oracle (the comparison ``verify_local.py`` makes)."""
    tbl = con.execute(sql).arrow()
    want_cols = list(tbl.column_names)
    if sorted(df.columns) != sorted(want_cols):
        return [f"{name}: columns {sorted(df.columns)} != {sorted(want_cols)}"]
    got = _rows(df.columns, [tuple(r) for r in df.collect()])
    want = _rows(want_cols, list(zip(*(c.to_pylist() for c in tbl.columns))))
    return _diff(name, got, want)


# --- engine warehouse --------------------------------------------------------

# Expected rows per (grain, dimension values) straight from the sources.
ORDERS_EXPECTED = """
SELECT CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS day,
       coalesce(o_custkey, -1) AS o_custkey,
       coalesce(o_orderstatus, '{u}') AS o_orderstatus,
       coalesce(o_orderpriority, '{u}') AS o_orderpriority,
       count(*) AS order_count,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum
FROM orders WHERE o_orderdate < TIMESTAMP '{end}'
GROUP BY ALL
"""

LINEITEM_EXPECTED = """
SELECT CAST(floor(epoch(l.l_shipdate) / 86400) AS BIGINT) AS day,
       coalesce(l.l_returnflag, '{u}') AS l_returnflag,
       coalesce(l.l_linestatus, '{u}') AS l_linestatus,
       coalesce(o.o_custkey, -1) AS o_custkey,
       coalesce(o.o_orderstatus, '{u}') AS o_orderstatus,
       coalesce(o.o_orderpriority, '{u}') AS o_orderpriority,
       CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty_sum,
       count(DISTINCT l.l_partkey) AS part_count
FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate < TIMESTAMP '{end}'
GROUP BY ALL
"""

def _load(con, engine, tables: dict[str, tuple[str, ...]]) -> None:
    """Register each warehouse table in DuckDB under its own name, its
    HLL sketch columns (the tuple) replaced by their Spark estimates."""
    from pyspark.sql import functions as F

    for name, sketches in tables.items():
        df = engine.read_table(name)
        con.register(name, df.select(*[
            F.hll_sketch_estimate(c).alias(c) if c in sketches else F.col(c)
            for c in df.columns]).toArrow())


def _compare(con, label: str, got: str, want: str, keys: list[str],
             sketch: str | None, rsd: float) -> list[str]:
    """``got`` and ``want`` are queries with the same columns.  All but
    ``sketch`` must match as multisets; ``sketch`` estimates must lie
    within ``APPROX_EPS_MULT`` relative errors of the exact count."""
    from ringo_spark.testbed import APPROX_EPS_MULT

    cols = [d[0] for d in con.execute(f"SELECT * FROM ({want}) LIMIT 0").description
            if d[0] != sketch]
    exact = ", ".join(cols)
    problems = []
    for a, b, side in ((got, want, "unexpected"), (want, got, "missing")):
        bad = con.execute(f"SELECT {exact} FROM ({a}) EXCEPT ALL "
                          f"SELECT {exact} FROM ({b})").fetchall()
        if bad:
            problems.append(f"{label}: {len(bad)} {side} rows, e.g. {bad[0]}")
    if sketch and not problems:
        on = " AND ".join(f"g.{k} IS NOT DISTINCT FROM w.{k}" for k in keys)
        bad = con.execute(
            f"SELECT g.{sketch}, w.{sketch} FROM ({got}) g JOIN ({want}) w ON {on} "
            f"WHERE abs(g.{sketch} - w.{sketch}) > "
            f"greatest({APPROX_EPS_MULT} * {rsd} * w.{sketch}, 2)").fetchall()
        if bad:
            problems.append(f"{label}.{sketch}: {len(bad)} estimates outside "
                            f"±{APPROX_EPS_MULT}ε, e.g. {bad[0]}")
    return problems


def check_orders(engine, con, end: str) -> list[str]:
    _load(con, engine, {"fact_orders_by_day": (), "dim_order_status": (),
                        "dim_order_priority": (), "dim_line_status": (),
                        "fact_lineitem_by_day": ("part_count",)})
    rsd = engine.env.settings.fact_count_distinct_error_rate
    orders = """
        SELECT f.o_orderdate_day_id AS day, f.o_custkey, s.o_orderstatus,
               p.o_orderpriority, f.order_count,
               CAST(f.price_sum AS DOUBLE) AS price_sum
        FROM fact_orders_by_day f
        LEFT JOIN dim_order_status s ON s.id = f.order_status_id
        LEFT JOIN dim_order_priority p ON p.id = f.order_priority_id"""
    lines = """
        SELECT f.l_shipdate_day_id AS day, l.l_returnflag, l.l_linestatus,
               f.o_custkey, s.o_orderstatus, p.o_orderpriority,
               CAST(f.qty_sum AS DOUBLE) AS qty_sum, f.part_count
        FROM fact_lineitem_by_day f
        LEFT JOIN dim_line_status l ON l.id = f.line_status_id
        LEFT JOIN dim_order_status s ON s.id = f.order_status_id
        LEFT JOIN dim_order_priority p ON p.id = f.order_priority_id"""
    return (_compare(con, "fact_orders_by_day", orders,
                     ORDERS_EXPECTED.format(u=UNKNOWN, end=end), [], None, rsd)
            + _compare(con, "fact_lineitem_by_day", lines,
                       LINEITEM_EXPECTED.format(u=UNKNOWN, end=end),
                       ["day", "l_returnflag", "l_linestatus", "o_custkey",
                        "o_orderstatus", "o_orderpriority"], "part_count", rsd))


def corrupt_one_fact_row(live_dir: str, column: str) -> None:
    """Add one to ``column`` in the first row of the first data file
    under ``live_dir`` (shows that the check catches a corrupted row)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = sorted(os.path.join(r, f) for r, _, fs in os.walk(live_dir)
                  for f in fs if f.endswith(".parquet"))[0]
    tbl = pq.read_table(path)
    i = tbl.schema.get_field_index(column)
    vals = tbl[column].to_pylist()
    vals[0] += 1
    pq.write_table(tbl.set_column(i, column, pa.array(vals, tbl.schema.field(i).type)),
                   path)
    # the local filesystem's checksum sidecar would reject the edited file
    crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
    if os.path.exists(crc):
        os.remove(crc)
