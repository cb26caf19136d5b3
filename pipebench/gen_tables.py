"""Seeded generator of the core catalog's input tables.

Writes region, nation, customer, orders, lineitem, events and documents
as single-file parquet, with the column names and value shapes of the
repo's testdata tables (TESTDATA.md), at a chosen scale factor. The
timestamps (events.ts, o_orderdate, l_shipdate) are TIMESTAMP(MICROS),
not adjusted to UTC, as the testdata's parquet files hold them, so Spark
reads events.ts as a timestamp and `Tables.events`' branch for
TIMESTAMP(NANOS) files (read as longs under nanosAsLong) is not taken. Every
value is a pure function of (seed, table, row, column): DuckDB's hash()
stands in for a random generator, so the same seed gives the same bytes
whatever the thread count.

Usage: python3 gen_tables.py <out_dir> <seed> [scale]
"""
import os
import sys

import duckdb
import pyarrow.parquet as pq

WORDS = ("batch part spark line column order small sort fast value scan a "
         "hash slow group agg query big filter key window row table stream "
         "merge data join vector customer the shuffle").split()


def u(seed, salt, col="i"):
    """Uniform double in [0, 1) from the hash of (seed, salt, row)."""
    return f"(hash({seed}, '{salt}', {col}) % 1000000007) / 1000000007.0"


def h(seed, salt, mod, col="i"):
    return f"CAST(hash({seed}, '{salt}', {col}) % {mod} AS BIGINT)"


def tables(seed, scale):
    n_cust = max(int(150000 * scale), 10)
    n_ord = max(int(1500000 * scale), 10)
    n_line = max(int(6000000 * scale), 10)
    n_part = max(int(200000 * scale), 10)
    n_supp = max(int(10000 * scale), 10)
    n_ev = max(int(1000000 * scale), 10)
    n_users = max(int(15000 * scale), 10)
    n_docs = max(int(50000 * scale), 10)
    pick = lambda salt, xs: ("([" + ", ".join(f"'{x}'" for x in xs) + "])"
                             f"[1 + {h(seed, salt, len(xs))}]")
    step_us = 30 * 86400 * 1000000 // n_ev
    words = "[" + ", ".join(f"'{w}'" for w in WORDS) + "]"
    return {
        "region": "SELECT CAST(i AS INTEGER) AS r_regionkey, "
                  "(['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'])[1 + i] AS r_name "
                  "FROM range(5) t(i)",
        "nation": "SELECT CAST(i AS INTEGER) AS n_nationkey, 'NATION_' || i AS n_name, "
                  "CAST(i % 5 AS INTEGER) AS n_regionkey FROM range(25) t(i)",
        "customer": f"""
            SELECT CAST(i AS BIGINT) AS c_custkey,
                   'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name,
                   CAST({h(seed, 'cn', 25)} AS INTEGER) AS c_nationkey,
                   round(-999.99 + {u(seed, 'cb')} * 10999.98, 2) AS c_acctbal,
                   {pick('cs', ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'])} AS c_mktsegment
            FROM range({n_cust}) t(i)""",
        "orders": f"""
            SELECT CAST(i AS BIGINT) AS o_orderkey,
                   CAST({h(seed, 'oc', n_cust)} AS BIGINT) AS o_custkey,
                   {pick('os', ['O', 'F', 'P'])} AS o_orderstatus,
                   round(1000 + {u(seed, 'op')} * 499000, 2) AS o_totalprice,
                   CAST(DATE '1995-01-01' + CAST({h(seed, 'od', 2404)} AS INTEGER) AS TIMESTAMP) AS o_orderdate,
                   {pick('oo', ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'])} AS o_orderpriority
            FROM range({n_ord}) t(i)""",
        "lineitem": f"""
            SELECT CAST({h(seed, 'lo', n_ord)} AS BIGINT) AS l_orderkey,
                   CAST({h(seed, 'lp', n_part)} AS BIGINT) AS l_partkey,
                   CAST({h(seed, 'ls', n_supp)} AS BIGINT) AS l_suppkey,
                   CAST(1 + {h(seed, 'ln', 7)} AS INTEGER) AS l_linenumber,
                   CAST(1 + {h(seed, 'lq', 50)} AS DOUBLE) AS l_quantity,
                   round(900 + {u(seed, 'le')} * 104100, 2) AS l_extendedprice,
                   CAST({h(seed, 'ld', 11)} AS DOUBLE) / 100 AS l_discount,
                   CAST({h(seed, 'lt', 9)} AS DOUBLE) / 100 AS l_tax,
                   {pick('lr', ['A', 'N', 'R'])} AS l_returnflag,
                   {pick('lx', ['O', 'F'])} AS l_linestatus,
                   CAST(DATE '1995-01-02' + CAST({h(seed, 'lh', 2498)} AS INTEGER) AS TIMESTAMP) AS l_shipdate
            FROM range({n_line}) t(i)""",
        # ts rises with event_id and never repeats: row i lands inside its
        # own slot [i*step, (i+1)*step) of the 30-day span
        "events": f"""
            SELECT CAST(i AS BIGINT) AS event_id,
                   TIMESTAMP '2024-01-01 00:00:00'
                     + to_microseconds(CAST(i * {step_us} + {h(seed, 'et', step_us)} AS BIGINT)) AS ts,
                   CAST({h(seed, 'eu', n_users)} AS BIGINT) AS user_id,
                   {pick('ey', ['click', 'error', 'purchase', 'signup', 'view'])} AS event_type,
                   round(-50 * ln(1 - {u(seed, 'ev')}), 2) AS value,
                   '{{"k": ' || {h(seed, 'ek', 100)} || '}}' AS props
            FROM range({n_ev}) t(i)""",
        "documents": f"""
            WITH d AS (
              SELECT i, list_transform(range(8 + {h(seed, 'dn', 60)}),
                       j -> {words}[1 + CAST(hash({seed}, 'dw', i, j) % {len(WORDS)} AS BIGINT)]) AS ws
              FROM range({n_docs}) t(i))
            SELECT CAST(i AS BIGINT) AS doc_id,
                   array_to_string(ws, ' ') AS text,
                   {pick('dl', ['en', 'en', 'en', 'de', 'es', 'fr', 'zh'])} AS lang,
                   'src' || (i % 20) AS source,
                   CAST(length(array_to_string(ws, ' ')) AS BIGINT) AS n_chars
            FROM d""",
    }


def generate(out_dir, seed, scale):
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    for name, sql in tables(seed, scale).items():
        pq.write_table(con.sql(sql).arrow(), os.path.join(out_dir, f"{name}.parquet"))
    con.close()


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]),
             float(sys.argv[3]) if len(sys.argv) > 3 else 0.005)
