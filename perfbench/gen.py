"""Seeded input generator for the benchmark's catalog workloads.

Writes the ten catalog tables (`region` .. `embeddings`) as parquet with the
column names, types and value distributions of the repo's TPC-H-shaped test
tables (FIXTURES.md). Every value is a hash of (seed, row, column), so the same
seed and scale give byte-identical files, and DuckDB reads the same files as
the oracle.
"""
import os

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]


def sizes(sf):
    """Row counts per table at scale factor `sf` (sf 0.1 = 600k lineitem)."""
    n = lambda base: max(10, int(base * sf))
    return {"customer": n(150_000), "supplier": n(10_000), "part": n(200_000),
            "orders": n(1_500_000), "lineitem": n(6_000_000),
            "events": n(1_000_000), "documents": n(50_000),
            "embeddings": n(20_000)}


def _sql(seed, rows):
    """(setup statements, {table: SELECT}) for one seed and set of sizes."""
    def u(c, row="i"):  # uniform [0, 1) from 53 bits of a per-cell hash
        return f"((hash({seed}, {row}, '{c}') >> 11) / 9007199254740992.0)"

    def k(c, m, row="i"):  # uniform integer in [0, m)
        return f"CAST(hash({seed}, {row}, '{c}') % {m} AS BIGINT)"

    def pick(c, xs, row="i"):
        return f"(ARRAY[{', '.join(repr(x) for x in xs)}])[{k(c, len(xs), row)} + 1]"

    def r(t):
        return f"FROM range({rows[t]}) t(i)"

    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    setup = [
        "CREATE TEMP TABLE words AS SELECT generate_subscripts(l, 1) - 1 AS k,"
        f" unnest(l) AS w FROM (SELECT {WORDS!r} AS l)",
        f"""CREATE TEMP TABLE doc_words AS
        SELECT i, string_agg(w, ' ' ORDER BY j) AS text FROM (
          SELECT i, unnest(range(10 + {k('n', 90)})) AS j {r('documents')}) x
        JOIN words ON k = CAST(hash({seed}, i, j, 'w') % {len(WORDS)} AS BIGINT)
        GROUP BY i"""]
    tables = {
        "region": """SELECT CAST(i AS INTEGER) r_regionkey,
            (ARRAY['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'])[i + 1] r_name
            FROM range(5) t(i)""",
        "nation": """SELECT CAST(i AS INTEGER) n_nationkey, 'NATION_' || i n_name,
            CAST(i % 5 AS INTEGER) n_regionkey FROM range(25) t(i)""",
        "customer": f"""SELECT i c_custkey,
            'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') c_name,
            CAST({k('n', 25)} AS INTEGER) c_nationkey,
            round(-999.99 + {u('b')} * 10999.98, 2) c_acctbal,
            {pick('m', ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'])}
              c_mktsegment
            {r('customer')}""",
        "supplier": f"""SELECT i s_suppkey,
            'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') s_name,
            CAST({k('n', 25)} AS INTEGER) s_nationkey,
            round(-999.99 + {u('b')} * 10999.98, 2) s_acctbal
            {r('supplier')}""",
        "part": f"""SELECT i p_partkey, {pick('a', adj)} || ' ' || {pick('n', noun)} p_name,
            'Brand#' || ({k('b', 25)} + 1) p_brand,
            {pick('t', ['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL', 'STANDARD'])} p_type,
            CAST({k('s', 50)} + 1 AS INTEGER) p_size,
            CAST(round(900 + (i % 1000) * 0.1, 1) AS DOUBLE) p_retailprice
            {r('part')}""",
        "orders": f"""SELECT i o_orderkey, {k('c', rows['customer'])} o_custkey,
            {pick('s', ['F', 'O', 'P'])} o_orderstatus,
            round(1000 + {u('p')} * 499000, 2) o_totalprice,
            TIMESTAMP '1995-01-01' + to_days(CAST({k('d', 2404)} AS INTEGER)) o_orderdate,
            {pick('o', ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'])}
              o_orderpriority
            {r('orders')}""",
        "lineitem": f"""SELECT {k('o', rows['orders'])} l_orderkey,
            {k('p', rows['part'])} l_partkey, {k('s', rows['supplier'])} l_suppkey,
            CAST({k('n', 7)} + 1 AS INTEGER) l_linenumber,
            CAST({k('q', 50)} + 1 AS DOUBLE) l_quantity,
            round(900 + {u('e')} * 104100, 2) l_extendedprice,
            CAST({k('d', 11)} AS DOUBLE) / 100 l_discount,
            CAST({k('t', 9)} AS DOUBLE) / 100 l_tax,
            {pick('r', ['A', 'N', 'R'])} l_returnflag,
            {pick('l', ['F', 'O'])} l_linestatus,
            TIMESTAMP '1995-01-02' + to_days(CAST({k('h', 2498)} AS INTEGER)) l_shipdate
            {r('lineitem')}""",
        "events": f"""SELECT i event_id,
            TIMESTAMP '2024-01-01' + to_microseconds(CAST(
              (i + {u('j')}) * (2592000000000.0 / {rows['events']}) AS BIGINT)) AS ts,
            {k('u', 1500)} user_id,
            {pick('t', ['click', 'error', 'purchase', 'signup', 'view'])} event_type,
            round(-50 * ln(1 - {u('v')}), 2) AS value,
            '{{"k": ' || {k('k', 100)} || '}}' props
            {r('events')}""",
        # ~5% of documents are an earlier document's text plus " dup"
        "documents": f"""SELECT b.i doc_id,
            CASE WHEN b.i >= 20 AND {k('d', 100, 'b.i')} < 5 THEN s.text || ' dup'
                 ELSE b.text END AS text,
            CASE WHEN {k('l', 100, 'b.i')} < 41 THEN 'en'
                 ELSE {pick('L', ['de', 'es', 'fr', 'zh'], 'b.i')} END AS lang,
            'src' || (b.i % 20) AS source
            FROM doc_words b JOIN doc_words s ON s.i = {k('s', 'greatest(b.i, 1)', 'b.i')}
            ORDER BY doc_id""",
        # unit-norm Gaussian vectors (Box-Muller), random labels
        "embeddings": f"""WITH g AS (
              SELECT i, list_transform(range(64), j ->
                sqrt(-2 * ln(1 - ((hash({seed}, i, j, 'a') >> 11) / 9007199254740992.0)))
                * cos(2 * pi() * ((hash({seed}, i, j, 'b') >> 11) / 9007199254740992.0))) AS v
              {r('embeddings')})
            SELECT i vec_id,
              CAST(list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y * y))))
                AS FLOAT[]) embedding,
              CAST({k('l', 10)} AS INTEGER) AS label
            FROM g""",
    }
    return setup, tables


# physical timestamp units of the reference test tables
_TS_UNITS = {"orders": {"o_orderdate": "ms"}, "lineitem": {"l_shipdate": "ms"},
             "events": {"ts": "ns"}}


def generate(out_dir, seed, sf):
    """Write every table as `out_dir/<name>.parquet`; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    setup, tables = _sql(int(seed), sizes(sf))
    for stmt in setup:
        con.execute(stmt)
    counts = {}
    for name, sql in tables.items():
        t = con.sql(sql).arrow()
        if name == "documents":
            t = t.append_column("n_chars", pc.utf8_length(t["text"]).cast(pa.int64()))
        for c, unit in _TS_UNITS.get(name, {}).items():
            i = t.schema.get_field_index(c)
            t = t.set_column(i, c, t[c].cast(pa.timestamp(unit)))
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = t.num_rows
    con.close()
    return counts
