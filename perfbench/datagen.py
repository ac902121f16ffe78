"""Seeded generator for the suite workload's input tables.

Writes the ten tables the query suite reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings), one
parquet file each, with the column names, types and value domains of
the engine's sf0.01 test tables. Every value is a hash of
(row, column, seed), so one seed always gives the same bytes and a
different seed gives fresh data of the same shape.

Usage: python3 datagen.py <out_dir> <seed> [scale]
(`scale` multiplies the sf0.01 row counts; default 1.)
"""
import os
import sys

import duckdb
import pyarrow.parquet as pq

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]
ADJ = ["blue", "hot", "small", "old", "new", "cold", "red", "big"]
NOUN = ["bolt", "gear", "anvil", "widget", "rod", "ring", "plate", "nut"]


def sql_list(xs):
    return "[" + ", ".join("'" + x + "'" for x in xs) + "]"


def tables(scale):
    """name -> SELECT over `range(n) t(i)`; r(i, k) is uniform in [0, 1)."""
    n = lambda base: max(1, int(base * scale))
    pick = lambda xs, k: f"({sql_list(xs)})[1 + (h(i, {k}) % {len(xs)})::INT]"
    return {
        "region": """SELECT i::INT AS r_regionkey,
            (['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'])[i + 1] AS r_name
            FROM range(5) t(i)""",
        "nation": """SELECT i::INT AS n_nationkey, 'NATION_' || i AS n_name,
            (i % 5)::INT AS n_regionkey FROM range(25) t(i)""",
        "customer": f"""SELECT i AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
            (h(i, 1) % 25)::INT AS c_nationkey,
            round(r(i, 2) * 10999.98 - 999.99, 2) AS c_acctbal,
            {pick(['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY'], 3)} AS c_mktsegment
            FROM range({n(1500)}) t(i)""",
        "supplier": f"""SELECT i AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
            (h(i, 1) % 25)::INT AS s_nationkey,
            round(r(i, 2) * 10999.98 - 999.99, 2) AS s_acctbal
            FROM range({n(100)}) t(i)""",
        "part": f"""SELECT i AS p_partkey,
            {pick(ADJ, 1)} || ' ' || {pick(NOUN, 2)} AS p_name,
            'Brand#' || (1 + h(i, 3) % 25) AS p_brand,
            {pick(['ECONOMY','STANDARD','LARGE','SMALL','MEDIUM','PROMO'], 4)} AS p_type,
            (1 + h(i, 5) % 50)::INT AS p_size,
            round(900 + (i % 1000) * 0.1, 2)::DOUBLE AS p_retailprice
            FROM range({n(2000)}) t(i)""",
        "orders": f"""SELECT i AS o_orderkey, (h(i, 1) % {n(1500)})::BIGINT AS o_custkey,
            {pick(['P','O','F'], 2)} AS o_orderstatus,
            round(1000 + r(i, 3) * 499000, 2) AS o_totalprice,
            TIMESTAMP '1995-01-01' + to_days((h(i, 4) % 2404)::INT) AS o_orderdate,
            {pick(['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'], 5)} AS o_orderpriority
            FROM range({n(15000)}) t(i)""",
        "lineitem": f"""SELECT (h(i, 1) % {n(15000)})::BIGINT AS l_orderkey,
            (h(i, 2) % {n(2000)})::BIGINT AS l_partkey,
            (h(i, 3) % {n(100)})::BIGINT AS l_suppkey,
            (1 + h(i, 4) % 7)::INT AS l_linenumber,
            (1 + h(i, 5) % 50)::DOUBLE AS l_quantity,
            round((1 + h(i, 5) % 50) * (900 + r(i, 6) * 1200), 2) AS l_extendedprice,
            ((h(i, 7) % 11) / 100.0)::DOUBLE AS l_discount,
            ((h(i, 8) % 9) / 100.0)::DOUBLE AS l_tax,
            {pick(['A','N','R'], 9)} AS l_returnflag,
            {pick(['O','F'], 10)} AS l_linestatus,
            TIMESTAMP '1995-01-02' + to_days((h(i, 11) % 2498)::INT) AS l_shipdate
            FROM range({n(60000)}) t(i)""",
        "events": f"""SELECT i AS event_id,
            TIMESTAMP '2024-01-01' + to_microseconds((h(i, 1) % 2592000000000)::BIGINT) AS ts,
            (h(i, 2) % 150)::BIGINT AS user_id,
            {pick(['click','signup','error','view','purchase'], 3)} AS event_type,
            round(0.01 + r(i, 4) * 490, 2) AS value,
            '{{"k": ' || (h(i, 5) % 100) || '}}' AS props
            FROM range({n(10000)}) t(i)""",
        "documents": f"""SELECT doc_id, text,
            {pick_lang()} AS lang, 'src' || (doc_id % 20) AS source,
            length(text)::BIGINT AS n_chars
            FROM (SELECT i AS doc_id, i,
                array_to_string(list_transform(range((10 + h(i, 1) % 90)::BIGINT),
                    j -> {sql_list(VOCAB)}[1 + (hash(i, j, 2, $seed) % {len(VOCAB)})::INT]), ' ') AS text
              FROM range({n(500)}) t(i))""",
        "embeddings": f"""SELECT vec_id, list_transform(v, x -> (x / sqrt(list_sum(list_transform(v, y -> y * y))))::FLOAT) AS embedding,
            label FROM (SELECT i AS vec_id, (h(i, 1) % 10)::INT AS label,
                list_transform(range(64), j -> (hash(i, j, 2, $seed) % 1000003)::DOUBLE / 1000003 - 0.5
                    + (hash(i % 10, j, 3, $seed) % 1000003)::DOUBLE / 1000003 - 0.5) AS v
              FROM range({n(500)}) t(i))""",
    }


def pick_lang():
    # 44% en, the rest split across four languages, as in the test tables
    return """CASE WHEN h(i, 9) % 100 < 44 THEN 'en'
        ELSE (['es','zh','de','fr'])[1 + (h(i, 10) % 4)::INT] END"""


def generate(out_dir, seed, scale=1.0):
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads = 1")
    seed = int(seed)
    con.execute(f"CREATE MACRO h(i, k) AS hash(i, k, {seed})")
    con.execute("CREATE MACRO r(i, k) AS (h(i, k) % 1000000007)::DOUBLE / 1000000007")
    for name, sql in tables(scale).items():
        sql = sql.replace("$seed", str(seed))
        table = con.execute(sql).arrow()
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    con.close()


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]),
             float(sys.argv[3]) if len(sys.argv) > 3 else 1.0)
