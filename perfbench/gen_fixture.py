#!/usr/bin/env python3
"""Generate the benchmark's input tables with DuckDB.

The tables follow the repository's TPC-H-ish fixture layout: one
`<table>.parquet` file per table, snappy, one row group per file, the same
column names and types, the same key ranges and date ranges. Row counts
scale with `sf`; at sf 0.1 the ten tables hold 893,030 rows, 600,000 of
them in lineitem. Timestamps are TIMESTAMP(MICROS) without a time zone, as
in the repository fixture.

Values are a fixed function of the row number (DuckDB's `hash`), so the
same DuckDB version always writes the same tables. The workload seed does
not change the tables; it picks windows, splits and slices over them.

Usage: python3 perfbench/gen_fixture.py <out_dir> <sf>
"""
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def sizes(sf):
    def n(base):
        return max(20, int(round(base * sf)))
    return {
        "region": 5, "nation": 25,
        "customer": n(150_000), "supplier": n(10_000), "part": n(200_000),
        "orders": n(1_500_000), "lineitem": n(6_000_000),
        "events": n(1_000_000), "documents": n(50_000),
        "embeddings": n(20_000),
    }


def generate(out, sf):
    os.makedirs(out, exist_ok=True)
    n = sizes(sf)
    con = duckdb.connect()
    con.execute("SET threads TO 2")

    def h(k):
        # per-column pseudo-random UBIGINT of the row number i
        return f"hash(i * 64 + {k})"

    def pick(k, values):
        arr = "[" + ", ".join(f"'{v}'" for v in values) + "]"
        return f"{arr}[1 + CAST({h(k)} % {len(values)} AS INTEGER)]"

    words = ["spark", "scan", "sort", "hash", "group", "filter", "value",
             "table", "stream", "window", "key", "row", "column", "query",
             "merge", "data", "fast", "slow", "batch", "part"]
    q = {
        "region": f"""SELECT CAST(i AS INTEGER) AS r_regionkey,
            {pick(1, ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'])} AS r_name
            FROM range({n['region']}) t(i)""",
        "nation": f"""SELECT CAST(i AS INTEGER) AS n_nationkey,
            'NATION_' || i AS n_name, CAST(i % 5 AS INTEGER) AS n_regionkey
            FROM range({n['nation']}) t(i)""",
        "customer": f"""SELECT CAST(i AS BIGINT) AS c_custkey,
            'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name,
            CAST({h(1)} % 25 AS INTEGER) AS c_nationkey,
            CAST({h(2)} % 1100000 AS DOUBLE) / 100 - 999.99 AS c_acctbal,
            {pick(3, ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'])} AS c_mktsegment
            FROM range({n['customer']}) t(i)""",
        "supplier": f"""SELECT CAST(i AS BIGINT) AS s_suppkey,
            'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') AS s_name,
            CAST({h(1)} % 25 AS INTEGER) AS s_nationkey,
            CAST({h(2)} % 1100000 AS DOUBLE) / 100 - 999.99 AS s_acctbal
            FROM range({n['supplier']}) t(i)""",
        "part": f"""SELECT CAST(i AS BIGINT) AS p_partkey,
            {pick(1, ['large', 'small', 'hot', 'cold', 'red'])} || ' ' ||
              {pick(2, ['ring', 'bolt', 'nut', 'gear', 'pipe'])} AS p_name,
            'Brand#' || (1 + {h(3)} % 25) AS p_brand,
            {pick(4, ['LARGE', 'ECONOMY', 'STANDARD', 'SMALL', 'PROMO'])} AS p_type,
            CAST(1 + {h(5)} % 50 AS INTEGER) AS p_size,
            900 + CAST(i % 1000 AS DOUBLE) / 10 AS p_retailprice
            FROM range({n['part']}) t(i)""",
        "orders": f"""SELECT CAST(i AS BIGINT) AS o_orderkey,
            CAST({h(1)} % {n['customer']} AS BIGINT) AS o_custkey,
            {pick(2, ['F', 'O', 'P'])} AS o_orderstatus,
            CAST(100000 + {h(3)} % 50000000 AS DOUBLE) / 100 AS o_totalprice,
            TIMESTAMP '1995-01-01' + to_days(CAST({h(4)} % 2404 AS INTEGER)) AS o_orderdate,
            {pick(5, ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'])} AS o_orderpriority
            FROM range({n['orders']}) t(i)""",
        "lineitem": f"""SELECT
            CAST({h(1)} % {n['orders']} AS BIGINT) AS l_orderkey,
            CAST({h(2)} % {n['part']} AS BIGINT) AS l_partkey,
            CAST({h(3)} % {n['supplier']} AS BIGINT) AS l_suppkey,
            CAST(1 + {h(4)} % 7 AS INTEGER) AS l_linenumber,
            CAST(1 + {h(5)} % 50 AS DOUBLE) AS l_quantity,
            CAST(90068 + {h(6)} % 10409924 AS DOUBLE) / 100 AS l_extendedprice,
            CAST({h(7)} % 11 AS DOUBLE) / 100 AS l_discount,
            CAST({h(8)} % 9 AS DOUBLE) / 100 AS l_tax,
            {pick(9, ['N', 'A', 'R'])} AS l_returnflag,
            {pick(10, ['O', 'F'])} AS l_linestatus,
            TIMESTAMP '1995-01-02' + to_days(CAST({h(11)} % 2499 AS INTEGER)) AS l_shipdate
            FROM range({n['lineitem']}) t(i)""",
        "events": f"""SELECT CAST(i AS BIGINT) AS event_id,
            TIMESTAMP '2024-01-01' + to_microseconds(
              CAST(i * (2592000000000 // {n['events']}) + {h(1)} % (2592000000000 // {n['events']}) AS BIGINT)) AS ts,
            CAST({h(2)} % 2000 AS BIGINT) AS user_id,
            {pick(3, ['view', 'click', 'purchase', 'signup', 'error'])} AS event_type,
            CAST({h(4)} % 20000 AS DOUBLE) / 100 AS value,
            '{{"k": ' || ({h(5)} % 100) || '}}' AS props
            FROM range({n['events']}) t(i)""",
        "documents": f"""SELECT CAST(i AS BIGINT) AS doc_id,
            array_to_string(list_transform(range(CAST(5 + {h(1)} % 40 AS BIGINT)),
              x -> {words}[1 + CAST(hash(i * 4096 + x) % {len(words)} AS INTEGER)]), ' ') AS text,
            {pick(2, ['en', 'es', 'de', 'fr', 'zh'])} AS lang,
            'src' || (i % 20) AS source
            FROM range({n['documents']}) t(i)""",
        "embeddings": f"""SELECT CAST(i AS BIGINT) AS vec_id,
            list_transform(range(64), x -> CAST(CAST(hash(i * 4096 + x) % 2000 AS DOUBLE) / 1000 - 1 AS FLOAT)) AS embedding,
            CAST(i % 10 AS INTEGER) AS label
            FROM range({n['embeddings']}) t(i)""",
    }
    q["documents"] = f"SELECT *, CAST(length(text) AS BIGINT) AS n_chars FROM ({q['documents']})"
    for t in TABLES:
        path = os.path.join(out, f"{t}.parquet")
        con.execute(f"COPY ({q[t]}) TO '{path}' "
                    "(FORMAT PARQUET, COMPRESSION SNAPPY, ROW_GROUP_SIZE 100000000)")
    con.close()


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    generate(sys.argv[1], float(sys.argv[2]))
