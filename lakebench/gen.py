"""Seeded generator for the benchmark's inputs.

Writes the ten tables graft's queries read (TPC-H-ish star schema plus
events, documents and embeddings) as one single-row-group parquet file
each, with the column names, types and value domains of the engine's
fixtures at sf0.1. Every value is a hash of (row, column, seed), so one
seed always gives byte-identical inputs.

    python3 gen.py <out_dir> <seed>
"""
import os
import sys

import duckdb

ROWS = {"customer": 15000, "supplier": 1000, "part": 20000,
        "orders": 150000, "lineitem": 600000, "events": 100000,
        "documents": 5000, "embeddings": 2000}
USERS = 1500
WORDS = ("key agg row scan slow fast table value part hash a the line sort "
         "window merge batch spark data column join small customer query big "
         "order group filter stream").split()


def tables(seed):
    """(name, SELECT) pairs; u(i, c) is a uniform [0, 1) draw per row and
    column, k(i, c, n) a uniform integer in [0, n)."""
    words = "[" + ",".join(f"'{w}'" for w in WORDS) + "]"
    r = ROWS
    return [
        ("region", """SELECT i::INT AS r_regionkey,
            ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] AS r_name
            FROM range(5) t(i)"""),
        ("nation", """SELECT i::INT AS n_nationkey, 'NATION_' || i AS n_name,
            (i % 5)::INT AS n_regionkey FROM range(25) t(i)"""),
        ("customer", f"""SELECT i AS c_custkey,
            'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
            k(i, 1, 25)::INT AS c_nationkey,
            round(u(i, 2) * 10999 - 999, 2) AS c_acctbal,
            ['MACHINERY','BUILDING','AUTOMOBILE','HOUSEHOLD','FURNITURE'][k(i, 3, 5) + 1]
              AS c_mktsegment
            FROM range({r['customer']}) t(i)"""),
        ("supplier", f"""SELECT i AS s_suppkey,
            'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
            k(i, 1, 25)::INT AS s_nationkey,
            round(u(i, 2) * 10999 - 999, 2) AS s_acctbal
            FROM range({r['supplier']}) t(i)"""),
        ("part", f"""SELECT i AS p_partkey,
            ['small','red','large','blue','green'][k(i, 1, 5) + 1] || ' ' ||
              ['ring','widget','bolt','gear','valve'][k(i, 2, 5) + 1] AS p_name,
            'Brand#' || (1 + k(i, 3, 25)) AS p_brand,
            ['ECONOMY','STANDARD','PROMO','LARGE','MEDIUM'][k(i, 4, 5) + 1] AS p_type,
            (1 + k(i, 5, 50))::INT AS p_size,
            round(900 + u(i, 6) * 1100, 2) AS p_retailprice
            FROM range({r['part']}) t(i)"""),
        ("orders", f"""SELECT i AS o_orderkey,
            k(i, 1, {r['customer']}) AS o_custkey,
            ['F','O','P'][k(i, 2, 3) + 1] AS o_orderstatus,
            round(1000 + u(i, 3) * 499000, 2) AS o_totalprice,
            TIMESTAMP '1995-01-01' + to_days(k(i, 4, 2404)::INT) AS o_orderdate,
            ['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'][k(i, 5, 5) + 1]
              AS o_orderpriority
            FROM range({r['orders']}) t(i)"""),
        ("lineitem", f"""SELECT i // 4 AS l_orderkey,
            k(i, 1, {r['part']}) AS l_partkey,
            k(i, 2, {r['supplier']}) AS l_suppkey,
            (i % 4 + 1)::INT AS l_linenumber,
            (1 + k(i, 3, 50))::DOUBLE AS l_quantity,
            round((1 + k(i, 3, 50)) * (900 + u(i, 4) * 1100), 2) AS l_extendedprice,
            k(i, 5, 11) / 100.0 AS l_discount,
            k(i, 6, 9) / 100.0 AS l_tax,
            ['A','N','R'][k(i, 7, 3) + 1] AS l_returnflag,
            ['F','O'][k(i, 8, 2) + 1] AS l_linestatus,
            TIMESTAMP '1995-01-02' + to_days(k(i, 9, 2498)::INT) AS l_shipdate
            FROM range({r['lineitem']}) t(i)"""),
        ("events", f"""SELECT i AS event_id,
            TIMESTAMP '2024-01-01' + to_microseconds(
              ((i + u(i, 1)) * (30 * 86400000000.0 / {r['events']}))::BIGINT) AS ts,
            k(i, 2, {USERS}) AS user_id,
            ['click','signup','error','view','purchase'][k(i, 3, 5) + 1] AS event_type,
            round(u(i, 4) * 100, 2) AS value,
            '{{"k": ' || k(i, 5, 100) || '}}' AS props
            FROM range({r['events']}) t(i)"""),
        ("documents", f"""SELECT i AS doc_id, text,
            ['en','en','en','de','es','fr','zh'][k(i, 1, 7) + 1] AS lang,
            'src' || k(i, 2, 20) AS source,
            length(text)::BIGINT AS n_chars
            FROM (SELECT i, string_agg({words}[1 + (hash(i % 4500, x, {seed}) % {len(WORDS)})::INT],
                    ' ' ORDER BY x) AS text
                  FROM range({r['documents']}) d(i), range(80) w(x)
                  WHERE x < 20 + k(i % 4500, 3, 60) GROUP BY i)"""),
        ("embeddings", f"""SELECT i AS vec_id,
            list_transform(range(64),
              x -> ((hash(i, x, {seed}) % 1000000) / 1000000.0 - 0.5)::FLOAT) AS embedding,
            k(i, 1, 10)::INT AS label
            FROM range({r['embeddings']}) t(i)"""),
    ]


def generate(out_dir, seed, names=None):
    """Write the named tables (all of them by default) that `out_dir` does
    not hold yet; each file appears whole or not at all."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"CREATE MACRO u(i, c) AS (hash(i, c, {seed}) % 1000003) / 1000003.0")
    con.execute(f"CREATE MACRO k(i, c, n) AS (hash(i, c, {seed}) % n)::BIGINT")
    for name, sql in tables(seed):
        path = os.path.join(out_dir, f"{name}.parquet")
        if names is not None and name not in names or os.path.isfile(path):
            continue
        con.execute(f"COPY ({sql} ORDER BY 1) TO '{path}.tmp' "
                    "(FORMAT PARQUET, ROW_GROUP_SIZE 10000000)")
        os.replace(path + ".tmp", path)
    con.close()


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]))
