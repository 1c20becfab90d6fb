"""Result checks for one benchmark run, against DuckDB over the generated
inputs. Each returns the set of op indices whose result is wrong, plus
messages; an op whose result cannot be checked counts as wrong.

- scan_mix, stream_stateful: every distinct result is compared with the
  oracle SQL its GQuery declares, canonicalised as graft's local verify
  tool does (columns sorted by name, cells compared row by row).
- lake_ingest: the op log is replayed over the source parquet; every read
  and the final state of both tables must match the replay.

Doubles are equal within 1e-9 relative (engines sum in different orders).
"""
import datetime
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EPOCH = datetime.datetime(1970, 1, 1)


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.isfile(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def cell_equal(spark, spark_type, oracle):
    """One cell, Spark's JSON form against DuckDB's Python value."""
    if spark is None or oracle is None:
        return spark is None and oracle is None
    if isinstance(oracle, datetime.datetime):
        us = (oracle.replace(tzinfo=None) - EPOCH) // datetime.timedelta(microseconds=1)
        return spark == us
    if isinstance(oracle, datetime.date):
        return spark == (oracle - EPOCH.date()).days
    if isinstance(oracle, bool) or isinstance(spark, bool):
        return spark == oracle
    if isinstance(spark, int) and isinstance(oracle, int) and spark_type not in ("double", "float"):
        return spark == oracle
    if isinstance(spark, (int, float)) and isinstance(oracle, (int, float)) or \
            spark_type in ("double", "float") and isinstance(oracle, (int, float)):
        a, b = float(spark), float(oracle)
        if a == b or (math.isnan(a) and math.isnan(b)):
            return True
        # summation order differs between engines
        return abs(a - b) <= 1e-9 * max(abs(a), abs(b))
    return spark == oracle


def compare(result, con, sql):
    """None when `result` (the JVM's JSON) equals the oracle, else why not."""
    rel = con.sql(sql)
    o_cols, o_rows = list(rel.columns), rel.fetchall()
    s_cols = [c for c, _ in result["cols"]]
    s_types = dict(result["cols"])
    if sorted(s_cols) != sorted(o_cols):
        return f"columns {sorted(s_cols)} vs oracle {sorted(o_cols)}"
    if len(result["rows"]) != len(o_rows):
        return f"{len(result['rows'])} rows vs oracle {len(o_rows)}"
    names = sorted(s_cols)
    s_idx = [s_cols.index(c) for c in names]
    o_idx = [o_cols.index(c) for c in names]
    for n, (s, o) in enumerate(zip(result["rows"], o_rows)):
        for c, i, j in zip(names, s_idx, o_idx):
            if not cell_equal(s[i], s_types[c], o[j]):
                return f"row {n} column {c}: {s[i]!r} vs oracle {o[j]!r}"
    return None


def check_oracles(out, con):
    bad, msgs, verdict = set(), [], {}
    for rid, result in out["results"].items():
        sql = out.get("oracles", {}).get(result["query"])
        verdict[int(rid)] = compare(result, con, sql) if sql else "no oracle"
    for op in out["ops"]:
        why = verdict.get(op["res"], "no result")
        if why:
            bad.add(op["i"])
            msgs.append(f"{op['name']} (op {op['i']}): {why}")
    return bad, msgs


def replay_ingest(out, con):
    """Replay the op log; returns (bad ops, messages, rows per log entry)."""
    ing = out["ingest"]
    slices = ing["slices"]
    con.execute("""CREATE TEMP TABLE src AS SELECT o_orderkey, o_custkey, o_orderstatus,
        o_totalprice, o_orderdate, (CAST(o_orderdate AS DATE) - DATE '1970-01-01') AS dayn
        FROM orders""")
    con.execute("CREATE TEMP TABLE state AS SELECT * FROM src LIMIT 0")
    reads = {}
    for op in out["ops"]:
        if op["kind"] == "read":
            reads.setdefault(op["k"], []).append(op)
    bad, msgs, rows_in = set(), [], []
    for k, e in enumerate(ing["log"]):
        added = 0
        if e["op"] == "append":
            added = con.execute("INSERT INTO state SELECT * FROM src WHERE dayn >= ? AND dayn < ?",
                                [e["d0"], e["d1"]]).fetchone()[0]
        elif e["op"] == "delete":
            con.execute(f"DELETE FROM state WHERE o_orderkey % {slices} = ?", [e["slice"]])
        elif e["op"] == "upsert":
            con.execute(f"""CREATE OR REPLACE TEMP TABLE up AS SELECT o_orderkey, o_custkey,
                'U' AS o_orderstatus, round(o_totalprice + 1.0, 2) AS o_totalprice,
                o_orderdate, dayn FROM src
                WHERE dayn < ? AND o_orderkey % {slices} = ?""", [e["d1"], e["slice"]])
            con.execute("DELETE FROM state WHERE o_orderkey IN (SELECT o_orderkey FROM up)")
            added = con.execute("INSERT INTO state SELECT * FROM up").fetchone()[0]
        rows_in.append(added)
        for op in reads.get(k, []):
            want = con.execute("""SELECT count(*), coalesce(sum(CAST(round(o_totalprice * 100)
                AS BIGINT)), 0) FROM state WHERE dayn >= ?""", [op["cut_day"]]).fetchone()
            if (op["n"], op["cents"]) != tuple(want):
                bad.add(op["i"])
                msgs.append(f"{op['name']} after log entry {k}: "
                            f"{(op['n'], op['cents'])} vs replay {tuple(want)}")
    want = con.execute("""SELECT count(*), coalesce(sum(CAST(round(o_totalprice * 100) AS BIGINT)), 0),
        coalesce(sum((o_orderkey * 2654435761) % 1000000007), 0) FROM state""").fetchone()
    for fmt, got in ing["final"].items():
        if (got["n"], got["cents"], got["keyhash"]) != tuple(want):
            msgs.append(f"final {fmt} table {(got['n'], got['cents'], got['keyhash'])} "
                        f"vs replay {tuple(want)}")
            bad.add(-1)
    return bad, msgs, rows_in


def check(out, data_dir):
    """(bad op indices, messages, extras) for one run's output."""
    con = connect(data_dir)
    w = out["workload"]
    extras = {}
    if w in ("scan_mix", "stream_stateful"):
        bad, msgs = check_oracles(out, con)
    else:
        bad, msgs, extras["rows_in"] = replay_ingest(out, con)
    con.close()
    return bad, msgs, extras
