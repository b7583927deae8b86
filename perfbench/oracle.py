"""Expected results, computed with DuckDB before any op is timed.

The graph relations come from ``sources.tpch_graph.oracle_prefix()``: the
same ANSI-SQL text the engine runs in Spark, evaluated here by a second
engine over the same parquet files. The expected values for analytics are
closed forms over the generated order chains (every NEXT_ORDER chain is a
simple path) plus DuckDB's run of the PageRank SQL twin.
"""

from __future__ import annotations

import os

import duckdb

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem")


def connect(data_dir: str):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _ids(xs) -> str:
    return ", ".join(str(int(x)) for x in xs)


def graph_expectations(con, prefix: str, hop1, pattern, path) -> dict:
    """Row counts per anchor for the three read templates.

    ``hop1``: [(node_id, label)], forward rows only. ``pattern``: customer
    ids, PLACED then CONTAINS to a PART. ``path``: order ids, NEXT_ORDER
    paths of length 1..3."""
    out = {}
    rows = con.execute(f"""{prefix}
        SELECT src, label, count(*) FROM edges
        WHERE NOT is_back AND src IN ({_ids(a for a, _ in hop1)})
        GROUP BY ALL""").fetchall()
    got = {(s, l): n for s, l, n in rows}
    out["hop1"] = {(a, l): got.get((a, l), 0) for a, l in hop1}
    rows = con.execute(f"""{prefix}
        SELECT e1.src, count(*) FROM edges e1
        JOIN edges e2 ON e1.dst = e2.src
        JOIN nodes_g n ON n.id = e2.dst
        WHERE e1.label = 'PLACED' AND NOT e1.is_back
          AND e2.label = 'CONTAINS' AND NOT e2.is_back
          AND n.label = 'PART' AND e1.src IN ({_ids(pattern)})
        GROUP BY 1""").fetchall()
    got = dict(rows)
    out["pattern"] = {a: got.get(a, 0) for a in pattern}
    rows = con.execute(f"""{prefix},
        nx AS (SELECT src, dst FROM edges
               WHERE label = 'NEXT_ORDER' AND NOT is_back),
        p1 AS (SELECT src AS a, dst AS b FROM nx WHERE src IN ({_ids(path)})),
        p2 AS (SELECT a, nx.dst AS b FROM p1 JOIN nx ON p1.b = nx.src),
        p3 AS (SELECT a, nx.dst AS b FROM p2 JOIN nx ON p2.b = nx.src)
        SELECT a, count(*) FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2
                                 UNION ALL SELECT * FROM p3)
        GROUP BY 1""").fetchall()
    got = dict(rows)
    out["path"] = {a: got.get(a, 0) for a in path}
    return out


def analytics_expectations(con, prefix: str) -> dict:
    """Closed forms over the per-customer order chains, and DuckDB's run of
    the PageRank twin over the forward edges."""
    from judy_graph_db_spark.operators.analytics import pagerank_oracle_sql

    n_rows, comp_sum, pairs, depth_sum = con.execute("""
        WITH c AS (SELECT o_custkey, count(*) AS n, min(o_orderkey) AS m
                   FROM orders GROUP BY 1 HAVING count(*) >= 2)
        SELECT sum(n), sum(n * m), sum(n * (n - 1) / 2),
               sum(n * (n - 1) * (n + 1) / 6)
        FROM c""").fetchone()
    pr_sql = pagerank_oracle_sql(
        "SELECT src, dst FROM edges WHERE NOT is_back", iters=3,
        prefix=prefix)
    pr_n, pr_sum = con.execute(
        f"SELECT count(*), sum(rank_e4) FROM ({pr_sql})").fetchone()
    return {
        # component = the smallest order node id of the chain; summed as an
        # offset from the ORDER range base so the sum stays small
        "cc": (int(n_rows), int(comp_sum)),
        "closure": (int(pairs), int(depth_sum)),
        "pagerank": (int(pr_n), int(pr_sum)),
    }
