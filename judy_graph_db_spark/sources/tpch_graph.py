"""Derive a canonical property graph from the driver's TPC-H-ish tables.

This is the correctness-gate workhorse: the graph construction is ONE ANSI-SQL
text (``GRAPH_EDGES_SQL``/``GRAPH_NODES_SQL``) that runs identically in Spark
(via ``spark.sql``) and in DuckDB (as the oracle CTE prefix), so every graph
operator declared in ``__spark_entry__.queries()`` can be hash-checked against
a plain SQL equivalent.

Node-id encoding reproduces the reference's range model (node-id spans encode
the label — ``rangesJ``, ``FastAccess.hs:157-158``): ``id = code·10¹² + key``
with one code per label class, giving contiguous per-label ranges:

    REGION   0·10¹²   NATION  1·10¹²   SUPPLIER 2·10¹²
    CUSTOMER 3·10¹²   PART    4·10¹²   ORDER    5·10¹²

Edges (forward rows; ``is_back`` reverse rows are materialized for
back-traversal, the back-bit semantics ``FastAccess.hs:149-150``):

    nation   → region   IN_REGION     seq 1
    customer → nation   FROM_NATION   seq 1
    supplier → nation   FROM_NATION   seq 1
    customer → order    PLACED        seq = k-th order by (date, key)
    order    → part     CONTAINS      seq = l_linenumber rank (parallel edges!)
    order    → supplier SUPPLIED_BY   seq = l_linenumber rank
    order    → order    NEXT_ORDER    seq 1 (per-customer order chain —
                                       exercises variable-length paths)

``edge_seq`` is deterministic (ordered by natural keys, never wall-clock) —
the distributed-safe replacement for the reference's insertion counter
(SURVEY.md §1.5, §7.3 hard-part b).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from judy_graph_db_spark.graph import Graph, Ranges

B = 1000000000000  # 10^12 range width per label class

CODES = {
    "REGION": 0,
    "NATION": 1,
    "SUPPLIER": 2,
    "CUSTOMER": 3,
    "PART": 4,
    "ORDER": 5,
}

TPCH_TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
]

GRAPH_EDGES_FWD_SQL = f"""
SELECT CAST({B} + n_nationkey AS BIGINT) AS src,
       CAST(n_regionkey AS BIGINT) AS dst,
       'IN_REGION' AS label, CAST(1 AS BIGINT) AS edge_seq
FROM nation
UNION ALL
SELECT CAST(3*{B} + c_custkey AS BIGINT),
       CAST({B} + c_nationkey AS BIGINT),
       'FROM_NATION', CAST(1 AS BIGINT)
FROM customer
UNION ALL
SELECT CAST(2*{B} + s_suppkey AS BIGINT),
       CAST({B} + s_nationkey AS BIGINT),
       'FROM_NATION', CAST(1 AS BIGINT)
FROM supplier
UNION ALL
SELECT src, dst, 'PLACED',
       -- window partitioned on the src EXPRESSION (bijective with
       -- o_custkey): point/join predicates on src then push below the
       -- window into the scan instead of shuffling the whole table first
       CAST(ROW_NUMBER() OVER (PARTITION BY src ORDER BY o_orderdate, o_orderkey) AS BIGINT)
FROM (
  SELECT CAST(3*{B} + o_custkey AS BIGINT) AS src,
         CAST(5*{B} + o_orderkey AS BIGINT) AS dst,
         o_orderdate, o_orderkey
  FROM orders
) placed_t
UNION ALL
SELECT src, part_dst AS dst, 'CONTAINS', seq_c FROM li_seq
UNION ALL
SELECT src, supp_dst AS dst, 'SUPPLIED_BY', seq_s FROM li_seq
UNION ALL
SELECT src, dst, 'NEXT_ORDER', CAST(1 AS BIGINT)
FROM (
  SELECT CAST(5*{B} + o_orderkey AS BIGINT) AS src,
         CAST(5*{B} + LEAD(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS dst
  FROM orders
) t
WHERE dst IS NOT NULL
"""

# forward rows + materialized reverse rows (is_back=true); the reverse rows
# get their own deterministic per-(src,label) enumeration. ``is_bulk`` marks
# the orth multi-label overlay (SURVEY.md §1.6): heavy parallel CONTAINS
# edges additionally carry the orthogonal label BULK; back rows inherit it
# from their forward edge.
GRAPH_EDGES_SQL = f"""
WITH li_base AS (
  SELECT CAST(5*{B} + l_orderkey AS BIGINT) AS src,
         CAST(4*{B} + l_partkey AS BIGINT) AS part_dst,
         CAST(2*{B} + l_suppkey AS BIGINT) AS supp_dst,
         l_linenumber
  FROM lineitem
),
-- ONE lineitem scan + ONE shuffle on src feeds BOTH lineitem-derived edge
-- labels: the two seqs are windows over the same partitioning (extra sort,
-- no extra exchange). Tiebreak on dst: (orderkey, linenumber) repeats in
-- the data, and remaining ties have identical dst, so each label's edge
-- multiset is stable across engines.
li_seq AS (
  SELECT src, part_dst, supp_dst,
         CAST(ROW_NUMBER() OVER (PARTITION BY src ORDER BY l_linenumber, part_dst) AS BIGINT) AS seq_c,
         CAST(ROW_NUMBER() OVER (PARTITION BY src ORDER BY l_linenumber, supp_dst) AS BIGINT) AS seq_s
  FROM li_base
),
fwd0 AS ({GRAPH_EDGES_FWD_SQL}),
fwd AS (
  SELECT src, dst, label, edge_seq,
         (label = 'CONTAINS' AND edge_seq >= 4) AS is_bulk
  FROM fwd0
)
SELECT src, dst, label, FALSE AS is_back, edge_seq, is_bulk FROM fwd
UNION ALL
SELECT dst AS src, src AS dst, label, TRUE AS is_back,
       CAST(ROW_NUMBER() OVER (PARTITION BY dst, label ORDER BY src, edge_seq) AS BIGINT) AS edge_seq,
       is_bulk
FROM fwd
"""

GRAPH_NODES_SQL = f"""
SELECT CAST(r_regionkey AS BIGINT) AS id, 'REGION' AS label FROM region
UNION ALL SELECT CAST({B} + n_nationkey AS BIGINT), 'NATION' FROM nation
UNION ALL SELECT CAST(2*{B} + s_suppkey AS BIGINT), 'SUPPLIER' FROM supplier
UNION ALL SELECT CAST(3*{B} + c_custkey AS BIGINT), 'CUSTOMER' FROM customer
UNION ALL SELECT CAST(4*{B} + p_partkey AS BIGINT), 'PART' FROM part
UNION ALL SELECT CAST(5*{B} + o_orderkey AS BIGINT), 'ORDER' FROM orders
"""

RANGES = Ranges.of(
    (0 * B, B, "REGION", ()),
    (1 * B, B, "NATION", ("IN_REGION",)),
    (2 * B, B, "SUPPLIER", ("FROM_NATION",)),
    (3 * B, B, "CUSTOMER", ("FROM_NATION", "PLACED")),
    (4 * B, B, "PART", ()),
    (5 * B, B, "ORDER", ("CONTAINS", "SUPPLIED_BY", "NEXT_ORDER")),
)


# columns stored as TIMESTAMP(NANOS) in the driver's parquet — Spark reads
# them as long nanos under spark.sql.legacy.parquet.nanosAsLong; convert back
NANO_TS_COLS = {
    "orders": ["o_orderdate"],
    "lineitem": ["l_shipdate"],
    "events": ["ts"],
}


def load_tpch_views(spark: SparkSession, sf_dir: str) -> None:
    """Register the driver's parquet tables as temp views.

    Works on ANY caller-provided session: the fixtures carry
    TIMESTAMP(NANOS) columns that Spark's reader rejects by default
    (PARQUET_TYPE_ILLEGAL), so the nanos-as-long conf is set here at
    runtime (it is a runtime-settable SQLConf) and the long columns are
    converted back to timestamps below."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # older/newer Spark without the conf: reader may handle nanos natively
    # the fixture timestamps are NAIVE (DuckDB reads them as TIMESTAMP_NS);
    # our long→timestamp_micros conversion yields instant-typed TIMESTAMP,
    # so the session tz must be UTC for calendar extraction (year/hour/
    # date_trunc) to agree with the oracle — pinned here because the caller
    # (the driver harness) may supply any session
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass

    for t in TPCH_TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if not os.path.exists(p):
            continue
        df = spark.read.parquet(p)
        for c in NANO_TS_COLS.get(t, []):
            if c in df.columns and isinstance(df.schema[c].dataType, T.LongType):
                df = df.withColumn(c, F.timestamp_micros((F.col(c) / 1000).cast("long")))
        df.createOrReplaceTempView(t)


def tpch_graph(spark: SparkSession, sf_dir: str) -> Graph:
    """Build the Graph from a scale-factor directory. The edges plan is the
    declarative SQL above — Catalyst prunes unused branches of the UNION when
    a query filters on one label, and window seqs shuffle only on their
    natural partition keys.

    The plan ends in a hash repartition on ``src`` into
    ``spark.sql.shuffle.partitions`` partitions: the layout ``graph.py``
    names for scale, clustered on the key every anchored filter and hop
    join uses. Without it the UNION ALL's branches set the partitioning,
    and a cached edge table came out as 3 + 5 × ``shuffle.partitions``
    small partitions, so every anchored read of the cache ran that many
    tasks. Filters still push below the repartition, so label pruning and
    ``src`` pushdown on an uncached graph reach the scans."""
    load_tpch_views(spark, sf_dir)
    edges = spark.sql(GRAPH_EDGES_SQL)
    from pyspark.sql import functions as F

    edges = edges.withColumn(
        "labels",
        F.when(F.col("is_bulk"), F.array(F.col("label"), F.lit("BULK"))).otherwise(
            F.array(F.col("label"))
        ),
    ).select("src", "dst", "label", "labels", "is_back", "edge_seq").repartition(
        int(spark.conf.get("spark.sql.shuffle.partitions")), "src")
    nodes = spark.sql(GRAPH_NODES_SQL).withColumn("props", F.lit(None).cast("map<string,string>"))
    return Graph(spark, nodes, edges, RANGES)


def oracle_prefix() -> str:
    """CTE prefix giving DuckDB the same ``edges``/``nodes_g`` relations."""
    return f"WITH edges AS ({GRAPH_EDGES_SQL}), nodes_g AS ({GRAPH_NODES_SQL})"
