"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

Every query keeps hash-stable output types: BIGINT ids/counts, integer
permille/micro ratios, strings — no raw floats or timestamps.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from judy_graph_db_spark import (
    N, E, create_mem, flat_table, graph_query, parse_motif, table,
)
from judy_graph_db_spark import oracle as O
from judy_graph_db_spark.functions import text as T
from judy_graph_db_spark.operators import adjacency as A
from judy_graph_db_spark.operators import bpe as BPE
from judy_graph_db_spark.operators import unigram as UNIGRAM
from judy_graph_db_spark.operators import wordpiece as WORDPIECE
from judy_graph_db_spark.operators import analytics as AN
from judy_graph_db_spark.operators import dedup as D
from judy_graph_db_spark.operators import sampling as SA_ORACLE
from judy_graph_db_spark.operators import similarity as S
from judy_graph_db_spark.operators import temporal as TEMPORAL
from judy_graph_db_spark.sources.edge_list import f4_data_path, read_edge_list
from judy_graph_db_spark.sources.tpch_graph import (
    B,
    load_tpch_views,
    oracle_prefix,
    tpch_graph,
)

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001: the canonical 2-hop pattern
    CUSTOMER -PLACED-> ORDER -CONTAINS-> PART (the Spark rendering of the
    reference's issue-tracker query shape, ``app/Main.hs:20-31``)."""
    g = tpch_graph(spark, SMOKE_SF_DIR)
    pat = (
        N(labels=["CUSTOMER"])
        >> E("PLACED", direction="r")
        >> N()
        >> E("CONTAINS", direction="r")
        >> N(labels=["PART"])
    )
    return table(g, pat)


# ----------------------------------------------------------- graph queries

def _q_adjacency(spark, sf_dir):
    """adjacentNodesByAttr — the reference's flagship op (FastAccess.hs:602-619)."""
    g = tpch_graph(spark, sf_dir)
    return A.adjacent_nodes_by_attr(g, 3 * B + 1, "PLACED", backwards=False)


def _q_degree(spark, sf_dir):
    """adjacentEdgeCount / degree table (Enum.hs:497-506)."""
    g = tpch_graph(spark, sf_dir)
    return A.degree_table(g, forward_only=True)


def _q_node_label_counts(spark, sf_dir):
    """nodeLabel range dispatch (FastAccess.hs:658-667) rolled up per label."""
    g = tpch_graph(spark, sf_dir)
    labeled = g.with_node_labels(g.nodes.select("id"), "id", "range_label")
    return labeled.groupBy("range_label").agg(F.count(F.lit(1)).alias("n"))


def _q_pattern_2hop(spark, sf_dir):
    """The 2-hop join chain under BOTH strategies in one driver row:
    ``quick`` (left-to-right, evalLtoR ``Cypher.hs:653-695``) and the
    cost-based path (``runOnE``/``minI``, ``Cypher.hs:586-607`` — seeds
    from the cheapest node spec, possibly interior, and compiles outward)
    must produce the identical binding set."""
    g = tpch_graph(spark, sf_dir)
    pat = (
        N(labels=["CUSTOMER"])
        >> E("PLACED", direction="r")
        >> N()
        >> E("CONTAINS", direction="r")
        >> N(labels=["PART"])
    )
    q = table(g, pat, quick=True).withColumn("op", F.lit("quick"))
    c = table(g, pat, quick=False).withColumn("op", F.lit("cost"))
    return q.unionByName(c)


def _q_pattern_backward(spark, sf_dir):
    """Backward traversal over materialized back rows (the back-bit,
    FastAccess.hs:149-150): ORDER <-PLACED- CUSTOMER."""
    g = tpch_graph(spark, sf_dir)
    pat = N(labels=["ORDER"]) >> E("PLACED", direction="l") >> N(labels=["CUSTOMER"])
    return table(g, pat)


def _q_pattern_orth(spark, sf_dir):
    """Orth multi-label match (``orth``, ``Cypher.hs:265-266``; SURVEY.md
    §1.6): edges carrying the orthogonal BULK overlay, matched with
    arrays_overlap instead of the reference's 2ⁿ-1 attr expansion."""
    g = tpch_graph(spark, sf_dir)
    pat = N(labels=["ORDER"]) >> E(orth=["BULK"], direction="r") >> N(labels=["PART"])
    return table(g, pat)


def _q_pattern_where(spark, sf_dir):
    """Per-edge-spec predicate (``where_``, ``Cypher.hs:269-270``): only a
    customer's first two orders."""
    g = tpch_graph(spark, sf_dir)
    pat = (
        N(labels=["CUSTOMER"])
        >> E("PLACED", direction="r", where=lambda c: c["edge_seq"] <= 2)
        >> N(labels=["ORDER"])
    )
    return table(g, pat)


def _q_pattern_where_str(spark, sf_dir):
    """The SAME first-two-orders query through the motif-string front
    end's inline predicate (``-[:PLACED {seq<=2}]->``) — the parsed
    ``{...}`` block compiles to the identical where-closure the
    combinator form carries (``plans/motif._compile_pred``), so this op
    hash-gates the string path end-to-end against the same oracle
    shape as ``where_seq``."""
    g = tpch_graph(spark, sf_dir)
    return table(g, parse_motif(
        "(:CUSTOMER)-[:PLACED {seq<=2}]->(:ORDER)"))


def _q_pattern_optional(spark, sf_dir):
    """OPTIONAL MATCH hop (parity-plus; Cypher semantics): every CUSTOMER
    row survives — those without orders carry NULL edge/node columns
    (TPC-H leaves ~1/3 of customers orderless, so the LEFT-join path is
    genuinely exercised). Twin: LEFT JOIN in the oracle."""
    g = tpch_graph(spark, sf_dir)
    pat = (N(labels=["CUSTOMER"])
           >> E("PLACED", direction="r", optional=True) >> N())
    return table(g, pat)


def _q_pattern_not_edge(spark, sf_dir):
    """Bound-position negation (`table(..., not_edges=...)`): customer→
    order bindings minus pairs connected by a PLACED edge with
    edge_seq >= 3 — i.e. keep each customer's first two orders via the
    anti-join (NOT the where= filter, which the where_seq part already
    covers). Twin: NOT EXISTS in the oracle."""
    g = tpch_graph(spark, sf_dir)
    pat = N(labels=["CUSTOMER"]) >> E("PLACED", direction="r") >> N()
    return table(g, pat, not_edges=[
        (0, E("PLACED", direction="r",
              where=lambda c: c["edge_seq"] >= 3), 1)])


def _q_pattern_cycle(spark, sf_dir):
    """Cycle motif — repeated-variable unification (parity-plus over the
    reference's chain-only EDSL, ``Cypher.hs:62-144``): consecutive
    same-customer orders sharing a part, written as the Cypher-style
    triangle ``(o)-[:NEXT_ORDER]->(o2)-[:CONTAINS]->(p)<-[:CONTAINS]-(o)``.
    The closing hop rides a BACK row and the repeated ``o`` compiles to a
    2-key equi-join (no all-2-paths materialization — see
    ``_apply_names``). Output carries the closing back-row's edge_seq to
    prove the back-traversal bound, not just the node triple."""
    g = tpch_graph(spark, sf_dir)
    pat = parse_motif(
        "(o:ORDER)-[:NEXT_ORDER]->(o2:ORDER)"
        "-[:CONTAINS]->(p:PART)<-[:CONTAINS]-(o)")
    b = table(g, pat, named=True)
    return b.select(
        F.col("o").alias("n0"), F.col("e0_label"),
        F.col("e2_seq").alias("e0_seq"), F.col("p").alias("n1"))


def _q_pattern_comma(spark, sf_dir):
    """Multi-segment MATCH (`match_motif`, parity-plus — Cypher's
    ``MATCH (c)-->(o), (o)-->(p)``): two comma segments sharing ``o``
    inner-join on the variable. Output re-tags the joined segment's
    CONTAINS hop label/seq so the hash proves the join carried the
    second segment's bindings, not just the first's."""
    from judy_graph_db_spark import match_motif

    g = tpch_graph(spark, sf_dir)
    b = match_motif(
        g, "(c:CUSTOMER)-[:PLACED]->(o), (o)-[:CONTAINS]->(p:PART)")
    return b.select(
        F.col("c").alias("n0"), F.col("p1_e0_label").alias("e0_label"),
        F.col("p1_e0_seq").alias("e0_seq"), F.col("p").alias("n1"))


def _q_edge_list_ingest(spark, sf_dir):
    """insertNodeLines (``Enum.hs:387-407``): ingest an F4 edge list
    (367,662 tab-separated int pairs, CRLF) through our edge-list reader
    and roll up per-source — DuckDB reads the same file with read_csv.

    The file comes from ``edge_list.f4_data_path``, which the DuckDB twin
    in ``oracle_sql()`` also uses, so both engines read the same bytes.
    The reference's own ``benchmark/data.txt`` is used first, whenever
    the reference checkout is present. Without it, the resolver writes
    the in-repo deterministic generator's file of the same format (ids
    0..9999, Zipf-skewed degrees). The resolver raises if it cannot
    produce the file: an empty frame would read as a vacuous green row
    instead of flagging that this gate stopped testing ingest."""
    g = read_edge_list(spark, f4_data_path(), label="MAILED")
    return (
        g.edges.filter(~F.col("is_back"))
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def _q_nodes_scan_multiplicity(spark, sf_dir):
    """Whole-graph id scan with duplicates (``nodesJ``,
    ``FastAccess.hs:470-475``): sources ++ targets rolled up to
    per-id multiplicity so the hash compare stays scalar."""
    g = tpch_graph(spark, sf_dir)
    return A.nodes_scan(g).groupBy("id").agg(F.count(F.lit(1)).alias("n"))


def _q_nested_layers(spark, sf_dir):
    """The nested ``temp`` layer view (``NAttr Nodes2..``, ``Table.hs:21-32``;
    ``README.md:154-163``): who-reached-what for CUSTOMER -PLACED-> ORDER,
    reduced to scalar summaries of each sorted layer (arrays don't
    hash-compare across engines)."""
    from judy_graph_db_spark import nested_layers

    g = tpch_graph(spark, sf_dir)
    pat = N(labels=["CUSTOMER"]) >> E("PLACED", direction="r") >> N(labels=["ORDER"])
    layers = nested_layers(table(g, pat))
    return layers.select(
        "n0",
        F.size("layer").cast("long").alias("n_reached"),
        F.element_at("layer", 1).alias("first_id"),
        F.element_at("layer", -1).alias("last_id"),
    )


def _q_graph_query_subgraph(spark, sf_dir):
    """graphQuery (``Cypher.hs:438-439`` — stubbed in the reference, real
    here): the matched subgraph's node set for a 1-hop pattern."""
    g = tpch_graph(spark, sf_dir)
    pat = N(labels=["CUSTOMER"]) >> E("PLACED", direction="r") >> N(labels=["ORDER"])
    sub = graph_query(g, pat)
    return sub.nodes.select("id", "label")


def _q_create_mem_diff(spark, sf_dir):
    """createMem → GraphDiff (``Cypher.hs:431-433``; ``overlaps``
    ``Cypher.hs:868-889``): 2-hop create with walked-frontier candidates —
    hop 1 (CONTAINS) starts from hop 0's written targets, not the raw spec.
    Output = added ∪ displaced edges, tagged ``op``; the overwrite winner /
    displacement logic is window+anti-join SQL, twinned in DuckDB."""
    g = tpch_graph(spark, sf_dir)
    pat = (
        N(ids=[3 * B + 1, 3 * B + 2, 3 * B + 3])
        >> E("PLACED")
        >> N(ids=[5 * B + 1])
        >> E("CONTAINS")
        >> N(ids=[4 * B + 1, 4 * B + 2])
    )
    _, diff = create_mem(g, pat)
    added = diff.edges_added.withColumn("op", F.lit("add"))
    deleted = diff.edges_deleted.withColumn("op", F.lit("del"))
    return added.unionByName(deleted).select("op", "src", "label", "dst")


def _q_union_overwrite(spark, sf_dir):
    """Graph union with the overwrite rule (``union``,
    ``FastAccess.hs:381-393``): the other graph's targets win on colliding
    (src,label,edge_seq,is_back) keys. Collide every forward PLACED edge
    with a self-loop rewrite and roll up."""
    from judy_graph_db_spark.graph import Graph

    g = tpch_graph(spark, sf_dir)
    placed_loop = g.edges.filter(
        (F.col("label") == "PLACED") & ~F.col("is_back")
    ).withColumn("dst", F.col("src"))
    g2 = Graph(spark, g.nodes.limit(0), placed_loop, g.ranges)
    u = g.union(g2)
    return u.edges.groupBy("label", "is_back").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("dst") == F.col("src"), 1).otherwise(0)).cast("long").alias("n_self"),
    )


def _q_flat_table(spark, sf_dir):
    """Flattened table view (``toNE``/``reduceAttrs``, ``Cypher.hs:546-565``):
    per pattern position, the distinct node set — exploded to rows so the
    oracle hash-compares scalars."""
    g = tpch_graph(spark, sf_dir)
    pat = N(labels=["CUSTOMER"]) >> E("PLACED", direction="r") >> N(labels=["ORDER"])
    ft = flat_table(g, pat)
    return ft.select("position", F.explode("node_set").alias("node_id"))


def _q_appl_sorted(spark, sf_dir):
    """appl post-processing (``Cypher.hs:179-192``; the SortNodes example's
    sort-then-reinsert, ``test/examples/SortNodes.hs:38-43``): reverse-sort
    each flat_table node set in place; posexplode keeps the array order in
    the output so the oracle checks the reordering itself."""
    from judy_graph_db_spark import appl

    g = tpch_graph(spark, sf_dir)
    pat = N(labels=["CUSTOMER"]) >> E("PLACED", direction="r") >> N(labels=["ORDER"])
    ft = appl(
        flat_table(g, pat), "node_set", lambda c: F.reverse(F.sort_array(c))
    )
    return ft.select(
        "position", F.posexplode("node_set").alias("idx", "node_id")
    )


def _q_filter_edges_to(spark, sf_dir):
    """filterEdgesTo (FastAccess.hs:414-420): edges whose target is a PART."""
    g = tpch_graph(spark, sf_dir)
    kept = A.filter_edges_to(g, lambda dst: dst.between(4 * B, 5 * B - 1))
    return kept.groupBy("label").agg(F.count(F.lit(1)).alias("n"))


# ------------------------------------------------- relational parity-plus

def _q_pricing_summary(spark, sf_dir):
    """Aggregation surface the reference lacks (SURVEY.md §2.7) — TPC-H Q1
    shape with integer-cents sums (hash-stable)."""
    load_tpch_views(spark, sf_dir)
    li = spark.table("lineitem")
    cents = lambda c: F.round(F.col(c) * 100).cast("long")  # noqa: E731
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(cents("l_quantity")).alias("sum_qty_cents"),
            F.sum(cents("l_extendedprice")).alias("sum_base_cents"),
            F.sum(F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")).alias("sum_disc_cents"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def _q_top_customers(spark, sf_dir):
    """Top-k with deterministic tie-break (sort+limit, then rank over the
    surviving k rows — no global window at scale)."""
    load_tpch_views(spark, sf_dir)
    orders = spark.table("orders")
    agg = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("total_cents")
    )
    top = agg.orderBy(F.col("total_cents").desc(), F.col("o_custkey")).limit(10)
    w = Window.orderBy(F.col("total_cents").desc(), F.col("o_custkey"))
    return top.withColumn("rnk", F.row_number().over(w))


def _q_orders_per_nation(spark, sf_dir):
    """Broadcast-join rollup: orders ⋈ customer ⋈ nation (nation broadcast)."""
    load_tpch_views(spark, sf_dir)
    o = spark.table("orders")
    c = spark.table("customer")
    n = spark.table("nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


def _q_orders_rollup(spark, sf_dir):
    """Grouping sets (ROLLUP) — §2.7 gap surface."""
    load_tpch_views(spark, sf_dir)
    o = spark.table("orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("total_cents"),
    )


def _q_events_json(spark, sf_dir):
    """JSON scalar functions over the events props column — §2.7 gap."""
    load_tpch_views(spark, sf_dir)
    ev = spark.table("events")
    return (
        ev.withColumn("k", F.get_json_object("props", "$.k").cast("long"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


def _q_orders_by_month(spark, sf_dir):
    """Date scalar functions — §2.7 gap: per-month order rollup."""
    load_tpch_views(spark, sf_dir)
    o = spark.table("orders")
    return (
        o.withColumn("ym", (F.year("o_orderdate") * 100 + F.month("o_orderdate")).cast("long"))
        .groupBy("ym")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _q_events_hourly(spark, sf_dir):
    """Tumbling-window aggregation over the events table (streaming-shaped;
    same plan works under readStream + watermark)."""
    load_tpch_views(spark, sf_dir)
    ev = spark.table("events")
    # bucket = yyyymmddhh from calendar components: timezone-independent
    # (unix_timestamp would shift with the session tz, which the driver's
    # session may not pin to UTC)
    bucket = (
        F.year("ts") * 1000000 + F.month("ts") * 10000
        + F.dayofmonth("ts") * 100 + F.hour("ts")
    ).cast("long")
    return (
        ev.withColumn("hour_bucket", bucket)
        .groupBy("hour_bucket", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_value_cents"),
        )
    )


def _q_event_sessions(spark, sf_dir):
    """Gap-based sessionization (batch path: lag → gap flag → running
    session id — the same logic `sessionize_stream` keeps in
    applyInPandasWithState state). 30-minute gap; timestamps surface as
    formatted strings (UTC pinned by load_tpch_views) so the hash compare
    stays engine-stable."""
    from judy_graph_db_spark.streaming.windows import sessionize

    load_tpch_views(spark, sf_dir)
    s = sessionize(spark.table("events"), gap_seconds=1800)
    fmt = "yyyy-MM-dd HH:mm:ss"
    return s.select(
        "user_id",
        F.date_format("session_start", fmt).alias("start_s"),
        F.date_format("session_end", fmt).alias("end_s"),
        "n_events",
    )


def _q_events_hourly_stream(spark, sf_dir):
    """The events_hourly rollup executed as a REAL Structured Streaming job
    (readStream over the same parquet → watermarked windowed agg → memory
    sink, availableNow trigger, complete mode) and returned as the final
    table — the stream must compute the identical answer the batch oracle
    does (stream/batch unification the reference's file-ingest "streaming"
    cannot express)."""
    import tempfile
    import uuid

    from pyspark.sql import types as PT

    from judy_graph_db_spark.streaming.windows import windowed_event_counts

    load_tpch_views(spark, sf_dir)  # pins UTC + nanosAsLong on the session
    p = f"{sf_dir}/events.parquet"
    raw_schema = spark.read.parquet(p).schema
    # the file stream source wants a directory: stream the sf dir with a
    # glob pinned to the events table
    ev = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if isinstance(raw_schema["ts"].dataType, PT.LongType):
        ev = ev.withColumn("ts", F.timestamp_micros((F.col("ts") / 1000).cast("long")))
    elif isinstance(raw_schema["ts"].dataType, PT.TimestampNTZType):
        # Depending on the session's parquet timestamp mapping the column can
        # surface as TIMESTAMP_NTZ, which withWatermark rejects; session tz is
        # pinned UTC by load_tpch_views, so this cast is deterministic.
        ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    win = windowed_event_counts(ev, window="1 hour", watermark="2 hours")
    bucket = (
        F.year("window_start") * 1000000 + F.month("window_start") * 10000
        + F.dayofmonth("window_start") * 100 + F.hour("window_start")
    ).cast("long")
    out = win.select(
        bucket.alias("hour_bucket"), "event_type", "n", "sum_value_cents"
    )
    qname = f"evh_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(qname)
        .outputMode("complete")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="evh_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(qname)


def _q_stream_interval_join(spark, sf_dir):
    """click×purchase attribution executed as a REAL stream-stream interval
    join (two watermarked readStreams over the same parquet, availableNow,
    append sink) — must equal the batch range-predicate join the oracle
    runs. Bounded state: each side buffers only its watermark horizon
    (streaming/joins.py)."""
    import tempfile
    import uuid

    from pyspark.sql import types as PT

    from judy_graph_db_spark.streaming.joins import interval_join

    load_tpch_views(spark, sf_dir)
    p = f"{sf_dir}/events.parquet"
    raw_schema = spark.read.parquet(p).schema

    def side(event_type):
        ev = (
            spark.readStream.schema(raw_schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
        if isinstance(raw_schema["ts"].dataType, PT.LongType):
            ev = ev.withColumn(
                "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long"))
            )
        return ev.filter(F.col("event_type") == event_type).select(
            "event_id", "user_id", "ts"
        )

    joined = interval_join(
        side("click"), side("purchase"), within_seconds=1800
    ).select("l_event_id", "r_event_id")
    qname = f"sij_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="sij_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    lN = F.lit(None).cast("long")
    ij = spark.table(qname).select(
        F.lit("ijoin").alias("op"), F.col("l_event_id").alias("a"),
        F.col("r_event_id").alias("b"), F.lit(None).cast("string").alias("s"))

    # streaming dedup as a REAL stream: dropDuplicatesWithinWatermark keyed
    # on (user_id, event_type), horizon wider than the fixture's time span,
    # so exactly one row per key survives — the deterministic fixpoint the
    # batch DISTINCT oracle states. Only the key columns are emitted
    # (which duplicate row is kept depends on arrival order; the KEY SET
    # does not).
    from judy_graph_db_spark.streaming.dedup import dedup_stream

    ev_all = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if isinstance(raw_schema["ts"].dataType, PT.LongType):
        ev_all = ev_all.withColumn(
            "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long"))
        )
    elif isinstance(raw_schema["ts"].dataType, PT.TimestampNTZType):
        ev_all = ev_all.withColumn("ts", F.col("ts").cast("timestamp"))
    dd = dedup_stream(
        ev_all.select("user_id", "event_type", "ts"),
        keys=("user_id", "event_type"), delay="3650 days",
    ).select("user_id", "event_type")
    dname = f"sdd_{uuid.uuid4().hex[:8]}"
    q2 = (
        dd.writeStream.format("memory")
        .queryName(dname)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="sdd_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    dd_rows = spark.table(dname).select(
        F.lit("dedup").alias("op"), F.col("user_id").cast("long").alias("a"),
        lN.alias("b"), F.col("event_type").alias("s"))
    return ij.unionByName(dd_rows)


# ------------------------------------------------------------ text / dedup


def _q_dedup_docs(spark, sf_dir):
    """Document-level dedup bundle (merged gate — the driver records only
    50 correctness rows): exact duplicate groups (md5 hash-groupBy,
    keeper = min id), near-dup FAMILIES (LSH pairs → connected
    components → canonical min-id representative), and the
    quality-aware keep-by-length representative over the same families
    in one (op, h, a, b, c) relation."""
    load_tpch_views(spark, sf_dir)
    docs = spark.table("documents")
    exact = D.exact_dedup(docs).select(
        F.lit("exact").alias("op"), F.col("text_hash").alias("h"),
        F.col("keep_id").alias("a"), F.col("n_copies").alias("b"),
        F.lit(None).cast("long").alias("c"))
    clusters = D.dedup_clusters(docs).localCheckpoint(eager=True)
    clus = clusters.select(
        F.lit("cluster").alias("op"), F.lit(None).cast("string").alias("h"),
        F.col("doc_id").alias("a"), F.col("cluster_id").alias("b"),
        F.col("is_canonical").cast("long").alias("c"))
    # quality-aware representative (keep-by-length, RefinedWeb-style):
    # same families, argmax(char length, tie -> min id) per cluster
    rep = D.cluster_representatives(docs, clusters).select(
        F.lit("bestrep").alias("op"),
        F.col("cluster_id").cast("string").alias("h"),
        F.col("doc_id").alias("a"), F.col("score").alias("b"),
        F.col("is_best").cast("long").alias("c"))
    # corpus-pair overlap: union-MinHash Jaccard + exact shingle counts →
    # integer containment (even/odd doc split plays the two corpora)
    cont = D.corpus_containment(
        docs.withColumn("corpus",
                        F.when(F.col("doc_id") % 2 == 0, "even")
                        .otherwise("odd")),
        "corpus").localCheckpoint(eager=True)
    pair = F.concat_ws("|", "corpus_a", "corpus_b")
    c1 = cont.select(F.lit("contain").alias("op"), pair.alias("h"),
                     F.col("n_a").alias("a"), F.col("n_b").alias("b"),
                     F.col("n_match").alias("c"))
    c2 = cont.select(F.lit("containj").alias("op"), pair.alias("h"),
                     F.col("jaccard_micro").alias("a"),
                     F.col("contain_a_micro").alias("b"),
                     F.col("contain_b_micro").alias("c"))
    # exact-substring dedup (Lee et al. 2021 at token granularity) over a
    # dup-injected variant: every 3rd doc carries the SAME 10-token
    # sentinel prefix, so cross-doc windows really fire at every k
    esd_docs = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("shared sentinel prefix tokens one two three "
                           "four five six "), F.col("text"))
        ).otherwise(F.col("text")).alias("text"))
    esd = D.exact_substring_dedup(esd_docs, k=6).select(
        F.lit("esd").alias("op"), F.md5("clean_text").alias("h"),
        F.col("doc_id").alias("a"), F.col("n_tokens").alias("b"),
        F.col("n_removed_tokens").alias("c"))
    return (exact.unionByName(clus).unionByName(rep).unionByName(c1)
            .unionByName(c2).unionByName(esd))


# -------------------------------------------------------------- multimodal


def _q_persisted_roundtrip(spark, sf_dir):
    """listToDB/fromDB round trip (``JudyGraph.hs:172-203`` — the reference
    leaves reload TODO; real here): save the graph src-bucketed to parquet,
    load it back, and roll up — the persisted copy must be lossless."""
    import shutil
    import tempfile

    from judy_graph_db_spark.graph import Graph

    from judy_graph_db_spark.sources.layout import zorder_value

    g = tpch_graph(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="gate_roundtrip_")
    try:
        g.save(d, bucket_by_src=True)
        g2 = Graph.load(spark, d)
        rt = (
            g2.edges.groupBy("label", "is_back")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("edge_seq").cast("long").alias("sum_seq"),
                F.sum("src").cast("long").alias("sum_src"),
            )
            .select(F.lit("roundtrip").alias("op"), "label",
                    F.col("is_back").cast("long").alias("n1"),
                    F.col("n").alias("n2"), F.col("sum_seq").alias("n3"),
                    F.col("sum_src").alias("n4"))
            .localCheckpoint(eager=True)  # materialize before the dir vanishes
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    # z-order layout: the Morton value is deterministic (integer-exact
    # rank quantiles), so the clustering key itself is hash-checkable.
    # max_exact_distinct is pinned ABOVE any fixture cardinality (o_cents
    # has ~150k distinct at sf0.1) because the DuckDB twin is the exact
    # dense_rank form — the sampled high-cardinality path is approximate
    # by design and covered by its own plan/agreement tests instead.
    zv = zorder_value(
        spark.table("orders").select(
            "o_orderkey", "o_custkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("o_cents"),
        ),
        ["o_custkey", "o_cents"], bits=8, max_exact_distinct=1 << 24,
    ).select(
        F.lit("zorder").alias("op"), F.lit(None).cast("string").alias("label"),
        F.col("o_orderkey").alias("n1"), F.col("zvalue").alias("n2"),
        F.lit(None).cast("long").alias("n3"), F.lit(None).cast("long").alias("n4"))
    return rt.unionByName(zv)


# -------------------------------------------------------------- similarity


def _q_insert_append_seq(spark, sf_dir):
    """Counter-continuation semantics of the core upsert
    (``insertNodeEdgeAttr`` append path, ``FastAccess.hs:293-315``):
    re-inserting every forward PLACED edge must enumerate the new copies
    after the existing ones — per src the seqs become exactly 1..2n."""
    from judy_graph_db_spark.operators import mutation as M

    g = tpch_graph(spark, sf_dir)
    placed = g.edges.filter((F.col("label") == "PLACED") & ~F.col("is_back"))
    batch = placed.select(
        "src", "dst", "label", F.col("edge_seq").alias("ins_order")
    )
    g2 = M.insert_edges_df(g, batch, overwrite=False)
    return (
        g2.edges.filter((F.col("label") == "PLACED") & ~F.col("is_back"))
        .groupBy("src")
        .agg(
            F.count(F.lit(1)).alias("n_edges"),
            F.max("edge_seq").alias("max_seq"),
            F.sum("edge_seq").cast("long").alias("sum_seq"),
        )
    )


def _q_update_edge_targets(spark, sf_dir):
    """updateNodeEdges (``FastAccess.hs:442-448``): overwrite the target of
    existing (node, label, seq) keys — the first PLACED edge of customers
    1..5 is rewired to order 1."""
    from judy_graph_db_spark.operators import mutation as M

    g = tpch_graph(spark, sf_dir)
    updates = [(3 * B + k, "PLACED", 1, 5 * B + 1) for k in range(1, 6)]
    g2 = M.update_node_edges(g, updates)
    return (
        g2.edges.filter(
            (F.col("label") == "PLACED") & ~F.col("is_back") & (F.col("edge_seq") == 1)
        )
        .select("src", "dst")
    )


def _q_map_nodes_relabel(spark, sf_dir):
    """mapNodeJ / mapNodeWithKeyJ (``FastAccess.hs:518-547``): map a function
    over every node's label (attr bits there, a plain column here)."""
    from judy_graph_db_spark.operators import mutation as M

    g = tpch_graph(spark, sf_dir)
    g2 = M.map_nodes(g, lambda lbl: F.lower(lbl))
    return g2.nodes.groupBy("label").agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------- curation


def _q_doc_chunks(spark, sf_dir):
    """Fixed-size overlapping character chunks (context-window prep) —
    narrow transformation, no shuffle."""
    from judy_graph_db_spark.operators import curation as CU

    load_tpch_views(spark, sf_dir)
    return CU.chunk_documents(spark.table("documents"), size=200, stride=150)


def _q_token_shards(spark, sf_dir):
    """Token-budget sharding via the scalable two-pass prefix sum (range
    repartition → per-partition subtotals → broadcast offsets → local
    cumulative window); the oracle is the equivalent single global window."""
    from judy_graph_db_spark.operators import curation as CU

    load_tpch_views(spark, sf_dir)
    return CU.shard_by_token_budget(spark.table("documents"), budget_tokens=10000)


# ---------------------------------------------------------------- temporal

def _q_asof_value(spark, sf_dir):
    """As-of join: for each click event the latest purchase value at-or-
    before it per user — union + running last(ignorenulls), ONE shuffle on
    the key, no interval explosion (operators/temporal.py)."""
    from judy_graph_db_spark.operators import temporal as TP

    load_tpch_views(spark, sf_dir)
    ev = spark.table("events")
    probes = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    quotes = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    out = TP.asof_join(probes, quotes, on="user_id")
    return out.select(
        "event_id",
        F.round(F.col("value_asof") * 100).cast("long").alias("value_asof_cents"),
    )


def _q_range_join_months(spark, sf_dir):
    """Bin-bucketed range join: orders falling in the first 10 days of each
    month (intervals derived from the same table); equi-join on day bins +
    residual filter — never a conditional cross join."""
    from judy_graph_db_spark.operators import temporal as TP

    load_tpch_views(spark, sf_dir)
    orders = spark.table("orders")
    iv = (
        orders.select(F.date_trunc("month", "o_orderdate").alias("start_ts"))
        .distinct()
        .select("start_ts", (F.col("start_ts") + F.expr("INTERVAL 10 DAYS")).alias("end_ts"))
    )
    joined = TP.range_join(
        orders.select("o_orderdate", "o_totalprice"), iv,
        "o_orderdate", "start_ts", "end_ts",
    )
    return joined.groupBy(
        (F.year("start_ts") * 100 + F.month("start_ts")).cast("long").alias("month_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("sum_price_cents"),
    )


def _q_funnel(spark, sf_dir):
    """Conversion funnel view→purchase within 1h per user: min-over-
    following-frame window pass, no self-join of the event log."""
    from judy_graph_db_spark.operators import temporal as TP

    load_tpch_views(spark, sf_dir)
    return TP.funnel_completions(
        spark.table("events"), "view", "purchase", within_seconds=3600
    )


def _q_topk_per_group(spark, sf_dir):
    """Top-3 orders per priority by (totalprice desc, orderkey asc)."""
    from judy_graph_db_spark.operators import temporal as TP

    load_tpch_views(spark, sf_dir)
    out = TP.topk_per_group(
        spark.table("orders"),
        ["o_orderpriority"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        k=3,
    )
    return out.select("o_orderpriority", "o_orderkey", "rank_in_group")


# ------------------------------------------------------------------- stats

def _q_grouped_quantiles(spark, sf_dir):
    """Exact discrete quantiles (percentile_disc semantics) of order value
    cents per priority — one grouped window pass (operators/stats.py)."""
    from judy_graph_db_spark.operators import stats as STT

    load_tpch_views(spark, sf_dir)
    cents = spark.table("orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return STT.grouped_quantiles(
        cents, ["o_orderpriority"], "cents", [0.25, 0.5, 0.9]
    )


def _q_top_terms(spark, sf_dir):
    """TF-IDF sufficient statistics: top-5 terms per document by
    (tf desc, term asc) with per-term document frequency — tokenize+explode
    in the scan stage, one shuffle on (doc, term), df aggregated from the
    tf relation (never joined back against raw text)."""
    from judy_graph_db_spark.operators import stats as STT

    load_tpch_views(spark, sf_dir)
    return STT.top_terms_per_doc(spark.table("documents"), k=5)


STRATA = {"en": 64, "de": 256, "fr": 128}


def _q_stratified_sample(spark, sf_dir):
    """Language-rebalancing stratified subsample: per-stratum hash cutoffs
    (25% en, all de, 50% fr, drop the rest) — stateless scan-stage filter."""
    from judy_graph_db_spark.operators import curation as CU

    load_tpch_views(spark, sf_dir)
    out = CU.stratified_sample(spark.table("documents"), STRATA)
    return out.select("doc_id", "lang")


def _q_co_purchase(spark, sf_dir):
    """Bipartite projection of the order→part containment onto parts:
    co-ordered part pairs with support ≥ 2 — wedge join keyed on the order,
    one shuffle + count (operators/analytics.py bipartite_projection)."""
    load_tpch_views(spark, sf_dir)
    e = spark.table("lineitem").select(
        F.col("l_orderkey").alias("src"), F.col("l_partkey").alias("dst")
    )
    return AN.bipartite_projection(e, min_count=2)


def _q_node_jaccard(spark, sf_dir):
    """Neighbor-set Jaccard over the supplier~part incidence graph
    (link-prediction signal): candidates from the common-neighbor wedge
    join only — zero-overlap pairs never materialize."""
    load_tpch_views(spark, sf_dir)
    e = spark.table("lineitem").select(
        (F.col("l_suppkey") + F.lit(2 * B)).alias("src"),
        (F.col("l_partkey") + F.lit(4 * B)).alias("dst"),
    )
    out = AN.jaccard_similarity(e, min_permille=100)
    # gate on the supplier-side pairs (the part side is ~1.6M rows at
    # sf0.01 — correct but too large to hash both engines per round)
    return out.filter(F.col("b") < F.lit(4 * B))


def _q_inverted_index(spark, sf_dir):
    """Term → posting-list fingerprint with df bounds applied before the
    postings assemble (stats.inverted_index)."""
    from judy_graph_db_spark.operators import stats as STT

    load_tpch_views(spark, sf_dir)
    out = STT.inverted_index(spark.table("documents"), min_df=5, max_df=400)
    return out.select("term", "df", "posting_hash")


def _q_weighted_paths(spark, sf_dir):
    """All-pairs weighted shortest paths (min-plus doubling with a weight
    column — Dijkstra for every pair relationally) over the NEXT_ORDER
    chains, weight = whole days between consecutive orders."""
    load_tpch_views(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    o = spark.table("orders").select(
        (F.col("o_orderkey") + F.lit(5 * B)).alias("src"),
        (F.lead("o_orderkey").over(w) + F.lit(5 * B)).alias("dst"),
        F.datediff(F.lead("o_orderdate").over(w), F.col("o_orderdate"))
        .cast("long").alias("weight"),
    ).filter(F.col("dst").isNotNull())
    return AN.weighted_shortest_paths(o, weight_col="weight")


def _q_incremental_dedup(spark, sf_dir):
    """Continuous-ingest dedup: documents hash-split into an existing
    corpus (bucket < '80') and a new batch; the batch is exact-deduped and
    LSH-screened against the corpus WITHOUT re-tokenizing corpus text for
    the exact path (hash-only probe). Bundled row: exact flags
    (code = dup_of_existing·2 + keep) + (new, old) + within-batch LSH
    candidate pairs (operators/dedup.py incremental_*)."""
    from judy_graph_db_spark.operators.curation import hash_bucket

    load_tpch_views(spark, sf_dir)
    docs = spark.table("documents")
    new = docs.filter(hash_bucket(F.col("doc_id")) >= "80")
    old = docs.filter(hash_bucket(F.col("doc_id")) < "80")
    ex = D.incremental_exact_dedup(new, old)
    exact_part = ex.select(
        F.lit("exact").alias("op"),
        F.col("doc_id").alias("a"),
        F.lit(None).cast("long").alias("b"),
        (
            F.col("dup_of_existing").cast("long") * 2
            + F.col("keep").cast("long")
        ).alias("code"),
    )
    cand = D.incremental_lsh_candidates(new, old)
    lsh_part = cand.select(
        F.when(F.col("vs_existing"), "lsh_old").otherwise("lsh_new").alias("op"),
        F.col("doc_a").alias("a"),
        F.col("doc_b").alias("b"),
        F.col("vs_existing").cast("long").alias("code"),
    )
    return exact_part.unionByName(lsh_part)


def _q_neighbor_sample(spark, sf_dir):
    """GraphSAGE-style fanout cap: ≤2 parts per order chosen by md5 rank —
    reproducible across partitionings (operators/sampling.py)."""
    from judy_graph_db_spark.operators import sampling as SA

    load_tpch_views(spark, sf_dir)
    e = spark.table("lineitem").select(
        (F.col("l_orderkey") + F.lit(5 * B)).alias("src"),
        (F.col("l_partkey") + F.lit(4 * B)).alias("dst"),
    )
    return SA.sample_neighbors(e, k=2, seed=7)


def _q_random_walks(spark, sf_dir):
    """node2vec-corpus walks (length 3, hash-deterministic transitions)
    over the symmetrized supplier~part incidence, started from suppliers;
    adjacency cached pre-partitioned on src, per-step shuffle is O(walks)."""
    from judy_graph_db_spark.operators import sampling as SA

    load_tpch_views(spark, sf_dir)
    li = spark.table("lineitem")
    fwd = li.select(
        (F.col("l_suppkey") + F.lit(2 * B)).alias("src"),
        (F.col("l_partkey") + F.lit(4 * B)).alias("dst"),
    )
    sym = fwd.unionByName(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    starts = li.select((F.col("l_suppkey") + F.lit(2 * B)).alias("id")).distinct()
    return SA.random_walks(sym, length=3, seed=11, starts=starts)


# --------------------------------------------------------- graph analytics

def _q_connected_components(spark, sf_dir):
    """Component family in one driver row. ``cc``: large-star/small-star
    weak components over the NEXT_ORDER chains. ``scc``: STRONG components
    on the directed graph made of the same chains plus a closing
    last→first edge for even-custkey customers — their order cycle becomes
    one SCC while odd-custkey chains stay singletons, so direction
    sensitivity is what the hash actually checks (weak CC would merge
    every chain). Both oracles are closed forms implied by the chain
    structure, independent of the iteration logic under test."""
    g = tpch_graph(spark, sf_dir)
    chains = g.edges.filter((F.col("label") == "NEXT_ORDER") & ~F.col("is_back"))
    cc_labels = AN.connected_components(chains)
    cc = cc_labels.select(
        F.lit("cc").alias("op"), "id", F.col("component").alias("component"))
    # exact integer modularity of the CC labeling (each chain is one
    # community): q_scaled = 2m·2·in_c − tot_c², closed form from chain
    # lengths in the oracle
    mod = AN.modularity_scaled(
        chains.select("src", "dst"),
        cc_labels.withColumnRenamed("component", "community"),
    ).select(
        F.lit("modularity").alias("op"), F.col("community").alias("id"),
        F.col("q_scaled").alias("component"))
    per = spark.table("orders").groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.struct("o_orderdate", "o_orderkey")).alias("_fst"),
        F.max(F.struct("o_orderdate", "o_orderkey")).alias("_lst"),
    )
    closing = per.filter((F.col("o_custkey") % 2 == 0) & (F.col("n") >= 2)).select(
        (F.col("_lst.o_orderkey") + 5 * B).alias("src"),
        (F.col("_fst.o_orderkey") + 5 * B).alias("dst"),
    )
    directed = chains.select("src", "dst").unionByName(closing)
    scc = AN.strongly_connected_components(directed).select(
        F.lit("scc").alias("op"), "id", F.col("scc").alias("component"))
    # incremental: label the even-src half of the chain edges first, then
    # fold the odd-src half in as a "new batch" — the merged labeling must
    # equal the full closed form (continuous-ingest path, quotient-graph
    # recompute only)
    half_old = chains.filter(F.col("src") % 2 == 0).select("src", "dst")
    half_new = chains.filter(F.col("src") % 2 != 0).select("src", "dst")
    inc = AN.incremental_connected_components(
        AN.connected_components(half_old), half_new
    ).select(F.lit("incremental").alias("op"), "id", "component")
    # 2-round Weisfeiler–Leman refinement colors over the same chains
    # (structural fingerprints; 60-bit fold of the md5 color)
    wl = AN.wl_colors(chains.select("src", "dst"), rounds=2).select(
        F.lit("wl").alias("op"), "id",
        F.conv(F.substring("color", 1, 15), 16, 10)
        .cast("long").alias("component"))
    return (cc.unionByName(scc).unionByName(inc).unionByName(mod)
            .unionByName(wl))


def _q_triangle_count(spark, sf_dir):
    """Motif family in one driver row: degree-oriented global triangle
    count, diagonal-codegree 4-cycle (square) count, and per-node local
    clustering coefficients."""
    lN = F.lit(None).cast("long")
    g = tpch_graph(spark, sf_dir)
    fwd = g.edges.filter(~F.col("is_back"))
    tri = AN.triangle_count(fwd).select(
        F.lit("triangles").alias("op"), lN.alias("id"),
        F.col("triangles").alias("n"))
    sq = AN.square_count(fwd).select(
        F.lit("squares").alias("op"), lN.alias("id"),
        F.col("squares").alias("n"))
    lcc = AN.local_clustering(fwd).select(
        F.lit("lcc").alias("op"), "id", F.col("lcc_permille").alias("n"))
    # directed census over order chains + skip-2 shortcuts + even-custkey
    # closing edges: 3-order even customers contribute cyclic rotations,
    # every skip edge closes a feed-forward loop; the oracle counts both
    # with independent 3-way joins on the directed edge set
    wnd = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    orders = spark.table("orders")
    ch = orders.select(
        (F.col("o_orderkey") + F.lit(5 * B)).alias("src"),
        (F.lead("o_orderkey").over(wnd) + F.lit(5 * B)).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    sk = orders.select(
        (F.col("o_orderkey") + F.lit(5 * B)).alias("src"),
        (F.lead("o_orderkey", 2).over(wnd) + F.lit(5 * B)).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    per_cust = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min(F.struct("o_orderdate", "o_orderkey")).alias("_fst"),
        F.max(F.struct("o_orderdate", "o_orderkey")).alias("_lst"))
    closing = per_cust.filter(
        (F.col("o_custkey") % 2 == 0) & (F.col("cnt") >= 2)
    ).select((F.col("_lst.o_orderkey") + F.lit(5 * B)).alias("src"),
             (F.col("_fst.o_orderkey") + F.lit(5 * B)).alias("dst"))
    census = AN.directed_triangle_census(
        ch.unionByName(sk).unionByName(closing)
    ).select(F.concat(F.lit("census_"), F.col("kind")).alias("op"),
             lN.alias("id"), F.col("n"))
    return tri.unionByName(sq).unionByName(lcc).unionByName(census)


def _q_pagerank(spark, sf_dir):
    """3-round power iteration, GraphX semantics; ranks rounded to 1e-4 so
    the unrolled-SQL twin hash-matches across engines. ``wpr`` is the
    weighted variant (contributions ∝ edge weight; weight = edge_seq, an
    integer, so the weight sums are float-exact in both engines)."""
    g = tpch_graph(spark, sf_dir)
    fwd = g.edges.filter(~F.col("is_back"))
    pr = AN.pagerank(fwd, iters=3).select(
        F.lit("pr").alias("op"), "id",
        F.round(F.col("rank") * 10000).cast("long").alias("rank_e4"))
    wpr = AN.pagerank(fwd, iters=3, weight_col="edge_seq").select(
        F.lit("wpr").alias("op"), "id",
        F.round(F.col("rank") * 10000).cast("long").alias("rank_e4"))
    # warm start (evolving-graph resume): 2 cold iters, then 1 more from
    # their ranks — the identical join/sum sequence as cold 3 iters, so
    # the oracle is the SAME 3-iter unroll; a warm-start regression
    # (dropped init, wrong default for unseen nodes) breaks the hash
    warm = AN.pagerank(
        fwd, iters=1, init_ranks=AN.pagerank(fwd, iters=2)
    ).select(
        F.lit("warm").alias("op"), "id",
        F.round(F.col("rank") * 10000).cast("long").alias("rank_e4"))
    return pr.unionByName(wpr).unionByName(warm)


def _q_link_analysis(spark, sf_dir):
    """Link-analysis family in one driver row: HITS hubs/authorities (3
    rounds, L1-normalized) and personalized PageRank restarted onto the
    first three supplier nodes — both fixed-iteration, hash-checked
    against unrolled-CTE twins at e9/e6 fixed point."""
    g = tpch_graph(spark, sf_dir)
    fwd = g.edges.filter(~F.col("is_back"))
    lN = F.lit(None).cast("long")
    h = AN.hits(fwd, iters=3).select(
        F.lit("hits").alias("op"), "id",
        F.floor(F.col("auth") * 1000000000).cast("long").alias("a"),
        F.floor(F.col("hub") * 1000000000).cast("long").alias("b"),
    )
    p = AN.personalized_pagerank(
        fwd, seeds=[2 * B + 1, 2 * B + 2, 2 * B + 3], iters=3
    ).select(
        F.lit("ppr").alias("op"), "id",
        F.floor(F.col("rank") * 1000000).cast("long").alias("a"),
        lN.alias("b"),
    )
    # truncated Katz (α=1/2, K=3) — integer-exact walk-count weighting,
    # no float fixed point to mirror
    kz = AN.katz_centrality(fwd, alpha_pow2=1, iters=3).select(
        F.lit("katz").alias("op"), "id",
        F.col("katz_scaled").alias("a"), lN.alias("b"))
    return h.unionByName(p).unionByName(kz)


def _q_closure(spark, sf_dir):
    """Min-plus path-doubling reachability over the NEXT_ORDER chains:
    same semantics as the unbounded-repeat pattern loop but O(log d)
    rounds; oracle is the recursive-CTE walk reduced to MIN(depth)."""
    g = tpch_graph(spark, sf_dir)
    chains = g.edges.filter((F.col("label") == "NEXT_ORDER") & ~F.col("is_back"))
    return AN.transitive_closure(chains)


def _q_degree_histogram(spark, sf_dir):
    """Log2-bucketed degree distribution per label — the skew profile that
    drives join planning (salting / AQE skew decisions) on a big graph."""
    g = tpch_graph(spark, sf_dir)
    hist = A.degree_histogram(g, forward_only=True)
    # one whole-graph reciprocity row rides along (label sentinel):
    # bucket=n_edges, n_nodes=n_reciprocal, sum_degree=permille
    rec = AN.reciprocity(
        g.edges.filter(~F.col("is_back")).select("src", "dst")
    ).select(
        F.lit("__reciprocity__").alias("label"),
        F.col("n_edges").cast("long").alias("bucket"),
        F.col("n_reciprocal").cast("long").alias("n_nodes"),
        F.col("reciprocity_permille").cast("long").alias("sum_degree"))
    # rich-club at degree>16 as a second sentinel row (-1 = undefined φ)
    rc = AN.rich_club(
        g.edges.filter(~F.col("is_back")).select("src", "dst"), k=16
    ).select(
        F.lit("__rich_club__").alias("label"),
        F.col("n_rich").cast("long").alias("bucket"),
        F.col("e_rich").cast("long").alias("n_nodes"),
        F.coalesce("phi_permille", F.lit(-1)).cast("long")
        .alias("sum_degree"))
    # assortativity sufficient statistics across two sentinel rows
    ast = AN.degree_assortativity_stats(
        g.edges.filter(~F.col("is_back")).select("src", "dst")
    ).localCheckpoint(eager=True)
    a1 = ast.select(F.lit("__assort_xy__").alias("label"),
                    F.col("n").cast("long").alias("bucket"),
                    F.col("sxy").cast("long").alias("n_nodes"),
                    F.col("sx").cast("long").alias("sum_degree"))
    a2 = ast.select(F.lit("__assort_sq__").alias("label"),
                    F.col("sxx").cast("long").alias("bucket"),
                    F.col("sy").cast("long").alias("n_nodes"),
                    F.col("syy").cast("long").alias("sum_degree"))
    return (hist.unionByName(rec).unionByName(rc)
            .unionByName(a1).unionByName(a2))


def _q_label_propagation(spark, sf_dir):
    """Community family in one driver row: deterministic synchronous label
    propagation (3 rounds, min-label ties) and Louvain-style greedy
    modularity moves (3 sweeps, exact integer gains, md5 independent-set
    gating) — both over the NEXT_ORDER chains, both with the same rounds
    unrolled as chained SQL CTEs."""
    g = tpch_graph(spark, sf_dir)
    chains = g.edges.filter((F.col("label") == "NEXT_ORDER") & ~F.col("is_back"))
    lpa_df = AN.label_propagation(chains, iters=3).localCheckpoint(eager=True)
    lpa = lpa_df.select(F.lit("lpa").alias("op"), "id", F.col("community"))
    gm = AN.greedy_modularity_moves(
        chains.select("src", "dst"), rounds=3
    ).select(F.lit("greedy").alias("op"), "id", F.col("community"))
    # conductance scoring of the LPA assignment (3-iter LPA splits long
    # chains into segments, so cuts are nonzero): 'cond' packs
    # (volume, cut) reversibly, 'condp' carries the permille (-1 = the
    # undefined zero-volume case)
    cond_df = AN.community_conductance(
        chains.select("src", "dst"), lpa_df).localCheckpoint(eager=True)
    cond = cond_df.select(
        F.lit("cond").alias("op"), F.col("community").alias("id"),
        (F.col("volume") * 1000000 + F.col("cut_edges")).alias("community"))
    condp = cond_df.select(
        F.lit("condp").alias("op"), F.col("community").alias("id"),
        F.coalesce("conductance_permille", F.lit(-1)).alias("community"))
    return (lpa.unionByName(gm).unionByName(cond).unionByName(condp))


def _q_k_core(spark, sf_dir):
    """Core-decomposition family in one driver row — three monotone
    fixpoints, each oracle a FIXED unroll (sound because rounds past
    convergence are no-ops): ``core`` = 5-core node peeling
    (K_CORE_ORACLE_ROUNDS=8 > the 5 observed at sf0.01); ``truss`` =
    3-truss edge-support peeling over the lineitem order–part–supplier
    triangle graph (one triangle per lineitem row; TRUSS_ORACLE_ROUNDS=4 >
    the 2 observed); ``mis`` = deterministic Luby maximal independent set
    over the order chains (MIS_ORACLE_ROUNDS=8 > the 3 observed — Luby
    rounds are O(log n), so the margin holds across gate SFs)."""
    g = tpch_graph(spark, sf_dir)
    lN = F.lit(None).cast("long")
    core = AN.k_core(g.edges.filter(~F.col("is_back")), k=5).select(
        F.lit("core").alias("op"), F.col("id").alias("a"),
        F.col("degree").cast("long").alias("b"), lN.alias("c"))
    li = spark.table("lineitem").filter(F.col("l_partkey") % 5 == 0)
    tri_edges = (
        li.select((F.col("l_suppkey") + 2 * B).alias("src"),
                  (F.col("l_partkey") + 4 * B).alias("dst"))
        .unionByName(li.select((F.col("l_orderkey") + 5 * B).alias("src"),
                               (F.col("l_partkey") + 4 * B).alias("dst")))
        .unionByName(li.select((F.col("l_orderkey") + 5 * B).alias("src"),
                               (F.col("l_suppkey") + 2 * B).alias("dst")))
    )
    truss = AN.k_truss(tri_edges, k=3).select(
        F.lit("truss").alias("op"), F.col("a"), F.col("b"),
        F.col("support").alias("c"))
    chains = g.edges.filter(
        (F.col("label") == "NEXT_ORDER") & ~F.col("is_back")
    ).select("src", "dst")
    mis = AN.maximal_independent_set(chains, seed=7).select(
        F.lit("mis").alias("op"), F.col("id").alias("a"),
        F.col("round").alias("b"), lN.alias("c"))
    # deterministic maximal matching over the same chains
    # (MATCHING_ORACLE_ROUNDS=10 > the rounds observed at sf0.01; same
    # fixed-unroll soundness — rounds past convergence are no-ops), plus
    # one METIS-style match-contract coarsening level built on it
    mat_df = AN.maximal_matching(chains, seed=7).localCheckpoint(eager=True)
    # fixed-unroll soundness is one-directional: rounds past convergence
    # are no-ops, but a fixture needing MORE rounds than the oracle
    # unrolls would hash-mismatch with no pointer at the constant — fail
    # loudly instead (one scalar agg over the checkpointed relation)
    _max_round = mat_df.agg(F.max("round")).collect()[0][0]
    if _max_round is not None and _max_round > MATCHING_ORACLE_ROUNDS:
        raise AssertionError(
            f"maximal_matching needed {_max_round} rounds > "
            f"MATCHING_ORACLE_ROUNDS={MATCHING_ORACLE_ROUNDS}; raise the "
            "oracle unroll")
    mat = mat_df.select(
        F.lit("matching").alias("op"), F.col("a"), F.col("b"),
        F.col("round").alias("c"))
    coa = AN.coarsen_graph(chains, mat_df.select("a", "b")).select(
        F.lit("coarsen").alias("op"), F.col("src").alias("a"),
        F.col("dst").alias("b"), F.col("weight").alias("c"))
    # embeddedness / local bridges over the same triangle graph
    emb = AN.edge_embeddedness(tri_edges).select(
        F.lit("embed").alias("op"), F.col("a"), F.col("b"),
        F.col("embeddedness").alias("c"))
    # full core decomposition on an SF-STABLE fixture: chains (shell 1)
    # + even-custkey closing cycles (shell 2) + a literal K6 (shell 5) —
    # degeneracy is 5 by construction at every scale factor, unlike the
    # triangle graph whose degeneracy grows with SF
    per_c = spark.table("orders").groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.struct("o_orderdate", "o_orderkey")).alias("_f"),
        F.max(F.struct("o_orderdate", "o_orderkey")).alias("_l"))
    closing_c = per_c.filter(
        (F.col("o_custkey") % 2 == 0) & (F.col("n") >= 2)).select(
        (F.col("_l.o_orderkey") + 5 * B).alias("src"),
        (F.col("_f.o_orderkey") + 5 * B).alias("dst"))
    k6 = spark.createDataFrame(
        [(9 * B + a, 9 * B + b) for a in range(1, 7) for b in range(1, 7)
         if a < b], "src BIGINT, dst BIGINT")
    cg = chains.select("src", "dst").unionByName(closing_c).unionByName(k6)
    cor = AN.coreness(cg, k_max=6).select(
        F.lit("coreness").alias("op"), F.col("id").alias("a"),
        F.col("coreness").alias("b"), lN.alias("c"))
    # full truss decomposition on the same SF-stable fixture: triangle-
    # free chains/cycles pin trussness 2, the literal K6 pins 6 — the
    # closed form the oracle states without replaying the peels
    trs = AN.trussness(cg, k_max=6).select(
        F.lit("trussness").alias("op"), F.col("a"),
        F.col("b"), F.col("trussness").alias("c"))
    # Jones-Plassmann coloring over the chains; rounds = longest
    # decreasing-priority run, observed 5 at sf0.01 —
    # COLORING_ORACLE_ROUNDS=14 margins it, and greedy_coloring raises
    # loudly (before any hash compare) if the bound is ever hit
    col = AN.greedy_coloring(chains, max_iter=COLORING_ORACLE_ROUNDS,
                             seed=7).select(
        F.lit("color").alias("op"), F.col("id").alias("a"),
        F.col("color").alias("b"), F.col("round").alias("c"))
    # onion decomposition on the PURE un-closed chains (odd custkeys):
    # the closed form is positional — layer = min(i, L+1-i), coreness 1
    odd_chains = spark.table("orders").filter(F.col("o_custkey") % 2 == 1) \
        .select(
            "o_custkey",
            (F.col("o_orderkey") + F.lit(5 * B)).alias("src"),
            (F.lead("o_orderkey").over(
                Window.partitionBy("o_custkey")
                .orderBy("o_orderdate", "o_orderkey")) + F.lit(5 * B)
             ).alias("dst"),
        ).filter(F.col("dst").isNotNull()).select("src", "dst")
    oni = AN.onion_layers(odd_chains).select(
        F.lit("onion").alias("op"), F.col("id").alias("a"),
        (F.col("coreness") * 100 + F.col("layer")).alias("b"), lN.alias("c"))
    return (core.unionByName(truss).unionByName(mis).unionByName(mat)
            .unionByName(coa).unionByName(emb).unionByName(cor)
            .unionByName(col).unionByName(oni).unionByName(trs))


K_CORE_ORACLE_ROUNDS = 8
TRUSS_ORACLE_ROUNDS = 4
MIS_ORACLE_ROUNDS = 8
MATCHING_ORACLE_ROUNDS = 10
COLORING_ORACLE_ROUNDS = 14
# k=2 peeling of an open chain drops ONE endpoint pair per round, so
# rounds must cover max-chain-length/2; TPC-H orders-per-customer is
# SF-independent (~max 40), so 24 holds at every scale factor
CORENESS_ORACLE_ROUNDS = 24
K6_VALUES = ", ".join(f"(9000000000000 + {a}, 9000000000000 + {b})" for a in range(1, 7) for b in range(1, 7) if a < b)


# ---------------------------------------------------- merged gate bundles
# The driver records at most ~50 correctness rows; same-family gates are
# bundled into ONE union output with an `op` tag so EVERY operator keeps a
# driver-visible oracle row — the value hash still checks each part, and a
# wrong answer in any part fails the whole bundle.


def _q_point_lookups(spark, sf_dir):
    """Point-lookup family in one driver row: lookupNodeEdge
    (``FastAccess.hs:637-640``), adjacentNodeByAttr (``:587-599``),
    adjacentEdgesByIndex (``Enum.hs:463-474``), allChilds
    (``Enum.hs:323-339``), attrOverlap (``FastAccess.hs:730-742``)."""
    g = tpch_graph(spark, sf_dir)
    sN = F.lit(None).cast("string")
    lN = F.lit(None).cast("long")
    bN = F.lit(None).cast("boolean")
    parts = [
        A.lookup_node_edge(g, 3 * B + 1, "PLACED", edge_seq=2).select(
            F.lit("lookup_node_edge").alias("op"), sN.alias("label"),
            lN.alias("edge_seq"), bN.alias("is_back"),
            F.col("dst").alias("node_id")),
        A.adjacent_node_by_attr(g, 3 * B + 1, "PLACED", backwards=False).select(
            F.lit("adjacent_node_first").alias("op"), sN.alias("label"),
            lN.alias("edge_seq"), bN.alias("is_back"),
            F.col("dst").alias("node_id")),
        A.adjacent_edges_by_index(g, 5 * B + 1, 2, 4, backwards=False).select(
            F.lit("edges_by_index").alias("op"), "label",
            F.col("edge_seq").cast("long").alias("edge_seq"),
            bN.alias("is_back"), lN.alias("node_id")),
        A.all_children(g, 5 * B + 1).select(
            F.lit("all_children").alias("op"), "label",
            F.col("edge_seq").cast("long").alias("edge_seq"), "is_back",
            F.col("dst").alias("node_id")),
        A.attr_overlap(g).select(
            F.lit("attr_overlap").alias("op"), "label",
            F.col("edge_seq").cast("long").alias("edge_seq"), "is_back",
            F.col("n").cast("long").alias("node_id")),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _q_pattern_1hop_matrix(spark, sf_dir):
    """1-hop pattern-direction matrix in one driver row: backward traversal
    over back rows, orth multi-label overlay, per-edge where predicate."""
    parts = [
        ("backward", _q_pattern_backward),
        ("orth_bulk", _q_pattern_orth),
        ("where_seq", _q_pattern_where),
        ("where_str", _q_pattern_where_str),
        ("optional", _q_pattern_optional),
        ("not_edge", _q_pattern_not_edge),
        ("cycle", _q_pattern_cycle),
        ("comma", _q_pattern_comma),
    ]
    out = None
    for tag, fn in parts:
        d = fn(spark, sf_dir).select(
            F.lit(tag).alias("op"), "n0", "e0_label",
            F.col("e0_seq").cast("long").alias("e0_seq"), "n1")
        out = d if out is None else out.unionByName(d)
    return out


def _q_var_length_paths(spark, sf_dir):
    """Variable-length family over the NEXT_ORDER chains in one driver row:
    bounded ``several (1,3)``, unbounded ``***`` (visited-set reachability),
    and BFS shortest-path hops."""
    from judy_graph_db_spark import shortest_paths

    g = tpch_graph(spark, sf_dir)
    p13 = table(g, N(labels=["ORDER"]) >> E("NEXT_ORDER", direction="r", several=(1, 3)) >> N())
    pun = table(g, N(labels=["ORDER"]) >> E("NEXT_ORDER", direction="r", several=(1, None)) >> N())
    sp = shortest_paths(g, N(labels=["ORDER"]), label="NEXT_ORDER")
    out = p13.select(F.lit("several_1_3").alias("op"), "n0", "n1",
                     F.col("e0_depth").cast("long").alias("d"))
    out = out.unionByName(pun.select(F.lit("unbounded").alias("op"), "n0", "n1",
                                     F.col("e0_depth").cast("long").alias("d")))
    out = out.unionByName(sp.select(F.lit("shortest").alias("op"), "n0", "n1",
                                    F.col("hops").cast("long").alias("d")))
    return out


def _q_doc_signals(spark, sf_dir):
    """Per-document text signals in one wide driver row: token counts,
    punct/upper/stopword ratios, quality score, lang-id, rolling-hash
    fingerprint, simhash, plus PII counts + redaction fingerprint over a
    deterministically PII-injected variant of the text (the fixture corpus
    itself contains no emails/SSNs, so the injection is what proves the
    patterns and the redaction chain actually fire)."""
    load_tpch_views(spark, sf_dir)
    d = spark.table("documents")
    t = F.col("text")
    pii_t = F.concat(
        t, F.lit(" user"), F.col("doc_id").cast("string"),
        F.lit("@example.com 10.0.0.1 555-12-3456 +1 (415) 555-01"),
        ((F.col("doc_id") % 90) + 10).cast("string"),
    )
    # URL-injected variant (fixture text has no URLs) — proves the
    # extraction patterns fire; the bare plain.example.com must NOT count
    url_t = F.concat(
        t, F.lit(" http://d"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".example.com/a x https://www.site"),
        (F.col("doc_id") % 3).cast("string"),
        F.lit(".org/path?q=1 plain.example.com"),
    )
    # line-structured variant (fixture docs are single-line): a repeated
    # full line + a prefix line; the intra-doc dedup must keep 2 lines
    from judy_graph_db_spark.operators.curation import dedup_lines_col
    lined_t = F.concat_ws("\n", t, t, F.substring(t, 1, 40), t)
    # markup-injected variant + a tracking-parameter URL per doc — prove
    # the HTML strip and URL canonicalization chains fire
    html_t = F.concat(F.lit("<p>"), t, F.lit("</p> tail<br/>"))
    track_url = F.concat(
        F.lit("https://EX.com/p"), F.col("doc_id").cast("string"),
        F.lit("/?utm_source=a&q="), F.col("doc_id").cast("string"),
        F.lit("#frag"))
    # ccTLD-structured URL variant + a 2-domain blocklist — prove the
    # host/registered-domain extraction and the blocklist flag fire
    # (shop0/shop3 .co.uk are blocked, 3 of the 15 (m3, m5) classes)
    from judy_graph_db_spark.operators.curation import url_blocklist_filter
    cc_url = F.concat(
        F.lit("https://sub"), (F.col("doc_id") % 3).cast("string"),
        F.lit(".shop"), (F.col("doc_id") % 5).cast("string"),
        F.lit(".co.uk/item/"), F.col("doc_id").cast("string"))
    bl = url_blocklist_filter(
        d.select("doc_id", cc_url.alias("url")),
        ("shop0.co.uk", "shop3.co.uk"))
    d = d.join(bl, "doc_id")
    return d.select(
        "doc_id",
        T.token_count(t).alias("n_tokens"),
        T.word_token_count(t).alias("n_word_tokens"),
        T.punct_permille(t).alias("punct_pm"),
        T.upper_permille(t).alias("upper_pm"),
        T.stopword_permille(t).alias("stop_pm"),
        T.quality_score(t).alias("quality"),
        T.dup_line_permille(t).alias("dup_line_pm"),
        T.dup_token_permille(t).alias("dup_token_pm"),
        T.sentence_count(t).alias("n_sentences"),
        T.words_per_sentence_milli(t).alias("wps_milli"),
        T.syllable_count(t).alias("n_syllables"),
        T.flesch_reading_ease_milli(t).alias("fre_milli"),
        T.fk_grade_milli(t).alias("fk_milli"),
        T.lang_id(t).alias("lang"),
        T.fingerprint(t).alias("fp"),
        D.simhash(t).alias("simhash"),
        T.pii_count(pii_t, "email").alias("n_emails"),
        T.pii_count(pii_t, "ipv4").alias("n_ipv4"),
        T.pii_count(pii_t, "ssn").alias("n_ssn"),
        T.pii_count(pii_t, "phone").alias("n_phones"),
        F.md5(T.redact_pii(pii_t)).alias("redacted_md5"),
        T.url_count(url_t).alias("n_urls"),
        F.array_join(T.url_domains(url_t), "|").alias("domains"),
        F.size(F.split(dedup_lines_col(lined_t), "\n"))
        .cast("long").alias("n_uniq_lines"),
        F.md5(dedup_lines_col(lined_t)).alias("stripped_md5"),
        T.tag_count(html_t).alias("n_tags"),
        F.md5(T.strip_html(html_t)).alias("nohtml_md5"),
        T.canonicalize_url(track_url).alias("canon_url"),
        # card-injected variant: even docs get a Luhn-VALID test number,
        # odd docs the same digits with the check digit off by one; the
        # 12-digit order id must never count
        T.luhn_valid_count(F.concat(
            t, F.lit(" order 123456789012 card "),
            F.when(F.col("doc_id") % 2 == 0, F.lit("4532015112830366"))
            .otherwise(F.lit("4532015112830367")))).alias("n_luhn"),
        F.col("host"),
        F.col("reg_domain"),
        F.col("blocked").cast("long").alias("url_blocked"),
    )


def _q_neardup_pairs(spark, sf_dir):
    """Near-duplicate pair family in one driver row: MinHash-LSH candidates,
    n-gram Jaccard verify, SimHash hamming pairs, embedding-cosine pairs.
    All bucketed — never all-pairs."""
    load_tpch_views(spark, sf_dir)
    docs = spark.table("documents")
    embs = spark.table("embeddings")
    lN = F.lit(None).cast("long")
    parts = [
        D.minhash_lsh_candidates(docs).select(
            F.lit("lsh").alias("op"), F.col("doc_a").alias("a"),
            F.col("doc_b").alias("b"), lN.alias("v")),
        D.ngram_jaccard_pairs(docs).select(
            F.lit("jaccard").alias("op"), F.col("doc_a").alias("a"),
            F.col("doc_b").alias("b"),
            F.col("jaccard_permille").cast("long").alias("v")),
        D.simhash_neardup_pairs(docs).select(
            F.lit("simhash").alias("op"), F.col("doc_a").alias("a"),
            F.col("doc_b").alias("b"), F.col("hamming").cast("long").alias("v")),
        S.cosine_neardup_pairs(embs, n_planes=4, dim=64).select(
            F.lit("cosine").alias("op"), F.col("vec_a").alias("a"),
            F.col("vec_b").alias("b"), F.col("sim_micro").cast("long").alias("v")),
    ]
    # MOSS winnowing matches: every doc paired with a prefix-sharing
    # variant (+100000) — substring-sensitive dedup, vs MinHash's bags
    wdocs = docs.select("doc_id", "text").unionByName(docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.substring("text", 1, 60),
                 F.lit(" altered tail")).alias("text")))
    parts.append(D.winnow_matches(
        D.winnow_fingerprints(wdocs, k=8, w=8),
        min_shared=3, max_bucket=16,
    ).select(
        F.lit("wmatch").alias("op"), F.col("doc_a").alias("a"),
        F.col("doc_b").alias("b"), F.col("n_shared").cast("long").alias("v")))
    # blocked Levenshtein record linkage over part names: each part gets a
    # one-typo variant (+7B id, last char dropped), blocked by brand
    pt = spark.table("part").select(
        (F.col("p_partkey") + F.lit(4 * B)).alias("doc_id"),
        F.col("p_brand").alias("brand"), F.col("p_name").alias("name"))
    pv = spark.table("part").select(
        (F.col("p_partkey") + F.lit(7 * B)).alias("doc_id"),
        F.col("p_brand").alias("brand"),
        F.expr("substring(p_name, 1, length(p_name) - 1)").alias("name"))
    parts.append(D.fuzzy_match_pairs(
        pt.unionByName(pv), "brand", "name", max_dist=1,
    ).select(
        F.lit("fuzzy").alias("op"), F.col("id_a").alias("a"),
        F.col("id_b").alias("b"), F.col("dist").alias("v")))
    # EXACT prefix-filtered Jaccard join (AllPairs/PPJoin) over the same
    # prefix-sharing variants — the zero-false-negative complement to LSH;
    # the oracle computes ALL pairs, so the hash match doubles as a
    # losslessness proof for the prefix filter
    parts.append(D.jaccard_similarity_join(wdocs, 400).select(
        F.lit("ppjoin").alias("op"), F.col("doc_a").alias("a"),
        F.col("doc_b").alias("b"),
        (F.col("common") * 100000
         + F.col("jaccard_permille")).alias("v")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def AHASH_SQL(table: str, seed: str = "md5(d.text)") -> str:
    """DuckDB twin of ``multimodal.image_ahash``: md5-derived 8×8 pixels
    (``px_i = first byte of md5(seed || ':' || i)``), integer
    mean-threshold bits, nibble-packed hex. With the default ``seed``
    this is the stub path over a ``(doc_id, text)`` relation; the
    ``png_ahash`` gate passes a doc_id-derived seed and feeds the SAME
    pixels through a real PNG encode→decode on the Spark side, so the
    hash match proves the pixel decoder exact."""
    return f"""WITH ah_p AS (
  SELECT d.doc_id, g.i,
         CAST(CAST('0x' || substr(
           md5({seed} || ':' || g.i), 1, 2) AS INT) AS BIGINT) AS px
  FROM {table} d,
       (SELECT unnest(generate_series(0, 63)) AS i) g
),
ah_s AS (
  SELECT doc_id, SUM(px) AS s FROM ah_p GROUP BY 1
),
ah_n AS (
  SELECT p.doc_id, p.i // 4 AS k,
         SUM((CASE WHEN p.px * 64 > s.s THEN 1 ELSE 0 END)
             * (CASE p.i % 4 WHEN 0 THEN 8 WHEN 1 THEN 4
                WHEN 2 THEN 2 ELSE 1 END)) AS nib
  FROM ah_p p JOIN ah_s s USING (doc_id) GROUP BY 1, 2
)
SELECT n.doc_id,
       string_agg(substr('0123456789abcdef', CAST(n.nib AS INT) + 1, 1),
                  '' ORDER BY n.k) AS ahash,
       CAST(1000 * MAX(s.s) // 64 AS BIGINT) AS mean_milli
FROM ah_n n JOIN ah_s s USING (doc_id)
GROUP BY 1"""


def _q_media_pipeline(spark, sf_dir):
    """Multimodal pipeline in one driver row: pure-JVM metadata pass, Arrow
    ``mapInPandas`` decode (stub codec, real plumbing), frame sampling."""
    from judy_graph_db_spark.operators import multimodal as MM

    load_tpch_views(spark, sf_dir)
    media = MM.as_media_table(spark.table("documents"))
    lN = F.lit(None).cast("long")
    meta = MM.extract_metadata(media).select(
        F.concat(F.lit("meta_"), F.col("media_type")).alias("op"), "doc_id",
        F.col("byte_len").cast("long").alias("a"), lN.alias("b"), lN.alias("c"),
        lN.alias("d"), F.col("content_hash").alias("h"))
    dec = MM.decode_features(media).select(
        F.lit("decode").alias("op"), "doc_id",
        F.col("byte_len").cast("long").alias("a"),
        F.col("width").cast("long").alias("b"),
        F.col("height").cast("long").alias("c"),
        F.col("n_frames").cast("long").alias("d"),
        F.col("content_hash").alias("h"))
    frames = MM.frame_sample(media, every_n=2).select(
        F.lit("frame").alias("op"), "doc_id",
        F.col("frame_idx").cast("long").alias("a"), lN.alias("b"), lN.alias("c"),
        lN.alias("d"), F.col("frame_hash").alias("h"))
    audio = MM.audio_features(media).select(
        F.lit("audio").alias("op"), "doc_id",
        F.col("byte_len").cast("long").alias("a"),
        F.col("sample_rate").cast("long").alias("b"),
        F.col("n_channels").cast("long").alias("c"),
        F.col("duration_ms").cast("long").alias("d"),
        F.col("content_hash").alias("h"))
    wins = MM.audio_window_sample(media, window_ms=1000).select(
        F.lit("awindow").alias("op"), "doc_id",
        F.col("window_idx").cast("long").alias("a"), lN.alias("b"),
        lN.alias("c"), lN.alias("d"), F.col("window_hash").alias("h"))
    video = MM.video_features(media).select(
        F.lit("video").alias("op"), "doc_id",
        F.col("byte_len").cast("long").alias("a"),
        F.col("width").cast("long").alias("b"),
        F.col("height").cast("long").alias("c"),
        F.col("duration_ms").cast("long").alias("d"),
        F.col("content_hash").alias("h"))
    # perceptual average-hash (stub thumbnail from payload md5; real path
    # is PIL-gated like decode)
    ah = MM.image_ahash(media).select(
        F.lit("ahash").alias("op"), "doc_id",
        F.col("mean_milli").alias("a"), lN.alias("b"), lN.alias("c"),
        lN.alias("d"), F.col("ahash").alias("h"))
    # Hamming near-dup pairs over the hashes of a dup-injected variant
    # (every 10th payload re-appears under id+1e6 → hamming-0 pairs);
    # banded candidates, exact nibble-popcount verify
    from judy_graph_db_spark.operators.dedup import hex_hamming_pairs

    sN = F.lit(None).cast("string")
    dup_docs = spark.table("documents").select("doc_id", "text").unionByName(
        spark.table("documents").filter(F.col("doc_id") % 10 == 0)
        .select((F.col("doc_id") + 1000000).alias("doc_id"), "text"))
    hp = hex_hamming_pairs(
        MM.image_ahash(MM.as_media_table(dup_docs))
    ).select(
        F.lit("hpairs").alias("op"), F.col("id_a").alias("doc_id"),
        F.col("id_b").alias("a"), F.col("hamming").alias("b"),
        lN.alias("c"), lN.alias("d"), sN.alias("h"))
    # REAL pixel decode: 8×8 grayscale PNGs with md5-derived pixels,
    # encoder cycling all five scanline filters; image_ahash
    # decode_stub=False inflates + unfilters them executor-side (the
    # dependency-free zlib path when PIL is absent — multimodal.py
    # _png_pixels), and the oracle recomputes the hash straight from the
    # pixel formula, so hash equality proves the decode bit-exact
    import hashlib as _hl

    ids = [int(r["doc_id"]) for r in spark.table("documents")
           .filter(F.col("doc_id") < 64).select("doc_id").collect()]
    png_rows = []
    for d in sorted(ids):
        px = [int(_hl.md5(f"png{d}:{i}".encode()).hexdigest()[:2], 16)
              for i in range(64)]
        png_rows.append((d, bytearray(MM.png_encode_gray(
            8, 8, px, filters=[y % 5 for y in range(8)])), "image"))
    png_media = spark.createDataFrame(
        png_rows, "doc_id long, content binary, media_type string")
    pah = MM.image_ahash(png_media, decode_stub=False).select(
        F.lit("png_ahash").alias("op"), "doc_id",
        F.col("mean_milli").alias("a"), lN.alias("b"), lN.alias("c"),
        lN.alias("d"), F.col("ahash").alias("h"))
    return (meta.unionByName(dec).unionByName(frames)
            .unionByName(audio).unionByName(wins).unionByName(video)
            .unionByName(ah).unionByName(hp).unionByName(pah))


GOPHER_INJECT_SQL = (
    "SELECT doc_id, text || chr(10) || substr(text, 1, 50) || chr(10) || "
    "substr(text, 1, 50) || chr(10) || '- bullet item' || chr(10) || "
    "'- bullet item' || chr(10) || 'the end...' AS text FROM documents")


def _q_web_filter_ops(spark, sf_dir):
    """BOTH published web-filter rule sets in one driver row (merged
    gate bundle — the driver records only 50 correctness rows).

    Gopher half (Rae et al. 2021, A1.1 quality rules + A1.2 repetition
    rules in the char-fraction unit): signals, keep flag, duplicate-line
    fractions, top-2-gram and dup-5-gram char coverage — over a
    dup-injected corpus variant (each doc gets its own 50-char prefix
    twice, two bullet lines and an ellipsis line appended, so every
    signal is exercised away from zero).

    C4 half (Raffel et al. 2020 §2.2): line-level filter (terminal
    punctuation / ≥3 words / no javascript), composed page filter (≥5
    surviving sentences, lorem-ipsum / curly-bracket / blocklist kill
    rules), and the cross-document three-sentence-span keep-first dedup
    — over injected variants that exercise every rule away from zero
    (every 5th doc shares a 3-sentence block that must be excised
    everywhere but its first occurrence)."""
    from judy_graph_db_spark.operators import curation as CU

    load_tpch_views(spark, sf_dir)
    gdocs = spark.table("documents").select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit("\n"),
            F.substring("text", 1, 50), F.lit("\n"),
            F.substring("text", 1, 50),
            F.lit("\n- bullet item\n- bullet item\nthe end..."),
        ).alias("text"))
    lN = F.lit(None).cast("long")
    sN = F.lit(None).cast("string")
    sig = CU.gopher_quality_signals(gdocs).select(
        F.lit("gq").alias("op"), "doc_id",
        F.col("n_words").alias("a"),
        F.col("mean_word_len_milli").alias("b"),
        (F.col("symbol_word_milli") * 1000000
         + F.col("bullet_line_milli") * 1000
         + F.col("ellipsis_line_milli")).alias("c"),
        (F.col("alpha_word_milli") * 100 + F.col("stop_hits")).alias("d"),
        sN.alias("h"))
    keep = CU.gopher_quality_filter(gdocs).select(
        F.lit("keep").alias("op"), "doc_id",
        F.col("keep").cast("long").alias("a"), lN.alias("b"),
        lN.alias("c"), lN.alias("d"), sN.alias("h"))
    dline = CU.dup_line_signals(gdocs).select(
        F.lit("dline").alias("op"), "doc_id",
        F.col("n_lines").alias("a"), F.col("dup_line_milli").alias("b"),
        F.col("dup_line_char_milli").alias("c"), lN.alias("d"),
        sN.alias("h"))
    top2 = CU.top_ngram_char_fraction(gdocs, 2).select(
        F.lit("top2").alias("op"), "doc_id",
        F.col("top_ngram_char_milli").alias("a"), lN.alias("b"),
        lN.alias("c"), lN.alias("d"), F.col("gram").alias("h"))
    dup5 = CU.dup_ngram_char_fraction(gdocs, 5).select(
        F.lit("dup5").alias("op"), "doc_id",
        F.col("dup_ngram_char_milli").alias("a"), lN.alias("b"),
        lN.alias("c"), lN.alias("d"), sN.alias("h"))
    return sig.unionByName(keep).unionByName(dline) \
        .unionByName(top2).unionByName(dup5) \
        .unionByName(_c4_part(spark, sf_dir)) \
        .unionByName(_robots_part(spark, sf_dir))


def _robots_part(spark, sf_dir):
    """robots.txt policy rows of the ``web_filter_ops`` bundle: URLs
    synthesized from doc ids (6 path shapes exercising literal prefixes,
    the allow override, '$'-anchored and interior wildcards, query
    strings defeating the '$' anchor, and hosts with no robots at all)
    evaluated by :func:`robots_url_policy` against
    ``oracle.ROBOTS_GATE_BODY`` parsed for 5 of the 7 hosts — the DuckDB
    twin (:func:`oracle.robots_policy_sql`) inlines the EXPECTED parse as
    VALUES, so a parser divergence breaks the hash too."""
    from judy_graph_db_spark.sources.robots import (parse_robots,
                                                    robots_url_policy)

    load_tpch_views(spark, sf_dir)
    lN = F.lit(None).cast("long")
    robots = spark.range(5).select(
        F.concat(F.lit("h"), F.col("id").cast("string"),
                 F.lit(".example.com")).alias("host"),
        F.lit(O.ROBOTS_GATE_BODY).alias("text"))
    urls = spark.table("documents").select(
        "doc_id",
        F.concat(
            F.lit("http://h"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com"),
            F.element_at(
                F.array(F.lit("/private/x"), F.lit("/private/ok/y"),
                        F.lit("/file"), F.lit("/file"),
                        F.lit("/tmp"), F.lit("/p")),
                (F.col("doc_id") % 6 + 1).cast("int")),
            F.col("doc_id").cast("string"),
            F.element_at(
                F.array(F.lit(""), F.lit(""), F.lit(".php"),
                        F.lit(".php?x=1"), F.lit("junk"), F.lit("")),
                (F.col("doc_id") % 6 + 1).cast("int")),
        ).alias("url"))
    pol = robots_url_policy(urls.select("url"), parse_robots(robots))
    return urls.join(pol, "url").select(
        F.lit("robots").alias("op"), "doc_id",
        F.col("allowed").cast("long").alias("a"),
        F.col("matched_wild").cast("long").alias("b"),
        lN.alias("c"), lN.alias("d"),
        F.col("matched_path").alias("h"))


C4_INJECT_SQL = (
    "SELECT doc_id, "
    "substr(text, 1, 50) || ' ends with period.' || chr(10) || "
    "'two words' || chr(10) || "
    "'this javascript line is long.' || chr(10) || "
    "substr(text, 51, 50) || ' unpunctuated line' || chr(10) || "
    "'question line with many words here?' || chr(10) || "
    "'exclaim line with many words here!' || chr(10) || "
    "CASE WHEN doc_id % 7 = 0 THEN 'lorem ipsum hiding in here.' "
    "ELSE 'ordinary closing line right here.' END || chr(10) || "
    "CASE WHEN doc_id % 9 = 0 "
    "THEN 'has a curly ' || chr(123) || ' bracket here.' "
    "WHEN doc_id % 11 = 0 THEN 'contains badword9 token here.' "
    "ELSE 'benign last line ends here.' END AS text FROM documents")

C4_SPAN_INJECT_SQL = (
    "SELECT doc_id, "
    "substr(text, 1, 40) || ' alpha. ' || substr(text, 41, 40) "
    "|| ' beta! ' || "
    "CASE WHEN doc_id % 5 = 0 "
    "THEN 'shared one fixed. shared two fixed? shared three fixed.' "
    "ELSE substr(text, 81, 40) || ' gamma. unique tail ' "
    "|| CAST(doc_id AS VARCHAR) || ' delta. closing words epsilon.' END "
    "AS text FROM documents")


def _c4_part(spark, sf_dir):
    """The C4 half of the ``web_filter_ops`` bundle (see
    :func:`_q_web_filter_ops`): ops ``lines``, ``c4keep``, ``span`` in
    the bundle's (op, doc_id, a, b, c, d, h) schema."""
    from judy_graph_db_spark.operators import curation as CU

    load_tpch_views(spark, sf_dir)
    did = F.col("doc_id")
    c4docs = spark.table("documents").select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 50), F.lit(" ends with period.\n"),
            F.lit("two words\n"),
            F.lit("this javascript line is long.\n"),
            F.substring("text", 51, 50), F.lit(" unpunctuated line\n"),
            F.lit("question line with many words here?\n"),
            F.lit("exclaim line with many words here!\n"),
            F.when(did % 7 == 0, F.lit("lorem ipsum hiding in here.\n"))
            .otherwise(F.lit("ordinary closing line right here.\n")),
            F.when(did % 9 == 0, F.lit("has a curly { bracket here."))
            .when(did % 11 == 0, F.lit("contains badword9 token here."))
            .otherwise(F.lit("benign last line ends here.")),
        ).alias("text"))
    spdocs = spark.table("documents").select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 40), F.lit(" alpha. "),
            F.substring("text", 41, 40), F.lit(" beta! "),
            F.when(did % 5 == 0, F.lit(
                "shared one fixed. shared two fixed? shared three fixed."))
            .otherwise(F.concat(
                F.substring("text", 81, 40), F.lit(" gamma. unique tail "),
                did.cast("string"),
                F.lit(" delta. closing words epsilon."))),
        ).alias("text"))
    lN = F.lit(None).cast("long")
    sN = F.lit(None).cast("string")
    lines = CU.c4_line_filter(c4docs).select(
        F.lit("lines").alias("op"), "doc_id",
        F.col("n_lines").alias("a"), F.col("n_kept_lines").alias("b"),
        lN.alias("c"), lN.alias("d"), F.md5("clean_text").alias("h"))
    keep = CU.c4_quality_filter(
        c4docs, bad_words=("badword9", "zzunseen")).select(
        F.lit("c4keep").alias("op"), "doc_id",
        F.col("keep").cast("long").alias("a"),
        F.col("n_sentences").alias("b"),
        (F.col("has_lorem") * 100 + F.col("has_curly") * 10
         + F.col("bad_word_hits")).alias("c"),
        lN.alias("d"), sN.alias("h"))
    span = CU.c4_span_dedup(spdocs).select(
        F.lit("span").alias("op"), "doc_id",
        F.col("n_removed_sentences").alias("a"), lN.alias("b"),
        lN.alias("c"), lN.alias("d"), F.md5("clean_text").alias("h"))
    return lines.unionByName(keep).unionByName(span)


def _q_corpus_curation(spark, sf_dir):
    """Corpus curation family in one driver row: deterministic hash sample,
    train/val/test split sizes, post-dedup canonical corpus, and benchmark
    decontamination (every 20th doc plays the eval set; the rest is the
    corpus scanned once against its broadcast shingle set)."""
    from judy_graph_db_spark.operators import curation as CU

    load_tpch_views(spark, sf_dir)
    docs = spark.table("documents")
    lN = F.lit(None).cast("long")
    sN = F.lit(None).cast("string")
    sample = CU.hash_sample(docs, 64).select(
        F.lit("sample").alias("op"), "doc_id", sN.alias("split"), lN.alias("n"),
        lN.alias("a"), lN.alias("b"))
    splits = CU.hash_split(docs, {"train": 240, "val": 8, "test": 8}).groupBy(
        "split").agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("split_sizes").alias("op"), lN.alias("doc_id"), "split", "n",
        lN.alias("a"), lN.alias("b"))
    canon = CU.canonical_corpus(docs).select(
        F.lit("canonical").alias("op"), "doc_id", sN.alias("split"),
        T.token_count(F.col("text")).alias("n"), lN.alias("a"), lN.alias("b"))
    contam = D.ngram_contamination(
        docs.filter(F.col("doc_id") % 20 != 0),
        docs.filter(F.col("doc_id") % 20 == 0),
    ).select(
        F.lit("contam").alias("op"), "doc_id", sN.alias("split"),
        F.col("n_shingles").alias("n"), F.col("n_hits").alias("a"),
        F.col("contam_permille").alias("b"))
    # fuzzy decontamination: corpus docs LSH-colliding with the eval set
    fcontam = D.cross_corpus_neardup_pairs(
        docs.filter(F.col("doc_id") % 20 != 0),
        docs.filter(F.col("doc_id") % 20 == 0),
    ).select(
        F.lit("fcontam").alias("op"), "doc_id", sN.alias("split"),
        lN.alias("n"), F.col("bench_id").alias("a"), lN.alias("b"))
    qf = CU.quality_percentile_filter(docs, keep_permille=500).select(
        F.lit("quality_filter").alias("op"), "doc_id",
        F.col("lang").alias("split"), F.col("q_score").alias("n"),
        lN.alias("a"), lN.alias("b"))
    cap = CU.cap_per_group(docs, "source", n=40).select(
        F.lit("cap").alias("op"), "doc_id", F.col("source").alias("split"),
        F.col("rank_in_group").cast("long").alias("n"),
        lN.alias("a"), lN.alias("b"))
    mx = CU.plan_mixture(
        docs, {"src0": 300, "src1": 100, "src2": 50}
    ).select(
        F.lit("mixture").alias("op"), lN.alias("doc_id"),
        F.col("source").alias("split"), F.col("n_tokens").alias("n"),
        F.col("target_permille").alias("a"), F.col("keep_permille").alias("b"))
    # temperature-flattened mixture (α = 2^-2): targets DERIVED from the
    # corpus token shares by nested-sqrt flattening, not user-given
    tmx = CU.temperature_mixture(docs, alpha_pow2=2).select(
        F.lit("tmix").alias("op"), lN.alias("doc_id"),
        F.col("source").alias("split"), F.col("n_tokens").alias("n"),
        F.col("target_permille").alias("a"), F.col("keep_permille").alias("b"))
    ls = CU.leakage_safe_split(
        docs.select("doc_id"), D.dedup_clusters(docs),
        {"train": 240, "val": 8, "test": 8},
    ).select(
        F.lit("lsplit").alias("op"), "doc_id", F.col("split"),
        lN.alias("n"), lN.alias("a"), lN.alias("b"))
    # snapshot diff: "crawl N+1" = docs minus every 25th id, every 20th id
    # mutated, every 30th re-added under a shifted id
    snap_new = (
        docs.filter(F.col("doc_id") % 25 != 1)
        .select(
            "doc_id",
            F.when(F.col("doc_id") % 20 == 0,
                   F.concat(F.col("text"), F.lit("x")))
            .otherwise(F.col("text")).alias("text"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 30 == 0)
            .select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
        )
    )
    df_ = CU.snapshot_diff(docs.select("doc_id", "text"), snap_new).select(
        F.lit("diff").alias("op"), "doc_id", F.col("status").alias("split"),
        lN.alias("n"), lN.alias("a"), lN.alias("b"))
    # corpus-wide boilerplate removal over a line-structured variant (the
    # fixture is single-line): injected banner/footer lines are shared by
    # every doc; the text line and its 30-char prefix are shared only
    # between exact-duplicate docs — both kinds must vanish, unique lines
    # must survive in order
    lined = docs.select(
        "doc_id",
        F.concat_ws(
            "\n", F.lit("(c) example corp - all rights reserved"),
            F.col("text"), F.lit("cookie notice: this site uses cookies"),
            F.substring(F.col("text"), 1, 30)).alias("text"))
    bo = CU.remove_boilerplate_lines(lined).select(
        F.lit("boiler").alias("op"), "doc_id",
        F.md5(F.col("clean_text")).alias("split"),
        F.size(F.split(F.col("clean_text"), "\n")).cast("long").alias("n"),
        lN.alias("a"), lN.alias("b"))
    # dataset-card rollup by (lang, source)
    summ = CU.corpus_summary(docs).select(
        F.lit("summary").alias("op"), lN.alias("doc_id"),
        F.concat_ws("/", "lang", "source").alias("split"),
        F.col("n_docs").alias("n"), F.col("sum_chars").alias("a"),
        F.col("sum_tokens").alias("b"))
    # DSIR importance weights: every 5th doc plays the target domain
    dsir = CU.dsir_weights(
        docs, docs.filter(F.col("doc_id") % 5 == 0).select("doc_id"),
        n_features=256, seed=5,
    ).select(
        F.lit("dsir").alias("op"), "doc_id", sN.alias("split"),
        F.col("n_feats").alias("n"), F.col("score_bits").alias("a"),
        F.col("mean_bits_milli").alias("b"))
    # systematic PPS draw of 32 docs weighted by n_chars — the oracle
    # restates the stride arithmetic over a plain cumulative-sum window
    pps = CU.pps_systematic_sample(
        docs.select("doc_id", "n_chars"), 32, "n_chars"
    ).select(
        F.lit("pps").alias("op"), "doc_id", sN.alias("split"),
        F.col("n_hits").alias("n"), lN.alias("a"), lN.alias("b"))
    # paragraph keep-first dedup over a paragraph-structured variant: a
    # quote shared by every doc_id%3==0 doc plus the text and its 25-char
    # prefix (both duplicated between exact-duplicate fixture docs) — the
    # first (doc_id, pos) occurrence survives, every later one is cut
    paraed = docs.select(
        "doc_id",
        F.concat_ws(
            "\n\n",
            F.when(F.col("doc_id") % 3 == 0,
                   F.lit("quote of the day: stay hungry"))
            .otherwise(F.concat(F.lit("intro "), F.col("doc_id") % 5)),
            F.col("text"), F.substring(F.col("text"), 1, 25)).alias("text"))
    pd_ = CU.dedup_paragraphs(paraed).select(
        F.lit("paradedup").alias("op"), "doc_id",
        F.md5(F.col("clean_text")).alias("split"),
        F.when(F.col("clean_text") == "", F.lit(0))
        .otherwise(F.size(F.split(F.col("clean_text"), "\n\n"))
                   .cast("long")).alias("n"),
        lN.alias("a"), lN.alias("b"))
    # cross-entropy drift between the even/odd snapshot halves — both
    # directions of the add-one-smoothed unigram cross entropy in whole
    # bits (the floor-log2 idiom)
    from judy_graph_db_spark.operators import stats as STT

    dv = STT.token_dist_divergence(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
    ).localCheckpoint(eager=True)
    drift = dv.select(
        F.lit("drift_ab").alias("op"), F.col("v_union").alias("doc_id"),
        sN.alias("split"), F.col("ta").alias("n"),
        F.col("xab_bits").alias("a"), F.col("xab_mean_milli").alias("b")
    ).unionByName(dv.select(
        F.lit("drift_ba").alias("op"), F.col("v_union").alias("doc_id"),
        sN.alias("split"), F.col("tb").alias("n"),
        F.col("xba_bits").alias("a"), F.col("xba_mean_milli").alias("b")))
    # per-paragraph signals + jusText-style chrome filtering over a
    # chrome-injected variant ('menu' and 'ok' blocks fail min_words=3)
    chromed = docs.select(
        "doc_id",
        F.concat_ws("\n\n", F.lit("menu"), F.col("text"),
                    F.lit("ok")).alias("text"))
    psig = CU.paragraph_signals(chromed).select(
        F.lit("parasig").alias("op"), "doc_id", sN.alias("split"),
        F.col("pos").cast("long").alias("n"),
        (F.col("n_chars") * 100000 + F.col("n_words")).alias("a"),
        (F.col("stopword_permille") * 10000 + F.col("q_score")).alias("b"))
    pflt = CU.filter_paragraphs(chromed, min_words=3).select(
        F.lit("parafilter").alias("op"), "doc_id",
        F.md5(F.col("clean_text")).alias("split"),
        T.word_token_count(F.col("clean_text")).alias("n"),
        lN.alias("a"), lN.alias("b"))
    # deterministic epoch shuffle: shard + in-shard rank packed into n
    shf = CU.epoch_shuffle(docs.select("doc_id"), seed=3,
                           num_shards=16).select(
        F.lit("shuffle").alias("op"), "doc_id", sN.alias("split"),
        (F.col("shard") * 100000 + F.col("pos_in_shard")).alias("n"),
        lN.alias("a"), lN.alias("b"))
    # the COMPOSED crawl funnel (URL blocklist → lang → Gopher → exact
    # keep-first → LSH cluster canonical) with synthesized URLs and
    # fixture-fitting Gopher knobs so every stage does real work; all
    # five stage decisions pack into one hashed integer per doc
    fdocs = docs.withColumn(
        "url", F.concat(F.lit("http://d"),
                        (F.col("doc_id") % 37).cast("string"),
                        F.lit("-site.com/p/"),
                        F.col("doc_id").cast("string")))
    wfn = CU.web_corpus_funnel(
        fdocs, blocked_domains=("d3-site.com", "d7-site.com"),
        keep_langs=("en",), url_col="url",
        gopher_kwargs={"min_words": 20, "min_stop_hits": 0})
    fn = wfn.select(
        F.lit("funnel").alias("op"), "doc_id",
        F.col("lang").alias("split"),
        (F.col("url_ok").cast("long") * 16
         + F.col("lang_ok").cast("long") * 8
         + F.col("gopher_ok").cast("long") * 4
         + F.col("exact_keep").cast("long") * 2
         + F.col("neardup_keep").cast("long")).alias("n"),
        lN.alias("a"), lN.alias("b"))
    return (sample.unionByName(splits).unionByName(canon)
            .unionByName(contam).unionByName(fcontam)
            .unionByName(qf).unionByName(cap)
            .unionByName(mx).unionByName(tmx)
            .unionByName(df_).unionByName(ls)
            .unionByName(bo).unionByName(summ).unionByName(dsir)
            .unionByName(pps).unionByName(pd_).unionByName(drift)
            .unionByName(psig).unionByName(pflt).unionByName(shf)
            .unionByName(fn))


def _q_delete_ops(spark, sf_dir):
    """Delete family in one driver row. ``cascade``: deleteNodes removes all
    incident edges (``FastAccess.hs:356-358``). ``reciprocal``: deleteEdge
    keys on (src,dst,is_back) — deleting a→b must keep an INDEPENDENT
    forward edge b→a and its back row (``FastAccess.hs:364-369`` deletes
    only n0→n1; regression gate for the round-1 is_back bug)."""
    from judy_graph_db_spark.operators import mutation as M

    g = tpch_graph(spark, sf_dir)
    g2 = M.delete_nodes(g, [3 * B + k for k in range(1, 11)])
    cascade = g2.edges.groupBy("label", "is_back").agg(
        F.count(F.lit(1)).alias("n")).select(
        F.lit("cascade").alias("op"), "label", "is_back",
        F.col("n").cast("long").alias("a"), F.lit(None).cast("long").alias("b"))
    ga = M.insert_node_edges(
        g, [(3 * B + 1, 3 * B + 2, "KNOWS"), (3 * B + 2, 3 * B + 1, "KNOWS")],
        add_back_edges=True)
    gb = M.delete_edges(ga, [(3 * B + 1, 3 * B + 2)])
    recip = gb.edges.filter(F.col("label") == "KNOWS").select(
        F.lit("reciprocal").alias("op"), "label", "is_back",
        F.col("src").alias("a"), F.col("dst").alias("b"))
    return cascade.unionByName(recip)


def _q_ann_buckets(spark, sf_dir):
    """ANN layout family in one driver row: IVF cell sizes (partition-pruned
    search layout) and hyperplane-LSH bucket sizes."""
    load_tpch_views(spark, sf_dir)
    embs = spark.table("embeddings")
    ivf = S.ivf_assign(embs, n_cells=4).groupBy("cell").agg(
        F.count(F.lit(1)).alias("n")).select(
        F.lit("ivf").alias("op"), F.col("cell").cast("string").alias("bucket"), "n")
    lsh = S.hyperplane_buckets(embs, n_planes=4).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n")).select(
        F.lit("lsh").alias("op"), F.col("bucket").cast("string").alias("bucket"), "n")
    return ivf.unionByName(lsh)


def _q_ann_topk(spark, sf_dir):
    """ANN search family in one driver row: brute-force cosine top-k
    (baseline), multi-probe IVF top-k (recall/cost knob), batch k-NN join
    (broadcast probes × one corpus scan)."""
    load_tpch_views(spark, sf_dir)
    embs = spark.table("embeddings")
    brute = S.cosine_topk_bruteforce(embs, query_id=0, k=10, dim=64).select(
        F.lit("brute").alias("op"), F.lit(0).cast("long").alias("query_id"),
        "vec_id", F.col("rank").cast("int").alias("rank"), "sim_micro")
    ivf = S.ivf_topk(embs, query_id=0, k=10, n_cells=4, n_probe=2).select(
        F.lit("ivf_probe2").alias("op"), F.lit(0).cast("long").alias("query_id"),
        "vec_id", F.col("rank").cast("int").alias("rank"), "sim_micro")
    probes = embs.orderBy("vec_id").limit(5)
    knn = S.knn_join(probes, embs, k=10, dim=64).select(
        F.lit("knn_join").alias("op"), F.col("query_id").cast("long").alias("query_id"),
        "vec_id", F.col("rank").cast("int").alias("rank"), "sim_micro")
    return brute.unionByName(ivf).unionByName(knn)


def _q_temporal_ops(spark, sf_dir):
    """Temporal family in one driver row: as-of join, bin-bucketed range
    join, funnel completions, top-k per group — each part hash-checked
    under its ``op`` tag."""
    lN = F.lit(None).cast("long")
    sN = F.lit(None).cast("string")
    asof = _q_asof_value(spark, sf_dir).select(
        F.lit("asof").alias("op"), sN.alias("s"),
        F.col("event_id").cast("long").alias("a"),
        F.col("value_asof_cents").alias("b"), lN.alias("c"))
    rng = _q_range_join_months(spark, sf_dir).select(
        F.lit("range").alias("op"), sN.alias("s"),
        F.col("month_bucket").alias("a"),
        F.col("n").cast("long").alias("b"),
        F.col("sum_price_cents").alias("c"))
    fn = _q_funnel(spark, sf_dir).select(
        F.lit("funnel").alias("op"), sN.alias("s"),
        F.col("user_id").cast("long").alias("a"),
        F.col("n_started").cast("long").alias("b"),
        F.col("n_completed").cast("long").alias("c"))
    tk = _q_topk_per_group(spark, sf_dir).select(
        F.lit("topk").alias("op"), F.col("o_orderpriority").alias("s"),
        F.col("o_orderkey").cast("long").alias("a"),
        F.col("rank_in_group").cast("long").alias("b"), lN.alias("c"))
    from judy_graph_db_spark.operators.temporal import (cohort_retention,
                                                        funnel_steps)

    co = cohort_retention(spark.table("events"), period_days=7).select(
        F.lit("cohort").alias("op"), sN.alias("s"),
        F.col("cohort_period").alias("a"),
        F.col("period_offset").alias("b"),
        F.col("n_active").alias("c"))
    f3 = funnel_steps(
        spark.table("events"), ["view", "click", "purchase"], 86400
    ).select(
        F.lit("funnel3").alias("op"), sN.alias("s"),
        F.col("user_id").cast("long").alias("a"),
        F.col("steps_completed").alias("b"), lN.alias("c"))
    from judy_graph_db_spark.operators.temporal import resample_counts

    rs = resample_counts(spark.table("events"), 3600).select(
        F.lit("resample").alias("op"), F.col("event_type").alias("s"),
        F.col("period").alias("a"), F.col("n").alias("b"),
        F.col("sum_cents").alias("c"))
    from judy_graph_db_spark.operators.temporal import transition_counts

    mk = transition_counts(spark.table("events")).select(
        F.lit("markov").alias("op"),
        F.concat_ws(">", "from_type", "to_type").alias("s"),
        F.col("n").alias("a"), lN.alias("b"), lN.alias("c"))
    # time-respecting earliest arrival over the per-user event-type
    # transition graph (edge timestamp = arrival at the later event,
    # epoch seconds; min_wait=1 = strictly increasing)
    from judy_graph_db_spark.operators.temporal import (
        time_respecting_reachability,
    )

    wtr = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc())
    trans = spark.table("events").select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(wtr).alias("dst"),
        F.lead(F.expr("unix_timestamp(ts)")).over(wtr).alias("t"),
    ).filter(F.col("dst").isNotNull())
    tre = time_respecting_reachability(trans, ts_col="t", min_wait=1).select(
        F.lit("treach").alias("op"),
        F.concat_ws(">", "src", "dst").alias("s"),
        F.col("t_arr").alias("a"), lN.alias("b"), lN.alias("c"))
    # temporal wedge (2-path motif) counts through each event type,
    # second hop within an hour of the first (banded bucket join)
    from judy_graph_db_spark.operators.temporal import temporal_wedge_counts

    tw = temporal_wedge_counts(trans, 3600, ts_col="t").select(
        F.lit("twedge").alias("op"), F.col("mid").alias("s"),
        F.col("n_wedges").alias("a"), lN.alias("b"), lN.alias("c"))
    # per-user inter-arrival sufficient statistics, two rows per user
    # ('gapsq' packs min/max as min·2^30+max — gaps are << 2^30 s)
    from judy_graph_db_spark.operators.temporal import interarrival_stats

    ia = interarrival_stats(spark.table("events")) \
        .localCheckpoint(eager=True)
    g1 = ia.select(
        F.lit("gaps").alias("op"), sN.alias("s"),
        F.col("user_id").cast("long").alias("a"),
        F.col("n_gaps").alias("b"), F.col("sum_gap").alias("c"))
    g2 = ia.select(
        F.lit("gapsq").alias("op"), sN.alias("s"),
        F.col("user_id").cast("long").alias("a"),
        F.col("sum_gap_sq").alias("b"),
        (F.col("min_gap") * F.lit(1 << 30) + F.col("max_gap")).alias("c"))
    # exponentially decayed per-type activity as of just past the fixture
    # window (1-day half-life, exact power-of-two shifts)
    from judy_graph_db_spark.operators.temporal import decayed_counts

    dc = decayed_counts(
        spark.table("events"), "2024-02-01 00:00:00", 86400, scale_pow2=30,
    ).select(
        F.lit("decay").alias("op"), F.col("event_type").alias("s"),
        F.col("n_events").alias("a"), F.col("decayed").alias("b"),
        lN.alias("c"))
    # hopping-window aggregation (2h windows sliding hourly) — each event
    # covers exactly 2 window starts; the oracle generates the same k
    # range per event
    from judy_graph_db_spark.operators.temporal import sliding_window_counts

    sw = sliding_window_counts(
        spark.table("events"), 7200, 3600
    ).select(
        F.lit("slide").alias("op"), F.col("event_type").alias("s"),
        F.col("win_start").alias("a"), F.col("n").alias("b"),
        F.col("sum_cents").alias("c"))
    # SCD2 merge: current = each customer's FIRST-order priority (open
    # row from the first order date); updates = LAST-order priority at
    # the last order date (same ⇒ idempotent no-op, differing ⇒
    # close+reopen) plus order-less customers as brand-new keys
    from judy_graph_db_spark.operators.temporal import scd2_merge

    orders_t = spark.table("orders")
    f_ = orders_t.groupBy("o_custkey").agg(F.min(F.struct(
        "o_orderdate", "o_orderkey", "o_orderpriority")).alias("f"))
    cur_scd = f_.select(
        F.col("o_custkey").alias("key"),
        F.col("f.o_orderpriority").alias("value"),
        F.col("f.o_orderdate").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"))
    l_ = orders_t.groupBy("o_custkey").agg(F.max(F.struct(
        "o_orderdate", "o_orderkey", "o_orderpriority")).alias("l"))
    upd_scd = l_.select(
        F.col("o_custkey").alias("key"),
        F.col("l.o_orderpriority").alias("value"),
        F.col("l.o_orderdate").cast("timestamp").alias("ts"),
    ).unionByName(
        spark.table("customer").join(
            orders_t.select(F.col("o_custkey").alias("c_custkey"))
            .distinct(), "c_custkey", "left_anti"
        ).select(
            F.col("c_custkey").alias("key"),
            F.col("c_mktsegment").alias("value"),
            F.lit("1995-01-01").cast("timestamp").alias("ts")))
    ep = F.lit("1970-01-01").cast("date")
    scd = scd2_merge(cur_scd, upd_scd).select(
        F.lit("scd2").alias("op"), F.col("value").alias("s"),
        F.col("key").alias("a"),
        F.datediff(F.col("valid_from").cast("date"), ep).cast("long")
        .alias("b"),
        F.datediff(F.col("valid_to").cast("date"), ep).cast("long")
        .alias("c"))
    # robust per-key rate anomalies over daily buckets (median/MAD flag)
    from judy_graph_db_spark.operators.temporal import rate_anomalies

    an = rate_anomalies(spark.table("events"), 86400).select(
        F.lit("anomaly").alias("op"), F.col("event_type").alias("s"),
        F.col("period").alias("a"),
        (F.col("n") * 2 + F.col("is_anomaly").cast("long")).alias("b"),
        (F.col("median") * 100000 + F.col("mad")).alias("c"))
    # concurrency sweep over per-user activity spans (hourly buckets)
    from judy_graph_db_spark.operators.temporal import concurrency_profile

    spans = spark.table("events").groupBy("user_id").agg(
        F.min("ts").alias("start_ts"), F.max("ts").alias("end_ts"))
    cp = concurrency_profile(spans, period_seconds=3600).select(
        F.lit("conc").alias("op"), sN.alias("s"),
        F.col("bucket").alias("a"), F.col("delta").alias("b"),
        F.col("n_active").alias("c"))
    return (asof.unionByName(rng).unionByName(fn).unionByName(tk)
            .unionByName(co).unionByName(f3).unionByName(rs)
            .unionByName(mk).unionByName(tre).unionByName(tw)
            .unionByName(g1).unionByName(g2).unionByName(dc)
            .unionByName(sw).unionByName(scd).unionByName(an)
            .unionByName(cp))


# hll_estimate twin expression — ONE string evaluated by both engines
# (Spark F.expr and DuckDB) over (zs, zeros): zs = Σ 2^(49-rho) exact
# BIGINT, so the bias-corrected estimate is a single identical float
# expression; the small-range ln-correction branch is the same CASE text.
_HLL_EST_SQL = ("(0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 * "
                "562949953421312.0 / (zs + zeros * 562949953421312)")
_HLLE_CASE_SQL = (
    f"CAST(CASE WHEN ({_HLL_EST_SQL}) <= 640.0 AND zeros > 0 "
    f"THEN floor(256.0 * ln(256.0 / zeros)) "
    f"ELSE floor({_HLL_EST_SQL}) END AS BIGINT)"
)


def _q_stats_ops(spark, sf_dir):
    """Stats family in one driver row: grouped exact quantiles, TF-IDF top
    terms, inverted-index fingerprints, stratified sampling, plus the
    deterministic sketch surface (count-min over word tokens, HLL distinct
    registers, Bloom membership, integer-exact Gram matrix via Arrow)."""
    from judy_graph_db_spark.operators import stats as STT

    lN = F.lit(None).cast("long")
    sN = F.lit(None).cast("string")
    qt = _q_grouped_quantiles(spark, sf_dir).select(
        F.lit("quantiles").alias("op"), F.col("o_orderpriority").alias("s"),
        sN.alias("t"), F.col("q_250").alias("a"), F.col("q_500").alias("b"),
        F.col("q_900").alias("c"), lN.alias("d"))
    # equal-frequency binning of the same cents per priority (curriculum
    # buckets); rolled up to per-(priority, bin) counts + value sums so
    # the whole assignment hash-gates compactly
    cents = spark.table("orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"))
    # robust location/scale per priority (median + MAD, percentile_disc)
    mad = STT.grouped_median_mad(cents, ["o_orderpriority"], "cents") \
        .select(
        F.lit("mad").alias("op"), F.col("o_orderpriority").alias("s"),
        sN.alias("t"), F.col("median").alias("a"), F.col("mad").alias("b"),
        lN.alias("c"), lN.alias("d"))
    qb = STT.quantile_bins(
        cents, "cents", 8, group_cols=["o_orderpriority"]
    ).groupBy("o_orderpriority", "bin").agg(
        F.count(F.lit(1)).alias("__n"), F.sum("cents").alias("__sc")
    ).select(
        F.lit("qbin").alias("op"), F.col("o_orderpriority").alias("s"),
        sN.alias("t"), F.col("bin").alias("a"), F.col("__n").alias("b"),
        F.col("__sc").alias("c"), lN.alias("d"))
    tt = _q_top_terms(spark, sf_dir).select(
        F.lit("top_terms").alias("op"), F.col("term").alias("s"),
        sN.alias("t"), F.col("doc_id").alias("a"),
        F.col("tf").cast("long").alias("b"),
        F.col("df").cast("long").alias("c"),
        F.col("rank_in_doc").cast("long").alias("d"))
    inv = _q_inverted_index(spark, sf_dir).select(
        F.lit("inverted").alias("op"), F.col("term").alias("s"),
        F.col("posting_hash").alias("t"), lN.alias("a"),
        F.col("df").cast("long").alias("b"), lN.alias("c"), lN.alias("d"))
    st = _q_stratified_sample(spark, sf_dir).select(
        F.lit("stratified").alias("op"), F.col("lang").alias("s"),
        sN.alias("t"), F.col("doc_id").alias("a"), lN.alias("b"),
        lN.alias("c"), lN.alias("d"))
    from judy_graph_db_spark.operators import stats as STT

    cm = STT.token_commonness(spark.table("documents")).select(
        F.lit("commonness").alias("op"), sN.alias("s"), sN.alias("t"),
        F.col("doc_id").alias("a"), F.col("n_tokens").alias("b"),
        F.col("commonness_micro").alias("c"), lN.alias("d"))
    # n-gram novelty (inverse-boilerplate signal)
    nv = STT.ngram_novelty(spark.table("documents"), n=3).select(
        F.lit("novelty").alias("op"), sN.alias("s"), sN.alias("t"),
        F.col("doc_id").alias("a"), F.col("n_grams").alias("b"),
        F.col("novel_permille").alias("c"), lN.alias("d"))
    # Zipf-law sufficient statistics over the vocabulary (two rows)
    zp = STT.zipf_bits_stats(spark.table("documents")) \
        .localCheckpoint(eager=True)
    z1 = zp.select(F.lit("zipf1").alias("op"), sN.alias("s"), sN.alias("t"),
                   F.col("n").alias("a"), F.col("sx").alias("b"),
                   F.col("sy").alias("c"), lN.alias("d"))
    z2 = zp.select(F.lit("zipf2").alias("op"), sN.alias("s"), sN.alias("t"),
                   F.col("sxy").alias("a"), F.col("sxx").alias("b"),
                   lN.alias("c"), lN.alias("d"))
    # char-distribution entropy (floor-log2 bits) gibberish signal
    ent = STT.char_entropy_bits(spark.table("documents")).select(
        F.lit("entropy").alias("op"), sN.alias("s"), sN.alias("t"),
        F.col("doc_id").alias("a"), F.col("n_chars").alias("b"),
        F.col("entropy_bits").alias("c"),
        F.col("mean_milli_bits").alias("d"))
    # word2phrase collocations over the corpus bigrams
    col = STT.collocation_scores(spark.table("documents"), min_count=3,
                                 delta=1).select(
        F.lit("colloc").alias("op"), F.col("w_a").alias("s"),
        F.col("w_b").alias("t"), F.col("n_pair").alias("a"),
        F.col("score_milli").alias("b"), lN.alias("c"), lN.alias("d"))
    # hashing-trick featurization (vocabulary-free fixed-width TF)
    htf = STT.hashed_tf(spark.table("documents"), n_features=64,
                        seed=3).select(
        F.lit("htf").alias("op"), sN.alias("s"), sN.alias("t"),
        F.col("doc_id").alias("a"), F.col("bucket").alias("b"),
        F.col("tf").alias("c"), lN.alias("d"))
    # log-domain sibling: unigram surprisal in floor-log2 bits
    sp = STT.token_surprisal(spark.table("documents")).select(
        F.lit("surprisal").alias("op"), sN.alias("s"), sN.alias("t"),
        F.col("doc_id").alias("a"), F.col("surprisal_bits").alias("b"),
        F.col("mean_bits_milli").alias("c"), lN.alias("d"))
    ou = STT.grouped_outliers(
        spark.table("events"), "user_id", "value", "event_id", k=2
    ).select(
        F.lit("outliers").alias("op"), sN.alias("s"), sN.alias("t"),
        F.col("user_id").cast("long").alias("a"),
        F.col("event_id").cast("long").alias("b"),
        F.col("value_cents").alias("c"), lN.alias("d"))
    from judy_graph_db_spark.functions.text import WORD_TOKEN_RE
    from judy_graph_db_spark.operators import sketch as SKT

    docs = spark.table("documents")
    toks = docs.select(
        F.explode(F.regexp_extract_all(
            F.lower(F.col("text")), F.lit(WORD_TOKEN_RE), F.lit(0)
        )).alias("tok"))
    # checkpointed: feeds both the 'cms' rows and the cms_lookup probe —
    # without it the full-corpus tokenize+count re-runs per consumer
    cms_raw = SKT.count_min(toks, "tok", width=128, depth=3) \
        .localCheckpoint(eager=True)
    cms = cms_raw.select(
        F.lit("cms").alias("op"), sN.alias("s"), sN.alias("t"),
        F.col("d").cast("long").alias("a"), F.col("w").alias("b"),
        F.col("cnt").alias("c"), lN.alias("d"))
    # Misra-Gries heavy hitters over the same token stream: m=32 counters,
    # every surviving key's count is the deterministic lower bound and the
    # uniform undercount rides in 'c' (the batch-exact compress form)
    mg = SKT.misra_gries(toks, "tok", m=32).select(
        F.lit("mg").alias("op"), F.col("key").alias("s"), sN.alias("t"),
        F.col("count").alias("a"), F.col("subtracted").alias("b"),
        lN.alias("c"), lN.alias("d"))
    # cms_lookup: probe a deterministic doc subset's tokens against the
    # SAME sketch — min-over-depth estimates, misses counted as 0
    probe_items = docs.filter(F.col("doc_id") % 101 == 0).select(
        F.explode(F.regexp_extract_all(
            F.lower(F.col("text")), F.lit(WORD_TOKEN_RE), F.lit(0)
        )).alias("tok"))
    cmq = SKT.cms_lookup(cms_raw, probe_items, "tok",
                         width=128, depth=3).select(
        F.lit("cmsq").alias("op"), F.col("tok").alias("s"), sN.alias("t"),
        F.col("est").cast("long").alias("a"), lN.alias("b"),
        lN.alias("c"), lN.alias("d"))
    # checkpointed: consumed by the 'hll' rows, the hlle_rel collect, and
    # the final union's 'hlle' rows
    hll_raw = SKT.hll_registers(
        spark.table("events").select("user_id"), "user_id", p=8) \
        .localCheckpoint(eager=True)
    hll = hll_raw.select(
        F.lit("hll").alias("op"), sN.alias("s"), sN.alias("t"),
        F.col("bucket").alias("a"), F.col("max_rho").cast("long").alias("b"),
        lN.alias("c"), lN.alias("d"))
    # hll_estimate, gated through its exact dyadic components: z scaled by
    # 2^49 is an exact BIGINT (register terms 2^(49-rho), zero buckets
    # 2^49 each — order-free, unlike a float 2^-rho sum), and the
    # bias-corrected estimate is ONE identical float expression in both
    # engines. The Python hll_estimate() is cross-checked loudly below.
    hlle_rel = hll_raw.agg(
        F.sum(F.expr("shiftleft(cast(1 as bigint), 49 - max_rho)"))
        .alias("zs"),
        (F.lit(256) - F.count(F.lit(1))).cast("long").alias("zeros"),
    ).select("zs", "zeros", F.expr(_HLLE_CASE_SQL).alias("est_floor"))
    _h_row = hlle_rel.collect()[0]
    _est_py = SKT.hll_estimate(hll_raw, p=8)
    if abs(_est_py - float(_h_row["est_floor"])) > 1.0:
        raise AssertionError(
            f"hll_estimate {_est_py} diverged from relational twin "
            f"{_h_row['est_floor']}")
    hle = hlle_rel.select(
        F.lit("hlle").alias("op"), sN.alias("s"), sN.alias("t"),
        F.col("zs").alias("a"), F.col("zeros").alias("b"),
        F.col("est_floor").alias("c"), lN.alias("d"))
    bm = STT.bm25_scores(docs, ["join", "hash", "scan"]).select(
        F.lit("bm25").alias("op"), sN.alias("s"), sN.alias("t"),
        F.col("doc_id").alias("a"),
        F.floor(F.col("score") * 1000).cast("long").alias("b"),
        lN.alias("c"), lN.alias("d"))
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    bl = SKT.bloom_probe(
        docs.select("doc_id", "text"), "text",
        SKT.bloom_build(corpus, "text", m_bits=1 << 14, k=4),
        m_bits=1 << 14, k=4, id_col="doc_id",
    ).select(
        F.lit("bloom").alias("op"), sN.alias("s"), sN.alias("t"),
        F.col("doc_id").alias("a"),
        F.col("maybe_member").cast("long").alias("b"),
        lN.alias("c"), lN.alias("d"))
    embs_t = spark.table("embeddings")
    gram_raw = SKT.gram_matrix(embs_t, dim=64).localCheckpoint(eager=True)
    gm = gram_raw.select(
        F.lit("gram").alias("op"), sN.alias("s"), sN.alias("t"),
        F.col("i").alias("a"), F.col("j").alias("b"), F.col("s").alias("c"),
        lN.alias("d"))
    # pca_components is a float eigensolve (no SQL twin exists); its
    # driver gate is algebraic: the components must be unit-norm,
    # mutually orthogonal, and Rayleigh-ordered over the SAME gram
    # relation whose integer trace the row hashes — a pca regression
    # raises here and turns the whole stats_ops row red.
    _nr = embs_t.count()
    _comps = SKT.pca_components(gram_raw, dim=64, n_rows=_nr,
                                n_components=2)
    import numpy as _np
    _g = SKT.gram_to_dense(gram_raw, dim=64, n_rows=_nr)
    _v1, _v2 = _np.array(_comps[0]), _np.array(_comps[1])
    if not (abs(_np.linalg.norm(_v1) - 1) < 1e-8
            and abs(_np.linalg.norm(_v2) - 1) < 1e-8
            and abs(float(_v1 @ _v2)) < 1e-8
            and float(_v1 @ _g @ _v1) >= float(_v2 @ _g @ _v2) > 0):
        raise AssertionError("pca_components invariants violated")
    pca = gram_raw.filter(F.col("i") == F.col("j")).agg(
        F.sum("s").alias("_tr")
    ).select(
        F.lit("pca").alias("op"), sN.alias("s"), sN.alias("t"),
        F.col("_tr").alias("a"), F.lit(2).cast("long").alias("b"),
        F.lit(64).cast("long").alias("c"), lN.alias("d"))
    vb = STT.build_vocab(docs, min_count=3, max_size=200)
    voc = vb.select(
        F.lit("vocab").alias("op"), F.col("token").alias("s"), sN.alias("t"),
        F.col("token_id").alias("a"), F.col("count").alias("b"),
        lN.alias("c"), lN.alias("d"))
    enc = STT.encode_tokens(docs, vb).select(
        F.lit("encode").alias("op"), sN.alias("s"), sN.alias("t"),
        F.col("doc_id").alias("a"), F.col("pos").alias("b"),
        F.col("token_id").alias("c"), lN.alias("d"))
    ng = STT.ngram_counts(docs, n=2, min_count=3).select(
        F.lit("ngram").alias("op"), F.col("gram").alias("s"), sN.alias("t"),
        F.col("count").alias("a"), lN.alias("b"), lN.alias("c"), lN.alias("d"))
    hg = SKT.hll_registers_grouped(
        spark.table("events"), "user_id", ["event_type"], p=6
    ).select(
        F.lit("hllg").alias("op"), F.col("event_type").alias("s"),
        sN.alias("t"), F.col("bucket").alias("a"),
        F.col("max_rho").cast("long").alias("b"), lN.alias("c"), lN.alias("d"))
    rep = STT.repetition_signals(docs).select(
        F.lit("rep").alias("op"), F.col("n_grams").cast("string").alias("s"),
        sN.alias("t"), F.col("doc_id").alias("a"), F.col("n").alias("b"),
        F.col("top_gram_permille").alias("c"),
        F.col("dup_gram_permille").alias("d"))
    # winnowing fingerprints, rolled up to one (count, md5-of-sorted-set)
    # row per doc so the whole selected set hash-gates compactly
    wf = D.winnow_fingerprints(docs, k=8, w=16).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("__n"),
        F.md5(F.array_join(F.array_sort(F.collect_list(
            F.concat_ws(":", F.col("pos"), F.col("fp")))), "|")).alias("__s"),
    ).select(
        F.lit("winnow").alias("op"), F.col("__s").alias("s"), sN.alias("t"),
        F.col("doc_id").alias("a"), F.col("__n").alias("b"),
        lN.alias("c"), lN.alias("d"))
    # fastText-style linear inference over the same hashed features:
    # md5-derived integer milli-weights, exact dot product; checkpointed —
    # the scores feed both the 'linscore' rows and the AUC evaluation
    lw = spark.range(64).select(
        F.col("id").alias("bucket"),
        (SKT._h60(F.col("id"), "lw") % 2001 - 1000).alias("w"))
    lscores = STT.linear_score(
        STT.hashed_tf(docs, n_features=64, seed=3), lw, bias=7
    ).localCheckpoint(eager=True)
    lin = lscores.select(
        F.lit("linscore").alias("op"), sN.alias("s"), sN.alias("t"),
        F.col("doc_id").alias("a"), F.col("score").alias("b"),
        lN.alias("c"), lN.alias("d"))
    # Stupid-Backoff bigram scoring (α=½ ⇒ +1 bit per backoff): every
    # 4th doc scored against the rest as reference — real backoffs fire
    sb = STT.score_bigrams(
        docs.filter(F.col("doc_id") % 4 == 1),
        docs.filter(F.col("doc_id") % 4 != 1),
    ).select(
        F.lit("sbgram").alias("op"), sN.alias("s"), sN.alias("t"),
        F.col("doc_id").alias("a"),
        (F.col("n_bigrams") * F.lit(1 << 20)
         + F.col("n_backoffs")).alias("b"),
        F.col("sb_bits").alias("c"), F.col("mean_bits_milli").alias("d"))
    # exact rank-sum ROC-AUC of those scores against a deterministic
    # doc_id%7 labeling (the link-prediction/classifier eval statistic)
    auc = STT.ranking_auc(
        lscores.select(
            "score",
            (F.col("doc_id") % 7 == 0).cast("long").alias("label"))
    ).select(
        F.lit("auc").alias("op"), sN.alias("s"), sN.alias("t"),
        F.col("n_pos").alias("a"), F.col("n_neg").alias("b"),
        F.col("u2").alias("c"), F.col("auc_micro").alias("d"))
    # interpolated Kneser-Ney bigram scoring (fixed-point micro, the
    # classic LM the Stupid-Backoff rows approximate) — same doc split
    kn = STT.kneser_ney_score_bigrams(
        docs.filter(F.col("doc_id") % 4 == 1),
        docs.filter(F.col("doc_id") % 4 != 1),
    ).select(
        F.lit("knbits").alias("op"), sN.alias("s"), sN.alias("t"),
        F.col("doc_id").alias("a"),
        (F.col("n_bigrams") * F.lit(1 << 20)
         + F.col("n_unseen")).alias("b"),
        F.col("kn_bits").alias("c"), F.col("mean_bits_milli").alias("d"))
    # batch-perceptron TRAINING of that classifier family (2 unrolled
    # iterations twin-side): weights, final scores, and a packed
    # (bias, n_mis_iter1·10⁶+n_mis_iter2) meta row all hash-gate
    pfeats = STT.hashed_tf(docs, n_features=64, seed=3)
    plabels = docs.select(
        "doc_id", (F.col("lang") == "en").cast("int").alias("label"))
    pw, pbias, perrs = STT.perceptron_train(pfeats, plabels, iters=2)
    pe1 = perrs[0]
    pe2 = perrs[1] if len(perrs) > 1 else 0
    ptw = pw.select(
        F.lit("ptron_w").alias("op"), sN.alias("s"), sN.alias("t"),
        F.col("bucket").alias("a"), F.col("w").alias("b"),
        lN.alias("c"), lN.alias("d"))
    pts = STT.linear_score(pfeats, pw, bias=pbias).select(
        F.lit("ptron_s").alias("op"), sN.alias("s"), sN.alias("t"),
        F.col("doc_id").alias("a"), F.col("score").alias("b"),
        lN.alias("c"), lN.alias("d"))
    ptm = spark.range(1).select(
        F.lit("ptron_m").alias("op"), sN.alias("s"), sN.alias("t"),
        F.lit(int(pbias)).cast("long").alias("a"),
        F.lit(int(pe1) * 1_000_000 + int(pe2)).cast("long").alias("b"),
        lN.alias("c"), lN.alias("d"))
    return (qt.unionByName(qb).unionByName(mad).unionByName(tt)
            .unionByName(inv).unionByName(st)
            .unionByName(cm).unionByName(sp).unionByName(htf)
            .unionByName(col).unionByName(ent).unionByName(nv)
            .unionByName(z1).unionByName(z2).unionByName(ou)
            .unionByName(cms).unionByName(mg)
            .unionByName(cmq).unionByName(hll).unionByName(hle)
            .unionByName(bm).unionByName(bl).unionByName(gm)
            .unionByName(pca).unionByName(voc).unionByName(enc)
            .unionByName(ng).unionByName(hg).unionByName(rep)
            .unionByName(wf).unionByName(lin).unionByName(auc)
            .unionByName(sb).unionByName(ptw).unionByName(pts)
            .unionByName(ptm).unionByName(kn))


def _q_graph_similarity(spark, sf_dir):
    """Graph-similarity/centrality family in one driver row: bipartite
    co-purchase projection, neighbor-set Jaccard, weighted all-pairs
    shortest paths, and out-closeness centrality (whose oracle is the
    closed form the chain structure implies: node at position i of an
    L-chain reaches L-i nodes over (L-i)(L-i+1)/2 total hops)."""
    lN = F.lit(None).cast("long")
    cp = _q_co_purchase(spark, sf_dir).select(
        F.lit("co_purchase").alias("op"), F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
        F.col("n_common").cast("long").alias("c"), lN.alias("d"))
    ja = _q_node_jaccard(spark, sf_dir).select(
        F.lit("jaccard").alias("op"), F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
        F.col("common").cast("long").alias("c"),
        F.col("jaccard_permille").alias("d"))
    wp = _q_weighted_paths(spark, sf_dir).select(
        F.lit("weighted").alias("op"), F.col("src").alias("a"),
        F.col("dst").alias("b"), F.col("dist").alias("c"), lN.alias("d"))
    g = tpch_graph(spark, sf_dir)
    chains = g.edges.filter(
        (F.col("label") == "NEXT_ORDER") & ~F.col("is_back")
    ).select("src", "dst")
    # ONE materialized hop closure feeds both centralities (they are two
    # aggregations of the same relation — recomputing it would double the
    # gate's dominant cost)
    closure = AN.transitive_closure(chains).localCheckpoint(eager=True)
    cl = AN.closeness_centrality(chains, closure=closure).select(
        F.lit("closeness").alias("op"), F.col("id").alias("a"),
        F.col("n_reach").cast("long").alias("b"),
        F.col("sum_depth").cast("long").alias("c"),
        F.col("closeness_micro").alias("d"))
    hm = AN.harmonic_centrality(chains, closure=closure).select(
        F.lit("harmonic").alias("op"), F.col("id").alias("a"),
        F.col("n_reach").cast("long").alias("b"),
        F.col("harmonic_micro").alias("c"), lN.alias("d"))
    # Borůvka MSF over day-gap-weighted order chains, even-custkey chains
    # closed into cycles; weights are distinct inside every cycle
    # (daygap·10^7 + orderkey%10^7, orderkey unique per chain; the closing
    # edge has daygap 0 and a src no chain edge uses), so the MST is
    # unique and the oracle is the cycle property in closed form: every
    # cycle drops exactly its max-(w,a,b) edge, trees keep everything.
    wnd = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    orders = spark.table("orders")
    wch = orders.select(
        (F.col("o_orderkey") + F.lit(5 * B)).alias("src"),
        (F.lead("o_orderkey").over(wnd) + F.lit(5 * B)).alias("dst"),
        (F.datediff(F.lead("o_orderdate").over(wnd), F.col("o_orderdate"))
         .cast("long") * F.lit(10_000_000)
         + F.col("o_orderkey") % 10_000_000).alias("weight"),
    ).filter(F.col("dst").isNotNull())
    per_cust = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.struct("o_orderdate", "o_orderkey")).alias("_fst"),
        F.max(F.struct("o_orderdate", "o_orderkey")).alias("_lst"),
    )
    closing = per_cust.filter(
        (F.col("o_custkey") % 2 == 0) & (F.col("n") >= 2)
    ).select(
        (F.col("_lst.o_orderkey") + 5 * B).alias("src"),
        (F.col("_fst.o_orderkey") + 5 * B).alias("dst"),
        (F.col("_lst.o_orderkey") % 10_000_000).alias("weight"),
    )
    mst = AN.minimum_spanning_forest(wch.unionByName(closing)).select(
        F.lit("mst").alias("op"), F.col("a"), F.col("b"),
        F.col("weight").alias("c"), lN.alias("d"))
    # stress centrality over the chains: position p of an L-chain mediates
    # (p-1)(L-p) shortest paths — the closed form the oracle uses
    strs = AN.stress_centrality(chains).select(
        F.lit("stress").alias("op"), F.col("id").alias("a"),
        F.col("stress").alias("b"), lN.alias("c"), lN.alias("d"))
    # σ shortest-path counts (Brandes' sigma) on the chains: each ordered
    # chain pair has exactly one shortest path of depth = position gap —
    # the closed form the oracle states independently of the BFS logic.
    # ONE materialized σ closure feeds both the sigma rows and the
    # betweenness triple join below.
    sigc = AN.shortest_path_counts(chains).localCheckpoint(eager=True)
    sig = sigc.select(
        F.lit("sigma").alias("op"), F.col("src").alias("a"),
        F.col("dst").alias("b"), F.col("depth").alias("c"),
        F.col("sigma").alias("d"))
    # betweenness over the chains: σ=1 on every chain pair, so each
    # contribution is exactly 1.0 and the double sum is integer-exact —
    # b(position i of an L-chain) = (i-1)(L-i), the stress closed form,
    # which is what lets the float-valued operator carry a hash gate here
    btw = AN.betweenness_centrality(chains, closure=sigc).select(
        F.lit("betw").alias("op"), F.col("id").alias("a"),
        F.round(F.col("betweenness")).cast("long").alias("b"),
        lN.alias("c"), lN.alias("d"))
    # edge betweenness over the same chains + shared closure: the i-th
    # edge of an L-chain carries i·(L-i) unit-σ pairs — integer-exact,
    # closed-form oracle (the Girvan-Newman removal quantity)
    ebt = AN.edge_betweenness(chains, closure=sigc).select(
        F.lit("ebetw").alias("op"), F.col("src").alias("a"),
        F.col("dst").alias("b"),
        F.round(F.col("betweenness")).cast("long").alias("c"),
        lN.alias("d"))
    # sampled-sources edge betweenness at a bounded horizon — this is the
    # k-pivot edge-level Brandes PASS (sources= without a closure routes
    # to edge_betweenness_sampled: k·|V| BFS state, the closure above is
    # NOT consulted), hash-gated via the chain closed form: with sources
    # S = {orderkey%3==0} and horizon 7 hops (max_iter=6 → ≤ 6+1), the
    # edge after position i of an L-chain carries Σ_{s∈S, i-6 ≤ s ≤ i}
    # (min(L, s+7) − i) unit-σ paths — integer-exact, stated by the
    # oracle independently of the BFS/backward-accumulation logic
    eb_src = spark.table("orders").filter(
        F.col("o_orderkey") % 3 == 0).select(
        (F.col("o_orderkey") + F.lit(5 * B)).alias("id"))
    ebs = AN.edge_betweenness(chains, sources=eb_src, max_iter=6).select(
        F.lit("ebetws").alias("op"), F.col("src").alias("a"),
        F.col("dst").alias("b"),
        F.round(F.col("betweenness")).cast("long").alias("c"),
        lN.alias("d"))
    # NODE-level sibling through the same routing (sources= without a
    # closure → betweenness_sampled's k-pivot pass): position p of an
    # L-chain with sources S at horizon 7 mediates
    # Σ_{s∈S, p-6 ≤ s ≤ p-1} (min(L, s+7) − p) unit-σ paths
    bts = AN.betweenness_centrality(
        chains, sources=eb_src, max_iter=6).select(
        F.lit("betws").alias("op"), F.col("id").alias("a"),
        F.round(F.col("betweenness")).cast("long").alias("b"),
        lN.alias("c"), lN.alias("d"))
    # Girvan-Newman LOOP end-to-end on the region~nation star forest
    # (TPC-H's fixed 25-nation table → 5 stars): in a k-leaf star the
    # canonical center→leaf direction carries eb = k unit-σ paths (the
    # k sources center + k−1 siblings, each ending at the leaf), every
    # edge ties, so the exact removal sequence is the closed-form
    # argmax (max k, then (src,dst) canonical order — the engine's
    # micro-unit tie-break is exact here) and the survivor components
    # label by min id = the region node. Two removals probe both the
    # recompute (round-2 eb drops to k−1 on the touched star) and the
    # final connected_components labeling.
    gr_e = g.edges.filter(
        (F.col("label") == "IN_REGION") & ~F.col("is_back")
    ).select("src", "dst")
    gnrem, gnlab = AN.girvan_newman_split(gr_e, n_removals=2)
    gnr = gnrem.select(
        F.lit("gnrem").alias("op"), F.col("round").alias("a"),
        F.col("src").alias("b"), F.col("dst").alias("c"),
        F.round(F.col("betweenness")).cast("long").alias("d"))
    gnl = gnlab.select(
        F.lit("gnlab").alias("op"), F.col("id").alias("a"),
        F.col("component").alias("b"), lN.alias("c"), lN.alias("d"))
    # resource-allocation + preferential-attachment link prediction on the
    # same supplier~part incidence graph as the jaccard part (supplier-side
    # pairs only — the part side is the row-budget blowup)
    ra = AN.resource_allocation(
        spark.table("lineitem").select(
            (F.col("l_suppkey") + F.lit(2 * B)).alias("src"),
            (F.col("l_partkey") + F.lit(4 * B)).alias("dst"))
    ).filter(F.col("b") < F.lit(4 * B)).select(
        F.lit("ra").alias("op"), F.col("a"), F.col("b"),
        F.col("ra_micro").alias("c"), F.col("pa").alias("d"))
    # log-damped sibling: integer-log2 Adamic-Adar over the same pairs
    aa = AN.adamic_adar(
        spark.table("lineitem").select(
            (F.col("l_suppkey") + F.lit(2 * B)).alias("src"),
            (F.col("l_partkey") + F.lit(4 * B)).alias("dst"))
    ).filter(F.col("b") < F.lit(4 * B)).select(
        F.lit("aa").alias("op"), F.col("a"), F.col("b"),
        F.col("common").alias("c"), F.col("aa_milli").alias("d"))
    # BFS shortest-path tree with deterministic min-id parents over the
    # customer→order→part two-layer graph (parent of a part = the lowest
    # containing order among the root's orders)
    two_layer = spark.table("orders").select(
        (F.col("o_custkey") + F.lit(3 * B)).alias("src"),
        (F.col("o_orderkey") + F.lit(5 * B)).alias("dst"),
    ).unionByName(spark.table("lineitem").select(
        (F.col("l_orderkey") + F.lit(5 * B)).alias("src"),
        (F.col("l_partkey") + F.lit(4 * B)).alias("dst")))
    spt = AN.shortest_path_tree(
        two_layer, [3 * B + 1, 3 * B + 2, 3 * B + 3]
    ).select(
        F.lit("spt").alias("op"), F.col("root").alias("a"),
        F.col("id").alias("b"), F.col("depth").alias("c"),
        F.col("parent").alias("d"))
    # double-sweep diameter lower bound over the undirected chains
    # (exact here: chains are trees, longest chain wins)
    diam = AN.diameter_double_sweep(chains).select(
        F.lit("diam").alias("op"), F.col("start").alias("a"),
        F.col("far_node").alias("b"), F.col("ecc_start").alias("c"),
        F.col("diameter_lb").alias("d"))
    # landmark distance oracle on the sym supplier~part graph: 2 top-
    # degree landmarks, then triangle-inequality d(u,v) upper bounds for
    # every (l_suppkey%3==0) supplier pair — one relation feeds both parts
    li = spark.table("lineitem")
    symsp = li.select(
        (F.col("l_suppkey") + F.lit(2 * B)).alias("src"),
        (F.col("l_partkey") + F.lit(4 * B)).alias("dst"),
    ).unionByName(li.select(
        (F.col("l_partkey") + F.lit(4 * B)).alias("src"),
        (F.col("l_suppkey") + F.lit(2 * B)).alias("dst")))
    ld = AN.landmark_distances(symsp, n_landmarks=2, max_iter=6)
    lmd = ld.select(
        F.lit("lmd").alias("op"), F.col("landmark").alias("a"),
        F.col("id").alias("b"), F.col("depth").alias("c"), lN.alias("d"))
    sups = li.select(F.col("l_suppkey").alias("k")).distinct() \
        .filter(F.col("k") % 3 == 0) \
        .select((F.col("k") + F.lit(2 * B)).alias("u"))
    pairs = sups.join(sups.select(F.col("u").alias("v")),
                      F.col("u") < F.col("v"))
    lmu = AN.landmark_distance_upper(ld, pairs).select(
        F.lit("lmu").alias("op"), F.col("u").alias("a"),
        F.col("v").alias("b"), F.col("dist_upper").alias("c"), lN.alias("d"))
    # HyperBall depth-3 ball registers over the chains — the oracle is the
    # chain closed form (ball of position i = positions i..i+3, capped at
    # L) fed through the same 60-bit-md5 HLL register formula, stated
    # independently of the iterative max-merge fold
    hb = AN.hyperball_registers(chains, rounds=3, p=4).select(
        F.lit("hball").alias("op"), F.col("id").alias("a"),
        F.col("bucket").cast("long").alias("b"),
        F.col("max_rho").cast("long").alias("c"), lN.alias("d"))
    return (cp.unionByName(ja).unionByName(wp).unionByName(cl)
            .unionByName(hm).unionByName(mst).unionByName(strs)
            .unionByName(sig).unionByName(btw).unionByName(ebt)
            .unionByName(ebs).unionByName(bts).unionByName(gnr)
            .unionByName(gnl).unionByName(ra)
            .unionByName(aa).unionByName(spt).unionByName(diam)
            .unionByName(lmd).unionByName(lmu).unionByName(hb))


def _q_sampling_ops(spark, sf_dir):
    """Sampling/incremental family in one driver row: GraphSAGE neighbor
    sampling, random walks + their skip-gram training pairs, incremental
    dedup (exact + LSH probes)."""
    from judy_graph_db_spark.operators import sampling as SA

    ns = _q_neighbor_sample(spark, sf_dir).select(
        F.lit("neighbor").alias("op"), F.col("src").alias("a"),
        F.col("dst").alias("b"), F.col("sample_rank").cast("long").alias("c"))
    # walks are localCheckpoint'd by random_walks — the skip-gram corpus
    # reuses them instead of re-walking
    walks = _q_random_walks(spark, sf_dir)
    rw = walks.select(
        F.lit("walk").alias("op"), F.col("walk_id").alias("a"),
        F.col("step").alias("b"), F.col("node").alias("c"))
    sgp = SA.walk_skipgram_pairs(walks, window=2) \
        .localCheckpoint(eager=True)  # feeds both skipgram and negsamp rows
    sg = sgp.select(
        F.lit("skipgram").alias("op"), F.col("center").alias("a"),
        F.col("context").alias("b"), F.col("n_pairs").alias("c"))
    # word2vec negatives: unigram table = walk visit counts, a center
    # subset keeps the row budget bounded; slot folds into c reversibly
    freqs = walks.groupBy(F.col("node")).agg(F.count(F.lit(1)).alias("freq"))
    neg = SA.sampled_negatives(
        sgp.filter(F.col("center") % 7 == 0).select("center", "context"),
        freqs, k=1, seed=3,
    ).select(
        F.lit("negsamp").alias("op"), F.col("center").alias("a"),
        F.col("context").alias("b"),
        (F.col("negative") * 4 + F.col("slot")).alias("c"))
    inc = _q_incremental_dedup(spark, sf_dir).select(
        "op", "a", "b", F.col("code").alias("c"))
    # deterministic Chung-Lu Zipf generator (the skew-stress null model);
    # oracle = the negative-sampler twin pivoted to (src, dst)
    from judy_graph_db_spark.sources.synthetic import chung_lu_zipf_graph

    syn = chung_lu_zipf_graph(spark, 64, 256, seed=9).select(
        F.lit("synth").alias("op"), F.col("src").alias("a"),
        F.col("dst").alias("b"), F.lit(None).cast("long").alias("c"))
    # GraphSAGE-style 2-hop feature aggregation over the NEXT_ORDER
    # chains (order features = totalprice cents); one row per op keeps
    # count+sum and the integer-micro mean both hash-visible
    wnd = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    orders = spark.table("orders")
    chains = orders.select(
        (F.col("o_orderkey") + F.lit(5 * B)).alias("src"),
        (F.lead("o_orderkey").over(wnd) + F.lit(5 * B)).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    feats = orders.select(
        (F.col("o_orderkey") + F.lit(5 * B)).alias("node"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("f"))
    na = SA.neighbor_feature_agg(chains, feats, hops=2) \
        .localCheckpoint(eager=True)  # feeds both nagg and naggm rows
    nag = na.select(
        F.lit("nagg").alias("op"), F.col("id").alias("a"),
        F.col("n_paths").alias("b"), F.col("sum_f").alias("c"))
    nagm = na.select(
        F.lit("naggm").alias("op"), F.col("id").alias("a"),
        F.col("mean_micro").alias("b"), F.lit(None).cast("long").alias("c"))
    # metapath2vec walks over the heterogeneous customer→order→part graph
    het = orders.select(
        (F.col("o_custkey") + F.lit(3 * B)).alias("src"),
        (F.col("o_orderkey") + F.lit(5 * B)).alias("dst"),
        F.lit("PLACED").alias("label"),
    ).unionByName(spark.table("lineitem").select(
        (F.col("l_orderkey") + F.lit(5 * B)).alias("src"),
        (F.col("l_partkey") + F.lit(4 * B)).alias("dst"),
        F.lit("CONTAINS").alias("label")))
    mp = SA.metapath_walks(het, ["PLACED", "CONTAINS"], seed=13).select(
        F.lit("mpwalk").alias("op"), F.col("walk_id").alias("a"),
        F.col("step").alias("b"), F.col("node").alias("c"))
    # weight-proportional walks on the same sym supplier~part graph the
    # uniform 'walk' part uses, weights = max line quantity per edge
    li = spark.table("lineitem")
    wedges = li.select(
        (F.col("l_suppkey") + F.lit(2 * B)).alias("src"),
        (F.col("l_partkey") + F.lit(4 * B)).alias("dst"),
        F.col("l_quantity").cast("long").alias("weight"),
    ).unionByName(li.select(
        (F.col("l_partkey") + F.lit(4 * B)).alias("src"),
        (F.col("l_suppkey") + F.lit(2 * B)).alias("dst"),
        F.col("l_quantity").cast("long").alias("weight")))
    wstarts = li.select(
        (F.col("l_suppkey") + F.lit(2 * B)).alias("id")).distinct()
    ww = SA.weighted_random_walks(
        wedges, length=3, seed=17, starts=wstarts
    ).select(
        F.lit("wwalk").alias("op"), F.col("walk_id").alias("a"),
        F.col("step").alias("b"), F.col("node").alias("c"))
    # deterministic NON-edge negatives over the supplier~part graph
    ne = SA.sample_non_edges(
        li.select((F.col("l_suppkey") + F.lit(2 * B)).alias("src"),
                  (F.col("l_partkey") + F.lit(4 * B)).alias("dst")),
        k=2, seed=21,
    ).select(F.lit("negedge").alias("op"), F.col("src").alias("a"),
             F.col("slot").alias("b"), F.col("dst").alias("c"))
    # node2vec second-order biased walks on the same sym supplier~part
    # graph (default 1:4:2 return/common/far integer biases)
    nv = SA.node2vec_walks(
        wedges.select("src", "dst"), length=3, seed=23, starts=wstarts
    ).select(
        F.lit("n2v").alias("op"), F.col("walk_id").alias("a"),
        F.col("step").alias("b"), F.col("node").alias("c"))
    return (ns.unionByName(rw).unionByName(sg).unionByName(neg)
            .unionByName(inc).unionByName(nag).unionByName(nagm)
            .unionByName(mp).unionByName(ww).unionByName(ne)
            .unionByName(nv).unionByName(syn))


def _q_ann_search(spark, sf_dir):
    """ANN + clustering family in one driver row: IVF/LSH bucket layouts,
    brute / multi-probe-IVF / batch-kNN top-k search, trained k-means
    cluster sizes, and SemDeDup semantic near-duplicate pruning."""
    from judy_graph_db_spark.operators import clustering as CL

    lN = F.lit(None).cast("long")
    sN = F.lit(None).cast("string")
    bk = _q_ann_buckets(spark, sf_dir).select(
        "op", F.col("bucket").alias("s"), lN.alias("a"), lN.alias("b"),
        lN.alias("c"), F.col("n").cast("long").alias("d"))
    tk = _q_ann_topk(spark, sf_dir).select(
        "op", sN.alias("s"), F.col("query_id").alias("a"),
        F.col("vec_id").alias("b"), F.col("rank").cast("long").alias("c"),
        F.col("sim_micro").cast("long").alias("d"))
    load_tpch_views(spark, sf_dir)
    embs = spark.table("embeddings")
    # one Lloyd run feeds both parts (sizes + dedup reuse the assignment)
    clusters = CL.kmeans_assign(embs, k=8, iters=2, dim=64)
    km = clusters.groupBy("cluster").agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("kmeans").alias("op"), F.col("cluster").cast("string").alias("s"),
        lN.alias("a"), lN.alias("b"), lN.alias("c"),
        F.col("n").cast("long").alias("d"))
    sd = CL.semantic_dedup(embs, clusters=clusters, threshold_micro=350000,
                           dim=64).select(
        F.lit("semdedup").alias("op"), sN.alias("s"),
        F.col("vec_id").cast("long").alias("a"),
        F.col("cluster").cast("long").alias("b"),
        F.col("kept").cast("long").alias("c"), lN.alias("d"))
    qt = S.quantize_embeddings(embs).select(
        F.lit("quant").alias("op"), F.col("q_hash").alias("s"),
        F.col("vec_id").cast("long").alias("a"),
        F.col("scale_micro").alias("b"),
        F.col("n_dims").cast("long").alias("c"), lN.alias("d"))
    # chunk→doc mean pooling (label plays the document key); the hashed
    # fingerprint is the per-element integer-division mean, never a float
    pool = S.mean_pool_embeddings(embs, "label").select(
        F.lit("pool").alias("op"), F.col("label").cast("string").alias("s"),
        F.posexplode("pooled_q").alias("a", "b"),
        F.col("n_vecs").alias("c"), lN.alias("d")
    ).select("op", "s", F.col("a").cast("long"), "b", "c", "d")
    # PQ: per-subspace codes + asymmetric-distance top-k for the lowest-id
    # vector as the query; codes checkpointed — they feed both parts
    pq_codes = CL.pq_train_encode(embs, m=4, k=8, iters=2, dim=64) \
        .localCheckpoint(eager=True)
    pqc = pq_codes.select(
        "vec_id", F.posexplode("codes").alias("sub", "code")
    ).select(
        F.lit("pq").alias("op"), sN.alias("s"), F.col("vec_id").alias("a"),
        F.col("sub").cast("long").alias("b"), F.col("code").alias("c"),
        lN.alias("d"))
    pqt = CL.pq_adc_topk(
        pq_codes, CL.pq_codebooks(embs, pq_codes, m=4, dim=64),
        embs.orderBy("vec_id").limit(1).select("embedding"),
        m=4, dim=64, topk=10,
    ).select(
        F.lit("pqtop").alias("op"), sN.alias("s"), F.col("vec_id").alias("a"),
        F.col("dist_q").alias("b"), F.col("rank").cast("long").alias("c"),
        lN.alias("d"))
    # recall@k of the probe-limited IVF search vs the brute-force truth,
    # plus reciprocal-rank fusion of the two lists (the hybrid-retrieval
    # combiner) — both run over the k-row top-k relations only
    brute10 = S.cosine_topk_bruteforce(embs, query_id=0, k=10, dim=64) \
        .withColumn("query_id", F.lit(0).cast("long"))
    ivf10 = S.ivf_topk(embs, query_id=0, k=10, n_cells=4, n_probe=2) \
        .withColumn("query_id", F.lit(0).cast("long"))
    rec = S.topk_recall(ivf10, brute10, query_col="query_id",
                        id_col="vec_id").select(
        F.lit("recall").alias("op"), sN.alias("s"),
        F.col("query_id").alias("a"), F.col("n_exact").cast("long").alias("b"),
        F.col("n_hit").cast("long").alias("c"),
        F.col("recall_permille").alias("d"))
    rrf = S.rrf_fuse([brute10, ivf10], id_col="vec_id",
                     rank_col="rank").select(
        F.lit("rrf").alias("op"), sN.alias("s"), F.col("vec_id").alias("a"),
        F.col("n_lists").cast("long").alias("b"),
        F.col("rrf_micro").alias("c"), lN.alias("d"))
    # MRR of the probe-limited list against the brute top-3 as "relevant"
    mr = S.mrr(ivf10, brute10.filter(F.col("rank") <= 3)
               .select("query_id", "vec_id"),
               id_col="vec_id").select(
        F.lit("mrr").alias("op"), sN.alias("s"),
        F.col("n_queries").alias("a"), F.col("n_hit").alias("b"),
        F.col("mrr_micro").alias("c"), lN.alias("d"))
    # NDCG@10 of the probe-limited list under graded relevance (brute
    # top-10, rel = 11 − rank) — whole-bit log2 discount, integer-exact
    nd = S.ndcg(ivf10,
                brute10.select("query_id", "vec_id",
                               (11 - F.col("rank")).alias("rel")),
                k=10, id_col="vec_id", rel_col="rel").select(
        F.lit("ndcg").alias("op"), sN.alias("s"),
        F.col("query_id").alias("a"), F.col("dcg").alias("b"),
        F.col("idcg").alias("c"), F.col("ndcg_micro").alias("d"))
    # per-dimension integer sufficient stats (whitening prep / dead-dim
    # detector); min·2^21+max packs reversibly (|q| ≤ 2^20)
    ds = S.dimension_stats(embs, dim=64).select(
        F.lit("dimstats").alias("op"), sN.alias("s"),
        F.col("j").cast("long").alias("a"), F.col("sum_q").alias("b"),
        F.col("sum_sq").alias("c"),
        ((F.col("min_q") + (1 << 20)) * (1 << 21)
         + (F.col("max_q") + (1 << 20))).alias("d"))
    # IVFADC: PQ ADC restricted to the query's 2 probed IVF cells —
    # the wrapper takes the checkpointed codes, so nothing retrains
    ivfpq = CL.ivf_pq_topk(
        embs, query_id=0, topk=10, n_cells=4, n_probe=2, m=4, dim=64,
        codes=pq_codes,
    ).select(
        F.lit("ivfpq").alias("op"), sN.alias("s"), F.col("vec_id").alias("a"),
        F.col("dist_q").alias("b"), F.col("rank").cast("long").alias("c"),
        lN.alias("d"))
    # JL ±1 random projection to 8 dims — integer-exact sketch rows
    rp = S.random_projection(embs, out_dim=8, seed=5).select(
        F.lit("rproj").alias("op"), sN.alias("s"),
        F.col("vec_id").alias("a"), F.col("j").cast("long").alias("b"),
        F.col("v").alias("c"), lN.alias("d"))
    # pairwise-distance histogram over the md5 sample — the embedding-
    # space collapse check (log2 buckets of quantized squared L2)
    dh = S.distance_histogram(embs, sample_buckets=64, dim=64).select(
        F.lit("dhist").alias("op"), sN.alias("s"),
        F.col("bucket").alias("a"), F.col("n_pairs").alias("b"),
        lN.alias("c"), lN.alias("d"))
    # hard-negative mining: the probe-limited list minus the brute top-3
    # positives, re-ranked — the contrastive-training data op
    hn = S.hard_negatives(
        ivf10, brute10.filter(F.col("rank") <= 3)
        .select("query_id", "vec_id"), k=5).select(
        F.lit("hardneg").alias("op"), sN.alias("s"),
        F.col("query_id").alias("a"), F.col("vec_id").alias("b"),
        F.col("neg_rank").alias("c"), F.col("sim_micro").alias("d"))
    # margin-criterion bitext mining between the even/odd table halves
    bx = S.bitext_mine(embs.filter(F.col("vec_id") % 2 == 0),
                       embs.filter(F.col("vec_id") % 2 == 1),
                       k=4, threshold_milli=1000, dim=64).select(
        F.lit("bitext").alias("op"), sN.alias("s"),
        F.col("src_id").cast("long").alias("a"),
        F.col("tgt_id").cast("long").alias("b"),
        F.col("sim_micro").alias("c"), F.col("margin_milli").alias("d"))
    return (bk.unionByName(tk).unionByName(km).unionByName(sd)
            .unionByName(qt).unionByName(pool).unionByName(pqc)
            .unionByName(pqt).unionByName(rec).unionByName(rrf)
            .unionByName(ivfpq).unionByName(rp).unionByName(dh)
            .unionByName(mr).unionByName(ds).unionByName(nd)
            .unionByName(bx).unionByName(hn))


def _q_stream_maintain(spark, sf_dir):
    """Streaming maintenance folds, driver-gated: the events stream folds
    into the three mergeable sketches (CMS/HLL/Bloom versioned store) and
    the NEXT_ORDER edge stream folds into incrementally-maintained CC
    labels — both split into 2 micro-batches (maxFilesPerTrigger=1,
    availableNow), then the STORES are read back and hashed against the
    batch twins over the full data (the batch-equivalence contract; the
    CC oracle is the chain closed form). Streaming state per batch is
    sketch-/node-sized, never corpus-sized."""
    import shutil
    import tempfile

    from judy_graph_db_spark.streaming.components import (
        foreach_batch_components, read_labels)
    from judy_graph_db_spark.streaming.sketches import (
        foreach_batch_sketches, read_sketches)

    load_tpch_views(spark, sf_dir)
    base = tempfile.mkdtemp(prefix="smaint_")
    try:
        ev_in = f"{base}/ev_in"
        spark.table("events").select("user_id").repartition(2) \
            .write.mode("overwrite").parquet(ev_in)
        ev_stream = (
            spark.readStream.schema("user_id long")
            .option("maxFilesPerTrigger", 1).parquet(ev_in)
        )
        q1 = foreach_batch_sketches(
            ev_stream, f"{base}/sk", "user_id", checkpoint=f"{base}/ck1",
            width=64, depth=2, p=6, m_bits=1 << 12, k=4)
        q1.awaitTermination(600)

        g = tpch_graph(spark, sf_dir)
        chains = g.edges.filter(
            (F.col("label") == "NEXT_ORDER") & ~F.col("is_back")
        ).select("src", "dst")
        cc_in = f"{base}/cc_in"
        chains.repartition(2).write.mode("overwrite").parquet(cc_in)
        cc_stream = (
            spark.readStream.schema("src long, dst long")
            .option("maxFilesPerTrigger", 1).parquet(cc_in)
        )
        q2 = foreach_batch_components(cc_stream, f"{base}/cc",
                                      checkpoint=f"{base}/ck2")
        q2.awaitTermination(600)

        sN = F.lit(None).cast("string")
        lN = F.lit(None).cast("long")
        sk = read_sketches(spark, f"{base}/sk")
        cms = sk["cms"].select(
            F.lit("sk_cms").alias("op"), F.col("w").cast("long").alias(
                "hour_bucket"), F.col("d").cast("string").alias("event_type"),
            F.col("cnt").cast("long").alias("n"),
            lN.alias("sum_value_cents"))
        hll = sk["hll"].select(
            F.lit("sk_hll").alias("op"),
            F.col("bucket").cast("long").alias("hour_bucket"),
            sN.alias("event_type"),
            F.col("max_rho").cast("long").alias("n"),
            lN.alias("sum_value_cents"))
        bloom = sk["bloom"].select(
            F.lit("sk_bloom").alias("op"),
            F.col("word").cast("long").alias("hour_bucket"),
            sN.alias("event_type"), F.col("bits").cast("long").alias("n"),
            lN.alias("sum_value_cents"))
        cc = read_labels(spark, f"{base}/cc").select(
            F.lit("sk_cc").alias("op"),
            F.col("id").cast("long").alias("hour_bucket"),
            sN.alias("event_type"),
            F.col("component").cast("long").alias("n"),
            lN.alias("sum_value_cents"))
        # streaming SCD2 dimension fold: per-user latest event_type as the
        # tracked value, TWO deterministic micro-batches (even event_ids
        # folded before odd — file written, drained, then the second file
        # written and drained, so batch order is fixed and the oracle can
        # replay merge∘merge exactly)
        from judy_graph_db_spark.streaming.dimensions import (
            foreach_batch_scd2, read_dimension)

        dim_in = f"{base}/dim_in"
        changes = spark.table("events").select(
            F.col("event_id"), F.col("user_id").alias("key"),
            F.col("event_type").alias("value"), F.col("ts"))
        changes.filter(F.col("event_id") % 2 == 0) \
            .select("key", "value", "ts").coalesce(1) \
            .write.mode("overwrite").parquet(dim_in)

        def dim_stream():
            return (spark.readStream
                    .schema("key long, value string, ts timestamp")
                    .parquet(dim_in))

        q3 = foreach_batch_scd2(dim_stream(), f"{base}/dim",
                                checkpoint=f"{base}/ck3")
        q3.awaitTermination(600)
        changes.filter(F.col("event_id") % 2 == 1) \
            .select("key", "value", "ts").coalesce(1) \
            .write.mode("append").parquet(dim_in)
        q4 = foreach_batch_scd2(dim_stream(), f"{base}/dim",
                                checkpoint=f"{base}/ck3")
        q4.awaitTermination(600)
        ep0 = F.lit("1970-01-01 00:00:00").cast("timestamp")
        scd = read_dimension(spark, f"{base}/dim").select(
            F.lit("sk_scd2").alias("op"),
            F.col("key").cast("long").alias("hour_bucket"),
            F.col("value").alias("event_type"),
            (F.col("valid_from").cast("long")
             - ep0.cast("long")).alias("n"),
            (F.col("valid_to").cast("long")
             - ep0.cast("long")).alias("sum_value_cents"))
        # streaming NEAR-dup fold: LSH band-bucket store maintained over
        # two ordered micro-batches (doc_id < 150 folded before the rest,
        # same file-then-drain choreography as the SCD2 fold); the folded
        # flags must equal the batch first-arrival twin over the union
        from judy_graph_db_spark.streaming.neardup import (
            foreach_batch_neardup, read_flags)

        nd_in = f"{base}/nd_in"
        docs_nd = spark.table("documents") \
            .filter(F.col("doc_id") < 300).select("doc_id", "text")
        docs_nd.filter(F.col("doc_id") < 150).coalesce(1) \
            .write.mode("overwrite").parquet(nd_in)

        def nd_stream():
            return (spark.readStream.schema("doc_id long, text string")
                    .parquet(nd_in))

        q5 = foreach_batch_neardup(nd_stream(), f"{base}/nd",
                                   checkpoint=f"{base}/ck4")
        q5.awaitTermination(600)
        docs_nd.filter(F.col("doc_id") >= 150).coalesce(1) \
            .write.mode("append").parquet(nd_in)
        q6 = foreach_batch_neardup(nd_stream(), f"{base}/nd",
                                   checkpoint=f"{base}/ck4")
        q6.awaitTermination(600)
        nd = read_flags(spark, f"{base}/nd").select(
            F.lit("sk_ndup").alias("op"),
            F.col("doc_id").cast("long").alias("hour_bucket"),
            sN.alias("event_type"), F.col("dup_of").alias("n"),
            lN.alias("sum_value_cents"))
        return (cms.unionByName(hll).unionByName(bloom).unionByName(cc)
                .unionByName(scd).unionByName(nd)
                .localCheckpoint(eager=True))
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _q_events_hourly_both(spark, sf_dir):
    """The hourly rollup under BOTH executions in one driver row — the
    batch plan and the real Structured Streaming run must produce the
    identical answer (stream/batch unification) — plus the streaming
    maintenance folds (sketch store + incremental CC labels), hashed
    against their batch twins."""
    b = _q_events_hourly(spark, sf_dir).select(
        F.lit("batch").alias("op"), "hour_bucket", "event_type", "n",
        "sum_value_cents")
    s = _q_events_hourly_stream(spark, sf_dir).select(
        F.lit("stream").alias("op"), "hour_bucket", "event_type", "n",
        "sum_value_cents")
    # SLIDING windows under real Structured Streaming (2h windows hopping
    # hourly) — must equal the batch sliding_window_counts stride formula
    import tempfile
    import uuid

    from pyspark.sql import types as PT

    p_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    ev = (
        spark.readStream.schema(p_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if isinstance(p_schema["ts"].dataType, PT.LongType):
        ev = ev.withColumn(
            "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long")))
    elif isinstance(p_schema["ts"].dataType, PT.TimestampNTZType):
        ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    sw_out = (
        ev.withWatermark("ts", "4 hours")
        .groupBy(F.window("ts", "2 hours", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.round(F.col("value") * 100).cast("long"))
             .alias("sum_value_cents"))
        .select(F.col("window.start").cast("long").alias("hour_bucket"),
                "event_type", "n", "sum_value_cents")
    )
    qname = f"evsw_{uuid.uuid4().hex[:8]}"
    q = (sw_out.writeStream.format("memory").queryName(qname)
         .outputMode("complete")
         .option("checkpointLocation", tempfile.mkdtemp(prefix="evsw_"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    sl = spark.table(qname).select(
        F.lit("slide_stream").alias("op"), "hour_bucket", "event_type",
        "n", "sum_value_cents")
    return (b.unionByName(s).unionByName(sl)
            .unionByName(_q_stream_maintain(spark, sf_dir)))


def _q_chunk_shard(spark, sf_dir):
    """Context-window prep in one driver row: overlapping character chunks,
    token-budget sharding, and concat-and-chunk sequence packing (both on
    the two-pass distributed prefix sum)."""
    from judy_graph_db_spark.operators.curation import pack_sequences

    lN = F.lit(None).cast("long")
    sN = F.lit(None).cast("string")
    ch = _q_doc_chunks(spark, sf_dir).select(
        F.lit("chunk").alias("op"), "doc_id",
        F.col("chunk_idx").cast("long").alias("a"),
        F.col("chunk").alias("s"), lN.alias("b"))
    load_tpch_views(spark, sf_dir)
    pk = pack_sequences(spark.table("documents"), seq_len=512).select(
        F.lit("pack").alias("op"), "doc_id",
        F.col("seq_first").alias("a"),
        F.col("offset_in_first").cast("string").alias("s"),
        F.col("seq_last").alias("b"))
    sh = _q_token_shards(spark, sf_dir).select(
        F.lit("shard").alias("op"), "doc_id",
        F.col("shard").cast("long").alias("a"), sN.alias("s"),
        F.col("n_tokens").cast("long").alias("b"))
    # token-window chunking (model-unit windows, 64 tokens every 48)
    from judy_graph_db_spark.operators.curation import chunk_by_tokens

    tc = chunk_by_tokens(spark.table("documents"), size=64,
                         stride=48).select(
        F.lit("tchunk").alias("op"), "doc_id",
        F.col("chunk_idx").alias("a"), F.md5(F.col("chunk")).alias("s"),
        F.col("n_tokens").alias("b"))
    # weight-generalized sharding (the compaction-planner shape):
    # byte-budget bins over n_chars
    from judy_graph_db_spark.operators.curation import shard_by_weight

    ws = shard_by_weight(
        spark.table("documents").select("doc_id", "n_chars"),
        50000, "n_chars",
    ).select(
        F.lit("wshard").alias("op"), "doc_id",
        F.col("shard").alias("a"), sN.alias("s"),
        F.col("n_tokens").alias("b"))
    from judy_graph_db_spark.operators.bpe import bpe_encode, bpe_train

    merges, bvocab = bpe_train(spark.table("documents"), n_merges=8)
    bm = merges.select(
        F.lit("bpe_merge").alias("op"), F.col("rank").alias("doc_id"),
        F.col("count").alias("a"), F.concat_ws("|", "a", "b").alias("s"),
        lN.alias("b"))
    bv = bvocab.select(
        F.lit("bpe_vocab").alias("op"), lN.alias("doc_id"),
        F.col("freq").alias("a"), F.col("symbol").alias("s"), lN.alias("b"))
    # encode a deterministic doc subset with the learned merges: the
    # shuffle-free literal-fold tokenization pass, hash-checked against
    # the oracle's word→final-segmentation join
    be = bpe_encode(
        spark.table("documents").filter(F.col("doc_id") % 17 == 0), merges
    ).select(
        F.lit("bpe_enc").alias("op"), "doc_id",
        F.col("word_pos").alias("a"),
        F.concat_ws("@", F.col("symbol"),
                    F.col("sym_pos").cast("string")).alias("s"),
        F.col("sym_pos").alias("b"))
    # WordPiece-scored merges (likelihood objective, exact-integer score)
    # over the same corpus: same fold, different selection rule
    wpm, _wpv = bpe_train(spark.table("documents"), n_merges=6,
                          score="likelihood")
    wm = wpm.select(
        F.lit("wp_merge").alias("op"), F.col("rank").alias("doc_id"),
        F.col("count").alias("a"), F.concat_ws("|", "a", "b").alias("s"),
        lN.alias("b"))
    # unigram-LM tokenizer (Kudo 2018): seed vocab + whole-bit costs, and
    # the Viterbi min-packed-cost segmentation of a word subset — hashed
    # against the oracle's unrolled-DP twin
    from judy_graph_db_spark.operators import unigram as UNI

    useed = UNI.with_piece_costs(UNI.unigram_seed_vocab(
        spark.table("documents"), max_piece_len=3, seed_size=64))
    uv = useed.select(
        F.lit("uni_seed").alias("op"), lN.alias("doc_id"),
        F.col("cnt").alias("a"), F.col("piece").alias("s"),
        F.col("cost_bits").alias("b"))
    from judy_graph_db_spark.operators.unigram import WORD_TOKEN_RE as _UWRE

    uwords = (
        spark.table("documents")
        .select(F.explode(F.regexp_extract_all(
            F.lower("text"), F.lit(_UWRE), F.lit(0))).alias("word"))
        .distinct()
        .filter((F.length("word") <= 12) & F.col("word").startswith("c"))
    )
    ug = UNI.unigram_segment_words(uwords, useed, max_piece_len=3).select(
        F.lit("uni_seg").alias("op"), lN.alias("doc_id"),
        F.col("packed").alias("a"), F.col("word").alias("s"),
        F.col("n_pieces").alias("b"))
    # WordPiece greedy longest-match over the SAME seed pieces (word-
    # initial ∪ ##continuation forms) and the SAME word subset — third
    # tokenizer family, hashed against the unrolled-greedy twin
    wpvv = WORDPIECE.wordpiece_vocab_from_pieces(useed)
    wg = WORDPIECE.wordpiece_segment_words(
        uwords, wpvv, max_piece_len=3).select(
        F.lit("wp_seg").alias("op"), lN.alias("doc_id"),
        F.col("n_pieces").alias("a"),
        F.concat_ws("|", F.col("word"),
                    F.array_join("pieces", "|")).alias("s"),
        F.col("is_unk").cast("long").alias("b"))
    # the TERMINAL pipeline step, whole-path gated: WordPiece-encode the
    # corpus with dense-rank ids over the same vocab, concatenate with
    # EOD separators, cut into complete 64-token sequences — each
    # sequence's full id string hashes against the composed twin
    from pyspark.sql import Window as _WW

    from judy_graph_db_spark.operators import curation as CU

    emvocab = wpvv.withColumn(
        "token_id",
        F.row_number().over(_WW.orderBy("piece")).cast("long"))
    emseqs = CU.emit_training_sequences(
        WORDPIECE.wordpiece_encode(spark.table("documents"), wpvv,
                                   max_piece_len=3),
        emvocab, seq_len=64)
    em = emseqs.select(
        F.lit("emit").alias("op"), F.col("seq_id").alias("doc_id"),
        F.col("n_tokens").alias("a"),
        F.concat_ws("|", "tokens").alias("s"), lN.alias("b"))
    # T5-style span corruption over those same packed sequences: the
    # hashed block placement, sentinel substitution and targets+EOS
    # assembly all hash against the composed twin
    spanc = CU.emit_span_corruption(
        emseqs.select("seq_id", "tokens"), mean_span_len=3,
        noise_permille=150).select(
        F.lit("spanc").alias("op"), F.col("seq_id").alias("doc_id"),
        F.col("n_spans").alias("a"),
        F.concat_ws("#", F.array_join("inputs", "|"),
                    F.array_join("targets", "|")).alias("s"),
        F.size("inputs").cast("long").alias("b"))
    # FIM (fill-in-the-middle) over the same packed sequences: seeded
    # selection + split points, PSM sentinel layout — hashed end to end
    fim = CU.emit_fim_sequences(
        emseqs.select("seq_id", "tokens"), fim_permille=500).select(
        F.lit("fim").alias("op"), F.col("seq_id").alias("doc_id"),
        F.col("is_fim").cast("long").alias("a"),
        F.array_join("tokens", "|").alias("s"),
        F.size("tokens").cast("long").alias("b"))
    # SFT packing with loss masks over doc-id-derived synthetic
    # prompt/response id arrays (both engines derive the same arrays
    # from doc_id alone); 'b' carries the per-sequence trainable-token
    # count so a mask regression can't hide in the string
    sftp = spark.table("documents").select(
        F.col("doc_id").alias("example_id"),
        F.expr("transform(sequence(1, 1 + CAST(doc_id % 5 AS INT)), "
               "j -> CAST((doc_id * 31 + j - 1) % 997 AS BIGINT))")
        .alias("prompt_ids"),
        F.expr("transform(sequence(1, 1 + CAST(doc_id % 4 AS INT)), "
               "j -> CAST((doc_id * 17 + j - 1) % 991 AS BIGINT))")
        .alias("response_ids"))
    sft = CU.emit_sft_sequences(sftp, seq_len=32).select(
        F.lit("sft").alias("op"), F.col("seq_id").alias("doc_id"),
        F.col("n_tokens").alias("a"),
        F.concat_ws("#", F.array_join("tokens", "|"),
                    F.array_join("loss_mask", "|")).alias("s"),
        F.aggregate("loss_mask", F.lit(0).cast("long"),
                    lambda acc, x: acc + x).alias("b"))
    # tokenizer fertility on the same encoded subset: chars per token
    from judy_graph_db_spark.operators.bpe import bpe_compression

    bc = bpe_compression(
        spark.table("documents").filter(F.col("doc_id") % 17 == 0), merges
    ).select(
        F.lit("bpec").alias("op"), "doc_id",
        F.col("n_tokens").alias("a"),
        F.col("n_chars").cast("string").alias("s"),
        F.col("cpt_milli").alias("b"))
    return (ch.unionByName(sh).unionByName(ws).unionByName(pk)
            .unionByName(bm).unionByName(bv).unionByName(be)
            .unionByName(bc).unionByName(tc).unionByName(wm)
            .unionByName(uv).unionByName(ug).unionByName(wg)
            .unionByName(em).unionByName(spanc).unionByName(sft)
            .unionByName(fim))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # 50 entries (assert_gate_count test pins this) — the driver records at
    # most ~50 correctness rows, so same-family gates are bundled into union
    # rows with `op` tags; every registered operator keeps a driver-visible
    # hash-checked row. See "merged gate bundles" above.
    return {
        # graph core
        "adjacency_neighbors": _q_adjacency,
        "degree_by_label": _q_degree,
        "node_label_counts": _q_node_label_counts,
        "pattern_2hop": _q_pattern_2hop,
        "pattern_1hop_matrix": _q_pattern_1hop_matrix,
        "var_length_paths": _q_var_length_paths,
        "edge_list_ingest": _q_edge_list_ingest,
        "point_lookups": _q_point_lookups,
        "nodes_scan_multiplicity": _q_nodes_scan_multiplicity,
        "nested_layers_2hop": _q_nested_layers,
        "graph_query_subgraph": _q_graph_query_subgraph,
        "create_mem_diff": _q_create_mem_diff,
        "union_overwrite": _q_union_overwrite,
        "flat_table_positions": _q_flat_table,
        "appl_sorted_positions": _q_appl_sorted,
        "filter_edges_to_parts": _q_filter_edges_to,
        # DML
        "insert_append_seq": _q_insert_append_seq,
        "update_edge_targets": _q_update_edge_targets,
        "map_nodes_relabel": _q_map_nodes_relabel,
        "delete_ops": _q_delete_ops,
        "persisted_roundtrip": _q_persisted_roundtrip,
        # iterative analytics
        "connected_components": _q_connected_components,
        "triangle_count": _q_triangle_count,
        "degree_histogram": _q_degree_histogram,
        "label_communities": _q_label_propagation,
        "pagerank_ranks": _q_pagerank,
        "link_analysis": _q_link_analysis,
        "k_core_nodes": _q_k_core,
        "closure_min_depth": _q_closure,
        # relational parity-plus
        "pricing_summary": _q_pricing_summary,
        "top_customers": _q_top_customers,
        "orders_per_nation": _q_orders_per_nation,
        "orders_rollup": _q_orders_rollup,
        "events_json": _q_events_json,
        "orders_by_month": _q_orders_by_month,
        "events_hourly_batch_stream": _q_events_hourly_both,
        "event_sessions": _q_event_sessions,
        "stream_interval_join": _q_stream_interval_join,
        # text / dedup / curation
        "doc_signals": _q_doc_signals,
        "dedup_docs": _q_dedup_docs,
        "neardup_pairs": _q_neardup_pairs,
        "media_pipeline": _q_media_pipeline,
        "web_filter_ops": _q_web_filter_ops,
        "corpus_curation": _q_corpus_curation,
        "chunk_shard_ops": _q_chunk_shard,
        # similarity / ANN
        "ann_search": _q_ann_search,
        # temporal
        "temporal_ops": _q_temporal_ops,
        # stats
        "stats_ops": _q_stats_ops,
        "graph_similarity": _q_graph_similarity,
        # sampling / incremental
        "sampling_ops": _q_sampling_ops,
    }


def oracle_sql() -> dict[str, str]:
    P = oracle_prefix()
    # PII-injected text twin of _q_doc_signals' pii_t
    WALKS_SQL = SA_ORACLE.random_walks_oracle_sql(
        edges_sql=f"SELECT l_suppkey + {2 * B} AS src, "
                  f"l_partkey + {4 * B} AS dst FROM lineitem "
                  f"UNION ALL SELECT l_partkey + {4 * B}, "
                  f"l_suppkey + {2 * B} FROM lineitem",
        length=3, seed=11,
        starts_sql=f"SELECT DISTINCT l_suppkey + {2 * B} AS id FROM lineitem",
    )
    CHAIN_EDGES_SQL = (
        f"SELECT CAST(5*{B} + o_orderkey AS BIGINT) AS src, "
        f"CAST(5*{B} + LEAD(o_orderkey) OVER (PARTITION BY o_custkey "
        f"ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS dst "
        f"FROM orders QUALIFY dst IS NOT NULL")
    SYMSP_SQL = (
        f"SELECT l_suppkey + {2 * B} AS src, "
        f"l_partkey + {4 * B} AS dst FROM lineitem "
        f"UNION ALL SELECT l_partkey + {4 * B}, "
        f"l_suppkey + {2 * B} FROM lineitem")
    COND_SQL = AN.conductance_oracle_sql(
        CHAIN_EDGES_SQL,
        "SELECT id, community FROM ("
        + AN.label_propagation_oracle_sql(CHAIN_EDGES_SQL, iters=3) + ")")
    AST_SQL = AN.degree_assortativity_stats_sql(
        "SELECT src, dst FROM edges WHERE NOT is_back")
    ZIPF_SQL = O.zipf_bits_stats_sql()
    NAGG_SQL = SA_ORACLE.neighbor_feature_agg_oracle_sql(
        edges_sql=f"SELECT src, dst FROM ("
                  f"SELECT CAST(5*{B} + o_orderkey AS BIGINT) AS src, "
                  f"CAST(5*{B} + LEAD(o_orderkey) OVER ("
                  f"PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey"
                  f") AS BIGINT) AS dst FROM orders) WHERE dst IS NOT NULL",
        feats_sql=f"SELECT CAST(5*{B} + o_orderkey AS BIGINT) AS node, "
                  f"CAST(ROUND(o_totalprice * 100) AS BIGINT) AS f "
                  f"FROM orders",
        hops=2,
    )
    PII_T_SQL = ("(text || ' user' || CAST(doc_id AS VARCHAR) || "
                 "'@example.com 10.0.0.1 555-12-3456 +1 (415) 555-01' || "
                 "CAST(doc_id % 90 + 10 AS VARCHAR))")
    # URL- and line-injected twins of _q_doc_signals' url_t / lined_t
    URL_T_SQL = ("(text || ' http://d' || CAST(doc_id % 7 AS VARCHAR) || "
                 "'.example.com/a x https://www.site' || "
                 "CAST(doc_id % 3 AS VARCHAR) || "
                 "'.org/path?q=1 plain.example.com')")
    LINED_T_SQL = ("(text || chr(10) || text || chr(10) || "
                   "substr(text, 1, 40) || chr(10) || text)")
    HTML_T_SQL = "('<p>' || text || '</p> tail<br/>')"
    TRACK_URL_SQL = ("('https://EX.com/p' || CAST(doc_id AS VARCHAR) || "
                     "'/?utm_source=a&q=' || CAST(doc_id AS VARCHAR) || "
                     "'#frag')")
    CC_URL_SQL = ("('https://sub' || CAST(doc_id % 3 AS VARCHAR) || "
                  "'.shop' || CAST(doc_id % 5 AS VARCHAR) || "
                  "'.co.uk/item/' || CAST(doc_id AS VARCHAR))")
    CC_HOST_SQL = O.url_host_sql(CC_URL_SQL)
    CC_DOM_SQL = O.registered_domain_sql(CC_HOST_SQL)
    snap_new_sql = (
        "SELECT doc_id, CASE WHEN doc_id % 20 = 0 THEN text || 'x' "
        "ELSE text END AS text FROM documents WHERE doc_id % 25 != 1 "
        "UNION ALL SELECT doc_id + 1000000, text FROM documents "
        "WHERE doc_id % 30 = 0"
    )
    snap_diff_sql = O.snapshot_diff_sql(
        "SELECT doc_id, text FROM documents", snap_new_sql
    )
    out = {
        "adjacency_neighbors": f"""{P}
SELECT dst, edge_seq FROM edges
WHERE src = {3 * B + 1} AND label = 'PLACED' AND NOT is_back""",
        "degree_by_label": f"""{P}
SELECT src, label, COUNT(*) AS degree FROM edges
WHERE NOT is_back GROUP BY src, label""",
        "node_label_counts": f"""{P}
SELECT label AS range_label, COUNT(*) AS n FROM nodes_g GROUP BY label""",
        "pattern_2hop": f"""{P},
hops AS (
  SELECT e1.src AS n0, e1.label AS e0_label, e1.edge_seq AS e0_seq,
         e1.dst AS n1, e2.label AS e1_label, e2.edge_seq AS e1_seq,
         e2.dst AS n2
  FROM edges e1 JOIN edges e2 ON e1.dst = e2.src
  WHERE e1.label = 'PLACED' AND NOT e1.is_back
    AND e2.label = 'CONTAINS' AND NOT e2.is_back
)
SELECT *, 'quick' AS op FROM hops
UNION ALL
SELECT *, 'cost' AS op FROM hops""",
        "pattern_1hop_matrix": f"""{P}
SELECT 'backward' AS op, src AS n0, label AS e0_label, edge_seq AS e0_seq, dst AS n1
FROM edges WHERE label = 'PLACED' AND is_back
UNION ALL
SELECT 'orth_bulk', src, label, edge_seq, dst
FROM edges WHERE is_bulk AND NOT is_back
UNION ALL
SELECT 'where_seq', src, label, edge_seq, dst
FROM edges WHERE label = 'PLACED' AND NOT is_back AND edge_seq <= 2
UNION ALL
SELECT 'where_str', src, label, edge_seq, dst
FROM edges WHERE label = 'PLACED' AND NOT is_back AND edge_seq <= 2
UNION ALL
SELECT 'optional', n.id, e.label, e.edge_seq, e.dst
FROM nodes_g n LEFT JOIN (
  SELECT * FROM edges WHERE label = 'PLACED' AND NOT is_back) e
  ON e.src = n.id
WHERE n.label = 'CUSTOMER'
UNION ALL
SELECT 'not_edge', src, label, edge_seq, dst
FROM edges e WHERE label = 'PLACED' AND NOT is_back AND NOT EXISTS (
  SELECT 1 FROM edges x
  WHERE x.src = e.src AND x.dst = e.dst AND x.label = 'PLACED'
    AND NOT x.is_back AND x.edge_seq >= 3)
UNION ALL
SELECT 'cycle', no.src, no.label, eb.edge_seq, c2.dst
FROM edges no
JOIN edges c2 ON c2.src = no.dst
             AND c2.label = 'CONTAINS' AND NOT c2.is_back
JOIN edges eb ON eb.src = c2.dst AND eb.dst = no.src
             AND eb.label = 'CONTAINS' AND eb.is_back
WHERE no.label = 'NEXT_ORDER' AND NOT no.is_back
UNION ALL
SELECT 'comma', e1.src, e2.label, e2.edge_seq, e2.dst
FROM edges e1 JOIN edges e2 ON e1.dst = e2.src
WHERE e1.label = 'PLACED' AND NOT e1.is_back
  AND e2.label = 'CONTAINS' AND NOT e2.is_back""",
        # standalone (not oracle_prefix): DuckDB's WITH RECURSIVE changes CTE
        # scoping for union-shaped CTEs, breaking the nested WITH inside the
        # edges CTE — so derive the NEXT_ORDER relation directly from orders.
        # One UNION-dedup'd walk serves all three variants: bounded = depth
        # filter, unbounded = every (n0,n1,depth) triple, shortest = MIN(d).
        "var_length_paths": f"""WITH RECURSIVE no AS (
  SELECT src, dst FROM (
    SELECT CAST(5*{B} + o_orderkey AS BIGINT) AS src,
           CAST(5*{B} + LEAD(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS dst
    FROM orders
  ) t WHERE dst IS NOT NULL
),
walk(n0, n1, d) AS (
  SELECT src, dst, 1 FROM no
  UNION
  SELECT w.n0, e.dst, w.d + 1 FROM walk w JOIN no e ON w.n1 = e.src
)
SELECT 'several_1_3' AS op, n0, n1, CAST(d AS BIGINT) AS d FROM walk WHERE d <= 3
UNION ALL
SELECT 'unbounded', n0, n1, CAST(d AS BIGINT) FROM walk
UNION ALL
SELECT 'shortest', n0, n1, CAST(MIN(d) AS BIGINT) FROM walk GROUP BY n0, n1""",
        "edge_list_ingest": f"""
SELECT CAST(column0 AS BIGINT) AS src, COUNT(*) AS degree
FROM read_csv('{f4_data_path()}', sep='\t', header=false)
GROUP BY 1""",
        "point_lookups": f"""{P}
SELECT 'lookup_node_edge' AS op, CAST(NULL AS VARCHAR) AS label,
       CAST(NULL AS BIGINT) AS edge_seq, CAST(NULL AS BOOLEAN) AS is_back,
       dst AS node_id
FROM edges WHERE src = {3 * B + 1} AND label = 'PLACED' AND edge_seq = 2
UNION ALL
SELECT 'adjacent_node_first', NULL, NULL, NULL, dst
FROM edges WHERE src = {3 * B + 1} AND label = 'PLACED' AND NOT is_back AND edge_seq = 1
UNION ALL
SELECT 'edges_by_index', label, edge_seq, NULL, NULL
FROM edges WHERE src = {5 * B + 1} AND NOT is_back AND edge_seq BETWEEN 2 AND 4
UNION ALL
SELECT 'all_children', label, edge_seq, is_back, dst FROM edges WHERE src = {5 * B + 1}
UNION ALL
SELECT 'attr_overlap', label, edge_seq, is_back, n FROM (
  SELECT src, label, edge_seq, is_back, COUNT(*) AS n
  FROM edges GROUP BY src, label, edge_seq, is_back HAVING COUNT(*) > 1) t""",
        "nodes_scan_multiplicity": f"""{P}
SELECT id, COUNT(*) AS n FROM (
  SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges
) GROUP BY id""",
        "nested_layers_2hop": f"""{P}
SELECT src AS n0, COUNT(DISTINCT dst) AS n_reached,
       MIN(dst) AS first_id, MAX(dst) AS last_id
FROM edges WHERE label = 'PLACED' AND NOT is_back GROUP BY src""",
        "graph_query_subgraph": f"""{P}
SELECT id, label FROM nodes_g WHERE id IN (
  SELECT src FROM edges WHERE label = 'PLACED' AND NOT is_back
  UNION
  SELECT dst FROM edges WHERE label = 'PLACED' AND NOT is_back)""",
        "union_overwrite": f"""{P}
SELECT label, is_back, COUNT(*) AS n,
       CAST(SUM(CASE WHEN (label = 'PLACED' AND NOT is_back) OR dst = src
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_self
FROM edges GROUP BY label, is_back""",
        "flat_table_positions": f"""{P}
SELECT 0 AS position, src AS node_id FROM edges
WHERE label = 'PLACED' AND NOT is_back GROUP BY src
UNION ALL
SELECT 1 AS position, dst FROM edges
WHERE label = 'PLACED' AND NOT is_back GROUP BY dst""",
        "appl_sorted_positions": f"""{P},
s AS (
  SELECT 0 AS position, src AS node_id FROM edges
  WHERE label = 'PLACED' AND NOT is_back GROUP BY src
  UNION ALL
  SELECT 1, dst FROM edges
  WHERE label = 'PLACED' AND NOT is_back GROUP BY dst
)
SELECT position,
       CAST(ROW_NUMBER() OVER (PARTITION BY position ORDER BY node_id DESC) - 1
            AS INTEGER) AS idx,
       node_id
FROM s""",
        "filter_edges_to_parts": f"""{P}
SELECT label, COUNT(*) AS n FROM edges
WHERE dst BETWEEN {4 * B} AND {5 * B - 1} GROUP BY label""",
        "pricing_summary": """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
       COUNT(*) AS n
FROM lineitem GROUP BY l_returnflag, l_linestatus""",
        "top_customers": """
SELECT o_custkey, total_cents,
       CAST(ROW_NUMBER() OVER (ORDER BY total_cents DESC, o_custkey) AS INTEGER) AS rnk
FROM (
  SELECT o_custkey,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
  FROM orders GROUP BY o_custkey
) ORDER BY total_cents DESC, o_custkey LIMIT 10""",
        "orders_per_nation": """
SELECT n_name, COUNT(*) AS n_orders
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n_name""",
        "orders_rollup": """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)""",
        "events_json": """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
       CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
FROM events GROUP BY event_type""",
        "orders_by_month": """
SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS ym,
       COUNT(*) AS n
FROM orders GROUP BY 1""",
        # both execution modes against one twin: the stream must compute the
        # exact batch answer (stream/batch unification)
        "events_hourly_batch_stream": f"""
WITH hourly AS (
  SELECT CAST(year(ts) * 1000000 + month(ts) * 10000 + day(ts) * 100 + hour(ts) AS BIGINT) AS hour_bucket,
         event_type,
         COUNT(*) AS n,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
  FROM events GROUP BY 1, 2
)
SELECT 'batch' AS op, hour_bucket, event_type, n, sum_value_cents FROM hourly
UNION ALL
SELECT 'stream', hour_bucket, event_type, n, sum_value_cents FROM hourly
UNION ALL
SELECT 'sk_cms', w, CAST(d AS VARCHAR), cnt, NULL
FROM ({O.count_min_sql("CAST(user_id AS VARCHAR)", "FROM events",
                       width=64, depth=2)}) sm1
UNION ALL
SELECT 'sk_hll', bucket, NULL, CAST(max_rho AS BIGINT), NULL
FROM ({O.hll_registers_sql("CAST(user_id AS VARCHAR)", "FROM events",
                           p=6)}) sm2
UNION ALL
SELECT 'sk_bloom', word, NULL, CAST(bits AS BIGINT), NULL
FROM ({O.bloom_build_sql("CAST(user_id AS VARCHAR)", "FROM events",
                         m_bits=1 << 12, k=4)}) sm3
UNION ALL
SELECT 'sk_cc', CAST(5*{B} + o_orderkey AS BIGINT), NULL,
       CAST(5*{B} + min_key AS BIGINT), NULL
FROM (
  SELECT o_orderkey,
         MIN(o_orderkey) OVER (PARTITION BY o_custkey) AS min_key,
         COUNT(*) OVER (PARTITION BY o_custkey) AS n_orders
  FROM orders
) smcc WHERE n_orders >= 2
UNION ALL
SELECT 'sk_scd2', key, value,
       date_diff('second', TIMESTAMP '1970-01-01 00:00:00', vfrom),
       date_diff('second', TIMESTAMP '1970-01-01 00:00:00', vto)
FROM (WITH sd_u1 AS (
  SELECT user_id AS key,
         (MAX(struct_pack(t := ts, v := event_type))).v AS value,
         (MAX(struct_pack(t := ts, v := event_type))).t AS uts
  FROM events WHERE event_id % 2 = 0 GROUP BY 1
),
sd_u2 AS (
  SELECT user_id AS key,
         (MAX(struct_pack(t := ts, v := event_type))).v AS value,
         (MAX(struct_pack(t := ts, v := event_type))).t AS uts
  FROM events WHERE event_id % 2 = 1 GROUP BY 1
),
-- fold 1 over the empty dimension: every batch-A key opens
sd_d1 AS (SELECT key, value, uts AS vfrom FROM sd_u1),
-- fold 2: full-outer of the open slice against batch B
sd_rows AS (
  SELECT d.key, d.value, d.vfrom,
         CASE WHEN u.key IS NULL OR d.value = u.value THEN NULL
              ELSE u.uts END AS vto
  FROM sd_d1 d LEFT JOIN sd_u2 u USING (key)
  UNION ALL
  SELECT u.key, u.value, u.uts, NULL
  FROM sd_u2 u LEFT JOIN sd_d1 d USING (key)
  WHERE d.key IS NULL OR d.value <> u.value
)
SELECT key, value, vfrom, vto FROM sd_rows) smsd
UNION ALL
SELECT 'sk_ndup', doc_id, NULL, dup_of, NULL
FROM ({O.neardup_flags_sql(where="doc_id < 300")}) smnd
UNION ALL
SELECT 'slide_stream', win_start, event_type, n, sum_cents
FROM (WITH ssw_k AS (
  SELECT event_type,
         unnest(generate_series(
           CAST(floor((epoch(ts) - 7200) / 3600) AS BIGINT) + 1,
           CAST(floor(epoch(ts) / 3600) AS BIGINT))) AS k,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
)
SELECT event_type, k * 3600 AS win_start,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(cents) AS BIGINT) AS sum_cents
FROM ssw_k GROUP BY 1, 2) tsl""",
        "event_sessions": """
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sessions AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS start_s,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS end_s,
       COUNT(*) AS n_events
FROM sessions GROUP BY user_id, sid""",
        "stream_interval_join": """
SELECT 'ijoin' AS op, c.event_id AS a, p.event_id AS b,
       CAST(NULL AS VARCHAR) AS s
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND p.ts > c.ts
 AND p.ts <= c.ts + INTERVAL 1800 SECOND
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
UNION ALL
SELECT DISTINCT 'dedup', user_id, NULL, event_type FROM events""",
        "doc_signals": f"""
SELECT doc_id,
       {O.token_count_sql()} AS n_tokens,
       {O.word_token_count_sql()} AS n_word_tokens,
       {O.punct_permille_sql()} AS punct_pm,
       {O.upper_permille_sql()} AS upper_pm,
       {O.stopword_permille_sql()} AS stop_pm,
       {O.quality_score_sql()} AS quality,
       {O.dup_line_permille_sql()} AS dup_line_pm,
       {O.dup_token_permille_sql()} AS dup_token_pm,
       {O.sentence_count_sql()} AS n_sentences,
       {O.words_per_sentence_sql()} AS wps_milli,
       {O.syllable_count_sql()} AS n_syllables,
       {O.flesch_reading_ease_sql()} AS fre_milli,
       {O.fk_grade_sql()} AS fk_milli,
       {O.lang_id_sql()} AS lang,
       {O.fingerprint_sql()} AS fp,
       {O.simhash_sql()} AS simhash,
       {O.pii_count_sql("email", PII_T_SQL)} AS n_emails,
       {O.pii_count_sql("ipv4", PII_T_SQL)} AS n_ipv4,
       {O.pii_count_sql("ssn", PII_T_SQL)} AS n_ssn,
       {O.pii_count_sql("phone", PII_T_SQL)} AS n_phones,
       md5({O.redact_pii_sql(PII_T_SQL)}) AS redacted_md5,
       {O.url_count_sql(URL_T_SQL)} AS n_urls,
       COALESCE(array_to_string({O.url_domains_sql(URL_T_SQL)}, '|'), '')
         AS domains,
       CAST(len(string_split({O.dedup_lines_sql(LINED_T_SQL)}, chr(10)))
            AS BIGINT) AS n_uniq_lines,
       md5({O.dedup_lines_sql(LINED_T_SQL)}) AS stripped_md5,
       {O.tag_count_sql(HTML_T_SQL)} AS n_tags,
       md5({O.strip_html_sql(HTML_T_SQL)}) AS nohtml_md5,
       {O.canonicalize_url_sql(TRACK_URL_SQL)} AS canon_url,
       {O.luhn_valid_count_sql(
           "text || ' order 123456789012 card ' || "
           "CASE WHEN doc_id % 2 = 0 THEN '4532015112830366' "
           "ELSE '4532015112830367' END")} AS n_luhn,
       {CC_HOST_SQL} AS host,
       {CC_DOM_SQL} AS reg_domain,
       CAST({CC_DOM_SQL} IN ('shop0.co.uk', 'shop3.co.uk') AS BIGINT)
         AS url_blocked
FROM documents""",
        "dedup_docs": f"""
SELECT 'exact' AS op, md5(text) AS h, MIN(doc_id) AS a,
       COUNT(*) AS b, CAST(NULL AS BIGINT) AS c
FROM documents GROUP BY md5(text)
UNION ALL
SELECT 'cluster', NULL, doc_id, cluster_id, CAST(is_canonical AS BIGINT)
FROM ({O.dedup_clusters_sql()}) dc
UNION ALL
SELECT 'bestrep', CAST(dc2.cluster_id AS VARCHAR), dc2.doc_id,
       CAST(length(d.text) AS BIGINT),
       CAST(ROW_NUMBER() OVER (
            PARTITION BY dc2.cluster_id
            ORDER BY length(d.text) DESC, dc2.doc_id ASC) = 1 AS BIGINT)
FROM ({O.dedup_clusters_sql()}) dc2 JOIN documents d ON dc2.doc_id = d.doc_id
UNION ALL
SELECT 'contain', corpus_a || '|' || corpus_b, n_a, n_b, n_match
FROM ({O.corpus_containment_sql(
        "CASE WHEN doc_id % 2 = 0 THEN 'even' ELSE 'odd' END")}) cc1
UNION ALL
SELECT 'containj', corpus_a || '|' || corpus_b, jaccard_micro,
       contain_a_micro, contain_b_micro
FROM ({O.corpus_containment_sql(
        "CASE WHEN doc_id % 2 = 0 THEN 'even' ELSE 'odd' END")}) cc2
UNION ALL
SELECT 'esd', md5(clean_text), doc_id, n_tokens, n_removed_tokens
FROM ({O.exact_substring_dedup_sql(
        k=6,
        table="(SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN "
              "'shared sentinel prefix tokens one two three four five six '"
              " || text ELSE text END AS text FROM documents) esd_src")}) ee""",
        # fixture text is pure ASCII (verified octet_length == length), so
        # md5(text)/ascii(char) equal the byte-level values the Python
        # decoder computes on the utf-8 payload
        "media_pipeline": f"""
SELECT 'meta_image' AS op, doc_id,
       CAST(length(text) AS BIGINT) AS a, CAST(NULL AS BIGINT) AS b,
       CAST(NULL AS BIGINT) AS c, CAST(NULL AS BIGINT) AS d,
       md5(text) AS h
FROM documents
UNION ALL
SELECT 'decode', doc_id,
       CAST(length(text) AS BIGINT),
       CAST(CASE WHEN length(text) = 0 THEN 0
                 ELSE 16 + ascii(substring(text, 1, 1)) % 64 END AS BIGINT),
       CAST(CASE WHEN length(text) < 2 THEN 0
                 ELSE 16 + ascii(substring(text, 2, 1)) % 64 END AS BIGINT),
       CAST(1 + length(text) % 8 AS BIGINT),
       md5(text)
FROM documents
UNION ALL
SELECT 'frame', doc_id, CAST(frame_idx AS BIGINT), NULL, NULL, NULL,
       md5(text || CAST(frame_idx AS VARCHAR))
FROM (
  SELECT doc_id, text,
         unnest(generate_series(0, length(text) % 8, 2)) AS frame_idx
  FROM documents
) f
UNION ALL
SELECT 'audio', doc_id, CAST(length(text) AS BIGINT), sr, ch,
       CAST(FLOOR(length(text) * 100000.0 / sr) AS BIGINT), md5(text)
FROM (
  SELECT doc_id, text,
         CAST(CASE WHEN length(text) = 0 THEN 8000
              ELSE 8000 * (1 + ascii(substring(text, 1, 1)) % 3) END AS BIGINT) AS sr,
         CAST(CASE WHEN length(text) < 2 THEN 1
              ELSE 1 + ascii(substring(text, 2, 1)) % 2 END AS BIGINT) AS ch
  FROM documents
) am
UNION ALL
SELECT 'awindow', doc_id, CAST(window_idx AS BIGINT), NULL, NULL, NULL,
       md5(text || CAST(window_idx AS VARCHAR))
FROM (
  SELECT doc_id, text,
         unnest(generate_series(0, CAST(GREATEST(
           CEIL(FLOOR(length(text) * 100000.0 /
             (CASE WHEN length(text) = 0 THEN 8000
              ELSE 8000 * (1 + ascii(substring(text, 1, 1)) % 3) END)) / 1000.0),
           1) AS BIGINT) - 1)) AS window_idx
  FROM documents
) aw
UNION ALL
SELECT 'video', doc_id, CAST(length(text) AS BIGINT), w, h,
       CAST(length(text) * 2 * 1000 //
            (CASE WHEN length(text) < 3 THEN 24
             ELSE 24 + ascii(substring(text, 3, 1)) % 8 END) AS BIGINT),
       md5(text)
FROM (
  SELECT doc_id, text,
         CAST(CASE WHEN length(text) = 0 THEN 160
              ELSE 160 * (1 + ascii(substring(text, 1, 1)) % 4) END
              AS BIGINT) AS w,
         CAST(CASE WHEN length(text) < 2 THEN 120
              ELSE 120 * (1 + ascii(substring(text, 2, 1)) % 4) END
              AS BIGINT) AS h
  FROM documents
) vm
UNION ALL
SELECT 'ahash', doc_id, mean_milli, NULL, NULL, NULL, ahash
FROM ({AHASH_SQL('documents')}) ah
UNION ALL
SELECT 'hpairs', id_a, id_b, hamming, NULL, NULL, NULL
FROM (WITH hp_h AS ({AHASH_SQL(
    "(SELECT doc_id, text FROM documents UNION ALL "
    "SELECT doc_id + 1000000, text FROM documents "
    "WHERE doc_id % 10 = 0)")})
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(CAST('0x' || a.ahash AS UBIGINT),
                          CAST('0x' || b.ahash AS UBIGINT))) AS BIGINT)
         AS hamming
FROM hp_h a JOIN hp_h b ON a.doc_id < b.doc_id
WHERE bit_count(xor(CAST('0x' || a.ahash AS UBIGINT),
                    CAST('0x' || b.ahash AS UBIGINT))) <= 3) hp
UNION ALL
SELECT 'png_ahash', doc_id, mean_milli, NULL, NULL, NULL, ahash
FROM ({AHASH_SQL("(SELECT doc_id FROM documents WHERE doc_id < 64)",
                 seed="'png' || CAST(d.doc_id AS VARCHAR)")}) pah""",
        "web_filter_ops": f"""
WITH gop_docs AS ({GOPHER_INJECT_SQL}),
     c4_docs AS ({C4_INJECT_SQL}),
     c4_span_docs AS ({C4_SPAN_INJECT_SQL})
SELECT 'gq' AS op, doc_id, n_words AS a, mean_word_len_milli AS b,
       symbol_word_milli * 1000000 + bullet_line_milli * 1000
         + ellipsis_line_milli AS c,
       alpha_word_milli * 100 + stop_hits AS d,
       CAST(NULL AS VARCHAR) AS h
FROM ({O.gopher_signals_sql(table='gop_docs')}) gs
UNION ALL
SELECT 'keep', doc_id, keep, NULL, NULL, NULL, NULL
FROM ({O.gopher_keep_sql(table='gop_docs')}) gk
UNION ALL
SELECT 'dline', doc_id, n_lines, dup_line_milli, dup_line_char_milli,
       NULL, NULL
FROM ({O.dup_line_signals_sql(table='gop_docs')}) dl
UNION ALL
SELECT 'top2', doc_id, top_ngram_char_milli, NULL, NULL, NULL, gram
FROM ({O.top_ngram_char_sql(2, table='gop_docs')}) t2
UNION ALL
SELECT 'dup5', doc_id, dup_ngram_char_milli, NULL, NULL, NULL, NULL
FROM ({O.dup_ngram_char_sql(5, table='gop_docs')}) d5
UNION ALL
SELECT 'lines', doc_id, n_lines, n_kept_lines, NULL, NULL,
       md5(clean_text)
FROM ({O.c4_line_filter_sql(table='c4_docs')}) cl
UNION ALL
SELECT 'c4keep', doc_id, keep, n_sentences,
       has_lorem * 100 + has_curly * 10 + bad_word_hits, NULL, NULL
FROM ({O.c4_keep_sql(table='c4_docs',
                     bad_words=('badword9', 'zzunseen'))}) ck
UNION ALL
SELECT 'span', doc_id, n_removed_sentences, NULL, NULL, NULL,
       md5(clean_text)
FROM ({O.c4_span_dedup_sql(table='c4_span_docs')}) cs
UNION ALL
SELECT 'robots', doc_id, CAST(allowed AS BIGINT),
       CAST(matched_wild AS BIGINT), NULL, NULL, matched_path
FROM ({O.robots_policy_sql('''
  SELECT doc_id,
    'http://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' ||
    CASE doc_id % 6
      WHEN 0 THEN '/private/x' || CAST(doc_id AS VARCHAR)
      WHEN 1 THEN '/private/ok/y' || CAST(doc_id AS VARCHAR)
      WHEN 2 THEN '/file' || CAST(doc_id AS VARCHAR) || '.php'
      WHEN 3 THEN '/file' || CAST(doc_id AS VARCHAR) || '.php?x=1'
      WHEN 4 THEN '/tmp' || CAST(doc_id AS VARCHAR) || 'junk'
      ELSE '/p' || CAST(doc_id AS VARCHAR)
    END AS url
  FROM documents''')}) rb
JOIN (
  SELECT doc_id,
    'http://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' ||
    CASE doc_id % 6
      WHEN 0 THEN '/private/x' || CAST(doc_id AS VARCHAR)
      WHEN 1 THEN '/private/ok/y' || CAST(doc_id AS VARCHAR)
      WHEN 2 THEN '/file' || CAST(doc_id AS VARCHAR) || '.php'
      WHEN 3 THEN '/file' || CAST(doc_id AS VARCHAR) || '.php?x=1'
      WHEN 4 THEN '/tmp' || CAST(doc_id AS VARCHAR) || 'junk'
      ELSE '/p' || CAST(doc_id AS VARCHAR)
    END AS url
  FROM documents) ru USING (url)""",
        "persisted_roundtrip": f"""{P}
SELECT 'roundtrip' AS op, label, CAST(is_back AS BIGINT) AS n1,
       COUNT(*) AS n2,
       CAST(SUM(edge_seq) AS BIGINT) AS n3,
       CAST(SUM(src) AS BIGINT) AS n4
FROM edges GROUP BY label, is_back
UNION ALL
SELECT 'zorder', NULL, o_orderkey, zvalue, NULL, NULL
FROM (
  WITH o AS (
    SELECT o_orderkey, o_custkey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS o_cents
    FROM orders
  ),
  r0 AS (
    SELECT v, (DENSE_RANK() OVER (ORDER BY v) - 1) * 256
             // (SELECT COUNT(DISTINCT o_custkey) FROM o) AS q
    FROM (SELECT DISTINCT o_custkey AS v FROM o)
  ),
  r1 AS (
    SELECT v, (DENSE_RANK() OVER (ORDER BY v) - 1) * 256
             // (SELECT COUNT(DISTINCT o_cents) FROM o) AS q
    FROM (SELECT DISTINCT o_cents AS v FROM o)
  ),
  q AS (
    SELECT o.o_orderkey, r0.q AS q0, r1.q AS q1
    FROM o JOIN r0 ON o.o_custkey = r0.v JOIN r1 ON o.o_cents = r1.v
  )
  SELECT o_orderkey,
         CAST({" + ".join(
             f"(((q{j} >> {i}) % 2) << {i * 2 + j})"
             for i in range(8) for j in range(2)
         )} AS BIGINT) AS zvalue
  FROM q
) z""",
        "neardup_pairs": f"""
SELECT 'lsh' AS op, doc_a AS a, doc_b AS b, CAST(NULL AS BIGINT) AS v
FROM ({O.lsh_pairs_sql()}) t1
UNION ALL
SELECT 'jaccard', doc_a, doc_b, CAST(jaccard_permille AS BIGINT)
FROM ({O.ngram_jaccard_sql()}) t2
UNION ALL
SELECT 'simhash', doc_a, doc_b, CAST(hamming AS BIGINT)
FROM ({O.simhash_neardup_sql()}) t3
UNION ALL
SELECT 'cosine', vec_a, vec_b, CAST(sim_micro AS BIGINT)
FROM ({O.embedding_neardup_sql()}) t4
UNION ALL
SELECT 'wmatch', doc_a, doc_b, n_shared
FROM ({O.winnow_matches_sql(
            O.winnow_fingerprints_sql(
                k=8, w=8,
                table="(SELECT doc_id, text FROM documents "
                      "UNION ALL SELECT doc_id + 100000, "
                      "substr(text, 1, 60) || ' altered tail' "
                      "FROM documents) wd"),
            min_shared=3, max_bucket=16,
        )}) t5
UNION ALL
SELECT 'fuzzy', id_a, id_b, dist
FROM ({O.fuzzy_match_sql(
            f"SELECT p_partkey + {4 * B} AS doc_id, p_brand, p_name "
            f"FROM part UNION ALL "
            f"SELECT p_partkey + {7 * B}, p_brand, "
            f"substr(p_name, 1, length(p_name) - 1) FROM part",
            "p_brand", "p_name", max_dist=1,
        )}) t6
UNION ALL
SELECT 'ppjoin', doc_a, doc_b, common * 100000 + jac
FROM (WITH pj_d AS (
  SELECT doc_id, {O.shingles_sql('text')} AS sh
  FROM (SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000,
               substr(text, 1, 60) || ' altered tail' FROM documents) wd
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS common,
       CAST((1000 * len(list_intersect(a.sh, b.sh)))
            // len(list_distinct(a.sh || b.sh)) AS BIGINT) AS jac
FROM pj_d a JOIN pj_d b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.sh, b.sh)) * 1000
      >= 400 * len(list_distinct(a.sh || b.sh))) t7""",
        # createMem's overwrite-winner + displaced-target capture as plain
        # window+join SQL: per hop, the highest-dst candidate per (src,label)
        # wins at seq 1; a differing pre-existing seq-1 target is 'del'.
        # Hop 1 starts from hop 0's written targets (walked frontier).
        "create_mem_diff": f"""{P},
spec0 AS (SELECT CAST(v AS BIGINT) AS id
          FROM (VALUES ({3 * B + 1}),({3 * B + 2}),({3 * B + 3})) t(v)),
spec1 AS (SELECT CAST({5 * B + 1} AS BIGINT) AS id),
spec2 AS (SELECT CAST(v AS BIGINT) AS id
          FROM (VALUES ({4 * B + 1}),({4 * B + 2})) t(v)),
old_placed AS (SELECT src, dst AS old_dst FROM edges
               WHERE label = 'PLACED' AND edge_seq = 1 AND NOT is_back),
old_contains AS (SELECT src, dst AS old_dst FROM edges
                 WHERE label = 'CONTAINS' AND edge_seq = 1 AND NOT is_back),
w0 AS (SELECT src, dst FROM (
         SELECT s.id AS src, c.id AS dst,
                ROW_NUMBER() OVER (PARTITION BY s.id ORDER BY c.id DESC) AS rn
         FROM spec0 s CROSS JOIN spec1 c) z WHERE rn = 1),
a0 AS (SELECT 'add' AS op, w0.src, 'PLACED' AS label, w0.dst
       FROM w0 LEFT JOIN old_placed o ON w0.src = o.src
       WHERE o.old_dst IS NULL OR o.old_dst <> w0.dst),
d0 AS (SELECT 'del' AS op, w0.src, 'PLACED' AS label, o.old_dst AS dst
       FROM w0 JOIN old_placed o ON w0.src = o.src WHERE o.old_dst <> w0.dst),
front1 AS (SELECT DISTINCT dst AS id FROM w0),
w1 AS (SELECT src, dst FROM (
         SELECT f.id AS src, c.id AS dst,
                ROW_NUMBER() OVER (PARTITION BY f.id ORDER BY c.id DESC) AS rn
         FROM front1 f CROSS JOIN spec2 c) z WHERE rn = 1),
a1 AS (SELECT 'add' AS op, w1.src, 'CONTAINS' AS label, w1.dst
       FROM w1 LEFT JOIN old_contains o ON w1.src = o.src
       WHERE o.old_dst IS NULL OR o.old_dst <> w1.dst),
d1 AS (SELECT 'del' AS op, w1.src, 'CONTAINS' AS label, o.old_dst AS dst
       FROM w1 JOIN old_contains o ON w1.src = o.src WHERE o.old_dst <> w1.dst)
SELECT op, src, label, dst FROM a0
UNION ALL SELECT op, src, label, dst FROM d0
UNION ALL SELECT op, src, label, dst FROM a1
UNION ALL SELECT op, src, label, dst FROM d1""",
        # seqs per src become exactly 1..2n, so the rollup has a closed form
        "insert_append_seq": f"""{P}
SELECT src, 2*COUNT(*) AS n_edges, 2*COUNT(*) AS max_seq,
       COUNT(*)*(2*COUNT(*) + 1) AS sum_seq
FROM edges WHERE label = 'PLACED' AND NOT is_back GROUP BY src""",
        "update_edge_targets": f"""{P}
SELECT src,
       CASE WHEN src BETWEEN {3 * B + 1} AND {3 * B + 5} AND edge_seq = 1
            THEN CAST({5 * B + 1} AS BIGINT) ELSE dst END AS dst
FROM edges WHERE label = 'PLACED' AND NOT is_back AND edge_seq = 1""",
        "map_nodes_relabel": f"""{P}
SELECT lower(label) AS label, COUNT(*) AS n FROM nodes_g GROUP BY 1""",
        # cascade: closed-form anti-join rollup. reciprocal: the engine adds
        # independent a→b and b→a KNOWS edges (+ back rows), deletes (a,b);
        # exactly the sibling forward edge and the deleted pair's own back
        # row must survive — a literal-VALUES twin (deterministic fixture).
        "delete_ops": f"""{P},
del AS (SELECT CAST(3*{B} + k AS BIGINT) AS id FROM generate_series(1, 10) t(k))
SELECT 'cascade' AS op, label, is_back, COUNT(*) AS a, CAST(NULL AS BIGINT) AS b
FROM edges
WHERE src NOT IN (SELECT id FROM del) AND dst NOT IN (SELECT id FROM del)
GROUP BY label, is_back
UNION ALL
SELECT 'reciprocal', 'KNOWS', v.is_back, v.a, v.b FROM (VALUES
  (FALSE, CAST({3 * B + 2} AS BIGINT), CAST({3 * B + 1} AS BIGINT)),
  (TRUE,  CAST({3 * B + 1} AS BIGINT), CAST({3 * B + 2} AS BIGINT))) v(is_back, a, b)""",
        "corpus_curation": f"""
SELECT 'sample' AS op, doc_id, CAST(NULL AS VARCHAR) AS split,
       CAST(NULL AS BIGINT) AS n, CAST(NULL AS BIGINT) AS a,
       CAST(NULL AS BIGINT) AS b
FROM documents WHERE {O.hash_bucket_sql('doc_id')} < '40'
UNION ALL
SELECT 'split_sizes', NULL,
       {O.hash_split_case_sql({'train': 240, 'val': 8, 'test': 8})} AS split,
       COUNT(*), NULL, NULL
FROM documents GROUP BY 3
UNION ALL
SELECT 'canonical', doc_id, NULL, CAST(n_tokens AS BIGINT), NULL, NULL
FROM ({O.canonical_corpus_sql()}) t
UNION ALL
SELECT 'contam', doc_id, NULL, n_shingles, n_hits, contam_permille
FROM ({O.ngram_contamination_sql(
    "SELECT doc_id, text FROM documents WHERE doc_id % 20 != 0",
    "SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0")}) t
UNION ALL
SELECT 'fcontam', doc_id, NULL, NULL, bench_id, NULL
FROM ({O.cross_corpus_lsh_sql(
    "doc_id % 20 != 0", "doc_id % 20 = 0")}) t
UNION ALL
SELECT 'funnel', doc_id, lang,
       url_ok::BIGINT * 16 + lang_ok::BIGINT * 8 + gopher_ok::BIGINT * 4
       + exact_keep::BIGINT * 2 + neardup_keep::BIGINT, NULL, NULL
FROM ({O.web_funnel_sql(min_words=20, min_stop_hits=0)}) t
UNION ALL
SELECT 'quality_filter', doc_id, lang, q_score, NULL, NULL
FROM ({O.quality_percentile_filter_sql(keep_permille=500)}) t
UNION ALL
SELECT 'cap', doc_id, source, rank_in_group, NULL, NULL
FROM ({O.cap_per_group_sql(group_col='source', n=40)}) t
UNION ALL
SELECT 'mixture', NULL, source, n_tokens, target_permille, keep_permille
FROM ({O.plan_mixture_sql({'src0': 300, 'src1': 100, 'src2': 50})}) t
UNION ALL
SELECT 'tmix', NULL, source, n_tokens, target_permille, keep_permille
FROM ({O.temperature_mixture_sql(alpha_pow2=2)}) t
UNION ALL
SELECT 'diff', doc_id, status, NULL, NULL, NULL
FROM ({snap_diff_sql}) t
UNION ALL
SELECT 'lsplit', doc_id, split, NULL, NULL, NULL
FROM ({O.leakage_safe_split_sql({'train': 240, 'val': 8, 'test': 8})}) t
UNION ALL
SELECT 'boiler', doc_id, md5(clean_text),
       CAST(len(string_split(clean_text, chr(10))) AS BIGINT), NULL, NULL
FROM ({O.remove_boilerplate_sql(
    table="(SELECT doc_id, concat_ws(chr(10), "
          "'(c) example corp - all rights reserved', text, "
          "'cookie notice: this site uses cookies', "
          "substr(text, 1, 30)) AS text FROM documents)")}) t
UNION ALL
SELECT 'summary', NULL, lang || '/' || source, n_docs, sum_chars,
       sum_tokens
FROM ({O.corpus_summary_sql()}) tsum
UNION ALL
SELECT 'dsir', doc_id, NULL, n_feats, score_bits, mean_bits_milli
FROM ({O.dsir_weights_sql("doc_id % 5 = 0", n_features=256, seed=5)}) tds
UNION ALL
SELECT 'pps', doc_id, NULL, n_hits, NULL, NULL
FROM (WITH pw AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
         COALESCE(SUM(CAST(n_chars AS BIGINT)) OVER (
           ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
  FROM documents
), tt AS (SELECT SUM(w) AS tw FROM pw),
st AS (
  SELECT pw.*, (tw + 31) // 32 AS s, ((tw + 31) // 32) // 2 AS o
  FROM pw, tt
)
SELECT doc_id,
       ((c + w - 1 - o + s) // s) - ((c - 1 - o + s) // s) AS n_hits
FROM st
WHERE ((c + w - 1 - o + s) // s) - ((c - 1 - o + s) // s) > 0) tpp
UNION ALL
SELECT 'paradedup', doc_id, md5(clean_text),
       CASE WHEN clean_text = '' THEN 0
            ELSE CAST(len(string_split(clean_text, chr(10) || chr(10)))
                      AS BIGINT) END, NULL, NULL
FROM ({O.dedup_paragraphs_sql(
    table="(SELECT doc_id, concat_ws(chr(10) || chr(10), "
          "CASE WHEN doc_id % 3 = 0 THEN 'quote of the day: stay hungry' "
          "ELSE 'intro ' || (doc_id % 5) END, text, substr(text, 1, 25)) "
          "AS text FROM documents)")}) tpd
UNION ALL
SELECT op, v, NULL, t, x, m
FROM (WITH dv_a AS (
  SELECT term, COUNT(*) AS ca FROM (
    SELECT unnest(regexp_extract_all(lower(text), {O.WORD_TOKEN_RE_SQL}))
      AS term FROM documents WHERE doc_id % 2 = 0) GROUP BY 1
),
dv_b AS (
  SELECT term, COUNT(*) AS cb FROM (
    SELECT unnest(regexp_extract_all(lower(text), {O.WORD_TOKEN_RE_SQL}))
      AS term FROM documents WHERE doc_id % 2 = 1) GROUP BY 1
),
dv_j AS (
  SELECT COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
  FROM dv_a FULL OUTER JOIN dv_b USING (term)
),
dv_s AS (
  SELECT SUM(ca) AS ta, SUM(cb) AS tb, COUNT(*) AS v FROM dv_j
),
dv_x AS (
  SELECT MAX(ta) AS ta, MAX(tb) AS tb, CAST(MAX(v) AS BIGINT) AS v,
         CAST(SUM(ca * (length(bin((tb + v) // (cb + 1))) - 1))
              AS BIGINT) AS xab,
         CAST(SUM(cb * (length(bin((ta + v) // (ca + 1))) - 1))
              AS BIGINT) AS xba
  FROM dv_j, dv_s
)
SELECT 'drift_ab' AS op, v, ta AS t, xab AS x,
       (1000 * xab) // ta AS m FROM dv_x
UNION ALL
SELECT 'drift_ba', v, tb, xba, (1000 * xba) // tb FROM dv_x) tdv
UNION ALL
SELECT 'parasig', doc_id, NULL, pos,
       length(para) * 100000 + {O.word_token_count_sql('para')},
       {O.stopword_permille_sql('para')} * 10000
         + {O.quality_score_sql('para')}
FROM (WITH pv AS (
  SELECT doc_id,
         string_split(concat_ws(chr(10) || chr(10), 'menu', text, 'ok'),
                      chr(10) || chr(10)) AS ps
  FROM documents
)
SELECT doc_id, unnest(ps) AS para,
       unnest(generate_series(1, len(ps))) - 1 AS pos
FROM pv) tps
UNION ALL
SELECT 'parafilter', doc_id, md5(clean_text),
       {O.word_token_count_sql('clean_text')}, NULL, NULL
FROM (WITH pv2 AS (
  SELECT doc_id,
         string_split(concat_ws(chr(10) || chr(10), 'menu', text, 'ok'),
                      chr(10) || chr(10)) AS ps
  FROM documents
),
pp2 AS (
  SELECT doc_id, unnest(ps) AS para,
         unnest(generate_series(1, len(ps))) AS pos
  FROM pv2
),
pk2 AS (
  SELECT doc_id, pos, para FROM pp2
  WHERE {O.word_token_count_sql('para')} >= 3
),
pc2 AS (
  SELECT doc_id,
         string_agg(para, chr(10) || chr(10) ORDER BY pos) AS clean
  FROM pk2 GROUP BY doc_id
)
SELECT d.doc_id, COALESCE(c.clean, '') AS clean_text
FROM documents d LEFT JOIN pc2 c ON d.doc_id = c.doc_id) tpf
UNION ALL
SELECT 'shuffle', doc_id, NULL, shard * 100000 + pos, NULL, NULL
FROM (
  SELECT doc_id, hh % 16 AS shard,
         ROW_NUMBER() OVER (PARTITION BY hh % 16
                            ORDER BY hh, doc_id) - 1 AS pos
  FROM (SELECT doc_id, {O._h60_sql('doc_id', 'shuf3')} AS hh
        FROM documents)
) tsh""",
        "chunk_shard_ops": f"""
SELECT 'chunk' AS op, doc_id, chunk_idx AS a, chunk AS s,
       CAST(NULL AS BIGINT) AS b
FROM ({O.chunk_documents_sql(size=200, stride=150)}) t1
UNION ALL
SELECT 'shard', doc_id, shard, NULL, n_tokens
FROM ({O.shard_by_token_budget_sql(budget_tokens=10000)}) t2
UNION ALL
SELECT 'wshard', doc_id,
       CAST(COALESCE(SUM(CAST(n_chars AS BIGINT)) OVER (
         ORDER BY doc_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 50000
            AS BIGINT),
       NULL, CAST(n_chars AS BIGINT)
FROM documents
UNION ALL
SELECT 'tchunk', doc_id, st // 48, md5(array_to_string(tk[st + 1 : st + 64], ' ')),
       CAST(LEAST(len(tk) - st, 64) AS BIGINT)
FROM (
  SELECT doc_id, tk,
         unnest(generate_series(0, GREATEST(len(tk) - 1, 0), 48)) AS st
  FROM (
    SELECT doc_id,
           CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                ELSE string_split_regex(trim(text), '\\s+') END AS tk
    FROM documents
  ) tct
) tcs
UNION ALL
SELECT 'pack', doc_id, seq_first, CAST(offset_in_first AS VARCHAR), seq_last
FROM ({O.pack_sequences_sql(seq_len=512)}) t3
UNION ALL
SELECT CASE WHEN op = 'merge' THEN 'bpe_merge' ELSE 'bpe_vocab' END,
       rank, cnt, CASE WHEN op = 'merge' THEN a || '|' || b ELSE a END,
       NULL
FROM ({BPE.bpe_train_oracle_sql(n_merges=8)}) t4
UNION ALL
SELECT 'bpe_enc', doc_id, word_pos,
       symbol || '@' || CAST(sym_pos AS VARCHAR), sym_pos
FROM ({BPE.bpe_encode_oracle_sql(n_merges=8, where="doc_id % 17 = 0")}) t5
UNION ALL
SELECT 'bpec', doc_id, n_tokens, CAST(n_chars AS VARCHAR), cpt_milli
FROM ({BPE.bpe_compression_oracle_sql(
            n_merges=8, where="doc_id % 17 = 0")}) t6
UNION ALL
SELECT 'wp_merge', rank, cnt, a || '|' || b, NULL
FROM ({BPE.bpe_train_oracle_sql(n_merges=6, score="likelihood")}) t7
WHERE op = 'merge'
UNION ALL
SELECT 'uni_seed', NULL, cnt, piece, cost_bits
FROM ({UNIGRAM.unigram_seed_oracle_sql(max_piece_len=3, seed_size=64)}) t8
UNION ALL
SELECT 'uni_seg', NULL, packed, word, n_pieces
FROM ({UNIGRAM.unigram_segment_oracle_sql(
            max_piece_len=3, seed_size=64, max_word_len=12,
            where_word="word LIKE 'c%'")}) t9
UNION ALL
SELECT 'wp_seg', NULL, n_pieces, word || '|' || toks,
       CAST(is_unk AS BIGINT)
FROM ({WORDPIECE.wordpiece_segment_oracle_sql(
            max_piece_len=3, seed_size=64, max_word_len=12,
            where_word="word LIKE 'c%'")}) t10
UNION ALL
SELECT 'emit', seq_id, n_tokens, toks, NULL
FROM ({WORDPIECE.wordpiece_emit_oracle_sql(
            seq_len=64, max_piece_len=3, seed_size=64,
            max_word_len=12)}) t11
UNION ALL
SELECT 'spanc', seq_id, n_spans,
       array_to_string(inputs, '|') || '#' ||
       array_to_string(targets, '|'),
       CAST(len(inputs) AS BIGINT)
FROM ({O.span_corruption_sql(
            "SELECT seq_id, list_transform(string_split(toks, '|'), "
            "x -> CAST(x AS BIGINT)) AS tokens FROM ("
            + WORDPIECE.wordpiece_emit_oracle_sql(
                seq_len=64, max_piece_len=3, seed_size=64,
                max_word_len=12)
            + ") em_base",
            mean_span_len=3, noise_permille=150)}) t12
UNION ALL
SELECT 'fim', seq_id, CAST(is_fim AS BIGINT),
       COALESCE(array_to_string(tokens, '|'), ''),
       CAST(len(tokens) AS BIGINT)
FROM ({O.fim_sequences_sql(
            "SELECT seq_id, list_transform(string_split(toks, '|'), "
            "x -> CAST(x AS BIGINT)) AS tokens FROM ("
            + WORDPIECE.wordpiece_emit_oracle_sql(
                seq_len=64, max_piece_len=3, seed_size=64,
                max_word_len=12)
            + ") fim_base",
            fim_permille=500)}) t12f
UNION ALL
SELECT 'sft', seq_id, n_tokens, toks || '#' || mask,
       CAST(len(list_filter(string_split(mask, '|'), x -> x = '1'))
            AS BIGINT)
FROM ({O.sft_sequences_sql(
            "SELECT doc_id AS example_id, "
            "list_transform(generate_series(1, 1 + doc_id % 5), "
            "j -> CAST((doc_id * 31 + j - 1) % 997 AS BIGINT)) "
            "AS prompt_ids, "
            "list_transform(generate_series(1, 1 + doc_id % 4), "
            "j -> CAST((doc_id * 17 + j - 1) % 991 AS BIGINT)) "
            "AS response_ids FROM documents",
            seq_len=32)}) t13""",
        "ann_search": f"""
SELECT op, bucket AS s, CAST(NULL AS BIGINT) AS a, CAST(NULL AS BIGINT) AS b,
       CAST(NULL AS BIGINT) AS c, n AS d
FROM (
  SELECT 'ivf' AS op, CAST(cell AS VARCHAR) AS bucket, n
  FROM ({O.ivf_cells_sql(n_cells=4)}) t1
  UNION ALL
  SELECT 'lsh', bucket, n FROM ({O.lsh_bucket_sizes_sql(n_planes=4)}) t2
) buckets
UNION ALL
SELECT op, NULL, query_id, vec_id, CAST(rank AS BIGINT), sim_micro
FROM (
  SELECT 'brute' AS op, CAST(0 AS BIGINT) AS query_id, vec_id, rank, sim_micro
  FROM ({O.cosine_topk_sql(query_id=0, k=10)}) t3
  UNION ALL
  SELECT 'ivf_probe2', CAST(0 AS BIGINT), vec_id, rank, sim_micro
  FROM ({O.ivf_topk_sql(query_id=0, k=10, n_cells=4, n_probe=2)}) t4
  UNION ALL
  SELECT 'knn_join', CAST(query_id AS BIGINT), vec_id, rank, sim_micro
  FROM ({O.knn_join_sql(n_queries=5, k=10)}) t5
) topk
UNION ALL
SELECT 'bitext', NULL, src_id, tgt_id, sim_micro, margin_milli
FROM ({O.bitext_mine_sql("vec_id % 2 = 0", "vec_id % 2 = 1",
                         k=4, threshold_milli=1000, dim=64)}) tbx
UNION ALL
SELECT 'kmeans', CAST(cluster AS VARCHAR), NULL, NULL, NULL, n
FROM ({O.kmeans_sizes_sql(k=8, iters=2, dim=64)}) t6
UNION ALL
SELECT 'semdedup', NULL, vec_id, cluster,
       CAST(kept AS BIGINT), NULL
FROM ({O.semantic_dedup_sql(threshold_micro=350000, k=8, iters=2, dim=64)}) t7
UNION ALL
SELECT 'quant', q_hash, vec_id, scale_micro, CAST(n_dims AS BIGINT), NULL
FROM ({O.quantize_embeddings_sql()}) t8
UNION ALL
SELECT 'pool', CAST(grp AS VARCHAR), CAST(i AS BIGINT), q, n_vecs, NULL
FROM ({O.mean_pool_sql("label", "FROM embeddings")}) t9
UNION ALL
SELECT 'pq', NULL, vec_id, sub, code, NULL
FROM ({O.pq_codes_sql(m=4, k=8, iters=2, dim=64)}) t10
UNION ALL
SELECT 'pqtop', NULL, vec_id, dist_q, CAST(rank AS BIGINT), NULL
FROM ({O.pq_adc_topk_sql(m=4, k=8, iters=2, dim=64, topk=10)}) t11
UNION ALL
SELECT 'recall', NULL, query_id, n_exact, n_hit, recall_permille
FROM ({S.topk_recall_oracle_sql(
            approx_sql="SELECT 0 AS query_id, vec_id FROM ("
                       + O.ivf_topk_sql(query_id=0, k=10, n_cells=4,
                                        n_probe=2) + ")",
            exact_sql="SELECT 0 AS query_id, vec_id FROM ("
                      + O.cosine_topk_sql(query_id=0, k=10) + ")",
            query_col="query_id", id_col="vec_id")}) t12
UNION ALL
SELECT 'rrf', NULL, vec_id, n_lists, rrf_micro, NULL
FROM ({S.rrf_fuse_oracle_sql(
            [O.cosine_topk_sql(query_id=0, k=10),
             O.ivf_topk_sql(query_id=0, k=10, n_cells=4, n_probe=2)],
            id_col="vec_id", rank_col="rank")}) t13
UNION ALL
SELECT 'ivfpq', NULL, vec_id, dist_q, CAST(rank AS BIGINT), NULL
FROM ({O.ivf_pq_topk_sql(query_id=0, topk=10, n_cells=4, n_probe=2,
                         m=4, k=8, iters=2, dim=64)}) t15
UNION ALL
SELECT 'rproj', NULL, vec_id, j, v, NULL
FROM ({O.random_projection_sql(out_dim=8, seed=5)}) t14
UNION ALL
SELECT 'mrr', NULL, n_queries, n_hit, mrr_micro, NULL
FROM (WITH mr_ap AS (
  SELECT 0 AS query_id, vec_id, rank
  FROM ({O.ivf_topk_sql(query_id=0, k=10, n_cells=4, n_probe=2)})
),
mr_tr AS (
  SELECT 0 AS query_id, vec_id
  FROM ({O.cosine_topk_sql(query_id=0, k=10)}) WHERE rank <= 3
),
mr_f AS (
  SELECT a.query_id, MIN(a.rank) AS r
  FROM mr_ap a JOIN mr_tr t USING (query_id, vec_id)
  GROUP BY 1
),
mr_q AS (
  SELECT q.query_id, COALESCE(1000000 // f.r, 0) AS rr
  FROM (SELECT DISTINCT query_id FROM mr_tr) q
  LEFT JOIN mr_f f USING (query_id)
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM(CASE WHEN rr > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       CAST(SUM(rr) // COUNT(*) AS BIGINT) AS mrr_micro
FROM mr_q) t16
UNION ALL
SELECT 'hardneg', NULL, query_id, vec_id, neg_rank, sim_micro
FROM ({S.hard_negatives_oracle_sql(
    candidates_sql="SELECT 0 AS query_id, vec_id, sim_micro FROM ("
                   + O.ivf_topk_sql(query_id=0, k=10, n_cells=4,
                                    n_probe=2) + ")",
    positives_sql="SELECT 0 AS query_id, vec_id FROM ("
                  + O.cosine_topk_sql(query_id=0, k=10)
                  + ") WHERE rank <= 3",
    k=5)}) t18
UNION ALL
SELECT 'ndcg', NULL, query_id, dcg, idcg, ndcg_micro
FROM ({S.ndcg_oracle_sql(
    results_sql="SELECT 0 AS query_id, vec_id, rank FROM ("
                + O.ivf_topk_sql(query_id=0, k=10, n_cells=4, n_probe=2)
                + ")",
    truth_sql="SELECT 0 AS query_id, vec_id, 11 - rank AS rel FROM ("
              + O.cosine_topk_sql(query_id=0, k=10) + ")",
    k=10, id_col="vec_id", rel_col="rel")}) t17
UNION ALL
SELECT 'dimstats', NULL, j, sum_q, sum_sq,
       (min_q + {1 << 20}) * {1 << 21} + (max_q + {1 << 20})
FROM (
  SELECT j, CAST(SUM(q) AS BIGINT) AS sum_q,
         CAST(SUM(q * q) AS BIGINT) AS sum_sq,
         CAST(MIN(q) AS BIGINT) AS min_q, CAST(MAX(q) AS BIGINT) AS max_q
  FROM (
    SELECT g.j,
           CAST(floor(CAST(embedding[g.j + 1] AS DOUBLE) * 1024)
                AS BIGINT) AS q
    FROM embeddings, (SELECT unnest(generate_series(0, 63)) AS j) g
  ) GROUP BY j
) t17
UNION ALL
SELECT 'dhist', NULL, bucket, n_pairs, NULL, NULL
FROM (WITH dh_s AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE {O._h60_sql('vec_id', 'dhist')} % 256 < 64
),
dh_q AS (
  SELECT vec_id AS id, j,
         CAST(floor(CAST(embedding[j] AS DOUBLE) * 1024) AS BIGINT) AS q
  FROM (SELECT vec_id, embedding,
               unnest(generate_series(1, 64)) AS j FROM dh_s)
),
dh_d AS (
  SELECT a.id AS i1, b.id AS i2, SUM((a.q - b.q) * (a.q - b.q)) AS d2
  FROM dh_q a JOIN dh_q b ON a.j = b.j AND a.id < b.id
  GROUP BY 1, 2
)
SELECT CASE WHEN d2 = 0 THEN 0 ELSE length(bin(d2)) END AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM dh_d GROUP BY 1) t15""",
        # NEXT_ORDER chains connect exactly each customer's orders in date
        # order, so both fixpoints have closed forms: weak component = the
        # customer's minimum order id; with the last→first closing edge
        # added for even custkeys, the strong component is that same min
        # for even customers (the whole chain is one cycle) but the node
        # itself for odd ones (chains are acyclic). Closed forms (not
        # recursive CTEs) keep the oracle independent of the iteration
        # logic under test.
        "connected_components": f"""
WITH chained AS (
  SELECT o_custkey, o_orderkey,
         MIN(o_orderkey) OVER (PARTITION BY o_custkey) AS min_key,
         COUNT(*) OVER (PARTITION BY o_custkey) AS n_orders
  FROM orders
)
SELECT 'cc' AS op, CAST(5*{B} + o_orderkey AS BIGINT) AS id,
       CAST(5*{B} + min_key AS BIGINT) AS component
FROM chained WHERE n_orders >= 2
UNION ALL
SELECT 'scc', CAST(5*{B} + o_orderkey AS BIGINT),
       CAST(CASE WHEN o_custkey % 2 = 0 THEN 5*{B} + min_key
                 ELSE 5*{B} + o_orderkey END AS BIGINT)
FROM chained WHERE n_orders >= 2
UNION ALL
SELECT 'incremental', CAST(5*{B} + o_orderkey AS BIGINT),
       CAST(5*{B} + min_key AS BIGINT)
FROM chained WHERE n_orders >= 2
UNION ALL
SELECT 'modularity', CAST(5*{B} + mk AS BIGINT),
       CAST(2 * mm.m * 2 * (L - 1) - (2 * (L - 1)) * (2 * (L - 1))
            AS BIGINT)
FROM (
  SELECT o_custkey, COUNT(*) AS L, MIN(o_orderkey) AS mk
  FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 2
) ch, (
  SELECT CAST(SUM(n_ch - 1) AS BIGINT) AS m FROM (
    SELECT COUNT(*) AS n_ch FROM orders GROUP BY o_custkey
    HAVING COUNT(*) >= 2
  )
) mm
UNION ALL
SELECT 'wl', id,
       CAST(CAST('0x' || substring(color, 1, 15) AS UBIGINT) AS BIGINT)
FROM ({AN.wl_colors_sql(
            f"SELECT CAST(5*{B} + o_orderkey AS BIGINT) AS src, "
            f"CAST(5*{B} + LEAD(o_orderkey) OVER (PARTITION BY o_custkey "
            f"ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS dst "
            f"FROM orders QUALIFY dst IS NOT NULL",
            rounds=2,
        )}) wlq""",
        "triangle_count": f"""{P},
und AS (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM edges WHERE NOT is_back AND src <> dst
),
sym AS (
  SELECT a AS via, b AS nb FROM und UNION ALL SELECT b, a FROM und
),
cd AS (
  SELECT x.nb AS a, y.nb AS b, COUNT(*) AS c
  FROM sym x JOIN sym y ON x.via = y.via AND x.nb < y.nb
  GROUP BY 1, 2
)
SELECT 'triangles' AS op, CAST(NULL AS BIGINT) AS id,
       CAST(COUNT(*) AS BIGINT) AS n
FROM und e1
JOIN und e2 ON e1.b = e2.a
JOIN und e3 ON e1.a = e3.a AND e2.b = e3.b
UNION ALL
SELECT 'squares', NULL,
       CAST(COALESCE(SUM(c * (c - 1) / 2) / 2, 0) AS BIGINT)
FROM cd
UNION ALL
SELECT 'lcc', id,
       CAST(CASE WHEN d < 2 THEN 0
            ELSE FLOOR(COALESCE(t, 0) * 2 * 1000 / (d * (d - 1)))
            END AS BIGINT)
FROM (SELECT via AS id, COUNT(*) AS d FROM sym GROUP BY 1) degs
LEFT JOIN (
  SELECT node, COUNT(*) AS t FROM (
    SELECT unnest([e1.a, e1.b, e2.b]) AS node
    FROM und e1
    JOIN und e2 ON e1.b = e2.a
    JOIN und e3 ON e1.a = e3.a AND e2.b = e3.b
  ) GROUP BY 1
) tn ON degs.id = tn.node
UNION ALL
SELECT 'census_' || kind, NULL, n
FROM (WITH de AS (
  SELECT src, dst FROM (
    SELECT CAST(5*{B} + o_orderkey AS BIGINT) AS src,
           CAST(5*{B} + LEAD(o_orderkey) OVER wd AS BIGINT) AS dst
    FROM orders
    WINDOW wd AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
  ) c1 WHERE dst IS NOT NULL
  UNION
  SELECT src, dst FROM (
    SELECT CAST(5*{B} + o_orderkey AS BIGINT) AS src,
           CAST(5*{B} + LEAD(o_orderkey, 2) OVER wd AS BIGINT) AS dst
    FROM orders
    WINDOW wd AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
  ) c2 WHERE dst IS NOT NULL
  UNION
  SELECT CAST(5*{B} + (MAX(struct_pack(d := o_orderdate,
                                       k := o_orderkey))).k AS BIGINT),
         CAST(5*{B} + (MIN(struct_pack(d := o_orderdate,
                                       k := o_orderkey))).k AS BIGINT)
  FROM orders GROUP BY o_custkey
  HAVING o_custkey % 2 = 0 AND COUNT(*) >= 2
)
SELECT 'cyclic' AS kind, CAST(COUNT(*) AS BIGINT) AS n
FROM de e1
JOIN de e2 ON e1.dst = e2.src
JOIN de e3 ON e2.dst = e3.src AND e3.dst = e1.src
WHERE e1.src < e2.src AND e1.src < e3.src
UNION ALL
SELECT 'transitive', CAST(COUNT(*) AS BIGINT)
FROM de e1
JOIN de e2 ON e1.dst = e2.src AND e2.dst <> e1.src
JOIN de e3 ON e3.src = e1.src AND e3.dst = e2.dst) cns""",
        "degree_histogram": f"""{P}
SELECT label, CAST(length(bin(degree)) AS BIGINT) AS bucket,
       COUNT(*) AS n_nodes, CAST(SUM(degree) AS BIGINT) AS sum_degree
FROM (
  SELECT src, label, COUNT(*) AS degree FROM edges
  WHERE NOT is_back GROUP BY src, label
) GROUP BY 1, 2
UNION ALL
SELECT '__reciprocity__', n_edges, n_reciprocal, reciprocity_permille
FROM ({AN.reciprocity_sql(
            "SELECT src, dst FROM edges WHERE NOT is_back")}) rcp
UNION ALL
SELECT '__rich_club__', n_rich, e_rich, COALESCE(phi_permille, -1)
FROM ({AN.rich_club_sql(
            "SELECT src, dst FROM edges WHERE NOT is_back", k=16)}) rbq
UNION ALL
SELECT '__assort_xy__', n, sxy, sx
FROM ({AST_SQL}) aq1
UNION ALL
SELECT '__assort_sq__', sxx, sy, syy
FROM ({AST_SQL}) aq2""",
        "label_communities": f"""
SELECT 'lpa' AS op, id, community
FROM ({AN.label_propagation_oracle_sql(
            "SELECT src, dst FROM edges WHERE label = 'NEXT_ORDER' AND NOT is_back",
            iters=3, prefix=P,
        )}) t1
UNION ALL
SELECT 'greedy', id, community
FROM ({AN.greedy_moves_oracle_sql(
            "SELECT src, dst FROM edges WHERE label = 'NEXT_ORDER' AND NOT is_back",
            rounds=3, prefix=P,
        )}) t2
UNION ALL
SELECT 'cond', community, volume * 1000000 + cut_edges
FROM ({COND_SQL}) t3
UNION ALL
SELECT 'condp', community, COALESCE(conductance_permille, -1)
FROM ({COND_SQL}) t4""",
        "pagerank_ranks": f"""
SELECT 'pr' AS op, id, rank_e4
FROM ({AN.pagerank_oracle_sql(
            "SELECT src, dst FROM edges WHERE NOT is_back", iters=3, prefix=P
        )}) t1
UNION ALL
SELECT 'wpr', id, rank_e4
FROM ({AN.pagerank_oracle_sql(
            "SELECT src, dst, edge_seq AS w FROM edges WHERE NOT is_back",
            iters=3, prefix=P, weighted=True,
        )}) t2
UNION ALL
SELECT 'warm', id, rank_e4
FROM ({AN.pagerank_oracle_sql(
            "SELECT src, dst FROM edges WHERE NOT is_back", iters=3, prefix=P
        )}) t3""",
        # each half is a self-contained unrolled-CTE statement (its own
        # WITH chain over the graph prefix), combined as derived tables
        "link_analysis": f"""
SELECT 'hits' AS op, id, auth_e9 AS a, hub_e9 AS b FROM (
{AN.hits_oracle_sql("SELECT src, dst FROM edges WHERE NOT is_back", iters=3, prefix=P)}
)
UNION ALL
SELECT 'ppr' AS op, id, rank_e6 AS a, CAST(NULL AS BIGINT) AS b FROM (
{AN.personalized_pagerank_oracle_sql(
    "SELECT src, dst FROM edges WHERE NOT is_back",
    seeds=[2 * B + 1, 2 * B + 2, 2 * B + 3], iters=3, prefix=P)}
)
UNION ALL
SELECT 'katz' AS op, id, katz_scaled AS a, CAST(NULL AS BIGINT) AS b FROM (
{AN.katz_oracle_sql("SELECT src, dst FROM edges WHERE NOT is_back",
                    alpha_pow2=1, iters=3, prefix=P)}
)""",
        "k_core_nodes": f"""
SELECT 'core' AS op, id AS a, CAST(degree AS BIGINT) AS b,
       CAST(NULL AS BIGINT) AS c
FROM ({AN.k_core_oracle_sql(
            "SELECT src, dst FROM edges WHERE NOT is_back",
            k=5, rounds=K_CORE_ORACLE_ROUNDS, prefix=P,
        )}) t1
UNION ALL
SELECT 'truss', a, b, support
FROM ({AN.k_truss_oracle_sql(
            f"SELECT l_suppkey + {2 * B} AS src, l_partkey + {4 * B} AS dst "
            f"FROM lineitem WHERE l_partkey % 5 = 0 "
            f"UNION ALL SELECT l_orderkey + {5 * B}, l_partkey + {4 * B} "
            f"FROM lineitem WHERE l_partkey % 5 = 0 "
            f"UNION ALL SELECT l_orderkey + {5 * B}, l_suppkey + {2 * B} "
            f"FROM lineitem WHERE l_partkey % 5 = 0",
            k=3, rounds=TRUSS_ORACLE_ROUNDS,
        )}) t2
UNION ALL
SELECT 'mis', id, round, NULL
FROM ({AN.mis_oracle_sql(
            f"SELECT CAST(5*{B} + o_orderkey AS BIGINT) AS src, "
            f"CAST(5*{B} + LEAD(o_orderkey) OVER (PARTITION BY o_custkey "
            f"ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS dst "
            f"FROM orders QUALIFY dst IS NOT NULL",
            seed=7, rounds=MIS_ORACLE_ROUNDS,
        )}) t3
UNION ALL
SELECT 'matching', a, b, round
FROM ({AN.matching_oracle_sql(
            f"SELECT CAST(5*{B} + o_orderkey AS BIGINT) AS src, "
            f"CAST(5*{B} + LEAD(o_orderkey) OVER (PARTITION BY o_custkey "
            f"ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS dst "
            f"FROM orders QUALIFY dst IS NOT NULL",
            seed=7, rounds=MATCHING_ORACLE_ROUNDS,
        )}) t4
UNION ALL
SELECT 'embed', a, b, embeddedness
FROM ({AN.edge_embeddedness_sql(
            f"SELECT l_suppkey + {2 * B} AS src, l_partkey + {4 * B} AS dst "
            f"FROM lineitem WHERE l_partkey % 5 = 0 "
            f"UNION ALL SELECT l_orderkey + {5 * B}, l_partkey + {4 * B} "
            f"FROM lineitem WHERE l_partkey % 5 = 0 "
            f"UNION ALL SELECT l_orderkey + {5 * B}, l_suppkey + {2 * B} "
            f"FROM lineitem WHERE l_partkey % 5 = 0",
        )}) t6
UNION ALL
SELECT 'coreness', id, coreness, NULL
FROM ({AN.coreness_oracle_sql(
            f"SELECT CAST(5*{B} + o_orderkey AS BIGINT) AS src, "
            f"CAST(5*{B} + LEAD(o_orderkey) OVER (PARTITION BY o_custkey "
            f"ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS dst "
            f"FROM orders QUALIFY dst IS NOT NULL "
            f"UNION ALL "
            f"SELECT CAST(5*{B} + lk AS BIGINT), CAST(5*{B} + fk AS BIGINT) "
            f"FROM (SELECT o_custkey, COUNT(*) AS n, "
            f"(MIN(struct_pack(d := o_orderdate, k := o_orderkey))).k AS fk, "
            f"(MAX(struct_pack(d := o_orderdate, k := o_orderkey))).k AS lk "
            f"FROM orders GROUP BY o_custkey) "
            f"WHERE o_custkey % 2 = 0 AND n >= 2 "
            f"UNION ALL SELECT * FROM (VALUES {K6_VALUES}) kv(src, dst)",
            k_max=6, rounds=CORENESS_ORACLE_ROUNDS,
        )}) t7
UNION ALL
SELECT 'coarsen', src, dst, weight
FROM ({AN.coarsen_oracle_sql(
            f"SELECT CAST(5*{B} + o_orderkey AS BIGINT) AS src, "
            f"CAST(5*{B} + LEAD(o_orderkey) OVER (PARTITION BY o_custkey "
            f"ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS dst "
            f"FROM orders QUALIFY dst IS NOT NULL",
            "SELECT a, b FROM (" + AN.matching_oracle_sql(
                f"SELECT CAST(5*{B} + o_orderkey AS BIGINT) AS src, "
                f"CAST(5*{B} + LEAD(o_orderkey) OVER (PARTITION BY "
                f"o_custkey ORDER BY o_orderdate, o_orderkey) AS BIGINT) "
                f"AS dst FROM orders QUALIFY dst IS NOT NULL",
                seed=7, rounds=MATCHING_ORACLE_ROUNDS) + ")",
        )}) t5
UNION ALL
SELECT 'color', id, color, round
FROM ({AN.greedy_coloring_sql(
            f"SELECT CAST(5*{B} + o_orderkey AS BIGINT) AS src, "
            f"CAST(5*{B} + LEAD(o_orderkey) OVER (PARTITION BY o_custkey "
            f"ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS dst "
            f"FROM orders QUALIFY dst IS NOT NULL",
            max_iter=COLORING_ORACLE_ROUNDS, seed=7,
        )}) t8
UNION ALL
SELECT 'onion', id, coreness * 100 + layer, NULL
FROM (WITH on_pos AS (
  SELECT o_custkey, o_orderkey,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS i,
         COUNT(*) OVER (PARTITION BY o_custkey) AS L
  FROM orders WHERE o_custkey % 2 = 1
)
SELECT CAST(5*{B} + o_orderkey AS BIGINT) AS id,
       CAST(1 AS BIGINT) AS coreness,
       CAST(LEAST(i, L + 1 - i) AS BIGINT) AS layer
FROM on_pos WHERE L >= 2) t9
UNION ALL
SELECT 'trussness', a, b, t
FROM (WITH tr_ch AS (
  SELECT o_custkey,
         CAST(5*{B} + o_orderkey AS BIGINT) AS src,
         CAST(5*{B} + LEAD(o_orderkey) OVER wd AS BIGINT) AS dst
  FROM orders
  WINDOW wd AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
  QUALIFY dst IS NOT NULL
),
tr_clo AS (
  SELECT o_custkey,
         CAST(5*{B} + (MAX(struct_pack(d := o_orderdate,
                                       k := o_orderkey))).k AS BIGINT),
         CAST(5*{B} + (MIN(struct_pack(d := o_orderdate,
                                       k := o_orderkey))).k AS BIGINT)
  FROM orders GROUP BY o_custkey
  HAVING o_custkey % 2 = 0 AND COUNT(*) >= 2
),
tr_n AS (SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY 1)
-- only an even-custkey THREE-order customer closes into a triangle;
-- every other chain/cycle edge is triangle-free
SELECT DISTINCT LEAST(e.src, e.dst) AS a, GREATEST(e.src, e.dst) AS b,
       CASE WHEN e.o_custkey % 2 = 0 AND tn.n = 3
            THEN CAST(3 AS BIGINT) ELSE CAST(2 AS BIGINT) END AS t
FROM (SELECT * FROM tr_ch UNION ALL SELECT * FROM tr_clo) e
JOIN tr_n tn USING (o_custkey)
UNION ALL
SELECT CAST(9*{B} + x.range AS BIGINT), CAST(9*{B} + y.range AS BIGINT),
       CAST(6 AS BIGINT)
FROM range(1, 7) x JOIN range(1, 7) y ON x.range < y.range) t10""",
        # standalone WITH RECURSIVE (same CTE-scoping caveat as
        # var_length_unbounded): the walk relation reduced to MIN(depth)
        # per reachable pair — the doubling operator must agree with the
        # one-hop-at-a-time recursion
        "closure_min_depth": f"""WITH RECURSIVE no AS (
  SELECT src, dst FROM (
    SELECT CAST(5*{B} + o_orderkey AS BIGINT) AS src,
           CAST(5*{B} + LEAD(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS dst
    FROM orders
  ) t WHERE dst IS NOT NULL
),
walk(n0, n1, d) AS (
  SELECT src, dst, 1 FROM no
  UNION
  SELECT w.n0, e.dst, w.d + 1 FROM walk w JOIN no e ON w.n1 = e.src
)
SELECT n0 AS src, n1 AS dst, CAST(MIN(d) AS BIGINT) AS depth
FROM walk GROUP BY n0, n1""",
        # temporal family bundle
        "temporal_ops": f"""
SELECT 'asof' AS op, CAST(NULL AS VARCHAR) AS s, CAST(event_id AS BIGINT) AS a,
       value_asof_cents AS b, CAST(NULL AS BIGINT) AS c
FROM ({O.asof_join_sql()}) t1
UNION ALL
SELECT 'range', NULL, month_bucket, n, sum_price_cents
FROM ({O.range_join_sql(days=10)}) t2
UNION ALL
SELECT 'funnel', NULL, CAST(user_id AS BIGINT), n_started, n_completed
FROM ({O.funnel_sql(within_seconds=3600)}) t3
UNION ALL
SELECT 'topk', o_orderpriority, CAST(o_orderkey AS BIGINT),
       CAST(rank_in_group AS BIGINT), NULL
FROM ({O.topk_per_group_sql(k=3)}) t4
UNION ALL
SELECT 'cohort', NULL, cohort_period, period_offset, n_active
FROM ({O.cohort_retention_sql(period_days=7)}) t5
UNION ALL
SELECT 'funnel3', NULL, CAST(user_id AS BIGINT), steps_completed, NULL
FROM ({O.funnel_steps_sql(['view', 'click', 'purchase'], 86400)}) t6
UNION ALL
SELECT 'resample', event_type, period, n, sum_cents
FROM ({O.resample_counts_sql(3600)}) t7
UNION ALL
SELECT 'markov', from_type || '>' || to_type, n, NULL, NULL
FROM ({O.transition_counts_sql()}) t8
UNION ALL
SELECT 'treach', src || '>' || dst, t_arr, NULL, NULL
FROM ({TEMPORAL.time_respecting_reachability_sql(
            "SELECT src, dst, t AS ts FROM ("
            "SELECT event_type AS src, "
            "LEAD(event_type) OVER wu AS dst, "
            "LEAD(date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts)) "
            "OVER wu AS t "
            "FROM events WINDOW wu AS ("
            "PARTITION BY user_id ORDER BY ts, event_id)"
            ") WHERE dst IS NOT NULL",
            min_wait=1,
        )}) t9
UNION ALL
SELECT 'twedge', mid, n_wedges, NULL, NULL
FROM ({TEMPORAL.temporal_wedge_counts_sql(
            "SELECT src, dst, t AS ts FROM ("
            "SELECT event_type AS src, "
            "LEAD(event_type) OVER wu AS dst, "
            "LEAD(date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts)) "
            "OVER wu AS t "
            "FROM events WINDOW wu AS ("
            "PARTITION BY user_id ORDER BY ts, event_id)"
            ") WHERE dst IS NOT NULL",
            3600,
        )}) t10
UNION ALL
SELECT 'gaps', NULL, user_id, n_gaps, sum_gap
FROM ({TEMPORAL.interarrival_stats_sql()}) t11
UNION ALL
SELECT 'gapsq', NULL, user_id, sum_gap_sq,
       min_gap * 1073741824 + max_gap
FROM ({TEMPORAL.interarrival_stats_sql()}) t12
UNION ALL
SELECT 'decay', event_type, n_events, decayed, NULL
FROM ({TEMPORAL.decayed_counts_sql(
            "2024-02-01 00:00:00", 86400, scale_pow2=30)}) t13
UNION ALL
SELECT 'slide', event_type, win_start, n, sum_cents
FROM (WITH sw_k AS (
  SELECT event_type,
         unnest(generate_series(
           CAST(floor((epoch(ts) - 7200) / 3600) AS BIGINT) + 1,
           CAST(floor(epoch(ts) / 3600) AS BIGINT))) AS k,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
)
SELECT event_type, k * 3600 AS win_start,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(cents) AS BIGINT) AS sum_cents
FROM sw_k GROUP BY 1, 2) t14
UNION ALL
SELECT 'scd2', value, key, vf_days, vt_days
FROM (WITH sc_f AS (
  SELECT o_custkey AS key,
         (MIN(struct_pack(d := o_orderdate, k := o_orderkey,
                          p := o_orderpriority))).p AS value,
         (MIN(struct_pack(d := o_orderdate, k := o_orderkey,
                          p := o_orderpriority))).d AS vf
  FROM orders GROUP BY 1
),
sc_l AS (
  SELECT o_custkey AS key,
         (MAX(struct_pack(d := o_orderdate, k := o_orderkey,
                          p := o_orderpriority))).p AS uval,
         (MAX(struct_pack(d := o_orderdate, k := o_orderkey,
                          p := o_orderpriority))).d AS uts
  FROM orders GROUP BY 1
),
sc_new AS (
  SELECT c.c_custkey AS key, c.c_mktsegment AS value,
         DATE '1995-01-01' AS ts
  FROM customer c ANTI JOIN orders o ON c.c_custkey = o.o_custkey
),
sc_rows AS (
  -- surviving/closed versions of the current open rows
  SELECT f.key, f.value, f.vf AS vfrom,
         CASE WHEN f.value = l.uval THEN NULL ELSE l.uts END AS vto
  FROM sc_f f JOIN sc_l l USING (key)
  UNION ALL
  -- reopened rows for differing updates
  SELECT l.key, l.uval, l.uts, NULL
  FROM sc_f f JOIN sc_l l USING (key) WHERE f.value <> l.uval
  UNION ALL
  -- brand-new keys
  SELECT key, value, ts, NULL FROM sc_new
)
SELECT key, value,
       CAST(date_diff('day', DATE '1970-01-01', vfrom) AS BIGINT)
         AS vf_days,
       CAST(date_diff('day', DATE '1970-01-01', vto) AS BIGINT) AS vt_days
FROM sc_rows) t15
UNION ALL
SELECT 'anomaly', event_type, period, n * 2 + flag, median * 100000 + mad
FROM (WITH an_rc AS (
  SELECT event_type, period, n
  FROM ({O.resample_counts_sql(86400)}) rc0
),
an_md AS (
  SELECT event_type, q_500 AS median
  FROM ({O.grouped_quantiles_sql("event_type", "n", [0.5], "an_rc")}) m0
),
an_dv AS (
  SELECT r.event_type, ABS(r.n - m.median) AS dev
  FROM an_rc r JOIN an_md m USING (event_type)
),
an_mm AS (
  SELECT event_type, q_500 AS mad
  FROM ({O.grouped_quantiles_sql("event_type", "dev", [0.5], "an_dv")}) m1
)
SELECT r.event_type, r.period, r.n, m.median, d.mad,
       CASE WHEN ABS(r.n - m.median) * 1000 > 3000 * d.mad
            THEN 1 ELSE 0 END AS flag
FROM an_rc r JOIN an_md m USING (event_type)
JOIN an_mm d USING (event_type)) t16
UNION ALL
SELECT 'conc', NULL, bucket, delta, n_active
FROM (WITH cp_s AS (
  SELECT user_id, MIN(ts) AS st, MAX(ts) AS en FROM events GROUP BY 1
),
cp_e AS (
  SELECT date_diff('second', TIMESTAMP '1970-01-01 00:00:00', st)
           // 3600 AS bucket, 1 AS delta
  FROM cp_s
  UNION ALL
  SELECT date_diff('second', TIMESTAMP '1970-01-01 00:00:00', en)
           // 3600 + 1, -1
  FROM cp_s
),
cp_a AS (
  SELECT bucket, CAST(SUM(delta) AS BIGINT) AS delta
  FROM cp_e GROUP BY 1
)
SELECT bucket, delta,
       CAST(SUM(delta) OVER (ORDER BY bucket
         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_active
FROM cp_a) t17""",
        # stats family bundle
        "stats_ops": f"""
SELECT 'quantiles' AS op, o_orderpriority AS s, CAST(NULL AS VARCHAR) AS t,
       q_250 AS a, q_500 AS b, q_900 AS c, CAST(NULL AS BIGINT) AS d
FROM ({O.grouped_quantiles_sql(
            "o_orderpriority", "CAST(round(o_totalprice * 100) AS BIGINT)",
            [0.25, 0.5, 0.9], "orders",
        )}) t1
UNION ALL
SELECT 'qbin', pr, NULL, bin, nn, sc, NULL
FROM (WITH qb_per AS (
  SELECT o_orderpriority AS pr,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         COUNT(*) AS c
  FROM orders GROUP BY 1, 2
),
qb_map AS (
  SELECT pr, cents, c,
         LEAST(7, (COALESCE(SUM(c) OVER (PARTITION BY pr ORDER BY cents
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 8)
           // SUM(c) OVER (PARTITION BY pr)) AS bin
  FROM qb_per
)
SELECT pr, bin, CAST(SUM(c) AS BIGINT) AS nn,
       CAST(SUM(cents * c) AS BIGINT) AS sc
FROM qb_map GROUP BY 1, 2) tqb
UNION ALL
SELECT 'mad', o_orderpriority, NULL, median, mad, NULL, NULL
FROM (WITH md1 AS (
  SELECT o_orderpriority, q_500 AS median
  FROM ({O.grouped_quantiles_sql(
            "o_orderpriority", "CAST(round(o_totalprice * 100) AS BIGINT)",
            [0.5], "orders")}) m1
),
md2 AS (
  SELECT o.o_orderpriority,
         ABS(CAST(round(o.o_totalprice * 100) AS BIGINT) - m.median) AS dev
  FROM orders o JOIN md1 m USING (o_orderpriority)
)
SELECT m.o_orderpriority, m.median, d.q_500 AS mad
FROM md1 m JOIN ({O.grouped_quantiles_sql(
            "o_orderpriority", "dev", [0.5], "md2")}) d
  USING (o_orderpriority)) tmd
UNION ALL
SELECT 'top_terms', term, NULL, doc_id, tf, df, CAST(rank_in_doc AS BIGINT)
FROM ({O.top_terms_sql(k=5)}) t2
UNION ALL
SELECT 'inverted', term, posting_hash, NULL, df, NULL, NULL
FROM ({O.inverted_index_sql(min_df=5, max_df=400)}) t3
UNION ALL
SELECT 'stratified', lang, NULL, doc_id, NULL, NULL, NULL
FROM ({O.stratified_sample_sql(STRATA)}) t4
UNION ALL
SELECT 'commonness', NULL, NULL, doc_id, n_tokens, commonness_micro, NULL
FROM ({O.token_commonness_sql()}) t5
UNION ALL
SELECT 'surprisal', NULL, NULL, doc_id, surprisal_bits, mean_bits_milli, NULL
FROM ({O.token_surprisal_sql()}) t5b
UNION ALL
SELECT 'htf', NULL, NULL, doc_id, bucket, tf, NULL
FROM ({O.hashed_tf_sql(n_features=64, seed=3)}) t5c
UNION ALL
SELECT 'linscore', NULL, NULL, doc_id,
       7 + COALESCE(SUM(tf * w), 0), NULL, NULL
FROM ({O.hashed_tf_sql(n_features=64, seed=3)}) fl
LEFT JOIN (
  SELECT range AS bucket,
         {O._h60_sql('range', 'lw')} % 2001 - 1000 AS w
  FROM range(64)
) lw USING (bucket)
GROUP BY doc_id
UNION ALL
SELECT 'auc', NULL, NULL, n_pos, n_neg, u2, auc_micro
FROM (WITH au_sc AS (
  SELECT doc_id, 7 + COALESCE(SUM(tf * w), 0) AS score
  FROM ({O.hashed_tf_sql(n_features=64, seed=3)}) fl2
  LEFT JOIN (
    SELECT range AS bucket,
           {O._h60_sql('range', 'lw')} % 2001 - 1000 AS w
    FROM range(64)
  ) lw2 USING (bucket)
  GROUP BY doc_id
),
au_per AS (
  SELECT score AS s,
         SUM(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS np_s,
         SUM(CASE WHEN doc_id % 7 = 0 THEN 0 ELSE 1 END) AS nn_s
  FROM au_sc GROUP BY 1
),
au_cum AS (
  SELECT np_s, nn_s,
         COALESCE(SUM(nn_s) OVER (ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumn
  FROM au_per
)
SELECT CAST(SUM(np_s) AS BIGINT) AS n_pos,
       CAST(SUM(nn_s) AS BIGINT) AS n_neg,
       CAST(SUM(2 * np_s * cumn + np_s * nn_s) AS BIGINT) AS u2,
       CASE WHEN SUM(np_s) > 0 AND SUM(nn_s) > 0 THEN
         CAST((SUM(2 * np_s * cumn + np_s * nn_s) * 500000)
              // (SUM(np_s) * SUM(nn_s)) AS BIGINT) END AS auc_micro
FROM au_cum) ta
UNION ALL
SELECT 'sbgram', NULL, NULL, doc_id,
       n_bigrams * {1 << 20} + n_backoffs, sb_bits, mean_bits_milli
FROM ({O.score_bigrams_sql(score_where="doc_id % 4 = 1",
                           ref_where="doc_id % 4 <> 1")}) tsb
UNION ALL
SELECT 'knbits', NULL, NULL, doc_id,
       n_bigrams * {1 << 20} + n_unseen, kn_bits, mean_bits_milli
FROM ({O.kneser_ney_sql(score_where="doc_id % 4 = 1",
                        ref_where="doc_id % 4 <> 1")}) tkn
UNION ALL
SELECT CASE kind WHEN 'w' THEN 'ptron_w' WHEN 's' THEN 'ptron_s'
       ELSE 'ptron_m' END,
       NULL, NULL, COALESCE(doc_id, bucket), val, NULL, NULL
FROM ({O.perceptron_sql("lang = 'en'", n_features=64, seed=3)}) tpt
UNION ALL
SELECT 'colloc', w_a, w_b, n_pair, score_milli, NULL, NULL
FROM ({O.collocation_scores_sql(min_count=3, delta=1)}) t5d
UNION ALL
SELECT 'entropy', NULL, NULL, doc_id, n_chars, entropy_bits,
       mean_milli_bits
FROM ({O.char_entropy_bits_sql()}) t5e
UNION ALL
SELECT 'novelty', NULL, NULL, doc_id, n_grams, novel_permille, NULL
FROM ({O.ngram_novelty_sql(n=3)}) t5h
UNION ALL
SELECT 'zipf1', NULL, NULL, n, sx, sy, NULL
FROM ({ZIPF_SQL}) t5f
UNION ALL
SELECT 'zipf2', NULL, NULL, sxy, sxx, NULL, NULL
FROM ({ZIPF_SQL}) t5g
UNION ALL
SELECT 'outliers', NULL, NULL, user_id, event_id, value_cents, NULL
FROM ({O.grouped_outliers_sql("user_id", "value", "event_id", k=2)}) t6
UNION ALL
SELECT 'cms', NULL, NULL, CAST(d AS BIGINT), w, cnt, NULL
FROM ({O.count_min_sql(
            "tok",
            "FROM (SELECT unnest(regexp_extract_all(lower(text), "
            f"{O.WORD_TOKEN_RE_SQL})) AS tok FROM documents) tk",
            width=128, depth=3,
        )}) t7
UNION ALL
SELECT 'mg', key, NULL, count, subtracted, NULL, NULL
FROM ({O.misra_gries_sql(
            "tok",
            "FROM (SELECT unnest(regexp_extract_all(lower(text), "
            f"{O.WORD_TOKEN_RE_SQL})) AS tok FROM documents) tk",
            m=32,
        )}) t7mg
UNION ALL
SELECT 'cmsq', tok, NULL, est, NULL, NULL, NULL
FROM ({O.cms_lookup_sql(
            "tok",
            "FROM (SELECT unnest(regexp_extract_all(lower(text), "
            f"{O.WORD_TOKEN_RE_SQL})) AS tok FROM documents "
            "WHERE doc_id % 101 = 0) pq",
            "tok",
            "FROM (SELECT unnest(regexp_extract_all(lower(text), "
            f"{O.WORD_TOKEN_RE_SQL})) AS tok FROM documents) bq",
            width=128, depth=3, out_col="tok",
        )}) t7b
UNION ALL
SELECT 'hll', NULL, NULL, bucket, CAST(max_rho AS BIGINT), NULL, NULL
FROM ({O.hll_registers_sql("CAST(user_id AS VARCHAR)", "FROM events",
                           p=8)}) t8
UNION ALL
SELECT 'hlle', NULL, NULL, zs, zeros, {_HLLE_CASE_SQL}, NULL
FROM (
  SELECT CAST(SUM(CAST(1 AS BIGINT) << (49 - max_rho)) AS BIGINT) AS zs,
         CAST(256 - COUNT(*) AS BIGINT) AS zeros
  FROM ({O.hll_registers_sql("CAST(user_id AS VARCHAR)", "FROM events",
                             p=8)}) hr
) t8b
UNION ALL
SELECT 'bm25', NULL, NULL, doc_id, score_scaled, NULL, NULL
FROM ({O.bm25_sql(["join", "hash", "scan"], scale=1000)}) t8c
UNION ALL
SELECT 'pca', NULL, NULL,
       (SELECT CAST(SUM(s) AS BIGINT) FROM ({O.gram_matrix_sql(dim=64)}) gg
        WHERE i = j),
       2, 64, NULL
UNION ALL
SELECT 'bloom', NULL, NULL, id, CAST(maybe_member AS BIGINT), NULL, NULL
FROM ({O.bloom_probe_sql(
            "doc_id", "text", "FROM documents", "text",
            "FROM documents WHERE doc_id % 5 != 0",
            m_bits=1 << 14, k=4,
        )}) t9
UNION ALL
SELECT 'gram', NULL, NULL, i, j, s, NULL
FROM ({O.gram_matrix_sql(dim=64)}) t10
UNION ALL
SELECT 'vocab', token, NULL, token_id, count, NULL, NULL
FROM ({O.build_vocab_sql(min_count=3, max_size=200)}) t11
UNION ALL
SELECT 'encode', NULL, NULL, doc_id, pos, token_id, NULL
FROM ({O.encode_tokens_sql(min_count=3, max_size=200)}) t12
UNION ALL
SELECT 'ngram', gram, NULL, count, NULL, NULL, NULL
FROM ({O.ngram_counts_sql(n=2, min_count=3)}) t13
UNION ALL
SELECT 'hllg', event_type, NULL, bucket, CAST(max_rho AS BIGINT), NULL, NULL
FROM ({O.hll_registers_grouped_sql(
            "CAST(user_id AS VARCHAR)", "event_type", "FROM events", p=6,
        )}) t14
UNION ALL
SELECT 'rep', CAST(n_grams AS VARCHAR), NULL, doc_id, n,
       CAST(top_gram_permille AS BIGINT), CAST(dup_gram_permille AS BIGINT)
FROM ({O.repetition_signals_sql()}) t15
UNION ALL
SELECT 'winnow', sig, NULL, doc_id, n_fps, NULL, NULL
FROM (
  SELECT doc_id, COUNT(*) AS n_fps,
         md5(string_agg(CAST(pos AS VARCHAR) || ':' || fp, '|'
             ORDER BY CAST(pos AS VARCHAR) || ':' || fp)) AS sig
  FROM ({O.winnow_fingerprints_sql(k=8, w=16)}) wfs GROUP BY doc_id
) t16""",
        # graph-similarity family bundle
        "graph_similarity": f"""
SELECT 'co_purchase' AS op, CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
       n_common AS c, CAST(NULL AS BIGINT) AS d
FROM ({O.bipartite_projection_sql(min_count=2)}) t1
UNION ALL
SELECT 'jaccard', a, b, common, jaccard_permille
FROM ({O.jaccard_similarity_sql(
            src_expr=f"l_suppkey + {2 * B}", dst_expr=f"l_partkey + {4 * B}",
            min_permille=100, max_b=4 * B,
        )}) t2
UNION ALL
SELECT 'weighted', src, dst, dist, NULL
FROM (WITH RECURSIVE wo AS (
  SELECT src, dst, w FROM (
    SELECT CAST(5*{B} + o_orderkey AS BIGINT) AS src,
           CAST(5*{B} + LEAD(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS dst,
           CAST(date_diff('day', o_orderdate,
                LEAD(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)) AS BIGINT) AS w
    FROM orders
  ) t WHERE dst IS NOT NULL
),
wwalk(n0, n1, d) AS (
  SELECT src, dst, w FROM wo
  UNION
  SELECT ww.n0, e.dst, ww.d + e.w FROM wwalk ww JOIN wo e ON ww.n1 = e.src
)
SELECT n0 AS src, n1 AS dst, CAST(MIN(d) AS BIGINT) AS dist
FROM wwalk GROUP BY n0, n1) t3
UNION ALL
SELECT 'closeness', id, n_reach, sum_depth, closeness_micro
FROM (WITH pos AS (
  SELECT o_orderkey,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS i,
         COUNT(*) OVER (PARTITION BY o_custkey) AS L
  FROM orders
)
SELECT CAST(5*{B} + o_orderkey AS BIGINT) AS id,
       CAST(L - i AS BIGINT) AS n_reach,
       CAST((L - i) * (L - i + 1) / 2 AS BIGINT) AS sum_depth,
       CAST(FLOOR((L - i) * 1e6 / ((L - i) * (L - i + 1) / 2)) AS BIGINT)
         AS closeness_micro
FROM pos WHERE i < L) t4
UNION ALL
SELECT 'harmonic', id, n_reach, harmonic_micro, NULL
FROM (WITH pos AS (
  SELECT o_orderkey,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS i,
         COUNT(*) OVER (PARTITION BY o_custkey) AS L
  FROM orders
)
SELECT CAST(5*{B} + o_orderkey AS BIGINT) AS id,
       CAST(L - i AS BIGINT) AS n_reach,
       CAST(list_sum(list_transform(generate_series(1, L - i),
                                    d -> 1000000 // d)) AS BIGINT)
         AS harmonic_micro
FROM pos WHERE i < L) t5
UNION ALL
SELECT 'mst', a, b, w, NULL
FROM (WITH ch AS (
  SELECT o_custkey,
         CAST(5*{B} + o_orderkey AS BIGINT) AS src,
         CAST(5*{B} + LEAD(o_orderkey) OVER wd AS BIGINT) AS dst,
         CAST(date_diff('day', o_orderdate, LEAD(o_orderdate) OVER wd)
              AS BIGINT) * 10000000 + o_orderkey % 10000000 AS w
  FROM orders
  WINDOW wd AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
  QUALIFY dst IS NOT NULL
),
pc AS (
  SELECT o_custkey, COUNT(*) AS n,
         (MIN(struct_pack(d := o_orderdate, k := o_orderkey))).k AS fk,
         (MAX(struct_pack(d := o_orderdate, k := o_orderkey))).k AS lk
  FROM orders GROUP BY o_custkey
),
clo AS (
  SELECT o_custkey, CAST(5*{B} + lk AS BIGINT) AS src,
         CAST(5*{B} + fk AS BIGINT) AS dst,
         CAST(lk % 10000000 AS BIGINT) AS w
  FROM pc WHERE o_custkey % 2 = 0 AND n >= 2
),
alle AS (
  SELECT o_custkey, LEAST(src, dst) AS a, GREATEST(src, dst) AS b, w
  FROM (SELECT * FROM ch UNION ALL SELECT * FROM clo)
),
mx AS (
  SELECT e.o_custkey, MAX(ROW(e.w, e.a, e.b)) AS m
  FROM alle e JOIN clo USING (o_custkey)
  GROUP BY e.o_custkey
)
SELECT e.a, e.b, e.w
FROM alle e LEFT JOIN mx
  ON e.o_custkey = mx.o_custkey AND ROW(e.w, e.a, e.b) = mx.m
WHERE mx.o_custkey IS NULL) t6
UNION ALL
SELECT 'stress', id, stress, NULL, NULL
FROM (WITH pos AS (
  SELECT o_orderkey,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS i,
         COUNT(*) OVER (PARTITION BY o_custkey) AS L
  FROM orders
)
SELECT CAST(5*{B} + o_orderkey AS BIGINT) AS id,
       CAST((i - 1) * (L - i) AS BIGINT) AS stress
FROM pos WHERE i > 1 AND i < L) t7
UNION ALL
SELECT 'sigma', src, dst, depth, sigma
FROM (WITH pos AS (
  SELECT o_custkey, o_orderkey,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS i
  FROM orders
)
SELECT CAST(5*{B} + pa.o_orderkey AS BIGINT) AS src,
       CAST(5*{B} + pb.o_orderkey AS BIGINT) AS dst,
       CAST(pb.i - pa.i AS BIGINT) AS depth,
       CAST(1 AS BIGINT) AS sigma
FROM pos pa JOIN pos pb
  ON pa.o_custkey = pb.o_custkey AND pb.i > pa.i) t8
UNION ALL
SELECT 'betw', id, betw, NULL, NULL
FROM (WITH pos AS (
  SELECT o_orderkey,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS i,
         COUNT(*) OVER (PARTITION BY o_custkey) AS L
  FROM orders
)
SELECT CAST(5*{B} + o_orderkey AS BIGINT) AS id,
       CAST((i - 1) * (L - i) AS BIGINT) AS betw
FROM pos WHERE i > 1 AND i < L) t8b
UNION ALL
SELECT 'ebetw', a, b, eb, NULL
FROM (WITH pos AS (
  SELECT o_custkey, o_orderkey,
         ROW_NUMBER() OVER wd AS i,
         COUNT(*) OVER (PARTITION BY o_custkey) AS L,
         LEAD(o_orderkey) OVER wd AS nxt
  FROM orders
  WINDOW wd AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
)
SELECT CAST(5*{B} + o_orderkey AS BIGINT) AS a,
       CAST(5*{B} + nxt AS BIGINT) AS b,
       CAST(i * (L - i) AS BIGINT) AS eb
FROM pos WHERE nxt IS NOT NULL) t8c
UNION ALL
SELECT 'ebetws', a, b, eb, NULL
FROM (WITH pos AS (
  SELECT o_custkey, o_orderkey,
         ROW_NUMBER() OVER wd AS i,
         COUNT(*) OVER (PARTITION BY o_custkey) AS L,
         LEAD(o_orderkey) OVER wd AS nxt
  FROM orders
  WINDOW wd AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
),
srcs AS (
  SELECT o_custkey, i AS si FROM pos WHERE o_orderkey % 3 = 0
)
SELECT CAST(5*{B} + p.o_orderkey AS BIGINT) AS a,
       CAST(5*{B} + p.nxt AS BIGINT) AS b,
       CAST(SUM(LEAST(p.L, s.si + 7) - p.i) AS BIGINT) AS eb
FROM pos p JOIN srcs s
  ON s.o_custkey = p.o_custkey AND s.si BETWEEN p.i - 6 AND p.i
WHERE p.nxt IS NOT NULL
GROUP BY p.o_custkey, p.o_orderkey, p.nxt, p.i, p.L) t8d
UNION ALL
SELECT 'betws', id, b, NULL, NULL
FROM (WITH pos AS (
  SELECT o_custkey, o_orderkey,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS i,
         COUNT(*) OVER (PARTITION BY o_custkey) AS L
  FROM orders
),
srcs AS (
  SELECT o_custkey, i AS si FROM pos WHERE o_orderkey % 3 = 0
)
SELECT CAST(5*{B} + p.o_orderkey AS BIGINT) AS id,
       CAST(SUM(LEAST(p.L, s.si + 7) - p.i) AS BIGINT) AS b
FROM pos p JOIN srcs s
  ON s.o_custkey = p.o_custkey AND s.si BETWEEN p.i - 6 AND p.i - 1
WHERE p.i < p.L
GROUP BY p.o_custkey, p.o_orderkey, p.i, p.L) t8e
UNION ALL
SELECT 'gnrem', rnd, rid, nid, eb
FROM (WITH nr AS (
  SELECT CAST(n_nationkey + {B} AS BIGINT) AS nid,
         CAST(n_regionkey AS BIGINT) AS rid
  FROM nation
),
k0 AS (SELECT rid, COUNT(*) AS kk FROM nr GROUP BY rid),
pick0 AS (
  SELECT rid, nid, kk FROM (
    SELECT n.rid, MIN(n.nid) AS nid, k.kk
    FROM nr n JOIN k0 k ON k.rid = n.rid
    WHERE k.kk = (SELECT MAX(kk) FROM k0)
    GROUP BY n.rid, k.kk) c ORDER BY rid, nid LIMIT 1
),
k1 AS (SELECT rid, kk - CASE WHEN rid = (SELECT rid FROM pick0)
                             THEN 1 ELSE 0 END AS kk FROM k0),
pick1 AS (
  SELECT rid, nid, kk FROM (
    SELECT n.rid, MIN(n.nid) AS nid, k.kk
    FROM nr n JOIN k1 k ON k.rid = n.rid
    WHERE k.kk = (SELECT MAX(kk) FROM k1)
      AND NOT (n.rid = (SELECT rid FROM pick0)
               AND n.nid = (SELECT nid FROM pick0))
    GROUP BY n.rid, k.kk) c ORDER BY rid, nid LIMIT 1
)
SELECT CAST(0 AS BIGINT) AS rnd, rid, nid, CAST(kk AS BIGINT) AS eb
FROM pick0
UNION ALL
SELECT CAST(1 AS BIGINT), rid, nid, CAST(kk AS BIGINT) FROM pick1) tgn
UNION ALL
SELECT 'gnlab', id, comp, NULL, NULL
FROM (WITH nr AS (
  SELECT CAST(n_nationkey + {B} AS BIGINT) AS nid,
         CAST(n_regionkey AS BIGINT) AS rid
  FROM nation
),
k0 AS (SELECT rid, COUNT(*) AS kk FROM nr GROUP BY rid),
pick0 AS (
  SELECT rid, nid, kk FROM (
    SELECT n.rid, MIN(n.nid) AS nid, k.kk
    FROM nr n JOIN k0 k ON k.rid = n.rid
    WHERE k.kk = (SELECT MAX(kk) FROM k0)
    GROUP BY n.rid, k.kk) c ORDER BY rid, nid LIMIT 1
),
k1 AS (SELECT rid, kk - CASE WHEN rid = (SELECT rid FROM pick0)
                             THEN 1 ELSE 0 END AS kk FROM k0),
pick1 AS (
  SELECT rid, nid, kk FROM (
    SELECT n.rid, MIN(n.nid) AS nid, k.kk
    FROM nr n JOIN k1 k ON k.rid = n.rid
    WHERE k.kk = (SELECT MAX(kk) FROM k1)
      AND NOT (n.rid = (SELECT rid FROM pick0)
               AND n.nid = (SELECT nid FROM pick0))
    GROUP BY n.rid, k.kk) c ORDER BY rid, nid LIMIT 1
)
SELECT n.nid AS id,
       CASE WHEN (n.rid = (SELECT rid FROM pick0)
                  AND n.nid = (SELECT nid FROM pick0))
              OR (n.rid = (SELECT rid FROM pick1)
                  AND n.nid = (SELECT nid FROM pick1))
            THEN n.nid ELSE n.rid END AS comp
FROM nr n
UNION ALL
SELECT DISTINCT rid, rid FROM nr) tgl
UNION ALL
SELECT 'ra', a, b, ra_micro, pa
FROM ({O.resource_allocation_sql(
            src_expr=f"l_suppkey + {2 * B}", dst_expr=f"l_partkey + {4 * B}",
            max_b=4 * B,
        )}) t9
UNION ALL
SELECT 'aa', a, b, common, aa_milli
FROM ({O.adamic_adar_sql(
            src_expr=f"l_suppkey + {2 * B}", dst_expr=f"l_partkey + {4 * B}",
            max_b=4 * B,
        )}) t9b
UNION ALL
SELECT 'spt', root, id, depth, parent
FROM ({AN.shortest_path_tree_sql(
            f"SELECT o_custkey + {3 * B} AS src, "
            f"o_orderkey + {5 * B} AS dst FROM orders "
            f"UNION ALL SELECT l_orderkey + {5 * B}, "
            f"l_partkey + {4 * B} FROM lineitem",
            [3 * B + 1, 3 * B + 2, 3 * B + 3],
        )}) t10
UNION ALL
SELECT 'diam', start, far_node, ecc_start, diameter_lb
FROM ({AN.diameter_double_sweep_sql(
            f"SELECT CAST(5*{B} + o_orderkey AS BIGINT) AS src, "
            f"CAST(5*{B} + LEAD(o_orderkey) OVER (PARTITION BY o_custkey "
            f"ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS dst "
            f"FROM orders QUALIFY dst IS NOT NULL",
        )}) t11
UNION ALL
SELECT 'lmd', landmark, id, depth, NULL
FROM ({AN.landmark_distances_sql(SYMSP_SQL, n_landmarks=2, max_iter=6)}) t12
UNION ALL
SELECT 'lmu', u, v, dist_upper, NULL
FROM ({AN.landmark_upper_sql(
            SYMSP_SQL,
            f"SELECT a.u, b.u AS v FROM "
            f"(SELECT DISTINCT l_suppkey + {2 * B} AS u FROM lineitem "
            f" WHERE l_suppkey % 3 = 0) a JOIN "
            f"(SELECT DISTINCT l_suppkey + {2 * B} AS u FROM lineitem "
            f" WHERE l_suppkey % 3 = 0) b ON a.u < b.u",
            n_landmarks=2, max_iter=6,
        )}) t13
UNION ALL
SELECT 'hball', id, bucket, max_rho, NULL
FROM (WITH pos AS (
  SELECT o_custkey, o_orderkey,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS i,
         COUNT(*) OVER (PARTITION BY o_custkey) AS L
  FROM orders
),
mem AS (
  SELECT CAST(5*{B} + a.o_orderkey AS BIGINT) AS id,
         CAST(5*{B} + b.o_orderkey AS BIGINT) AS member
  FROM pos a JOIN pos b
    ON a.o_custkey = b.o_custkey AND b.i BETWEEN a.i AND a.i + 3
  WHERE a.L >= 2
),
hh AS (
  SELECT id,
         CAST(CAST('0x' || substring(md5('hll:' || member), 1, 15)
              AS UBIGINT) AS BIGINT) % 16 AS bucket,
         (CAST(CAST('0x' || substring(md5('hll:' || member), 1, 15)
              AS UBIGINT) AS BIGINT) // 16) % {1 << 48} AS r
  FROM mem
)
SELECT id, bucket,
       MAX(CASE WHEN r = 0 THEN 49 ELSE 49 - length(bin(r)) END) AS max_rho
FROM hh GROUP BY id, bucket) t14""",
        # sampling / incremental family bundle
        "sampling_ops": f"""
SELECT 'neighbor' AS op, src AS a, dst AS b, CAST(sample_rank AS BIGINT) AS c
FROM ({SA_ORACLE.sample_neighbors_oracle_sql(
            k=2, seed=7,
            edges_sql=f"SELECT l_orderkey + {5 * B} AS src, "
                      f"l_partkey + {4 * B} AS dst FROM lineitem",
        )}) t1
UNION ALL
SELECT 'walk', walk_id, step, node
FROM ({WALKS_SQL}) t2
UNION ALL
SELECT 'skipgram', center, context, n_pairs
FROM ({SA_ORACLE.walk_skipgram_oracle_sql(WALKS_SQL, window=2)}) t4
UNION ALL
SELECT 'negsamp', center, context, negative * 4 + slot
FROM ({SA_ORACLE.sampled_negatives_oracle_sql(
            pairs_sql="SELECT center, context FROM ("
                      + SA_ORACLE.walk_skipgram_oracle_sql(WALKS_SQL, window=2)
                      + ") WHERE center % 7 = 0",
            freqs_sql="SELECT node, COUNT(*) AS freq FROM ("
                      + WALKS_SQL + ") GROUP BY node",
            k=1, seed=3,
        )}) t5
UNION ALL
SELECT op, a, b, code
FROM ({O.incremental_dedup_sql(split="80")}) t3
UNION ALL
SELECT 'nagg', id, n_paths, sum_f FROM ({NAGG_SQL}) t6
UNION ALL
SELECT 'naggm', id, mean_micro, NULL FROM ({NAGG_SQL}) t7
UNION ALL
SELECT 'wwalk', walk_id, step, node
FROM ({SA_ORACLE.weighted_walks_oracle_sql(
            f"SELECT l_suppkey + {2 * B} AS src, "
            f"l_partkey + {4 * B} AS dst, "
            f"CAST(l_quantity AS BIGINT) AS weight FROM lineitem "
            f"UNION ALL SELECT l_partkey + {4 * B}, "
            f"l_suppkey + {2 * B}, CAST(l_quantity AS BIGINT) "
            f"FROM lineitem",
            length=3, seed=17,
            starts_sql=f"SELECT DISTINCT l_suppkey + {2 * B} AS id "
                       f"FROM lineitem",
        )}) t9
UNION ALL
SELECT 'negedge', src, slot, dst
FROM ({SA_ORACLE.sample_non_edges_oracle_sql(
            f"SELECT l_suppkey + {2 * B} AS src, "
            f"l_partkey + {4 * B} AS dst FROM lineitem",
            k=2, seed=21,
        )}) t10
UNION ALL
SELECT 'mpwalk', walk_id, step, node
FROM ({SA_ORACLE.metapath_walks_oracle_sql(
            f"SELECT o_custkey + {3 * B} AS src, "
            f"o_orderkey + {5 * B} AS dst, 'PLACED' AS label FROM orders "
            f"UNION ALL SELECT l_orderkey + {5 * B}, "
            f"l_partkey + {4 * B}, 'CONTAINS' FROM lineitem",
            ["PLACED", "CONTAINS"], seed=13,
        )}) t8
UNION ALL
SELECT 'n2v', walk_id, step, node
FROM ({SA_ORACLE.node2vec_walks_oracle_sql(
            f"SELECT l_suppkey + {2 * B} AS src, "
            f"l_partkey + {4 * B} AS dst FROM lineitem "
            f"UNION ALL SELECT l_partkey + {4 * B}, "
            f"l_suppkey + {2 * B} FROM lineitem",
            length=3, seed=23,
            starts_sql=f"SELECT DISTINCT l_suppkey + {2 * B} AS id "
                       f"FROM lineitem",
        )}) t11
UNION ALL
SELECT 'synth', src, dst, NULL
FROM (SELECT DISTINCT
        MAX(CASE WHEN slot = 1 THEN negative END) OVER (PARTITION BY center)
          AS src,
        MAX(CASE WHEN slot = 2 THEN negative END) OVER (PARTITION BY center)
          AS dst
      FROM ({SA_ORACLE.sampled_negatives_oracle_sql(
            pairs_sql="SELECT range AS center, 0 AS context FROM range(256)",
            freqs_sql="SELECT range AS node, "
                      "GREATEST(64 // (range + 1), 1) AS freq "
                      "FROM range(64)",
            k=2, seed=9,
        )}) dr) sy
WHERE src <> dst""",
    }
    # DuckDB widens SUM(BIGINT) (incl. windowed SUM) to HUGEINT, and any
    # UNION branch then widens the whole output column to INT128 while the
    # Spark twin stays LongType — value-identical but a different physical
    # encoding, which the driver's hash canonicalization distinguishes (the
    # r08 `chunk_shard_ops` red row).  Re-cast every integer output column of
    # the union bundles that mix SUM-derived branches back to BIGINT so the
    # oracle's declared types match the Spark schema exactly.
    _recast = {
        "ann_search": ("op", "s", "a", "b", "c", "d"),
        "corpus_curation": ("op", "doc_id", "split", "n", "a", "b"),
        "stats_ops": ("op", "s", "t", "a", "b", "c", "d"),
        "chunk_shard_ops": ("op", "doc_id", "a", "s", "b"),
    }
    _str_cols = {"op", "s", "t", "split"}
    for _name, _cols in _recast.items():
        _sel = ", ".join(
            c if c in _str_cols else f"CAST({c} AS BIGINT) AS {c}"
            for c in _cols
        )
        out[_name] = f"SELECT {_sel} FROM ({out[_name]}\n) __recast"
    return out


def gates_manifest() -> dict[str, dict]:
    """Machine-readable audit map of the driver's 50 correctness rows
    (VERDICT r13 task 8): for every ``queries()`` key, the bundled
    ``op`` tags its union output hash-checks (``[]`` = a single-op gate
    whose whole output is the operator's own shape) and whether an
    ``oracle_sql()`` twin exists. The driver's 50 rows stay auditable as
    the op count grows: an operator claimed done in COVERAGE.md must
    resolve to a key here or to an op tag of its gate
    (``tests/test_manifest.py`` enforces both directions — manifest vs
    live gate outputs, and COVERAGE.md references vs manifest).

    Op lists are the DISTINCT values of each bundle's ``op`` column at
    sf0.001, regenerated by ``tests/test_manifest.py``'s spot checks;
    a bundle emitting an op not listed here (or dropping one) fails.
    """
    oracles = set(oracle_sql())
    ops = {
        "adjacency_neighbors": [],
        "ann_search": [
            "bitext", "brute", "dhist", "dimstats", "hardneg", "ivf",
            "ivf_probe2", "ivfpq", "kmeans", "knn_join", "lsh", "mrr", "ndcg",
            "pool", "pq", "pqtop", "quant", "recall", "rproj", "rrf",
            "semdedup",
        ],
        "appl_sorted_positions": [],
        "chunk_shard_ops": [
            "bpe_enc", "bpe_merge", "bpe_vocab", "bpec", "chunk", "emit",
            "fim", "pack", "sft", "shard", "spanc", "tchunk", "uni_seed",
            "uni_seg", "wp_merge", "wp_seg", "wshard",
        ],
        "closure_min_depth": [],
        "connected_components": ["cc", "incremental", "modularity", "scc", "wl"],
        "corpus_curation": [
            "boiler", "canonical", "cap", "contam", "diff", "drift_ab",
            "drift_ba", "dsir", "fcontam", "funnel", "lsplit", "mixture",
            "paradedup", "parafilter", "parasig", "pps", "quality_filter",
            "sample", "shuffle", "split_sizes", "summary", "tmix",
        ],
        "create_mem_diff": ["add", "del"],
        "dedup_docs": [
            "bestrep", "cluster", "contain", "containj", "esd", "exact",
        ],
        "degree_by_label": [],
        "degree_histogram": [],
        "delete_ops": ["cascade", "reciprocal"],
        "doc_signals": [],
        "edge_list_ingest": [],
        "event_sessions": [],
        "events_hourly_batch_stream": [
            "batch", "sk_bloom", "sk_cc", "sk_cms", "sk_hll", "sk_ndup",
            "sk_scd2", "slide_stream", "stream",
        ],
        "events_json": [],
        "filter_edges_to_parts": [],
        "flat_table_positions": [],
        "graph_query_subgraph": [],
        "graph_similarity": [
            "aa", "betw", "betws", "closeness", "co_purchase", "diam",
            "ebetw", "ebetws", "gnlab", "gnrem", "harmonic", "hball",
            "jaccard", "lmd", "lmu", "mst", "ra", "sigma", "spt", "stress",
            "weighted",
        ],
        "insert_append_seq": [],
        "k_core_nodes": [
            "coarsen", "color", "core", "coreness", "embed", "matching",
            "mis", "onion", "truss", "trussness",
        ],
        "label_communities": ["cond", "condp", "greedy", "lpa"],
        "link_analysis": ["hits", "katz", "ppr"],
        "map_nodes_relabel": [],
        "media_pipeline": [
            "ahash", "audio", "awindow", "decode", "frame", "hpairs",
            "meta_image", "png_ahash", "video",
        ],
        "neardup_pairs": [
            "cosine", "fuzzy", "jaccard", "lsh", "ppjoin", "simhash",
            "wmatch",
        ],
        "nested_layers_2hop": [],
        "node_label_counts": [],
        "nodes_scan_multiplicity": [],
        "orders_by_month": [],
        "orders_per_nation": [],
        "orders_rollup": [],
        "pagerank_ranks": ["pr", "warm", "wpr"],
        "pattern_1hop_matrix": [
            "backward", "comma", "cycle", "not_edge", "optional", "orth_bulk",
            "where_seq", "where_str",
        ],
        "pattern_2hop": ["cost", "quick"],
        "persisted_roundtrip": ["roundtrip", "zorder"],
        # attr_overlap legitimately emits 0 rows at sf0.001 (no duplicate
        # keys in the tiny fixture) — listed because the bundle always
        # unions its part; the live spot-check is subset-based for this
        "point_lookups": [
            "adjacent_node_first", "all_children", "attr_overlap",
            "edges_by_index", "lookup_node_edge",
        ],
        "pricing_summary": [],
        "sampling_ops": [
            "exact", "lsh_new", "lsh_old", "mpwalk", "n2v", "nagg", "naggm",
            "negedge", "negsamp", "neighbor", "skipgram", "synth", "walk",
            "wwalk",
        ],
        "stats_ops": [
            "auc", "bloom", "bm25", "cms", "cmsq", "colloc", "commonness",
            "encode", "entropy", "gram", "hll", "hlle", "hllg", "htf",
            "inverted", "knbits", "linscore", "mad", "mg", "ngram", "novelty",
            "outliers", "pca", "ptron_m", "ptron_s", "ptron_w", "qbin",
            "quantiles", "rep", "sbgram", "stratified", "surprisal",
            "top_terms", "vocab", "winnow", "zipf1", "zipf2",
        ],
        "stream_interval_join": ["dedup", "ijoin"],
        "temporal_ops": [
            "anomaly", "asof", "cohort", "conc", "decay", "funnel", "funnel3",
            "gaps", "gapsq", "markov", "range", "resample", "scd2", "slide",
            "topk", "treach", "twedge",
        ],
        "top_customers": [],
        "triangle_count": [
            "census_cyclic", "census_transitive", "lcc", "squares",
            "triangles",
        ],
        "union_overwrite": [],
        "update_edge_targets": [],
        "var_length_paths": ["several_1_3", "shortest", "unbounded"],
        "web_filter_ops": [
            "c4keep", "dline", "dup5", "gq", "keep", "lines", "robots",
            "span", "top2",
        ],
    }
    return {name: {"ops": tags, "oracle": name in oracles}
            for name, tags in ops.items()}
