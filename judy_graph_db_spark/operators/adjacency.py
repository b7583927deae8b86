"""Point lookups, scans, filters — SURVEY.md §2.4.

The reference's "physical operators" are judy probes: counter read + k
sequential lookups per (node, label) (``adjacentNodesByAttr``,
``FastAccess.hs:602-619``; ``lookupJudyNodes`` ``FastAccess.hs:624-634``).
Relationally they are all filters on the ``edges`` DataFrame keyed by
``src`` (+ ``label``) — Catalyst pushes these to the parquet scan, so the
"index" at scale is partitioning/clustering of ``edges`` on ``src``/``label``.

All functions take a Graph and return DataFrames (lazy); nothing collects.
"""

from __future__ import annotations

from typing import Callable, Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from judy_graph_db_spark.graph import Graph
from judy_graph_db_spark.schema import local_df, union_all


def _edge_filter(g: Graph, node_id: int | None = None, label: str | None = None,
                 is_back: bool | None = None) -> DataFrame:
    e = g.edges
    if node_id is not None:
        e = e.filter(F.col("src") == int(node_id))
    if label is not None:
        e = e.filter(F.col("label") == label)
    if is_back is not None:
        e = e.filter(F.col("is_back") == is_back)
    return e


def lookup_node_edge(g: Graph, node_id: int, label: str, edge_seq: int = 1) -> DataFrame:
    """Exact (node, edgeAttr) → target (``lookupNodeEdge``, ``FastAccess.hs:637-640``)."""
    return (
        _edge_filter(g, node_id, label)
        .filter(F.col("edge_seq") == int(edge_seq))
        .select("dst")
    )


def adjacent_node_by_attr(g: Graph, node_id: int, label: str, backwards: bool = False) -> DataFrame:
    """Single neighbor by exact attr + dir bit (``adjacentNodeByAttr``,
    ``FastAccess.hs:587-599``): the first-inserted edge of that label."""
    return (
        _edge_filter(g, node_id, label, is_back=backwards)
        .filter(F.col("edge_seq") == 1)
        .select("dst")
    )


def adjacent_nodes_by_attr(g: Graph, node_id: int, label: str, backwards: bool | None = False) -> DataFrame:
    """The flagship op (``adjacentNodesByAttr``, ``FastAccess.hs:602-619``):
    all neighbors of ``node_id`` over one edge label. The reference does
    counter + k probes; here it is one pushed-down filter."""
    return _edge_filter(g, node_id, label, is_back=backwards).select("dst", "edge_seq")


def adjacent_edges_by_attr(g: Graph, node_id: int, label: str, backwards: bool | None = None) -> DataFrame:
    """The edges (not targets) for (node, label) (``adjacentEdgesByAttr``,
    ``FastAccess.hs:401-409``, ``Enum.hs:269-281``)."""
    return _edge_filter(g, node_id, label, is_back=backwards).select("label", "edge_seq", "is_back")


def adjacent_edge_count(g: Graph, node_id: int | None = None, label: str | None = None) -> DataFrame:
    """Per-(node,label) degree (``adjacentEdgeCount``, ``Enum.hs:497-506`` —
    O(1) counter read there; a groupBy count here, or use :func:`degree_table`
    once and broadcast it)."""
    return (
        _edge_filter(g, node_id, label)
        .groupBy("src", "label")
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def degree_table(g: Graph, forward_only: bool = True) -> DataFrame:
    """Pre-aggregated degree per (src, label) — the scale replacement for the
    reference's O(1) counters: compute once, broadcast into planners."""
    e = g.edges.filter(~F.col("is_back")) if forward_only else g.edges
    return e.groupBy("src", "label").agg(F.count(F.lit(1)).alias("degree"))


def degree_histogram(g: Graph, forward_only: bool = True) -> DataFrame:
    """Log2-bucketed degree distribution per edge label — the first thing to
    look at before planning joins over an unknown 100 TB graph (bucket sizes
    expose skew; hub buckets drive salting / AQE skew-join decisions).
    ``bucket`` = bit-length of the degree (floor(log2)+1), computed as
    ``length(bin(degree))`` which is engine-portable and exact where float
    log2 is not. Returns ``(label, bucket, n_nodes, sum_degree)``."""
    deg = degree_table(g, forward_only)
    return (
        deg.groupBy(
            "label", F.length(F.bin(F.col("degree"))).cast("long").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("degree").cast("long").alias("sum_degree"),
        )
    )


def all_child_edges(g: Graph, node_id: int) -> DataFrame:
    """Enumerate all of a node's edges (``allChildEdges``, ``Enum.hs:303-310``;
    the reference needs the second judy array for this — a scan is free here)."""
    return _edge_filter(g, node_id).select("label", "edge_seq", "is_back")


def all_child_nodes(g: Graph, node_id: int) -> DataFrame:
    """All targets (``allChildNodes``, ``Enum.hs:315-321``)."""
    return _edge_filter(g, node_id).select("dst")


def all_children(g: Graph, node_id: int) -> DataFrame:
    """Edges and targets together (``allChilds``, ``Enum.hs:323-339``)."""
    return _edge_filter(g, node_id).select("label", "edge_seq", "is_back", "dst")


def all_child_nodes_from_edges(g: Graph, edge_keys: DataFrame) -> DataFrame:
    """Resolve (src,label,edge_seq) keys to targets without recomputation
    (``allChildNodesFromEdges``, ``Enum.hs:353-361``): a join on the key."""
    return edge_keys.join(g.edges, ["src", "label", "edge_seq"], "inner").select(
        "src", "label", "edge_seq", "dst"
    )


def adjacent_edges_by_index(g: Graph, node_id: int, start: int, end: int,
                            backwards: bool | None = None) -> DataFrame:
    """Walk the enumeration by index range (``adjacentEdgesByIndex``,
    ``Enum.hs:463-474``): ``edge_seq BETWEEN start AND end``."""
    return (
        _edge_filter(g, node_id, is_back=backwards)
        .filter(F.col("edge_seq").between(int(start), int(end)))
        .select("label", "edge_seq")
    )


def adjacent_nodes_by_index(g: Graph, node_id: int, start: int, end: int,
                            backwards: bool | None = None) -> DataFrame:
    """Same returning targets (``adjacentNodesByIndex``, ``Enum.hs:481-492``)."""
    return (
        _edge_filter(g, node_id, is_back=backwards)
        .filter(F.col("edge_seq").between(int(start), int(end)))
        .select("dst")
    )


def filter_edges_to(g: Graph, predicate: Column | Callable[[Column], Column]) -> DataFrame:
    """Keep edges whose *target* satisfies a predicate (``filterEdgesTo``,
    ``FastAccess.hs:414-420``). ``predicate`` is a Column expression over
    ``dst`` or a callable given the dst column."""
    cond = predicate(F.col("dst")) if callable(predicate) else predicate
    return g.edges.filter(cond)


def filter_edges_to_nodes(g: Graph, target_nodes: DataFrame) -> DataFrame:
    """Semi-join flavor: keep edges whose target is in ``target_nodes(id)``."""
    return g.edges.join(
        target_nodes.select(F.col(target_nodes.columns[0]).alias("dst")), "dst", "left_semi"
    )


def node_edges_scan(g: Graph) -> DataFrame:
    """All edge keys (``nodeEdgesJ``, ``FastAccess.hs:457-461``)."""
    return g.edges.select("src", "label", "edge_seq")


def target_nodes_scan(g: Graph) -> DataFrame:
    """All values (``targetNodesJ``, ``FastAccess.hs:463-467``)."""
    return g.edges.select("dst")


def nodes_scan(g: Graph) -> DataFrame:
    """All node ids, sources ++ targets with duplicates (``nodesJ``,
    ``FastAccess.hs:470-475``)."""
    return union_all([g.edges.select(F.col("src").alias("id")),
                      g.edges.select(F.col("dst").alias("id"))])


def get_node_edges(g: Graph) -> DataFrame:
    """Full (key,value) dump (``getNodeEdges``, ``FastAccess.hs:567-573``)."""
    return g.edges


def lookup_node(g: Graph, node_id: int) -> DataFrame:
    """Node id → rich label/props (``lookupNode``, ``JudyGraph.hs:404-409``)."""
    return g.nodes.filter(F.col("id") == int(node_id))


def lookup_edge(g: Graph, src: int, dst: int) -> DataFrame:
    """(n0,n1) → labels (``lookupEdge``, ``JudyGraph.hs:412-417``)."""
    return (
        g.edges.filter((F.col("src") == int(src)) & (F.col("dst") == int(dst)))
        .select("label", "labels", "edge_seq", "is_back")
    )


def node_elems(g: Graph) -> DataFrame:
    """All node labels (``nodeElems``, ``JudyGraph.hs:419-424``)."""
    return g.nodes.select("label")


def node_keys(g: Graph) -> DataFrame:
    """All node ids (``nodeKeys``, ``JudyGraph.hs:426-429``)."""
    return g.nodes.select("id")


def node_label(g: Graph, ids: DataFrame | Iterable[int], id_col: str = "id") -> DataFrame:
    """Node id → range label (``nodeLabel``, ``FastAccess.hs:658-667``)."""
    if not isinstance(ids, DataFrame):
        ids = local_df(g.spark, [(int(i),) for i in ids], f"{id_col} long")
    return g.with_node_labels(ids, id_col)


def all_attr_bases(g: Graph, node_id: int) -> tuple:
    """The edge labels valid for a node, from its range (``allAttrBases``,
    ``Enum.hs:342-349``): range dispatch on the id, then the range's declared
    edge-label list. Driver-side (ranges are tiny and broadcast anyway)."""
    label = g.ranges.label_of(int(node_id))
    if label is None:
        return ()
    return g.ranges.valid_edge_labels(label)


def has_node_attr(g: Graph, col: str, value) -> DataFrame:
    """Node-attr-bit test (``hasNodeAttr``, ``FastAccess.hs:479-481``) — the
    reference masks bits inside the node id; here attrs are plain columns, so
    this is a pushdown-able equality filter on ``nodes``."""
    return g.nodes.filter(F.col(col) == value)


def extr_attr(g: Graph, col: str) -> DataFrame:
    """Extract a node-attr column (``extrAttr``, ``FastAccess.hs:487-490``)."""
    return g.nodes.select("id", col)


def attr_overlap(g: Graph) -> DataFrame:
    """Validation: report (src,label,edge_seq,is_back) keys occurring more
    than once — the analog of the reference's attr/base collision check
    (``attrOverlap``, ``FastAccess.hs:730-742``)."""
    return (
        g.edges.groupBy("src", "label", "edge_seq", "is_back")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )
