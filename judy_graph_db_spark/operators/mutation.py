"""Insert / update / delete — SURVEY.md §2.2.

The reference mutates judy arrays in place with a per-(node,label) counter
(``insertNodeEdgeAttr``, ``FastAccess.hs:293-315``). DataFrames are
immutable, so every mutation returns a NEW Graph whose ``edges`` plan is the
old one plus a union/anti-join — cheap to declare, optimized by Catalyst,
and at scale realized as a MERGE into the storage table.

The union is :func:`~judy_graph_db_spark.schema.union_all`, not
``DataFrame.unionByName``: the latter rewrites the nested UNION ALLs
inside ``g.edges``'s plan, so a cached edge table no longer matched its
cache entry and every read of an edited graph re-ran the edge source from
its files. Through ``union_all`` the old edges are still read from the
cache, and only the edit batch is new work.

Every edit batch, key list and id list is a local relation
(:func:`~judy_graph_db_spark.schema.local_df`): it runs inside the JVM
and carries its exact size. So a small delete, update or overwrite joins
``edges`` with the literal as the broadcast side, and ``edges`` is not
shuffled. An append still aggregates the per-key ``edge_seq`` max over
``edges``.

Counter semantics reproduced (SURVEY.md §1.5):
- ``overwrite=False``: parallel edges with the same (src,label) are kept and
  enumerated — new edges get ``edge_seq = existing_count + k``.
- ``overwrite=True``: the first cell is replaced — the new edge takes
  ``edge_seq = 1`` and displaces any previous seq-1 edge
  (``FastAccess.hs:302-311``).
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from judy_graph_db_spark.graph import Graph
from judy_graph_db_spark.schema import EDGE_COLS, NODES_SCHEMA, local_df, union_all


def _edge_batch_df(g: Graph, edges: Sequence[tuple], is_back: bool = False) -> DataFrame:
    rows = []
    for i, (src, dst, lbls) in enumerate(edges):
        lbls = [lbls] if isinstance(lbls, str) else list(lbls)
        rows.append((int(src), int(dst), lbls[0], lbls, is_back, i))
    return local_df(
        g.spark, rows, "src long, dst long, label string, labels array<string>, is_back boolean, ins_order long"
    )


def insert_nodes(g: Graph, nodes: Sequence[tuple]) -> Graph:
    """Upsert node labels (``insertNode``/``insertNodes``,
    ``JudyGraph.hs:134-157``): new rows win over old on id collision."""
    rows = [(int(t[0]), str(t[1]) if t[1] is not None else None, t[2] if len(t) > 2 else None) for t in nodes]
    new = local_df(g.spark, rows, NODES_SCHEMA).withColumn("_pri", F.lit(1))
    old = g.nodes.withColumn("_pri", F.lit(0))
    w = Window.partitionBy("id").orderBy(F.col("_pri").desc())
    merged = (
        union_all([old, new], by_name=True)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_pri", "_rn")
    )
    return Graph(g.spark, merged, g.edges, g.ranges)


def insert_node_edges(g: Graph, edges: Sequence[tuple], overwrite: bool = False,
                      add_back_edges: bool = False) -> Graph:
    """Bulk labeled-edge insert (``insertNodeEdges``, ``FastAccess.hs:271-278``;
    single-edge ``insertNodeEdge`` ``FastAccess.hs:283-290`` is the len-1
    case). ``edges``: (src, dst, label-or-[labels]); multi-label rows are the
    orth overlay (stored as the array, not summed bits).
    """
    batch = _edge_batch_df(g, edges)
    if add_back_edges:
        back = batch.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"),
            "label", "labels", F.lit(True).alias("is_back"), "ins_order",
        )
        batch = union_all([batch, back], by_name=True)
    return insert_edges_df(g, batch, overwrite=overwrite)


def insert_edges_df(g: Graph, batch: DataFrame, overwrite: bool = False) -> Graph:
    """Core upsert (``insertNodeEdgeAttr``, ``FastAccess.hs:293-315``).

    Append mode: continue each (src,label,is_back) counter past the current
    max ``edge_seq``. Overwrite mode: the batch's last row per key becomes
    ``edge_seq=1``, displacing the previous first edge.
    """
    if "ins_order" not in batch.columns:
        batch = batch.withColumn("ins_order", F.monotonically_increasing_id())
    if "labels" not in batch.columns:
        batch = batch.withColumn("labels", F.array(F.col("label")))
    if "is_back" not in batch.columns:
        batch = batch.withColumn("is_back", F.lit(False))
    key = ["src", "label", "is_back"]

    if overwrite:
        # last write per key wins and lands at seq 1 (FastAccess.hs:302-311)
        w = Window.partitionBy(*key).orderBy(F.col("ins_order").desc())
        newest = (
            batch.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .withColumn("edge_seq", F.lit(1).cast("long"))
            .select(*EDGE_COLS)
        )
        old = g.edges.join(
            newest.select(*key, "edge_seq").withColumnRenamed("edge_seq", "edge_seq"),
            key + ["edge_seq"],
            "left_anti",
        )
        merged = union_all([old, newest], by_name=True)
        return Graph(g.spark, g.nodes, merged, g.ranges)

    # append: offset new seqs by the existing per-key count
    counts = g.edges.groupBy(*key).agg(F.max("edge_seq").alias("_base"))
    w = Window.partitionBy(*key).orderBy("ins_order")
    new = (
        batch.join(counts, key, "left")
        .withColumn("_base", F.coalesce(F.col("_base"), F.lit(0)))
        .withColumn("edge_seq", (F.col("_base") + F.row_number().over(w)).cast("long"))
        .select(*EDGE_COLS)
    )
    return Graph(g.spark, g.nodes, union_all([g.edges, new], by_name=True), g.ranges)


def update_node_edges(g: Graph, updates: Sequence[tuple]) -> Graph:
    """Overwrite the target of existing (node, label, seq) keys
    (``updateNodeEdges``, ``FastAccess.hs:442-448``).
    ``updates``: (src, label, edge_seq, new_dst)."""
    upd = local_df(
        g.spark, [(int(s), str(l), int(q), int(d)) for s, l, q, d in updates],
        "src long, label string, edge_seq long, new_dst long",
    )
    key = ["src", "label", "edge_seq"]
    merged = (
        g.edges.join(upd, key, "left")
        .withColumn("dst", F.coalesce(F.col("new_dst"), F.col("dst")))
        .drop("new_dst")
        .select(*EDGE_COLS)
    )
    return Graph(g.spark, g.nodes, merged, g.ranges)


def delete_nodes(g: Graph, node_ids: Iterable[int]) -> Graph:
    """Remove nodes and all incident edges (``deleteNode``/``deleteNodes``,
    ``FastAccess.hs:351-358`` — the reference's version is a near-no-op on
    judy; ours actually deletes). Anti-join on the id list."""
    ids = local_df(g.spark, [(int(i),) for i in node_ids], "id long")
    nodes = g.nodes.join(ids, "id", "left_anti")
    edges = (
        g.edges.join(ids.withColumnRenamed("id", "src"), "src", "left_anti")
        .join(ids.withColumnRenamed("id", "dst"), "dst", "left_anti")
        .select(*EDGE_COLS)
    )
    return Graph(g.spark, nodes, edges, g.ranges)


def delete_edges(g: Graph, pairs: Sequence[tuple]) -> Graph:
    """Delete edges n0→n1 (``deleteEdge``/``deleteEdges``,
    ``FastAccess.hs:364-376``): anti-join on the (src,dst) pair list; the
    materialized reverse rows are removed too (the reference leaves them as
    planned lookup failures, ``FastAccess.hs:550-556``). Only the forward
    n0→n1 row (``is_back=False``) and its own back row (``is_back=True`` at
    n1→n0) are deleted — an independent forward edge n1→n0 is untouched
    (``FastAccess.hs:364-369`` keys the delete on the n0 side only)."""
    p = local_df(g.spark, [(int(a), int(b)) for a, b in pairs], "src long, dst long")
    fwd = p.withColumn("is_back", F.lit(False))
    rev = p.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), F.lit(True).alias("is_back")
    )
    edges = (
        g.edges.join(fwd, ["src", "dst", "is_back"], "left_anti")
        .join(rev, ["src", "dst", "is_back"], "left_anti")
        .select(*EDGE_COLS)
    )
    return Graph(g.spark, g.nodes, edges, g.ranges)


def delete_edge_keys(g: Graph, keys: Sequence[tuple]) -> Graph:
    """Delete explicit (src,label,edge_seq) keys (``deleteNodeEdgeListJ/E``,
    ``FastAccess.hs:557-561``, ``Enum.hs:449-453``)."""
    k = local_df(
        g.spark, [(int(s), str(l), int(q)) for s, l, q in keys], "src long, label string, edge_seq long"
    )
    edges = g.edges.join(k, ["src", "label", "edge_seq"], "left_anti").select(*EDGE_COLS)
    return Graph(g.spark, g.nodes, edges, g.ranges)


def map_nodes(g: Graph, fn, with_id: bool = False) -> Graph:
    """Map a Column function over node labels/props (``mapNodeJ`` /
    ``mapNodeWithKeyJ``, ``FastAccess.hs:518-547``). ``fn`` receives the
    label column (and the id column when ``with_id``) and returns the new
    label column."""
    if with_id:
        new_label = fn(F.col("label"), F.col("id"))
    else:
        new_label = fn(F.col("label"))
    nodes = g.nodes.withColumn("label", new_label)
    return Graph(g.spark, nodes, g.edges, g.ranges)
