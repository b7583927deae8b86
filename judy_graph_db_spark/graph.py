"""The Graph container: nodes/edges/ranges DataFrames.

Replaces all three reference graph variants with one relational design
(SURVEY.md §1.2):

- ``JGraph``/``EnumGraph`` (judy arrays, ``FastAccess.hs:154-160``,
  ``Enum.hs:65-74``) → the ``edges`` DataFrame. The enumeration array is not
  needed: a relational scan/groupBy enumerates edges for free, and
  ``edge_seq`` preserves insertion order.
- ``PersistentGraph`` (LMDB node/edge label DBs, ``JudyGraph.hs:99-113``) →
  ``props`` map column on ``nodes`` + parquet persistence (`Graph.save` /
  `Graph.load`).

Scale notes: ``edges`` is the only big table. All adjacency ops are
filters/joins keyed on ``src`` (and ``label``), so for 100 TB deployments the
edges table should be written partitioned/bucketed by ``src`` (see
``save(bucket_by_src=True)``) — the parquet min/max stats then replace the
reference's judy "index" (counter + contiguous enumeration,
``FastAccess.hs:602-634``). ``ranges`` is tiny and always broadcast.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from judy_graph_db_spark.schema import (EDGES_SCHEMA, NODES_SCHEMA, RANGES_SCHEMA, EDGE_COLS,
                                        local_df, union_all)


@dataclass(frozen=True)
class Ranges:
    """Node-id range → label dispatch table (``rangesJ``, ``FastAccess.hs:157-158``).

    A node's label is the range its id falls in (``nodeLabel``,
    ``FastAccess.hs:658-667``; ``inRange``, ``Enum.hs:364-369``); each range
    declares which edge labels may leave its nodes (used by unlabeled
    traversal, ``allAttrBases``, ``Enum.hs:342-349``).
    """

    entries: tuple = field(default_factory=tuple)  # ((start, length, label, (edge_labels...)), ...)

    @staticmethod
    def of(*entries: tuple) -> "Ranges":
        norm = tuple(
            (int(s), int(ln), str(lbl), tuple(els if els is not None else ()))
            for (s, ln, lbl, els) in entries
        )
        return Ranges(norm)

    def to_df(self, spark: SparkSession) -> DataFrame:
        rows = [(s, ln, lbl, list(els)) for (s, ln, lbl, els) in self.entries]
        return local_df(spark, rows, RANGES_SCHEMA)

    def label_of(self, node_id: int) -> str | None:
        for s, ln, lbl, _ in self.entries:
            if s <= node_id < s + ln:
                return lbl
        return None

    def valid_edge_labels(self, node_label: str) -> tuple:
        for _, _, lbl, els in self.entries:
            if lbl == node_label:
                return els
        return ()


class Graph:
    """Property graph over DataFrames.

    ``nodes(id, label, props)``, ``edges(src, dst, label, labels, is_back,
    edge_seq)``, ``ranges`` broadcast table. Directed input edges are stored
    as a forward row (``is_back=False``) plus, when back-traversal is wanted,
    a reversed row with ``is_back=True`` (the reference's back-bit,
    ``FastAccess.hs:149-150``). Undirected input edges are two forward rows,
    exactly like ``fromList`` (``FastAccess.hs:253-258``).
    """

    def __init__(
        self,
        spark: SparkSession,
        nodes: DataFrame,
        edges: DataFrame,
        ranges: Ranges | None = None,
    ) -> None:
        self.spark = spark
        self.nodes = nodes
        self.edges = edges
        self.ranges = ranges or Ranges()
        self._label_counts: dict | None = None
        self._label_edge_counts: dict | None = None

    def label_counts(self) -> dict:
        """Per-label node counts — the engine's table statistics (the
        replacement for the reference's 3-bucket cost model,
        ``compl`` ``Cypher.hs:575-583``). Computed once per Graph (one
        groupBy over ``nodes``, the ANALYZE step) and cached; the planner
        (``table(quick=False)``) reads it to seed the join chain from the
        genuinely cheaper end."""
        if self._label_counts is None:
            self._label_counts = {
                r["label"]: r["n"]
                for r in self.nodes.groupBy("label")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
        return self._label_counts

    def label_edge_counts(self) -> dict:
        """Per-node-label OUTGOING edge counts (back rows included, so an
        undirected incidence counts from both sides) — the fan-out half
        of the planner's statistics: a label with few nodes but huge
        degree is a BAD seed because its first hop explodes, which node
        counts alone cannot see. One degree pre-aggregation + distributed
        label join, computed once per Graph and cached like
        :meth:`label_counts`."""
        if self._label_edge_counts is None:
            # pre-aggregate edges to per-src degrees (edge scan with
            # map-side combine), then a plain distributed join to labels
            # — NO broadcast of the node-sized relation; only the
            # |labels|-row result reaches the driver
            deg = self.edges.groupBy(F.col("src").alias("id")).agg(
                F.count(F.lit(1)).alias("_d"))
            lab = self.nodes.select("id", F.col("label").alias("_nl"))
            self._label_edge_counts = {
                r["_nl"]: r["n"]
                for r in deg.join(lab, "id")
                .groupBy("_nl").agg(F.sum("_d").alias("n"))
                .collect()
            }
        return self._label_edge_counts

    # ------------------------------------------------------------------ build

    @classmethod
    def empty(cls, spark: SparkSession, ranges: Ranges | None = None) -> "Graph":
        """``empty``/``emptyJ``/``emptyE`` (``FastAccess.hs:240-245``, ``Enum.hs:96-100``)."""
        return cls(
            spark,
            local_df(spark, [], NODES_SCHEMA),
            local_df(spark, [], EDGES_SCHEMA),
            ranges,
        )

    @classmethod
    def from_lists(
        cls,
        spark: SparkSession,
        nodes: Sequence[tuple] = (),
        directed_edges: Sequence[tuple] = (),
        undirected_edges: Sequence[tuple] = (),
        ranges: Ranges | None = None,
        add_back_edges: bool = True,
    ) -> "Graph":
        """``fromList`` (``FastAccess.hs:247-258``, ``Enum.hs:103-114``).

        nodes: (id, label) or (id, label, props-dict).
        edges: (src, dst, label) or (src, dst, [labels]) — multi-label =
        orthogonal overlay (``insertNodeEdges`` summing attr bits,
        ``FastAccess.hs:271-278``); we keep the full set in ``labels``.
        Directed edges get a reversed ``is_back`` row when
        ``add_back_edges`` (back-traversability); undirected edges get two
        plain forward rows.
        """
        node_rows = []
        for t in nodes:
            nid, lbl = t[0], t[1]
            props = t[2] if len(t) > 2 else None
            node_rows.append((int(nid), str(lbl) if lbl is not None else None, props))
        nodes_df = local_df(spark, node_rows, NODES_SCHEMA)

        def expand(raw: Sequence[tuple], undirected: bool) -> list[tuple]:
            rows = []
            for src, dst, lbls in raw:
                lbls = [lbls] if isinstance(lbls, str) else list(lbls)
                primary = lbls[0]
                rows.append((int(src), int(dst), primary, lbls, False))
                if undirected:
                    rows.append((int(dst), int(src), primary, lbls, False))
                elif add_back_edges:
                    rows.append((int(dst), int(src), primary, lbls, True))
            return rows

        edge_rows = expand(directed_edges, False) + expand(undirected_edges, True)
        g = cls(spark, nodes_df, local_df(spark, [], EDGES_SCHEMA), ranges)
        if edge_rows:
            raw = local_df(
                spark, edge_rows, "src long, dst long, label string, labels array<string>, is_back boolean"
            ).withColumn("ins_order", F.monotonically_increasing_id())
            g.edges = _assign_edge_seq(raw).select(*EDGE_COLS)
        return g

    @classmethod
    def from_edges(
        cls,
        spark: SparkSession,
        edges: DataFrame,
        nodes: DataFrame | None = None,
        ranges: Ranges | None = None,
        order_col: str | None = None,
    ) -> "Graph":
        """Build from an arbitrary edges DataFrame with at least (src, dst).

        Missing canonical columns are filled in; ``edge_seq`` is assigned by
        ``order_col`` (or input order) per (src, label, is_back) — the
        deterministic replacement for the reference's insertion counter
        (SURVEY.md §1.5).
        """
        e = edges
        if "label" not in e.columns:
            e = e.withColumn("label", F.lit("EDGE"))
        if "labels" not in e.columns:
            e = e.withColumn("labels", F.array(F.col("label")))
        if "is_back" not in e.columns:
            e = e.withColumn("is_back", F.lit(False))
        e = e.withColumn("src", F.col("src").cast("long")).withColumn("dst", F.col("dst").cast("long"))
        if "edge_seq" not in e.columns:
            e = e.withColumn(
                "ins_order", F.col(order_col) if order_col else F.monotonically_increasing_id()
            )
            e = _assign_edge_seq(e)
        e = e.select(*EDGE_COLS)
        if nodes is None:
            nodes = local_df(spark, [], NODES_SCHEMA)
        return cls(spark, nodes, e, ranges)

    # ------------------------------------------------------------- accessors

    def is_null(self) -> bool:
        """``isNull`` (``FastAccess.hs:266``)."""
        return self.edges.isEmpty() and self.nodes.isEmpty()

    def node_count(self) -> int:
        """``nodeCount`` (``FastAccess.hs:422-425``)."""
        n = self.nodes.count()
        if n:
            return n
        return union_all([self.edges.select(F.col("src").alias("id")),
                          self.edges.select(F.col("dst").alias("id"))]).distinct().count()

    def ranges_df(self) -> DataFrame:
        return self.ranges.to_df(self.spark)

    def register_views(self, prefix: str = "g") -> None:
        """Expose the graph as SQL temp views ``<prefix>_nodes``,
        ``<prefix>_edges``, ``<prefix>_ranges`` so plain ``spark.sql``
        users can query it relationally (the property-graph tables ARE
        the engine's data model — SURVEY §1.2; the reference's EDSL-only
        surface has no SQL door at all). Views are session-scoped and
        zero-copy: they name the live DataFrames, so Catalyst prunes/
        pushes down through them exactly as through the Python API."""
        self.nodes.createOrReplaceTempView(f"{prefix}_nodes")
        self.edges.createOrReplaceTempView(f"{prefix}_edges")
        self.ranges_df().createOrReplaceTempView(f"{prefix}_ranges")

    def with_node_labels(self, df: DataFrame, id_col: str, out_col: str = "label") -> DataFrame:
        """Range-dispatch labels onto an id column (``nodeLabel``,
        ``FastAccess.hs:658-667``): broadcast range join, first matching range.
        """
        r = F.broadcast(self.ranges_df())
        joined = df.join(
            r,
            (df[id_col] >= r.range_start) & (df[id_col] < r.range_start + r.range_len),
            "left",
        )
        return joined.select(*df.columns, r["label"].alias(out_col))

    # ------------------------------------------------------------ set ops

    def union(self, other: "Graph") -> "Graph":
        """Graph union with the reference's overwrite rule: on a colliding
        edge key (src, label, edge_seq, is_back) the *other* graph's target
        wins (``union`` inserts the smaller judy into the bigger —
        values overwrite, ``FastAccess.hs:381-393``). Ranges of self kept.
        """
        left = self.edges.withColumn("_pri", F.lit(0))
        right = other.edges.withColumn("_pri", F.lit(1))
        key = ["src", "label", "edge_seq", "is_back"]
        w = Window.partitionBy(*key).orderBy(F.col("_pri").desc())
        merged = (
            union_all([left, right], by_name=True)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(*EDGE_COLS)
        )
        nodes = union_all([self.nodes, other.nodes], by_name=True).dropDuplicates(["id"])
        return Graph(self.spark, nodes, merged, self.ranges)

    def intersect_edges(self, other: "Graph") -> "Graph":
        """Parity-plus: edge-set intersection (not in the reference —
        discussed only as an application, ``test/examples/SortNodes.hs:27-33``)."""
        merged = self.edges.intersect(other.edges)
        return Graph(self.spark, self.nodes, merged, self.ranges)

    def except_edges(self, other: "Graph") -> "Graph":
        merged = self.edges.exceptAll(other.edges)
        return Graph(self.spark, self.nodes, merged, self.ranges)

    # --------------------------------------------------------- persistence

    def save(self, path: str, mode: str = "overwrite", bucket_by_src: bool = False,
             fmt: str = "parquet",
             partition_by: tuple[str, ...] | None = None) -> None:
        """Persist (``listToDB``/``emptyDB``, ``JudyGraph.hs:160-192``).
        ``fmt`` is any Spark batch format with min/max column statistics —
        ``parquet`` (default) or ``orc``. At scale pass
        ``bucket_by_src=True`` to write ``edges`` repartitioned on ``src``
        so adjacency filters prune files, and/or
        ``partition_by=("label",)`` for hive-style directory partitioning:
        a label-filtered pattern hop then prunes whole directories at file
        listing (``PartitionFilters`` in the scan) — at 100 TB, a
        one-label query reads 1/|labels| of the files before any row-group
        stats apply. The two compose (directories by label, files
        clustered by src within each)."""
        e = self.edges
        if bucket_by_src:
            # hash-distribute by src and sort inside each file: row-group /
            # stripe min/max stats on (src, label) then prune point
            # lookups and adjacency scans — the on-disk replacement for the
            # reference's judy index (FastAccess.hs:602-634)
            e = e.repartition("src").sortWithinPartitions("src", "label")
        ew = e.write.mode(mode).format(fmt)
        if partition_by:
            ew = ew.partitionBy(*partition_by)
        ew.save(os.path.join(path, "edges"))
        self.nodes.write.mode(mode).format(fmt).save(os.path.join(path, "nodes"))
        self.ranges_df().write.mode(mode).format(fmt).save(
            os.path.join(path, "ranges"))

    def save_table(self, name: str, buckets: int = 0, mode: str = "overwrite") -> None:
        """Persist as catalog tables ``{name}_edges/_nodes/_ranges``. With
        ``buckets`` > 0 the edges table is hash-bucketed AND sorted on
        ``src`` — the cluster-scale layout: every join or aggregation keyed
        on ``src`` (pattern hops, degree rollups, adjacency batches) then
        reads co-located buckets and skips the shuffle entirely
        (``test_plans.test_bucketed_edges_join_has_no_exchange``)."""
        w = self.edges.write.mode(mode).format("parquet")
        if buckets:
            w = w.bucketBy(buckets, "src").sortBy("src", "label")
        w.saveAsTable(f"{name}_edges")
        self.nodes.write.mode(mode).format("parquet").saveAsTable(f"{name}_nodes")
        self.ranges_df().write.mode(mode).format("parquet").saveAsTable(f"{name}_ranges")

    @classmethod
    def from_table(cls, spark: SparkSession, name: str) -> "Graph":
        """Reopen a graph persisted by :meth:`save_table` (bucketing
        metadata comes back from the catalog, so downstream joins keep the
        co-location guarantee)."""
        edges = spark.table(f"{name}_edges")
        nodes = spark.table(f"{name}_nodes")
        rows = spark.table(f"{name}_ranges").collect()
        ranges = Ranges.of(*[(r.range_start, r.range_len, r.label, tuple(r.valid_edge_labels or ())) for r in rows])
        return cls(spark, nodes, edges, ranges)

    @classmethod
    def load(cls, spark: SparkSession, path: str, fmt: str = "parquet") -> "Graph":
        """Reopen a persisted graph (``fromDB``, ``JudyGraph.hs:195-203`` —
        which the reference left TODO; here it fully restores)."""
        edges = spark.read.format(fmt).load(os.path.join(path, "edges"))
        if set(EDGE_COLS) <= set(edges.columns):
            # partitioned layouts read partition columns back LAST —
            # restore the canonical order so positional set ops
            # (intersect/exceptAll) still line up across graphs
            extras = [c for c in edges.columns if c not in EDGE_COLS]
            edges = edges.select(*EDGE_COLS, *extras)
        nodes = spark.read.format(fmt).load(os.path.join(path, "nodes"))
        rows = spark.read.format(fmt).load(os.path.join(path, "ranges")).collect()
        ranges = Ranges.of(*[(r.range_start, r.range_len, r.label, tuple(r.valid_edge_labels or ())) for r in rows])
        return cls(spark, nodes, edges, ranges)

    # ------------------------------------------------------------- export

    def to_dot(self, max_edges: int = 10000) -> str:
        """Graphviz DOT rendering (``Show EnumGraph``, ``Enum.hs:78-91``).
        Driver-side utility — collects up to ``max_edges`` forward edges."""
        rows = self.edges.filter(~F.col("is_back")).limit(max_edges).collect()
        lines = ["digraph G {"]
        for r in rows:
            lines.append(f'  {r.src} -> {r.dst} [label="{r.label}"];')
        lines.append("}")
        return "\n".join(lines)

    def debug_to_csv(self, path: str, mode: str = "overwrite") -> None:
        """``debugToCSV`` sink (``FastAccess.hs:719-724``)."""
        self.edges.write.mode(mode).option("header", True).csv(path)

    def cache(self) -> "Graph":
        self.nodes = self.nodes.cache()
        self.edges = self.edges.cache()
        return self


def _assign_edge_seq(e: DataFrame) -> DataFrame:
    """1-based per-(src,label,is_back) insertion index (the parallel-edge
    counter, ``insertNodeEdgeAttr``, ``FastAccess.hs:293-315``). Deterministic
    under distribution because it orders by an explicit ``ins_order`` column,
    not wall-clock."""
    w = Window.partitionBy("src", "label", "is_back").orderBy("ins_order")
    return e.withColumn("edge_seq", F.row_number().over(w).cast("long"))
