from pyspark.sql import functions as F

from judy_graph_db_spark.operators import adjacency as adj
from tests.fixtures import f2_issue_tracker


def test_adjacent_nodes_by_attr(spark):
    g = f2_issue_tracker(spark)
    got = sorted(r.dst for r in adj.adjacent_nodes_by_attr(g, 0, "Raises").collect())
    assert got == [3, 4, 5, 6]


def test_adjacent_nodes_by_attr_backwards(spark):
    g = f2_issue_tracker(spark)
    got = sorted(r.dst for r in adj.adjacent_nodes_by_attr(g, 3, "Raises", backwards=True).collect())
    assert got == [0]


def test_adjacent_node_by_attr_first(spark):
    g = f2_issue_tracker(spark)
    got = [r.dst for r in adj.adjacent_node_by_attr(g, 0, "Raises").collect()]
    assert got == [3]  # first inserted


def test_lookup_node_edge(spark):
    g = f2_issue_tracker(spark)
    got = [r.dst for r in adj.lookup_node_edge(g, 0, "Raises", 2).collect()]
    assert got == [4]


def test_adjacent_edge_count(spark):
    g = f2_issue_tracker(spark)
    rows = adj.adjacent_edge_count(g, 0).collect()
    d = {r.label: r.degree for r in rows}
    assert d == {"Raises": 4, "Closes": 1, "BelongtsTO": 1}


def test_all_child_nodes_and_edges(spark):
    g = f2_issue_tracker(spark)
    targets = sorted(r.dst for r in adj.all_child_nodes(g, 4).collect())
    # fwd: References→3,6 ; back rows: Raises←0, Closes←5
    assert targets == [0, 3, 5, 6]
    edges = adj.all_child_edges(g, 4).collect()
    assert len(edges) == 4


def test_filter_edges_to(spark):
    g = f2_issue_tracker(spark)
    got = adj.filter_edges_to(g, F.col("dst") >= 6).filter(~F.col("is_back"))
    assert sorted((r.src, r.dst) for r in got.collect()) == [(0, 6), (1, 7), (4, 6)]


def test_scans(spark):
    g = f2_issue_tracker(spark)
    assert adj.node_edges_scan(g).count() == 22  # 11 fwd + 11 back
    assert adj.target_nodes_scan(g).count() == 22
    assert adj.nodes_scan(g).distinct().count() == 8


def test_adjacent_nodes_by_index(spark):
    g = f2_issue_tracker(spark)
    got = sorted(r.dst for r in adj.adjacent_nodes_by_index(g, 0, 2, 3, backwards=False).collect())
    assert got == [4, 5]  # Raises seq 2,3


def test_lookup_node_and_edge(spark):
    g = f2_issue_tracker(spark)
    assert adj.lookup_node(g, 7).collect()[0].label == "PULL_REQUEST"
    labels = {r.label for r in adj.lookup_edge(g, 0, 3).collect()}
    assert labels == {"Raises", "Closes"}


def test_attr_overlap_clean(spark):
    g = f2_issue_tracker(spark)
    assert adj.attr_overlap(g).count() == 0


def test_all_attr_bases_from_range(spark):
    g = f2_issue_tracker(spark)
    assert adj.all_attr_bases(g, 0) == ("Raises", "Accepts", "Closes", "BelongtsTO")
    assert adj.all_attr_bases(g, 3) == ("Closes", "References")
    assert adj.all_attr_bases(g, 999) == ()


def test_has_node_attr_and_extr_attr(spark):
    g = f2_issue_tracker(spark)
    assert adj.has_node_attr(g, "label", "ISSUE").count() == 4
    cols = adj.extr_attr(g, "label").columns
    assert cols == ["id", "label"]


def test_graph_create_materializes(spark):
    from judy_graph_db_spark import E, N, graph_create

    g = f2_issue_tracker(spark)
    g2 = graph_create(g, N(ids=[1]) >> E("Raises") >> N(ids=[6]))
    got = g2.edges.filter(
        (F.col("src") == 1) & (F.col("label") == "Raises") & (F.col("dst") == 6)
    )
    assert got.count() == 1


def test_reference_parity_scans_and_key_lookups(spark):
    g = f2_issue_tracker(spark)
    # adjacentEdgesByAttr: the four forward Raises edges of node 0
    got = sorted(tuple(r) for r in adj.adjacent_edges_by_attr(g, 0, "Raises").collect())
    assert got == [("Raises", s, False) for s in (1, 2, 3, 4)]
    # allChildNodesFromEdges: (src, label, edge_seq) keys resolve to targets
    keys = spark.createDataFrame([(0, "Raises", 2), (0, "Raises", 3)],
                                 "src long, label string, edge_seq int")
    got = sorted(tuple(r) for r in adj.all_child_nodes_from_edges(g, keys).collect())
    assert got == [(0, "Raises", 2, 4), (0, "Raises", 3, 5)]
    # filterEdgesTo, semi-join flavor: every row whose target is 6 or 7
    targets = spark.createDataFrame([(6,), (7,)], "id long")
    got = sorted((r.src, r.dst) for r in adj.filter_edges_to_nodes(g, targets).collect())
    assert got == [(0, 6), (1, 7), (4, 6)]
    # getNodeEdges / nodeElems / nodeKeys: full dumps
    assert adj.get_node_edges(g).count() == 22  # 11 fwd + 11 back
    assert sorted(r.label for r in adj.node_elems(g).collect()) == [
        "ISSUE"] * 4 + ["ORGANISATION"] + ["PROGRAMMER"] * 2 + ["PULL_REQUEST"]
    assert sorted(r.id for r in adj.node_keys(g).collect()) == list(range(8))
