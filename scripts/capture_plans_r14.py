#!/usr/bin/env python
"""Capture .explain('formatted') for the r14-touched queries/operators,
writing plans/r14/<name>_<tag>.txt. Tag comes from argv[1] (before/after).

Covers the heavy bench entries' DataFrames (the operator output whose
materialization the bench times) and the touched declared gates.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window
from pyspark.sql import functions as F

from judy_graph_db_spark.session import get_spark
from judy_graph_db_spark.sources.tpch_graph import B, load_tpch_views

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
TAG = sys.argv[1] if len(sys.argv) > 1 else "before"
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "plans", "r14")
ONLY = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None


def dump(name, df):
    if ONLY is not None and name not in ONLY:
        return
    path = os.path.join(OUT, f"{name}_{TAG}.txt")
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    with open(path, "w") as f:
        f.write(plan)
    print(f"wrote {path} ({len(plan)} bytes)")


def main():
    os.makedirs(OUT, exist_ok=True)
    spark = get_spark("plans-r14")
    spark.sparkContext.setLogLevel("ERROR")
    load_tpch_views(spark, SF)

    from judy_graph_db_spark.operators import analytics as AN
    from judy_graph_db_spark.sources.tpch_graph import tpch_graph

    g = tpch_graph(spark, SF)
    dump("miw_load_edges", g.edges)

    g.edges = g.edges.cache()
    g.edges.count()
    fwd = g.edges.filter(~F.col("is_back"))
    chains = fwd.filter(F.col("label") == "NEXT_ORDER")
    orders = spark.table("orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.struct("o_orderdate", "o_orderkey")).alias("_fst"),
        F.max(F.struct("o_orderdate", "o_orderkey")).alias("_lst"),
    )
    closing = per_cust.filter(
        (F.col("o_custkey") % 2 == 0) & (F.col("n") >= 2)).select(
        (F.col("_lst.o_orderkey") + 5 * B).alias("src"),
        (F.col("_fst.o_orderkey") + 5 * B).alias("dst"),
    )
    directed = chains.select("src", "dst").unionByName(closing)

    # one forward BFS level + one backward level of the sampled
    # betweenness machinery (the loop bodies the bench entries repeat)
    from judy_graph_db_spark.operators.analytics import _frontier_bfs

    e = (chains.filter(F.col("src") != F.col("dst"))
         .select("src", "dst").distinct().localCheckpoint(eager=True))
    nodes = (e.select(F.col("src").alias("id"))
             .unionByName(e.select(F.col("dst").alias("id"))).distinct())
    pick = nodes.orderBy(
        F.md5(F.concat_ws("|", F.lit("piv0"),
                          F.col("id").cast("string"))).asc(),
        F.col("id").asc()).limit(16).localCheckpoint(eager=True)
    sp = _frontier_bfs(e, pick.select(F.col("id").alias("s"), "id",
                                      F.lit(1).cast("long").alias("sigma")),
                       3, F.sum("sigma").alias("sigma"))
    if isinstance(sp, tuple):  # after: (slices, counts)
        slices, counts = sp
        lvl = slices[-1]
        ej = e.withColumnRenamed("src", "id")
        fr = F.broadcast(lvl) if counts[-1] <= 1_000_000 else lvl
        one_level = (fr.join(ej, "id")
                     .select("s", F.col("dst").alias("id"), "sigma")
                     .groupBy("s", "id").agg(F.sum("sigma").alias("sigma")))
    else:
        lvl = sp.filter(F.col("depth") == 3).select("s", "id", "sigma")
        one_level = (lvl.join(e.withColumnRenamed("src", "id"), "id")
                     .select("s", F.col("dst").alias("id"), "sigma")
                     .groupBy("s", "id").agg(F.sum("sigma").alias("sigma")))
    dump("pivot_bfs_level", one_level)

    # exact closure round body (shortest_path_counts round)
    dump("shortest_path_counts", AN.shortest_path_counts(
        chains.limit(0).unionByName(chains).filter(F.col("src") % 100 == 0),
        max_iter=2))

    # whole-operator plans (post-loop result plans)
    dump("connected_components", AN.connected_components(chains))
    dump("scc", AN.strongly_connected_components(directed))
    dump("closure_doubling", AN.transitive_closure(chains))
    dump("pagerank_3it", AN.pagerank(fwd, iters=3))
    dump("triangle_count", AN.triangle_count(fwd))

    wnd = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wch = orders.select(
        (F.col("o_orderkey") + 5 * B).alias("src"),
        (F.lead("o_orderkey").over(wnd) + 5 * B).alias("dst"),
        (F.datediff(F.lead("o_orderdate").over(wnd), F.col("o_orderdate"))
         .cast("long") * 10_000_000
         + F.col("o_orderkey") % 10_000_000).alias("weight"),
    ).filter(F.col("dst").isNotNull())
    wcl = closing.select("src", "dst",
                         (F.col("src") % 10_000_000).alias("weight"))
    dump("min_spanning_forest", AN.minimum_spanning_forest(
        wch.unionByName(wcl)))

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    docs = spark.table("documents").repartition(cpus).cache()
    docs.count()
    from judy_graph_db_spark.operators import curation as CU
    from judy_graph_db_spark.operators import stats as ST

    fdocs = docs.withColumn(
        "url", F.concat(F.lit("http://d"),
                        (F.col("doc_id") % 37).cast("string"),
                        F.lit("-site.com/p/"),
                        F.col("doc_id").cast("string")))
    dump("web_funnel", CU.web_corpus_funnel(
        fdocs, blocked_domains=("d3-site.com", "d7-site.com"),
        url_col="url",
        gopher_kwargs={"min_words": 20, "min_stop_hits": 0}).filter("keep"))

    from judy_graph_db_spark.operators import unigram as UNI
    from judy_graph_db_spark.operators import wordpiece as WP

    wp_vocab = WP.wordpiece_vocab_from_pieces(
        UNI.unigram_seed_vocab(docs, max_piece_len=4, seed_size=512))
    emit_vocab = wp_vocab.withColumn(
        "token_id", F.row_number().over(Window.orderBy("piece")).cast("long"))
    dump("emit_sequences", CU.emit_training_sequences(
        WP.wordpiece_encode(docs, wp_vocab, max_piece_len=4),
        emit_vocab, seq_len=1024))

    # perceptron: the per-iteration mis/delta relations
    labels = docs.select(
        "doc_id", (F.col("lang") == "en").cast("int").alias("label"))
    f = ST.hashed_tf(docs, n_features=1024).join(
        labels.select("doc_id",
                      (F.col("label").cast("long") * 2 - 1).alias("y")),
        "doc_id")
    wdf = spark.createDataFrame([(0, 0)], "bucket long, w long")
    scores = (f.join(F.broadcast(wdf), "bucket", "left")
              .groupBy("doc_id", "y")
              .agg(F.coalesce(F.sum(F.col("tf") * F.col("w")),
                              F.lit(0)).alias("s")))
    mis = scores.filter(F.col("y") * F.col("s") <= 0)
    delta = (f.join(mis.select("doc_id"), "doc_id", "left_semi")
             .groupBy("bucket").agg(F.sum(F.col("y") * F.col("tf")).alias("d")))
    dump("perceptron_delta", delta)

    print("done")


if __name__ == "__main__":
    main()
