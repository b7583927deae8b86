#!/usr/bin/env python
"""Round-14 profiling harness (guide §1): time the phases of the heavy
bench entries at sf0.1 with labeled jobs, and dump per-phase wall times.
Diagnostic only — not part of the bench contract.

Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python scripts/profile_r14.py <what>
where <what> in: gn, eb, scc, cc, closure, msf, miw, funnel, perceptron,
emit, unigram, pagerank, onion, triangles
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window
from pyspark.sql import functions as F

from judy_graph_db_spark.session import get_spark
from judy_graph_db_spark.sources.tpch_graph import B, load_tpch_views

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def tsec(label, fn):
    t0 = time.time()
    out = fn()
    dt = time.time() - t0
    print(f"[{dt:7.2f}s] {label}", flush=True)
    return out


def graph_fixtures(spark):
    from judy_graph_db_spark.sources.tpch_graph import tpch_graph

    g = tpch_graph(spark, SF)
    g.edges = g.edges.cache()
    tsec("edges cache+count", lambda: g.edges.count())
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
    return g, fwd, chains, orders, closing


def main():
    what = sys.argv[1] if len(sys.argv) > 1 else "gn"
    spark = get_spark("profile-r14")
    spark.sparkContext.setLogLevel("ERROR")
    load_tpch_views(spark, SF)
    from judy_graph_db_spark.operators import analytics as AN

    if what in ("gn", "eb", "nb", "scc", "cc", "closure", "msf", "pagerank",
                "onion", "triangles", "matching"):
        g, fwd, chains, orders, closing = graph_fixtures(spark)
        directed = chains.select("src", "dst").unionByName(closing)

    if what == "gn":
        # phase-by-phase replica of one sampled GN round
        e0 = tsec("e0 ckpt", lambda: chains.select("src", "dst")
                  .localCheckpoint(eager=True))
        und0 = e0.filter(F.col("src") != F.col("dst"))
        und0 = tsec("und ckpt", lambda: und0.union(
            und0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct().localCheckpoint(eager=True))
        from judy_graph_db_spark.operators.analytics import (
            _brandes_backward, _frontier_bfs)

        try:
            from judy_graph_db_spark.operators.analytics import _prep_edge_rel
            e = tsec("edge prep", lambda: _prep_edge_rel(und0))
        except ImportError:
            e = tsec("dedup ckpt",
                     lambda: und0.filter(F.col("src") != F.col("dst"))
                     .select("src", "dst").distinct()
                     .localCheckpoint(eager=True))
        nodes = (e.select(F.col("src").alias("id"))
                 .unionByName(e.select(F.col("dst").alias("id"))).distinct())
        n = tsec("node count", lambda: nodes.count())
        pick = tsec("pivots", lambda: nodes.orderBy(
            F.md5(F.concat_ws("|", F.lit("piv0"),
                              F.col("id").cast("string"))).asc(),
            F.col("id").asc()).limit(16).localCheckpoint(eager=True))
        sp = tsec("sigma BFS (9 levels)",
                  lambda: _frontier_bfs(
                      e, pick.select(F.col("id").alias("s"), "id",
                                     F.lit(1).cast("long").alias("sigma")),
                      9, F.sum("sigma").alias("sigma")))
        if isinstance(sp, tuple):
            slices, cnts = sp
            parts = tsec("brandes backward",
                         lambda: _brandes_backward(slices, cnts, e,
                                                   want_edges=True))
        else:
            parts = tsec("brandes backward",
                         lambda: _brandes_backward(sp, e, want_edges=True))
        _, eparts = parts
        acc = eparts[0]
        for p in eparts[1:]:
            acc = acc.unionByName(p)
        eb = acc.groupBy("src", "dst").agg(
            (F.sum("delta") * F.lit(float(n) / 16)).alias("betweenness")) \
            .filter(F.col("betweenness") > 0)
        ebm = F.round(F.col("betweenness") * 1e6).cast("long")
        tsec("argmax collect", lambda: eb.filter(F.col("src") < F.col("dst"))
             .orderBy(ebm.desc(), F.col("src").asc(), F.col("dst").asc())
             .limit(1).collect())

    elif what == "eb":
        eb_sources = chains.select(F.col("src").alias("id")) \
            .filter(F.col("id") % 20 == 0).distinct()
        tsec("edge_betweenness_h8 total", lambda: AN.edge_betweenness(
            chains, sources=eb_sources, max_iter=8).count())

    elif what == "scc":
        tsec("scc total", lambda: AN.strongly_connected_components(
            directed).count())

    elif what == "cc":
        tsec("cc total", lambda: AN.connected_components(chains).count())

    elif what == "closure":
        tsec("closure total", lambda: AN.transitive_closure(chains).count())

    elif what == "msf":
        wnd = Window.partitionBy("o_custkey").orderBy(
            "o_orderdate", "o_orderkey")
        wch = orders.select(
            (F.col("o_orderkey") + 5 * B).alias("src"),
            (F.lead("o_orderkey").over(wnd) + 5 * B).alias("dst"),
            (F.datediff(F.lead("o_orderdate").over(wnd),
                        F.col("o_orderdate"))
             .cast("long") * 10_000_000
             + F.col("o_orderkey") % 10_000_000).alias("weight"),
        ).filter(F.col("dst").isNotNull())
        wcl = closing.select("src", "dst",
                             (F.col("src") % 10_000_000).alias("weight"))
        tsec("msf total", lambda: AN.minimum_spanning_forest(
            wch.unionByName(wcl)).count())

    elif what == "pagerank":
        tsec("pagerank3 total", lambda: AN.pagerank(fwd, iters=3).count())

    elif what == "onion":
        tsec("onion total", lambda: AN.onion_layers(chains).count())

    elif what == "triangles":
        tsec("triangle_count", lambda: AN.triangle_count(fwd).collect())

    elif what == "matching":
        tsec("maximal_matching", lambda: AN.maximal_matching(
            directed, seed=7).count())

    elif what == "funnel":
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
        docs = spark.table("documents").repartition(cpus).cache()
        docs.count()
        from judy_graph_db_spark.operators import curation as CU
        fdocs = docs.withColumn(
            "url", F.concat(F.lit("http://d"),
                            (F.col("doc_id") % 37).cast("string"),
                            F.lit("-site.com/p/"),
                            F.col("doc_id").cast("string")))
        tsec("funnel no-neardup", lambda: CU.web_corpus_funnel(
            fdocs, blocked_domains=("d3-site.com", "d7-site.com"),
            url_col="url", neardup=False,
            gopher_kwargs={"min_words": 20, "min_stop_hits": 0}
        ).filter("keep").count())
        tsec("funnel full", lambda: CU.web_corpus_funnel(
            fdocs, blocked_domains=("d3-site.com", "d7-site.com"),
            url_col="url",
            gopher_kwargs={"min_words": 20, "min_stop_hits": 0}
        ).filter("keep").count())

    elif what == "perceptron":
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
        docs = spark.table("documents").repartition(cpus).cache()
        docs.count()
        from judy_graph_db_spark.operators import stats as ST
        labels = docs.select(
            "doc_id", (F.col("lang") == "en").cast("int").alias("label"))
        tsec("perceptron3", lambda: ST.perceptron_train(
            ST.hashed_tf(docs, n_features=1024), labels, iters=3)[0].count())

    elif what == "emit":
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
        docs = spark.table("documents").repartition(cpus).cache()
        docs.count()
        from judy_graph_db_spark.operators import curation as CUR
        from judy_graph_db_spark.operators import unigram as UNI
        from judy_graph_db_spark.operators import wordpiece as WP
        wp_vocab = WP.wordpiece_vocab_from_pieces(
            UNI.unigram_seed_vocab(docs, max_piece_len=4, seed_size=512))
        emit_vocab = wp_vocab.withColumn(
            "token_id",
            F.row_number().over(Window.orderBy("piece")).cast("long"))
        enc = tsec("wordpiece encode count", lambda: WP.wordpiece_encode(
            docs, wp_vocab, max_piece_len=4))
        tsec("emit total", lambda: CUR.emit_training_sequences(
            WP.wordpiece_encode(docs, wp_vocab, max_piece_len=4),
            emit_vocab, seq_len=1024).count())

    elif what == "unigram":
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
        docs = spark.table("documents").repartition(cpus).cache()
        docs.count()
        from judy_graph_db_spark.operators import unigram as UNI
        tsec("unigram_train2", lambda: UNI.unigram_train(
            docs, rounds=2, max_piece_len=4, seed_size=512,
            vocab_size=256).count())

    elif what == "miw":
        from judy_graph_db_spark.sources.tpch_graph import tpch_graph
        g = tpch_graph(spark, SF)
        g.edges = g.edges.cache()
        tsec("miw_load cache+count", lambda: g.edges.count())

    print("done")


if __name__ == "__main__":
    main()
