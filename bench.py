#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Workload mirrors the reference's benchmark suite (benchmark/Bench.hs:29-58):
- miw_load  = MIW massive-insertion (build + materialize the edges table)
- cw_1hop   = CW (1-hop label query) — adjacentNodesByAttr
plus the engine's headline operators: multi-hop pattern, variable-length
path, degree rollup, dedup (exact + MinHash-LSH), similarity top-k, text
quality, windowed events aggregation, analytics, temporal, stats.

MEASUREMENT DESIGN (round-10 isolation): rounds 5–9 proved that one
long-lived JVM makes ~2× swings unfalsifiable — entries "regressed" 2×
across rounds on code `git diff` showed untouched, and interleaved
fresh-JVM A/B runs (scripts/ab_minhash.py) reproduced the fast numbers
every time; the shared-JVM suite accumulates JIT state, GC pressure and
page-cache skew that drowns real regressions. So the default mode here
generalizes that A/B pattern: entries are grouped into SECTIONS of
shared fixtures, each section runs in its own FRESH JVM (subprocess),
the noise-prone graph sections (core/components/analytics — exactly the
entries that swung 2× across rounds) are repeated 3 times with sections
interleaved round-robin so slow VM phases hit every section equally,
and each entry reports its cross-JVM MEDIAN (the "spread" key carries
per-entry [min, max] so a noisy entry is visible as such). The cheap
sub-second sections run once — their fresh JVM already isolates them,
and tripling them would only pay JVM-startup overhead.
$SPARK_GRAFT_BENCH_REPS overrides the rep count for EVERY section.
Within a JVM, run() still takes the best of a few back-to-back repeats
— steady-state codegen, as the reference's criterion does.

SPARK_GRAFT_BENCH_INPROC=1 restores the old single-JVM one-pass mode
(used by the per-section subprocess itself via --section).
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import Window
from pyspark.sql import functions as F  # noqa: E402


# --------------------------------------------------------------------------
# shared fixtures (each section builds only what it needs, inside its JVM)

def _graph(spark, sf_dir, run=None):
    """The TPC-H property graph with cached edges; when ``run`` is given
    the cache+count materialization IS the miw_load timing."""
    from judy_graph_db_spark.sources.tpch_graph import tpch_graph

    g = tpch_graph(spark, sf_dir)

    def load():
        g.edges = g.edges.cache()
        g.edges.count()

    if run is not None:
        run("miw_load", load, repeats=1)  # a load is one-shot by definition
    else:
        load()
    return g


def _docs_embs(spark, cpus, need_docs=True, need_embs=False):
    """Cache + materialize the documents/embeddings tables, repartitioned
    across the local cores (the sf* fixtures are single parquet files →
    1 input split; real corpora arrive in many splits)."""
    docs = embs = None
    if need_docs:
        docs = spark.table("documents").repartition(cpus).cache()
        docs.count()
    if need_embs:
        embs = spark.table("embeddings").repartition(cpus).cache()
        embs.count()
    return docs, embs


def _chains_directed(spark):
    """NEXT_ORDER chains + even-custkey closing cycles (the same
    construction the correctness gates hash) and the closing edges."""
    from judy_graph_db_spark.sources.tpch_graph import B

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
    return orders, closing


# --------------------------------------------------------------------------
# sections

def sec_core(spark, sf_dir, cpus, run):
    """MIW/CW + pattern/path/degree — the reference's own benchmark
    surface (benchmark/Bench.hs:29-58, BASELINE.md micro-targets)."""
    from judy_graph_db_spark import E, N, table
    from judy_graph_db_spark.operators import adjacency as A
    from judy_graph_db_spark.sources.tpch_graph import B

    g = _graph(spark, sf_dir, run)
    run("cw_1hop", lambda: A.adjacent_nodes_by_attr(
        g, 3 * B + 1, "PLACED", backwards=False).count())

    # MIW = bulk-load data.txt (367,662 edges), CW = 1-hop on node 128.
    # Both time only the reference's own file, so their history stays
    # comparable; without the reference checkout the record says so.
    from judy_graph_db_spark.sources.edge_list import (
        REFERENCE_DATA_TXT, read_edge_list,
    )

    if not os.path.exists(REFERENCE_DATA_TXT):
        for name in ("miw_ref_data_txt", "cw_ref_node128"):
            run.skip(name, f"reference dataset {REFERENCE_DATA_TXT} absent")
    else:
        def miw_ref():
            read_edge_list(
                spark, REFERENCE_DATA_TXT, label="MAILED").edges.count()

        # best-of-2: nothing is cached inside — each repeat re-reads
        run("miw_ref_data_txt", miw_ref, repeats=2)
        gref = read_edge_list(spark, REFERENCE_DATA_TXT, label="MAILED")
        gref.edges = gref.edges.cache()
        gref.edges.count()
        run("cw_ref_node128", lambda: table(
            gref, N(ids=[128]) >> E("MAILED", direction="r") >> N()).count())

    # the deploy path: materialized edges table, distributed+sorted by src
    import shutil
    import tempfile

    from judy_graph_db_spark.graph import Graph

    mat_dir = tempfile.mkdtemp(prefix="bench_graph_")
    try:
        g.save(mat_dir, bucket_by_src=True)
        gm = Graph.load(spark, mat_dir)
        run("cw_1hop_materialized",
            lambda: A.adjacent_nodes_by_attr(
                gm, 3 * B + 1, "PLACED", backwards=False).count())
    finally:
        shutil.rmtree(mat_dir, ignore_errors=True)

    pat2 = (
        N(labels=["CUSTOMER"]) >> E("PLACED", direction="r") >> N()
        >> E("CONTAINS", direction="r") >> N(labels=["PART"])
    )
    run("pattern_2hop", lambda: table(g, pat2).count())
    pato = (N(labels=["CUSTOMER"])
            >> E("PLACED", direction="r", optional=True) >> N())
    run("pattern_optional", lambda: table(g, pato).count())
    patn = N(labels=["CUSTOMER"]) >> E("PLACED", direction="r") >> N()
    run("pattern_not_edge", lambda: table(
        g, patn, not_edges=[
            (0, E("PLACED", direction="r",
                  where=lambda c: c["edge_seq"] >= 3), 1)]).count())
    patv = N(labels=["ORDER"]) >> E(
        "NEXT_ORDER", direction="r", several=(1, 3)) >> N()
    run("var_length_3hop", lambda: table(g, patv).count())
    # r13 pattern surface: cycle unification (repeated variable → 2-key
    # equi-join on the closing hop) and multi-segment MATCH (one hash
    # join between comma segments)
    from judy_graph_db_spark import match_motif, parse_motif

    patc = parse_motif(
        "(o:ORDER)-[:NEXT_ORDER]->(o2:ORDER)"
        "-[:CONTAINS]->(p:PART)<-[:CONTAINS]-(o)")
    run("pattern_cycle", lambda: table(g, patc, named=True).count())
    run("pattern_comma", lambda: match_motif(
        g, "(c:CUSTOMER)-[:PLACED]->(o), (o)-[:CONTAINS]->(p:PART)")
        .count())
    run("degree_table", lambda: A.degree_table(g).count())


def sec_components(spark, sf_dir, cpus, run):
    """Component-style iterative analytics over the order-chain graph."""
    from judy_graph_db_spark.operators import analytics as AN
    from judy_graph_db_spark.operators import temporal as TMP
    from judy_graph_db_spark.sources.tpch_graph import B

    g = _graph(spark, sf_dir)
    fwd = g.edges.filter(~F.col("is_back"))
    chains = fwd.filter(F.col("label") == "NEXT_ORDER")
    run("connected_components",
        lambda: AN.connected_components(chains).count(), repeats=2)
    run("closure_doubling",
        lambda: AN.transitive_closure(chains).count(), repeats=2)

    orders, closing = _chains_directed(spark)
    directed = chains.select("src", "dst").unionByName(closing)
    run("scc", lambda: AN.strongly_connected_components(directed).count(),
        repeats=2)

    # Borůvka MSF over day-gap-weighted order chains + closing cycles
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
    run("min_spanning_forest",
        lambda: AN.minimum_spanning_forest(wch.unionByName(wcl)).count(),
        repeats=2)
    run("maximal_matching",
        lambda: AN.maximal_matching(directed, seed=7).count(), repeats=2)
    run("wl_colors_2r",
        lambda: AN.wl_colors(directed, rounds=2).count(), repeats=2)

    events = spark.table("events")
    wtr = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc())
    trans_b = events.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(wtr).alias("dst"),
        F.lead(F.expr("unix_timestamp(ts)")).over(wtr).alias("t"),
    ).filter(F.col("dst").isNotNull())
    run("time_respecting_reach",
        lambda: TMP.time_respecting_reachability(
            trans_b, ts_col="t", min_wait=1).count(), repeats=2)


def sec_analytics(spark, sf_dir, cpus, run):
    """Whole-graph analytics: triangles, ranks, decompositions,
    sketch-based reach, synthetic generation."""
    from judy_graph_db_spark.operators import analytics as AN
    from judy_graph_db_spark.sources.synthetic import chung_lu_zipf_graph

    g = _graph(spark, sf_dir)
    fwd = g.edges.filter(~F.col("is_back"))
    chains = fwd.filter(F.col("label") == "NEXT_ORDER")
    _, closing = _chains_directed(spark)
    directed = chains.select("src", "dst").unionByName(closing)

    run("triangle_count", lambda: AN.triangle_count(fwd).collect())
    run("pagerank_3it", lambda: AN.pagerank(fwd, iters=3).count(), repeats=2)
    run("label_propagation_3it",
        lambda: AN.label_propagation(chains, iters=3).count(), repeats=2)
    run("onion_layers", lambda: AN.onion_layers(chains).count(), repeats=1)
    run("trussness", lambda: AN.trussness(directed, k_max=3).count(),
        repeats=1)
    run("hyperball_r3",
        lambda: AN.hyperball_registers(directed, rounds=3, p=4).count(),
        repeats=2)
    run("triangle_census",
        lambda: AN.directed_triangle_census(directed).collect(), repeats=2)
    run("synth_graph_100k",
        lambda: chung_lu_zipf_graph(spark, 10000, 100000, seed=1).count(),
        repeats=1)
    # horizon-8 + sampled-sources variant: since r12, sources= routes to
    # the k-pivot edge-level Brandes pass (edge_betweenness_sampled) —
    # k*|V| BFS state, the all-pairs sigma closure is never materialized
    # (r11's version still built the full horizon closure; VERDICT r11
    # item 1). Bounded-horizon + Brandes-Pich-sampled is what a 100 TB
    # deployment runs, so it is what the bench tracks.
    eb_sources = chains.select(F.col("src").alias("id")) \
        .filter(F.col("id") % 20 == 0).distinct()
    run("edge_betweenness_h8", lambda: AN.edge_betweenness(
        chains, sources=eb_sources, max_iter=8).count(), repeats=1)
    # the NODE-level sources= routing (betweenness_centrality →
    # betweenness_sampled, the r12 `betws` gate) — its own sf1 alpha row
    run("node_betweenness_h8", lambda: AN.betweenness_centrality(
        chains, sources=eb_sources, max_iter=8).count(), repeats=1)
    # one sampled Girvan-Newman round — the configuration method="auto"
    # dispatches to at scale (16 pivots, horizon-8 truncation), recorded
    # so the sampled-GN mode has a number (VERDICT r12 task 2). The
    # round's work (k-pivot forward+backward pass, argmax collect,
    # checkpoint frees) happens eagerly inside the call; counting
    # `removed` avoids re-benching the labels' connected_components,
    # which has its own suite entry.
    run("girvan_newman_1r_s16", lambda: AN.girvan_newman_split(
        chains, n_removals=1, n_pivots=16, max_iter=8)[0].count(),
        repeats=1)
    # the exact-mode GN pair moved to their own fresh-JVM sections
    # (sec_gn_r1/sec_gn_r2) in r15 — inside this section they ran LAST
    # after ~60s of siblings and same-JVM pollution inflated them 20s+
    # (r14 spread [36.3, 66.0] on r2 vs isolated fresh-JVM ~43s;
    # VERDICT r14 what's-wrong 3). Names and computations unchanged.


def sec_gn_r1(spark, sf_dir, cpus, run):
    """Exact-mode Girvan-Newman round 1 in its OWN fresh JVM (entry
    moved out of sec_analytics in r15, name/computation unchanged):
    t(r2) - t(r1) ~= the incremental round-2 cost, and measuring each
    term in an isolated JVM removes the same-JVM pollution that made
    the in-section numbers swing [29.7, 40.5] / [36.3, 66.0] in the
    r14 record (VERDICT r14 what's-wrong 3)."""
    from judy_graph_db_spark.operators import analytics as AN

    g = _graph(spark, sf_dir)
    chains = g.edges.filter(~F.col("is_back")).filter(
        F.col("label") == "NEXT_ORDER")
    run("girvan_newman_r1_exact", lambda: AN.girvan_newman_split(
        chains, n_removals=1, method="exact", max_iter=8)[0].count(),
        repeats=1)


def sec_gn_r2(spark, sf_dir, cpus, run):
    """Exact-mode Girvan-Newman rounds 1+2 in its OWN fresh JVM — the
    r14 per-component incremental recompute bounds round 2 by the ONE
    chain component the first removal touched (see sec_gn_r1)."""
    from judy_graph_db_spark.operators import analytics as AN

    g = _graph(spark, sf_dir)
    chains = g.edges.filter(~F.col("is_back")).filter(
        F.col("label") == "NEXT_ORDER")
    run("girvan_newman_r2_incr", lambda: AN.girvan_newman_split(
        chains, n_removals=2, method="exact", max_iter=8)[0].count(),
        repeats=1)


def sec_dedup(spark, sf_dir, cpus, run):
    """Text dedup family over the documents corpus."""
    from judy_graph_db_spark.operators import curation as CU
    from judy_graph_db_spark.operators import dedup as D

    docs, _ = _docs_embs(spark, cpus)
    run("exact_dedup", lambda: D.exact_dedup(docs).count())
    run("minhash_lsh", lambda: D.minhash_lsh_candidates(docs).count())
    run("simhash_neardup", lambda: D.simhash_neardup_pairs(docs).count())
    run("ppjoin_exact", lambda: D.jaccard_similarity_join(docs, 800).count())
    run("exact_substring",
        lambda: D.exact_substring_dedup(docs, k=8)
        .agg(F.sum("n_removed_tokens")).collect())
    run("dedup_paragraphs",
        lambda: CU.dedup_paragraphs(
            docs.withColumn(
                "text",
                F.concat_ws("\n\n", F.col("text"),
                            F.substring("text", 1, 40)))).count())
    run("filter_paragraphs",
        lambda: CU.filter_paragraphs(
            docs.withColumn("text", F.concat_ws(
                "\n\n", F.lit("menu"), F.col("text"), F.lit("ok"))),
            min_words=3).count())
    # the composed crawl funnel (blocklist -> lang -> gopher -> exact
    # keep-first -> LSH near-dup canonical) over synthesized URLs
    fdocs = docs.withColumn(
        "url", F.concat(F.lit("http://d"),
                        (F.col("doc_id") % 37).cast("string"),
                        F.lit("-site.com/p/"),
                        F.col("doc_id").cast("string")))
    run("web_funnel",
        lambda: CU.web_corpus_funnel(
            fdocs, blocked_domains=("d3-site.com", "d7-site.com"),
            url_col="url",
            gopher_kwargs={"min_words": 20, "min_stop_hits": 0}
        ).filter("keep").count(), repeats=1)


def sec_similarity(spark, sf_dir, cpus, run):
    """Embedding similarity / clustering family."""
    from judy_graph_db_spark.operators import clustering as CL
    from judy_graph_db_spark.operators import similarity as S
    from judy_graph_db_spark.operators import sketch as SK

    _, embs = _docs_embs(spark, cpus, need_docs=False, need_embs=True)
    run("cosine_topk", lambda: S.cosine_topk_bruteforce(
        embs, query_id=0, k=10, dim=64).count())
    run("embedding_neardup",
        lambda: S.cosine_neardup_pairs(embs, dim=64).count())
    run("semantic_dedup",
        lambda: CL.semantic_dedup(embs, k=8, iters=2, dim=64).count())
    run("quantize_embs", lambda: S.quantize_embeddings(embs).count())
    run("gram_matrix", lambda: SK.gram_matrix(embs, dim=64).count())
    run("distance_histogram",
        lambda: S.distance_histogram(embs, sample_buckets=16).count())
    # the scale path: shared-hyperplane bucket equi-join (auto-sized),
    # the configuration a corpus x corpus mine actually runs — the brute
    # path is exactness-gated against the DuckDB twin instead
    run("bitext_mine",
        lambda: S.bitext_mine(
            embs.filter(F.col("vec_id") % 2 == 0),
            embs.filter(F.col("vec_id") % 2 == 1),
            k=4, threshold_milli=1000, dim=64, n_planes="auto").count())


def sec_curation(spark, sf_dir, cpus, run):
    """Chunk/shard/pack/sample/media/text-signals family."""
    from judy_graph_db_spark.functions import text as T
    from judy_graph_db_spark.operators import curation as CU
    from judy_graph_db_spark.operators import multimodal as MM
    from judy_graph_db_spark.operators import stats as ST

    docs, _ = _docs_embs(spark, cpus)
    run("doc_chunks", lambda: CU.chunk_documents(docs).count())
    run("token_chunks", lambda: CU.chunk_by_tokens(docs).count())
    run("token_shards", lambda: CU.shard_by_token_budget(docs, 100000).count())
    run("pack_sequences", lambda: CU.pack_sequences(docs, 512).count())
    run("pps_sample",
        lambda: CU.pps_systematic_sample(
            docs.select("doc_id", "n_chars"), 1000, "n_chars").count())
    run("epoch_shuffle",
        lambda: CU.epoch_shuffle(docs.select("doc_id"), seed=1).count())
    run("temperature_mixture",
        lambda: CU.temperature_mixture(docs, alpha_pow2=2).count())
    # WARC/WET archive round trip over the corpus: distributed export
    # (scan-stage record serialization + multi-char-lineSep text sink)
    # then the scan-stage parse back
    import shutil
    import tempfile

    from judy_graph_db_spark.sources import warc as WRC

    wet_dir = tempfile.mkdtemp(prefix="bench_wet_") + "/wet"
    wdocs = docs.withColumn(
        "url", F.concat(F.lit("http://example.com/d/"),
                        F.col("doc_id").cast("string")))
    try:
        run("wet_export", lambda: WRC.write_wet(wdocs, wet_dir), repeats=1)
        run("wet_ingest", lambda: WRC.read_wet(spark, wet_dir).count())
    finally:
        shutil.rmtree(os.path.dirname(wet_dir), ignore_errors=True)
    media = MM.as_media_table(docs)
    run("media_decode", lambda: MM.decode_features(media).count())
    run("image_ahash", lambda: MM.image_ahash(media).count())
    run(
        "doc_quality",
        lambda: docs.select(
            T.quality_score(F.col("text")).alias("q"),
            T.lang_id(F.col("text")).alias("l")
        ).groupBy("l").agg(F.sum("q")).count(),
    )
    run("term_stats", lambda: ST.term_stats(docs).count())
    run("token_commonness", lambda: ST.token_commonness(docs).count())
    run("gopher_quality",
        lambda: CU.gopher_quality_filter(docs).filter("keep").count())
    run("dup_lines", lambda: CU.dup_line_signals(docs).count())
    run("top_ngram_chars",
        lambda: CU.top_ngram_char_fraction(docs, 2).count())
    # the fixture corpus has no punctuation — inject a period+newline
    # every 8 tokens so the C4 rules and the span dedup do real work
    # (without it every line is dropped and no sentence spans form)
    c4docs = docs.select(
        "doc_id",
        F.regexp_replace("text", r"((?:\S+\s+){8})", "$1.\n")
        .alias("text"))
    run("c4_quality",
        lambda: CU.c4_quality_filter(c4docs).filter("keep").count())
    run("c4_span_dedup",
        lambda: CU.c4_span_dedup(c4docs)
        .agg(F.sum("n_removed_sentences")).collect())


def sec_stats(spark, sf_dir, cpus, run):
    """Corpus statistics / scoring / sketches."""
    from judy_graph_db_spark.functions.text import WORD_TOKEN_RE
    from judy_graph_db_spark.operators import sketch as SK
    from judy_graph_db_spark.operators import stats as ST

    docs, _ = _docs_embs(spark, cpus)
    events = spark.table("events")
    lw_b = spark.range(1024).select(
        F.col("id").alias("bucket"), (F.col("id") % 19 - 9).alias("w"))
    run("linear_score",
        lambda: ST.linear_score(
            ST.hashed_tf(docs, n_features=1024), lw_b).count())
    run("token_drift",
        lambda: ST.token_dist_divergence(
            docs.filter(F.col("doc_id") % 2 == 0),
            docs.filter(F.col("doc_id") % 2 == 1)).collect())
    run("bigram_backoff",
        lambda: ST.score_bigrams(
            docs.filter(F.col("doc_id") % 4 == 1),
            docs.filter(F.col("doc_id") % 4 != 1)).count())
    run("kneser_ney",
        lambda: ST.kneser_ney_score_bigrams(
            docs.filter(F.col("doc_id") % 4 == 1),
            docs.filter(F.col("doc_id") % 4 != 1)).count())
    run("median_mad",
        lambda: ST.grouped_median_mad(
            spark.table("orders").select(
                "o_orderpriority",
                F.round(F.col("o_totalprice") * 100).cast("long")
                .alias("cents")),
            ["o_orderpriority"], "cents").count())

    toks = docs.select(
        F.explode(F.regexp_extract_all(
            F.lower(F.col("text")), F.lit(WORD_TOKEN_RE), F.lit(0)
        )).alias("tok"))

    def _sketches():
        SK.count_min(toks, "tok", width=256, depth=4).count()
        SK.hll_registers(events.select("user_id"), "user_id", p=8).count()
        SK.bloom_probe(
            docs.select("doc_id", "text"), "text",
            SK.bloom_build(docs, "text"), id_col="doc_id",
        ).count()

    run("bloom_cms_hll", _sketches)
    run("heavy_hitters",
        lambda: SK.misra_gries(toks, "tok", m=64).count())

    # tokenizer training: one corpus-wide word count feeds both learners
    from judy_graph_db_spark.operators import bpe as BPE
    from judy_graph_db_spark.operators import unigram as UNI

    run("bpe_train16",
        lambda: BPE.bpe_train(docs, n_merges=16)[0].count())
    run("unigram_train2",
        lambda: UNI.unigram_train(
            docs, rounds=2, max_piece_len=4, seed_size=512,
            vocab_size=256).count())
    from judy_graph_db_spark.operators import wordpiece as WP

    wp_vocab = WP.wordpiece_vocab_from_pieces(
        UNI.unigram_seed_vocab(docs, max_piece_len=4, seed_size=512))
    run("wordpiece_encode",
        lambda: WP.wordpiece_encode(docs, wp_vocab,
                                    max_piece_len=4).count())
    # the terminal tokenize-and-pack step: encode + EOD-concat + cut
    # into complete 1024-token id sequences
    from pyspark.sql import Window as _W

    from judy_graph_db_spark.operators import curation as CUR

    emit_vocab = wp_vocab.withColumn(
        "token_id", F.row_number().over(_W.orderBy("piece")).cast("long"))
    run("emit_sequences",
        lambda: CUR.emit_training_sequences(
            WP.wordpiece_encode(docs, wp_vocab, max_piece_len=4),
            emit_vocab, seq_len=1024).count(), repeats=1)
    # the three training-objective transforms over one packed relation
    emitted = CUR.emit_training_sequences(
        WP.wordpiece_encode(docs, wp_vocab, max_piece_len=4),
        emit_vocab, seq_len=1024).select("seq_id", "tokens") \
        .localCheckpoint(eager=True)
    run("span_corrupt",
        lambda: CUR.emit_span_corruption(emitted)
        .agg(F.sum("n_spans")).collect(), repeats=1)
    run("fim_transform",
        lambda: CUR.emit_fim_sequences(emitted)
        .agg(F.sum(F.size("tokens"))).collect(), repeats=1)
    sft_pairs = docs.select(
        F.col("doc_id").alias("example_id"),
        F.expr("transform(sequence(1, 8 + CAST(doc_id % 9 AS INT)), "
               "j -> CAST((doc_id * 31 + j) % 997 AS BIGINT))")
        .alias("prompt_ids"),
        F.expr("transform(sequence(1, 16 + CAST(doc_id % 17 AS INT)), "
               "j -> CAST((doc_id * 17 + j) % 991 AS BIGINT))")
        .alias("response_ids"))
    run("sft_pack",
        lambda: CUR.emit_sft_sequences(sft_pairs, seq_len=1024)
        .count(), repeats=1)
    # batch-perceptron training: 3 full passes over the hashed features
    labels = docs.select(
        "doc_id", (F.col("lang") == "en").cast("int").alias("label"))
    run("perceptron_train3",
        lambda: ST.perceptron_train(
            ST.hashed_tf(docs, n_features=1024), labels, iters=3
        )[0].count(), repeats=1)


def sec_temporal(spark, sf_dir, cpus, run):
    """Event-time operators + graph sampling."""
    from judy_graph_db_spark.operators import sampling as SA
    from judy_graph_db_spark.operators import temporal as TP
    from judy_graph_db_spark.sources.tpch_graph import B

    events = spark.table("events")
    run(
        "events_hourly",
        lambda: events.withColumn("h", F.floor(F.unix_timestamp("ts") / 3600))
        .groupBy("h", "event_type").agg(F.count(F.lit(1)), F.sum("value"))
        .count(),
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts")
    buys = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value")
    run("asof_join", lambda: TP.asof_join(clicks, buys, on="user_id").count())
    run("funnel", lambda: TP.funnel_completions(
        events, "view", "purchase", 3600).count())
    run("funnel3", lambda: TP.funnel_steps(
        events, ["view", "click", "purchase"], 86400).count())
    run("resample_hourly", lambda: TP.resample_counts(events, 3600).count())
    run("sliding_windows",
        lambda: TP.sliding_window_counts(events, 7200, 3600).count())
    run("rate_anomalies", lambda: TP.rate_anomalies(events, 86400).count())
    run("concurrency",
        lambda: TP.concurrency_profile(
            events.groupBy("user_id").agg(
                F.min("ts").alias("start_ts"),
                F.max("ts").alias("end_ts")),
            period_seconds=3600).count())

    g = _graph(spark, sf_dir)
    run(
        "neighbor_sample",
        lambda: SA.sample_neighbors(
            g.edges.filter((F.col("label") == "CONTAINS")
                           & ~F.col("is_back")), k=2).count(),
    )
    # walk corpus from a 1/16 hash sample of customers over order chains
    walk_starts = (
        spark.table("orders")
        .select((F.col("o_orderkey") + 5 * B).alias("id"))
        .filter(F.substring(F.md5(F.col("id").cast("string")), 1, 1) == "0")
    )
    run(
        "random_walks",
        lambda: SA.random_walks(
            g.edges.filter((F.col("label") == "NEXT_ORDER")
                           & ~F.col("is_back")),
            length=3,
            starts=walk_starts,
        ).count(),
        repeats=1,
    )


def sec_canary(spark, sf_dir, cpus, run):
    """Host-drift canary: ONE fixed entry in its own fresh JVM, run by
    the orchestrator at recording start / middle / end so a future
    reader can separate host/VM throughput decay from code regressions
    without forensics (the r11 record carried a ~1.3x uniform host
    slowdown that cost exactly that forensic pass — VERDICT r11).

    Entry swapped r13 (VERDICT r12 task 3): cw_1hop at 0.6-0.8s was
    per-query-overhead-dominated, so the canary's OWN noise band
    exceeded the 10% drift threshold and host_note fired on steady
    hosts (r12: max/min 1.29 vs cross-record median 1.05). The ~3-5s
    scan+agg-shaped exact_substring entry (still best-of-3 inside the
    JVM) keeps quiet-host max/min under 1.10."""
    from judy_graph_db_spark.operators import dedup as D

    docs, _ = _docs_embs(spark, cpus)
    run("canary_esd", lambda: D.exact_substring_dedup(docs, k=8)
        .agg(F.sum("n_removed_tokens")).collect())


SECTIONS = {
    "core": sec_core,
    "components": sec_components,
    "analytics": sec_analytics,
    "gn_r1": sec_gn_r1,
    "gn_r2": sec_gn_r2,
    "dedup": sec_dedup,
    "similarity": sec_similarity,
    "curation": sec_curation,
    "stats": sec_stats,
    "temporal": sec_temporal,
    "canary": sec_canary,  # orchestrator-internal; not a suite section
}


# --------------------------------------------------------------------------
# runners

def _run_sections(section_names: list) -> tuple:
    """Run the named sections in THIS process (one shared SparkSession) and
    return ({entry: seconds}, {skipped entry: reason})."""
    from judy_graph_db_spark.session import get_spark
    from judy_graph_db_spark.sources.tpch_graph import load_tpch_views

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    load_tpch_views(spark, sf_dir)

    timings: dict = {}
    skipped: dict = {}
    # SPARK_GRAFT_BENCH_ENTRIES=a,b,c → run only the named entries (the
    # sf1→sf10 decade probe uses this to re-time the heavy subset
    # without paying for every section sibling at 10x data)
    _only = os.environ.get("SPARK_GRAFT_BENCH_ENTRIES")
    _only = set(_only.split(",")) if _only else None

    def run(name: str, fn, repeats: int = 3) -> None:
        """criterion-style steady-state timing (the reference benchmarks
        with criterion, benchmark/Bench.hs): best of ``repeats``
        back-to-back runs — first-run whole-stage-codegen JIT cost
        amortizes away on a long-lived cluster. Cross-JVM variance is
        the orchestrator's job (median over fresh JVMs)."""
        if _only is not None and name not in _only:
            return
        best = None
        for _ in range(repeats):
            t0 = time.time()
            fn()
            dt = time.time() - t0
            best = dt if best is None or dt < best else best
        timings[name] = round(best, 3)

    def skip(name: str, reason: str) -> None:
        """Record why an entry did not run (instead of dropping it)."""
        if _only is None or name in _only:
            skipped[name] = reason

    run.skip = skip
    for name in section_names:
        SECTIONS[name](spark, sf_dir, cpus, run)
    return timings, skipped


def _orchestrate() -> None:
    """Default mode: each section in a fresh JVM, repeated REPS times with
    sections interleaved (A B C … A B C …, the scripts/ab_minhash.py
    pattern), per-entry median across JVMs."""
    # dedup is in the noisy set for minhash_lsh — the entry whose 3.46s
    # vs 1.06-1.76s cross-round swing started the isolation work; the
    # gn_r1/gn_r2 singleton sections get 3 fresh-JVM reps so the record
    # carries a real spread for the suite's most expensive entries
    noisy = {"core", "components", "analytics", "gn_r1", "gn_r2", "dedup"}
    env_reps = os.environ.get("SPARK_GRAFT_BENCH_REPS")
    only = os.environ.get("SPARK_GRAFT_BENCH_SECTIONS")
    names = [s for s in SECTIONS if s != "canary"
             and (only is None or s in only.split(","))]
    reps_of = {s: (int(env_reps) if env_reps
                   else (3 if s in noisy else 1)) for s in names}
    samples: dict = {}  # entry -> [seconds per rep]
    skipped: dict = {}  # entry -> why it did not run
    here = os.path.abspath(__file__)

    def run_jvm(name: str) -> dict:
        """One section in a fresh JVM: its {entry: seconds}; the entries
        it skipped go into ``skipped``."""
        proc = subprocess.run(
            [sys.executable, here, "--section", name],
            capture_output=True, text=True, timeout=3600)
        if proc.returncode != 0:
            sys.stderr.write(proc.stderr[-4000:])
            raise SystemExit(
                f"bench section {name!r} failed rc={proc.returncode}")
        line = [ln for ln in proc.stdout.splitlines()
                if ln.startswith("{")][-1]
        rec = json.loads(line)
        skipped.update(rec["skipped"])
        return rec["queries"]

    def canary(tag: str) -> float:
        v = run_jvm("canary")["canary_esd"]
        sys.stderr.write(f"[bench] canary@{tag}: {v}s\n")
        return v

    canary_vals = {"start": canary("start")}
    max_reps = max(reps_of.values())
    for rep in range(max_reps):
        if max_reps > 1 and rep == (max_reps + 1) // 2:
            canary_vals["middle"] = canary("middle")
        for name in names:
            if rep >= reps_of[name]:
                continue
            t0 = time.time()
            got = run_jvm(name)
            for k, v in got.items():
                samples.setdefault(k, []).append(v)
            sys.stderr.write(
                f"[bench] rep {rep + 1}/{reps_of[name]} section {name}: "
                f"{round(sum(got.values()), 1)}s entries, "
                f"{round(time.time() - t0, 1)}s wall\n")
    canary_vals["end"] = canary("end")
    cmin, cmax = min(canary_vals.values()), max(canary_vals.values())
    canary_vals["max_over_min"] = round(cmax / cmin, 3) if cmin else -1.0

    def median(xs):
        s = sorted(xs)
        return s[len(s) // 2] if len(s) % 2 else \
            round((s[len(s) // 2 - 1] + s[len(s) // 2]) / 2, 3)

    queries = {k: median(v) for k, v in samples.items()}
    out = {
        "metric": "headline_suite_total",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "skipped": skipped,
        "sf": _sf(),
        "reps": reps_of,
        "isolation": "fresh-jvm-per-section-median",
        "spread": {k: [min(v), max(v)] for k, v in samples.items()
                   if len(v) > 1},
        # fixed-entry drift canary (fresh JVM at recording start/middle/
        # end): max_over_min > 1.10 means the host was NOT steady during
        # the recording and absolute numbers are not comparable across
        # records — the r11 forensics, made a field (VERDICT r11 task 3)
        "canary": canary_vals,
    }
    if canary_vals["max_over_min"] > 1.10:
        out["host_note"] = (
            "CANARY DRIFT {}x across the recording — host/VM throughput "
            "was not steady; compare entries within this record only"
        ).format(canary_vals["max_over_min"])
    print(json.dumps(out))


def _sf() -> float:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else -1.0


def main() -> None:
    if "--section" in sys.argv:
        name = sys.argv[sys.argv.index("--section") + 1]
        timings, skipped = _run_sections([name])
        print(json.dumps(
            {"queries": timings, "skipped": skipped, "sf": _sf()}))
        return
    if os.environ.get("SPARK_GRAFT_BENCH_INPROC") == "1":
        timings, skipped = _run_sections(list(SECTIONS))
        print(json.dumps({
            "metric": "headline_suite_total",
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "queries": timings,
            "skipped": skipped,
            "sf": _sf(),
            "isolation": "single-jvm",
        }))
        return
    _orchestrate()


if __name__ == "__main__":
    main()
