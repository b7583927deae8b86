"""Plan-shape regression tests: the scale properties README claims are
asserted against the actual physical plans, so a refactor that silently
reintroduces a full-table shuffle or kills pushdown fails CI."""

import pytest
from pyspark.sql import functions as F

from judy_graph_db_spark import E, N, table
from judy_graph_db_spark.operators import adjacency as A
from judy_graph_db_spark.operators import analytics as AN
from judy_graph_db_spark.operators import dedup as D
from judy_graph_db_spark.operators import similarity as S
from judy_graph_db_spark.sources.tpch_graph import B, load_tpch_views, tpch_graph

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def g(spark):
    return tpch_graph(spark, SF_DIR)


def test_adjacency_point_lookup_pushes_below_window(g):
    """The src predicate must reach the scan (DataFilters), not sit above
    the edge_seq window — otherwise every point lookup shuffles the whole
    table."""
    plan = plan_of(A.adjacent_nodes_by_attr(g, 3 * B + 1, "PLACED", backwards=False))
    assert plan.count("FileScan parquet") == 1, "union branches not pruned"
    assert "orders.parquet" in plan
    assert "3000000000001)" in plan.split("Exchange")[-1], (
        "src filter did not push below the window/exchange"
    )


def test_label_filter_prunes_union_branches(g):
    """A label-filtered edge relation must scan only the tables that
    produce that label."""
    placed = g.edges.filter((F.col("label") == "PLACED") & ~F.col("is_back"))
    plan = plan_of(placed)
    assert plan.count("FileScan parquet") == 1
    assert "orders.parquet" in plan
    for t in ("lineitem", "customer", "nation", "supplier"):
        assert f"{t}.parquet" not in plan


def test_pattern_2hop_scans_only_needed_tables(g):
    pat = (
        N(labels=["CUSTOMER"]) >> E("PLACED", direction="r") >> N()
        >> E("CONTAINS", direction="r") >> N(labels=["PART"])
    )
    plan = plan_of(table(g, pat))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "region.parquet" not in plan and "events.parquet" not in plan


def test_small_dim_join_broadcasts(spark):
    load_tpch_views(spark, SF_DIR)
    o, c, n = spark.table("orders"), spark.table("customer"), spark.table("nation")
    j = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name").agg(F.count(F.lit(1)).alias("n_orders"))
    )
    assert "BroadcastHashJoin" in plan_of(j)


def test_degree_table_partial_aggregates(g):
    """groupBy must map-side combine before the shuffle."""
    plan = plan_of(A.degree_table(g))
    assert "partial_count" in plan


def test_exact_dedup_partial_aggregates(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(D.exact_dedup(docs))
    assert "partial_" in plan


def test_cosine_topk_uses_take_ordered(spark):
    """Top-k must be TakeOrdered (per-partition heaps), not a global-window
    single-partition sort."""
    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = plan_of(S.cosine_topk_bruteforce(embs, query_id=0, k=10))
    assert "TakeOrderedAndProject" in plan


def test_scans_prune_columns(g):
    """A 2-column projection must not read the full lineitem schema."""
    proj = g.edges.filter((F.col("label") == "CONTAINS") & ~F.col("is_back")).select("src", "dst")
    plan = plan_of(proj)
    scan = plan[plan.index("FileScan parquet"):]
    read_schema = scan[scan.index("ReadSchema"):].splitlines()[0]
    assert "l_extendedprice" not in read_schema and "l_discount" not in read_schema


def test_bucketed_edges_join_has_no_exchange(spark, tmp_path):
    """save_table(buckets=N): a src-keyed self-join of the bucketed edges
    table must read co-located buckets — zero Exchange in the plan. This is
    the on-disk co-location contract for pattern hops at cluster scale."""
    from judy_graph_db_spark.graph import Graph
    from tests.fixtures import f2_issue_tracker

    g = f2_issue_tracker(spark)
    # self-heal from a crashed previous run: a leftover managed-table
    # LOCATION (without the catalog entry) makes saveAsTable fail with
    # LOCATION_ALREADY_EXISTS, so clear both catalog and disk state
    import shutil
    from urllib.parse import urlparse

    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for t in ("bkt_test_edges", "bkt_test_nodes", "bkt_test_ranges"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    g.save_table("bkt_test", buckets=4)
    try:
        e = spark.table("bkt_test_edges")
        joined = e.alias("l").hint("merge").join(
            e.alias("r"), F.col("l.src") == F.col("r.src")
        )
        plan = plan_of(joined)
        assert "Exchange" not in plan, plan
        # and the round-trip graph still answers queries
        g2 = Graph.from_table(spark, "bkt_test")
        assert g2.edges.count() == g.edges.count()
    finally:
        for t in ("bkt_test_edges", "bkt_test_nodes", "bkt_test_ranges"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_contains_filter_scans_lineitem_once(g):
    """A forward CONTAINS-only query must prune every non-lineitem branch of
    the 7-label union (and the back-row side): exactly one lineitem scan,
    zero orders/customer scans. This is what keeps gate queries and point
    lookups cheap even though the edges view declares the whole graph.

    (Full materialization intentionally scans lineitem per label branch —
    per-branch column pruning beats a shared shuffle there; the ingest-once
    layout for repeated whole-graph access is Graph.save/save_table.)"""
    from pyspark.sql import functions as F

    fwd_contains = g.edges.filter(
        (F.col("label") == "CONTAINS") & ~F.col("is_back")
    )
    plan = plan_of(fwd_contains)
    assert plan.count("lineitem.parquet") == 1, plan[:2000]
    assert plan.count("orders.parquet") == 0, plan[:2000]
    assert plan.count("customer.parquet") == 0, plan[:2000]


def test_curation_sample_and_chunks_are_narrow(spark):
    """hash_sample is a scan-stage filter and chunk_documents a generate +
    explode — neither may introduce an Exchange (at 100 TB these must stay
    embarrassingly parallel)."""
    from judy_graph_db_spark.operators import curation as CU

    load_tpch_views(spark, SF_DIR)
    docs = spark.table("documents")
    assert "Exchange" not in plan_of(CU.hash_sample(docs, 64))
    assert "Exchange" not in plan_of(CU.chunk_documents(docs))


def test_token_shards_single_range_exchange(spark):
    """shard_by_token_budget's two-pass prefix sum: the final plan runs off
    the checkpointed range partitioning — a partition-local window, no
    fresh global sort (the naive single-window version would collapse to
    one task)."""
    from judy_graph_db_spark.operators import curation as CU

    load_tpch_views(spark, SF_DIR)
    out = CU.shard_by_token_budget(spark.table("documents"), 5000)
    plan = plan_of(out)
    assert "rangepartitioning" not in plan.lower().replace(" ", ""), (
        "final pass re-sorted globally instead of reusing the checkpointed "
        "range partitioning"
    )
    assert "Window" in plan


def test_term_stats_scans_corpus_once(spark):
    """tf+df must come out of ONE corpus scan — a tf⋈tf.groupBy self-join
    would re-tokenize the whole corpus (no common-subplan reuse)."""
    from judy_graph_db_spark.operators import stats as ST

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(ST.term_stats(docs))
    assert plan.count("documents.parquet") == 1, plan[:2000]
    plan2 = plan_of(ST.inverted_index(docs, min_df=2))
    assert plan2.count("documents.parquet") == 1, plan2[:2000]


def test_asof_join_single_key_exchange(spark):
    """The as-of join is one union + one keyed window: exactly one
    hashpartitioning exchange on the key, no join operator at all."""
    from judy_graph_db_spark.operators import temporal as TP

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    probes = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    quotes = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    plan = plan_of(TP.asof_join(probes, quotes, on="user_id"))
    assert plan.count("Exchange hashpartitioning") == 1, plan[:3000]
    assert "Join" not in plan, plan[:3000]


def test_range_join_is_equi_join(spark):
    """Bin bucketing must turn the interval predicate into a hash/SMJ
    equi-join — no CartesianProduct / BroadcastNestedLoopJoin."""
    from judy_graph_db_spark.operators import temporal as TP

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    iv = (
        orders.select(F.date_trunc("month", "o_orderdate").alias("start_ts"))
        .distinct()
        .select("start_ts", (F.col("start_ts") + F.expr("INTERVAL 10 DAYS")).alias("end_ts"))
    )
    plan = plan_of(
        TP.range_join(orders.select("o_orderdate"), iv, "o_orderdate", "start_ts", "end_ts")
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan[:3000]


def test_kmeans_assign_broadcasts_centroids(spark):
    """Every Lloyd round must broadcast the k-row centroid relation; a
    shuffled centroid join would exchange the full embedding table per
    iteration."""
    from judy_graph_db_spark.operators import clustering as CL

    load_tpch_views(spark, SF_DIR)
    plan = plan_of(CL.kmeans_assign(spark.table("embeddings"), k=4, iters=2, dim=8))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_semantic_dedup_pairs_are_cluster_equi_join(spark):
    """The pairwise cosine join must be keyed on the cluster id — an
    unkeyed (cross) pair join is the O(n²) shape this operator exists to
    avoid."""
    from judy_graph_db_spark.operators import clustering as CL

    load_tpch_views(spark, SF_DIR)
    plan = plan_of(CL.semantic_dedup(spark.table("embeddings"), k=4, iters=1, dim=8))
    assert "CartesianProduct" not in plan
    assert "cluster" in plan  # the equi-key survives into the physical join


def test_pack_sequences_prefix_sum_shape(spark):
    """The prefix sum's post-checkpoint exchanges move only the narrow
    (id, n_tokens, pid) projection — the text column is reduced to a count
    BEFORE the range materialization, so the corpus bytes never shuffle —
    and the offsets come back as a broadcast of the tiny subtotal relation,
    never a global single-partition window over the data."""
    from judy_graph_db_spark.operators.curation import pack_sequences

    load_tpch_views(spark, SF_DIR)
    plan = plan_of(pack_sequences(spark.table("documents"), seq_len=512))
    # offsets side joins back as a broadcast of the tiny subtotal relation
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    # the only SinglePartition exchange is the <=P-row subtotal window,
    # fed by a partial (map-side) aggregate — never the full relation
    assert plan.count("Exchange SinglePartition") <= 1
    assert "partial_sum" in plan
    # text is projected away before every exchange
    for seg in plan.split("Exchange")[1:]:
        first_line = seg.splitlines()[0]
        assert "text" not in first_line


def test_quality_filter_single_group_exchange(spark):
    """Both windows (rank/count and the cutoff max) must share the one
    hash exchange on the group key."""
    from judy_graph_db_spark.operators.curation import quality_percentile_filter

    load_tpch_views(spark, SF_DIR)
    plan = plan_of(quality_percentile_filter(spark.table("documents")))
    assert plan.count("Exchange hashpartitioning") == 1


def test_bloom_probe_broadcasts_filter(spark):
    """The Bloom relation must broadcast into the probe join — the probe
    batch streams map-side, the filter side is O(m/63) rows."""
    from judy_graph_db_spark.operators import sketch as SK

    df = spark.createDataFrame([(i, f"s{i}") for i in range(50)],
                               "id long, s string")
    probe = SK.bloom_probe(df, "s", SK.bloom_build(df, "s"))
    plan = plan_of(probe)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_cms_lookup_broadcasts_sketch(spark):
    from judy_graph_db_spark.operators import sketch as SK

    df = spark.createDataFrame([(f"t{i}",) for i in range(50)], "tok string")
    est = SK.cms_lookup(SK.count_min(df, "tok"), df, "tok")
    plan = plan_of(est)
    assert "BroadcastHashJoin" in plan


def test_encode_tokens_broadcasts_vocab(spark):
    from judy_graph_db_spark.operators import stats as ST

    docs = spark.createDataFrame([(1, "a b c a")], "doc_id long, text string")
    enc = ST.encode_tokens(docs, ST.build_vocab(docs))
    plan = plan_of(enc)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pq_adc_topk_no_global_window(spark):
    """The PQ ADC top-k must take its k rows via TakeOrdered (per-partition
    heaps + a k-row driver merge) — never a global row_number window over
    the corpus-sized scored relation (a single-task sort at corpus scale).
    The rank column is computed over the k survivors only."""
    from judy_graph_db_spark.operators import clustering as CL

    embs = spark.createDataFrame(
        [(i, [float((i + j) % 5) for j in range(8)]) for i in range(20)],
        "vec_id long, embedding array<float>")
    codes = CL.pq_train_encode(embs, m=2, k=2, iters=1, dim=8)
    cbs = CL.pq_codebooks(embs, codes, m=2, dim=8)
    out = CL.pq_adc_topk(codes, cbs, embs.limit(1).select("embedding"),
                         m=2, dim=8, topk=3)
    plan = plan_of(out)
    assert "TakeOrderedAndProject" in plan
    # the dist_q rank window must consume the TakeOrdered's k rows
    # directly — its child in the plan text is the TakeOrdered, never an
    # exchange/sort over the corpus-sized scored relation
    lines = plan.splitlines()
    (w_idx,) = [i for i, ln in enumerate(lines)
                if "row_number" in ln and "dist_q" in ln]
    assert "TakeOrderedAndProject" in lines[w_idx + 1]


def test_span_corruption_and_fim_are_shuffle_free(spark):
    """Both training-objective transforms are pure per-row array
    expressions: zero exchanges, zero UDFs, no windows."""
    from judy_graph_db_spark.operators.curation import (
        emit_fim_sequences, emit_span_corruption)

    seqs = spark.createDataFrame(
        [(0, [1, 2, 3, 4])], "seq_id long, tokens array<bigint>")
    for out in (emit_span_corruption(seqs), emit_fim_sequences(seqs)):
        plan = plan_of(out)
        assert "Exchange" not in plan
        assert "Window" not in plan
        assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_exact_substring_spans_is_scan_plus_hash_agg(spark):
    """ESD window extraction must come from scan-stage slice over the
    per-row token array — no Window operator anywhere, and the window
    hash agg map-side combines."""
    from judy_graph_db_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(i, "alpha bravo charlie delta echo foxtrot golf hotel india")
         for i in range(4)], "doc_id long, text string")
    plan = plan_of(D.exact_substring_spans(docs, k=4))
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final on the hash


def test_count_min_partial_aggregates(spark):
    """CMS build must map-side combine: two HashAggregates around one
    exchange, so the shuffle moves at most depth x width rows/partition."""
    from judy_graph_db_spark.operators import sketch as SK

    df = spark.createDataFrame([(f"t{i % 5}",) for i in range(100)],
                               "tok string")
    plan = plan_of(SK.count_min(df, "tok"))
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange") == 1


def test_gram_matrix_single_reduce_shuffle(spark):
    """The Arrow Gram matrix's only exchange is the O(dim^2)-row final
    reduce — the matmul itself happens inside mapInPandas."""
    from judy_graph_db_spark.operators import sketch as SK

    df = spark.createDataFrame(
        [(0, [1.0] * 8)], "vec_id long, embedding array<float>"
    )
    plan = plan_of(SK.gram_matrix(df, dim=8))
    assert plan.count("Exchange") == 1
    assert "MapInPandas" in plan


def test_pii_redaction_is_scan_stage(spark):
    """PII counting + redaction must stay inside the scan projection —
    no shuffle, no UDF."""
    from judy_graph_db_spark.functions import text as T

    docs = spark.createDataFrame([(1, "a@b.co")], "doc_id long, text string")
    out = docs.select(
        T.pii_count(F.col("text"), "email").alias("e"),
        F.md5(T.redact_pii(F.col("text"))).alias("r"),
    )
    plan = plan_of(out)
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_rrf_fuse_partial_aggregates(spark):
    """Fusion is one id-keyed agg with map-side combine — no windows."""
    la = spark.createDataFrame([(1, 1)], "id long, rank long")
    lb = spark.createDataFrame([(1, 2)], "id long, rank long")
    plan = plan_of(S.rrf_fuse([la, lb]))
    assert "partial_" in plan and "Window" not in plan


def test_neighbor_feature_agg_partial_aggregates(spark):
    """Each hop is equi-join + map-side-combined agg; no Window, no
    cartesian product."""
    from judy_graph_db_spark.operators import sampling as SAM

    e = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    f = spark.createDataFrame([(2, 5), (3, 7)], "node long, f long")
    plan = plan_of(SAM.neighbor_feature_agg(e, f, hops=2))
    assert "partial_" in plan
    assert "Cartesian" not in plan and "Window" not in plan


def test_resource_allocation_no_window_no_cartesian(spark):
    """Candidates come from the wedge equi-join; degrees attach by join,
    pivot degree by join (not a Window over sym)."""
    e = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    plan = plan_of(AN.resource_allocation(e))
    assert "Cartesian" not in plan and "Window" not in plan
    assert "partial_" in plan


def test_collocation_scores_broadcasts_total(spark):
    """The 1-row corpus total must broadcast; unigram joins are
    equi-joins, no cartesian beyond the broadcast total."""
    from judy_graph_db_spark.operators import stats as STT

    docs = spark.createDataFrame([(1, "a b a b")], "doc_id long, text string")
    plan = plan_of(STT.collocation_scores(docs))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "partial_" in plan


def test_hashed_tf_partial_aggregates(spark):
    from judy_graph_db_spark.operators import stats as STT

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    plan = plan_of(STT.hashed_tf(docs, n_features=8))
    assert "partial_" in plan and "Window" not in plan



def test_pps_sample_no_single_partition_data_window(spark):
    """The PPS draw's big-side windows are partition-local (__pid); the
    only SinglePartition exchange feeds the ≤P-row offset/total relations,
    never the data relation — assert the window over the data carries a
    partition spec."""
    from judy_graph_db_spark.operators.curation import pps_systematic_sample

    df = spark.createDataFrame([(i, i % 7 + 1) for i in range(100)],
                               "doc_id long, w long")
    plan = plan_of(pps_systematic_sample(df, 10, "w"))
    # the data-side cumulative window is partitioned by __pid
    assert "windowspecdefinition(__pid" in plan.replace(" ", "") \
        or "partitionBy" in plan or "__pid" in plan
    assert "Cartesian" not in plan  # scalar attaches broadcast


def test_epoch_shuffle_shard_partitioned_window(spark):
    """The in-shard rank window partitions on the shard key — a seed
    change must never route through one global sort task."""
    from judy_graph_db_spark.operators.curation import epoch_shuffle

    df = spark.createDataFrame([(i,) for i in range(100)], "doc_id long")
    plan = plan_of(epoch_shuffle(df, seed=1, num_shards=16))
    assert "shard" in plan
    assert "SinglePartition" not in plan


def test_adamic_adar_no_window_no_cartesian(spark):
    """Same plan discipline as resource_allocation: wedge equi-joins,
    map-side partial aggregation, no global window."""
    e = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    plan = plan_of(AN.adamic_adar(e))
    assert "Cartesian" not in plan and "Window" not in plan
    assert "partial_" in plan


def test_bitext_mine_broadcasts_probe_sides(spark):
    """Both kNN passes broadcast the query side and the neighborhood
    averages broadcast back onto the candidates — no shuffle of a
    corpus-sized relation beyond the top-k windows."""
    from judy_graph_db_spark.operators.similarity import (
        bitext_mine, bitext_scored_pairs)

    embs = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 5), 1.0]) for i in range(40)],
        "vec_id long, embedding array<double>")
    # the shared scoring relation (checkpointed inside bitext_mine, so
    # its plan is inspected pre-checkpoint here)
    plan = plan_of(bitext_scored_pairs(
        embs.filter("vec_id % 2 = 0"), embs.filter("vec_id % 2 = 1"),
        dim=3))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    # and the mining itself stays window+aggregate over that relation
    out = bitext_mine(embs.filter("vec_id % 2 = 0"),
                      embs.filter("vec_id % 2 = 1"), k=3, dim=3)
    assert "CartesianProduct" not in plan_of(out)


def test_perceptron_scoring_pass_broadcasts_weights(spark):
    """The per-iteration scoring join must broadcast the n_features-row
    weight table, never shuffle the feature relation for the join."""
    from judy_graph_db_spark.operators import stats as ST

    docs = spark.createDataFrame(
        [(i, f"tok{i % 5} tok{(i * 3) % 7}") for i in range(30)],
        "doc_id long, text string")
    feats = ST.hashed_tf(docs, n_features=32)
    wdf = spark.createDataFrame([(0, 1), (1, -2)], "bucket long, w long")
    scored = ST.linear_score(feats, wdf)
    assert "BroadcastHashJoin" in plan_of(scored)


def test_bucketed_graph_pattern_probe_is_shuffle_free(spark):
    """The composed 100 TB pattern-engine recipe (docs/PIPELINE.md
    "Deploying the pattern engine at 100 TB"): save_table(buckets=N) ->
    from_table -> query. Two physical-shape contracts: (a) the 1-hop
    table() join keeps the bucketed EDGES side shuffle-free — the
    node-filter frontier broadcasts, every Exchange in the plan sits on
    the frontier's build branch; (b) a src-keyed degree rollup over the
    bucketed edges is bucket-local end-to-end — Bucketed: true scan,
    zero Exchange anywhere."""
    import shutil
    from urllib.parse import urlparse

    from judy_graph_db_spark.graph import Graph
    from tests.fixtures import f2_issue_tracker

    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    tables = ("rcp100_edges", "rcp100_nodes", "rcp100_ranges")
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    f2_issue_tracker(spark).save_table("rcp100", buckets=4)
    try:
        g = Graph.from_table(spark, "rcp100")
        # (a) 1-hop pattern: every Exchange confined to the broadcast
        # build branch (lines carrying the ':' tree prefix); the edges
        # probe branch (no ':') has none
        hop = table(g, N(labels=["PROGRAMMER"])
                    >> E("Raises", direction="r") >> N())
        plan = plan_of(hop)
        assert "BroadcastHashJoin" in plan, plan
        for line in plan.splitlines():
            if "Exchange" in line:
                assert ":" in line.split("Exchange")[0], (
                    "shuffle on the probe (edges) side:\n" + plan)
        probe = [ln for ln in plan.splitlines()
                 if "FileScan" in ln and "rcp100_edges" in ln
                 and ":" not in ln.split("FileScan")[0]]
        assert probe, "bucketed edges scan not on the streamed side:\n" + plan
        # (b) degree rollup: bucket-local, no shuffle at all
        deg = g.edges.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
        dplan = plan_of(deg)
        assert "Bucketed: true" in dplan, dplan
        assert "Exchange" not in dplan, dplan
        assert "partial_count" in dplan, dplan
    finally:
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_cycle_unification_folds_into_join_keys(g):
    """Repeated-variable unification (the r13 cycle surface) must reach
    the closing hop's JOIN KEYS, not hang as a post-join filter over all
    2-paths: with no optional hops the triangle motif's final join keys
    both endpoints — a line with two left keys referencing n0 AND the
    previous hop's binding — and the plan carries no Filter on a
    top-level n-column equality and no nested-loop join."""
    from judy_graph_db_spark import parse_motif

    pat = parse_motif(
        "(o:ORDER)-[:NEXT_ORDER]->(o2:ORDER)"
        "-[:CONTAINS]->(p:PART)<-[:CONTAINS]-(o)")
    plan = plan_of(table(g, pat, named=True))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # the unification equality must appear as a 2-key equi-join:
    # "... [n0#..., n2#...], [n3#..., _src_2#...]" (key order per build)
    import re as _re
    two_key = _re.search(r"\[n0#\d+L, n2#\d+L\], \[n3#\d+L", plan)
    assert two_key, plan
    # and NOT as a residual/post filter: no Filter line comparing two
    # n-columns (scan filters like isnotnull/label remain, as they must)
    for line in plan.splitlines():
        if "Filter (" in line or line.strip().startswith("+- Filter"):
            assert not _re.search(r"n\d+#\d+L = n\d+#\d+L", line), line


def _physical_nodes(plan):
    yield plan
    kids = plan.children()
    for i in range(kids.size()):
        yield from _physical_nodes(kids.apply(i))


def test_literal_anchor_and_edit_batch_broadcast(spark):
    """An id anchor and a delete list are local relations with exact
    sizes: on a cached edge table above the broadcast threshold (and the
    literals below it) both join as the broadcast side, so the edge table
    is never shuffled for an 8-edge write or a one-customer read."""
    from judy_graph_db_spark.operators.mutation import delete_edges

    g = tpch_graph(spark, SF_DIR)
    g.edges.cache().count()
    keys = ("spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.enabled")
    saved = {k: spark.conf.get(k) for k in keys}
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        c = 3 * B + 1
        cases = {
            "hop1": (table(g, N(ids=[c]) >> E("PLACED", direction="r") >> N()), 1),
            "delete": (delete_edges(g, [(c, 5 * B + 1), (c, 5 * B + 2)]).edges, 2),
        }
        for name, (df, n_bhj) in cases.items():
            nodes = list(_physical_nodes(df._jdf.queryExecution().executedPlan()))
            names = [n.nodeName() for n in nodes]
            assert names.count("SortMergeJoin") == 0, name
            assert names.count("BroadcastHashJoin") == n_bhj, name
            for bx in (n for n in nodes if n.nodeName() == "BroadcastExchange"):
                built = [n.nodeName() for n in _physical_nodes(bx)]
                assert "LocalTableScan" in built, (name, built)
                assert "InMemoryTableScan" not in built, (name, built)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
        g.edges.unpersist()


def test_tpch_edges_are_src_partitioned(spark, g):
    """The source ends its edge plan in a hash repartition on ``src``: the
    edge table has exactly ``spark.sql.shuffle.partitions`` partitions and
    every ``src`` lives in one of them, so an anchored read of the cached
    table touches one cluster of rows instead of one scrap per UNION
    branch and window shuffle."""
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert g.edges.rdd.getNumPartitions() == n
    spread = (
        g.edges.select("src", F.spark_partition_id().alias("p"))
        .groupBy("src").agg(F.countDistinct("p").alias("n_parts"))
        .filter(F.col("n_parts") > 1)
    )
    assert spread.count() == 0


def _leaf_classes(df) -> list:
    """Leaf node classes of the plan the query runs after cache
    substitution (an ``InMemoryRelation`` is a leaf: its cached plan is
    not a child)."""
    leaves = df._jdf.queryExecution().withCachedData().collectLeaves()
    return [leaves.apply(i).getClass().getSimpleName() for i in range(leaves.size())]


def test_union_queries_read_the_cached_edges(spark):
    """Every query that unions something with the cached edge table must
    still read that table from the cache: ``DataFrame.union`` rewrote the
    nested UNION ALLs inside the edges plan, the CacheManager no longer
    matched it, and the query re-ran the edge SQL from parquet. Covers the
    per-depth union of a ``several`` path, a k=2 insert/delete chain (the
    mutation union), ``Graph.union`` and the node-less ``N()`` spec."""
    from judy_graph_db_spark.graph import Graph
    from judy_graph_db_spark.operators import mutation as M
    from judy_graph_db_spark.plans.compiler import materialize_node_spec
    from judy_graph_db_spark.schema import NODES_SCHEMA, local_df

    g = tpch_graph(spark, SF_DIR)
    g.edges.cache().count()
    try:
        o = (g.edges.filter((F.col("label") == "NEXT_ORDER") & ~F.col("is_back"))
             .select("src").orderBy("src").first()[0])
        c, parts = 3 * B + 1, [4 * B + p for p in range(1, 5)]
        first, second = [(c, p, "RATED") for p in parts[:2]], [(c, p, "RATED") for p in parts[2:]]
        g1 = M.insert_node_edges(g, first, add_back_edges=True)
        g2 = M.delete_edges(M.insert_node_edges(g1, second, add_back_edges=True),
                            [(s, d) for s, d, _ in first])
        other = Graph.from_edges(spark, local_df(spark, [(c, parts[0], "RATED")],
                                                 "src long, dst long, label string"))
        no_nodes = Graph(spark, local_df(spark, [], NODES_SCHEMA), g.edges, g.ranges)
        cases = {
            "several_path": table(g, N(ids=[o]) >> E("NEXT_ORDER", direction="r",
                                                     several=(1, 3)) >> N()),
            "write_k2_hop1": A.adjacent_nodes_by_attr(g2, c, "RATED"),
            "graph_union": g.union(other).edges,
            "all_nodes_spec": materialize_node_spec(no_nodes, N(), "n0"),
        }
        leaves = {name: _leaf_classes(df) for name, df in cases.items()}
        missed = {name: ls for name, ls in leaves.items()
                  if "InMemoryRelation" not in ls or "LogicalRelation" in ls}
        assert not missed, {name: sorted(set(ls)) for name, ls in missed.items()}
        assert cases["write_k2_hop1"].count() == 2
    finally:
        g.edges.unpersist(blocking=True)
