"""The r15 runtime-stats size dispatches must be pure execution-strategy
switches: the at-scale branch (checkpoint / cache / broadcast) and the
local branch must produce row-identical results. These tests force each
at-scale branch on small fixtures by lowering the module-level bound, so
the branch that normally activates only on >=5M/50M-row inputs is
actually exercised by the suite."""

import pytest
from pyspark.sql import functions as F

from judy_graph_db_spark import loopstate
from judy_graph_db_spark.operators import analytics as AN
from judy_graph_db_spark.operators import clustering as CL
from judy_graph_db_spark.operators import dedup as D
from judy_graph_db_spark.schema import local_df


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_semantic_dedup_ckpt_branch_row_identical(spark, monkeypatch):
    rows = [(i, [float(i % 7) + 1.0, float((i * 3) % 5), float(i % 2)])
            for i in range(40)]
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    base = sorted(
        (r["vec_id"], r["cluster"], r["kept"])
        for r in CL.semantic_dedup(embs, k=3, iters=2, dim=3,
                                   threshold_micro=900000).collect())
    monkeypatch.setattr(CL, "_SEMDEDUP_CKPT_MIN_ROWS", 0)
    forced = sorted(
        (r["vec_id"], r["cluster"], r["kept"])
        for r in CL.semantic_dedup(embs, k=3, iters=2, dim=3,
                                   threshold_micro=900000).collect())
    assert forced == base


def test_simhash_ckpt_branch_row_identical(spark, monkeypatch):
    docs = spark.createDataFrame(
        [(i, " ".join(f"tok{(i * 5 + j) % 11}" for j in range(12)))
         for i in range(30)],
        "doc_id long, text string")
    base = sorted((r["doc_a"], r["doc_b"])
                  for r in D.simhash_neardup_pairs(docs).collect())
    monkeypatch.setattr(D, "_SIMHASH_CKPT_MIN_ROWS", 0)
    forced = sorted((r["doc_a"], r["doc_b"])
                    for r in D.simhash_neardup_pairs(docs).collect())
    assert forced == base


def test_bfs_edge_cache_branch_row_identical(spark, monkeypatch):
    """Forces the >=50M-row repartition+sort+cache branch of
    _prep_edge_rel (never active on local fixtures otherwise) and checks
    betweenness is unchanged — and that the operator's scope owns and
    frees that cache.

    The cleanup check is exact and names its targets by RDD id: the
    state the forced prep persisted (its checkpoint and the cache's
    column buffers) must be unregistered when the operator returns, and
    the cache's blocks gone from every block manager. Raw persistent-RDD counts would race GC of the weak-valued
    map and non-blocking unpersists."""
    import random

    rng = random.Random(23)
    pairs = sorted({(rng.randrange(12), rng.randrange(12))
                    for _ in range(40)} - {(i, i) for i in range(12)})
    e = _edges(spark, pairs)
    jsc = spark.sparkContext._jsc.sc()

    def persistent_ids() -> set:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    base = {r["id"]: r["betweenness"]
            for r in AN.betweenness_centrality(e).collect()}
    monkeypatch.setattr(AN, "_EDGE_CACHE_MIN_ROWS", 1)
    # (relation, owned by the open scope as a cache, cache RDD id, its
    # partitions, all prep RDD ids)
    prepped = []
    real_prep = AN._prep_edge_rel

    def recording_prep(*args, **kwargs):
        before = persistent_ids()
        rel = real_prep(*args, **kwargs)
        buffers = (cache_manager.lookupCachedData(rel._jdf).get()
                   .cachedRepresentation().cacheBuilder().cachedColumnBuffers())
        owned = any(d is rel and is_cache
                    for d, is_cache in loopstate._scopes()[-1])
        prepped.append((rel, owned, buffers.id(), buffers.getNumPartitions(),
                        persistent_ids() - before))
        return rel

    monkeypatch.setattr(AN, "_prep_edge_rel", recording_prep)
    forced = {r["id"]: r["betweenness"]
              for r in AN.betweenness_centrality(e).collect()}
    assert set(forced) == set(base)
    assert all(abs(forced[v] - base[v]) < 1e-9 for v in base)

    (rel, owned, cache_rdd, n_parts, prep_rdds), = prepped
    assert owned
    # the prep persisted exactly its checkpoint and the cache
    assert cache_rdd in prep_rdds and len(prep_rdds) == 2, prep_rdds
    # both are unregistered, and the cache's blocks are gone everywhere:
    # the scope frees the cache with a blocking unpersist
    assert cache_manager.lookupCachedData(rel._jdf).isEmpty()
    assert not prep_rdds & persistent_ids()
    block_master = jsc.env().blockManager().master()
    for part in range(n_parts):
        block = spark._jvm.org.apache.spark.storage.RDDBlockId(cache_rdd, part)
        assert block_master.getBlockStatus(block, True).isEmpty(), part


def _cc_fixture(seed):
    """A random multigraph with self-loops, parallel and reversed edges,
    its canonical pair count, and the min-id labels a Python union-find
    gives every non-self-loop endpoint."""
    import random

    rng = random.Random(seed)
    n = 30
    rows = [(rng.randrange(n), rng.randrange(n)) for _ in range(25)]
    rows += [(a, a) for a in rng.sample(range(n), 4)]           # self-loops
    rows += rng.sample(rows, 5) + [(b, a) for a, b in rng.sample(rows, 5)]
    canon = {(min(a, b), max(a, b)) for a, b in rows if a != b}
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in canon:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return rows, len(canon), {x: find(x) for x in parent}


def _reads_checkpoint(df) -> bool:
    leaves = df._jdf.queryExecution().withCachedData().collectLeaves()
    return any(leaves.apply(i).getClass().getSimpleName() == "LogicalRDD"
               for i in range(leaves.size()))


@pytest.mark.parametrize(("seed", "coalesce"), [(5, "true"), (17, "false")])
@pytest.mark.parametrize("with_nodes", [False, True])
def test_connected_components_branches_row_identical(spark, monkeypatch,
                                                     with_nodes, seed, coalesce):
    """The bound admits the driver union-find at exactly |pairs| and forces
    the distributed contraction at |pairs| - 1; both give the same rows,
    and with ``nodes=`` the edge-less ids come out as ``(id, id)``. With
    AQE partition coalescing off the pair set keeps several partitions."""
    rows, n_pairs, want = _cc_fixture(seed)
    e = _edges(spark, rows)
    nodes = None
    if with_nodes:
        extra = [100, 101, *list(want)[:3]]      # two loners, three on edges
        nodes = local_df(spark, [(x,) for x in extra + extra], "id long")
        want = {**{x: x for x in extra}, **want}
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prior = spark.conf.get(key)
    spark.conf.set(key, coalesce)
    try:
        assert (e.distinct().rdd.getNumPartitions() > 1) == (coalesce == "false")
        got = {}
        for bound, distributed in ((n_pairs, False), (n_pairs - 1, True)):
            monkeypatch.setattr(AN, "_LOCAL_CC_MAX_PAIRS", bound)
            out = AN.connected_components(e, nodes=nodes)
            assert _reads_checkpoint(out) == distributed
            got[bound] = sorted((r["id"], r["component"]) for r in out.collect())
    finally:
        spark.conf.set(key, prior)
    assert got[n_pairs] == got[n_pairs - 1] == sorted(want.items())
