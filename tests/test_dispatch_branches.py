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
            monkeypatch.setattr(AN, "_LOCAL_MAX_ROWS", bound)
            out = AN.connected_components(e, nodes=nodes)
            assert _reads_checkpoint(out) == distributed
            got[bound] = sorted((r["id"], r["component"]) for r in out.collect())
    finally:
        spark.conf.set(key, prior)
    assert got[n_pairs] == got[n_pairs - 1] == sorted(want.items())


def _closure_fixture(seed):
    """A random weighted multigraph with cycles, self-loops, parallel
    edges and zero weights."""
    import random

    rng = random.Random(seed)
    n = 14
    rows = [(rng.randrange(n), rng.randrange(n), rng.choice([0, 1, 2, 3, 7]))
            for _ in range(26)]
    rows += [(a, a, rng.choice([0, 4])) for a in rng.sample(range(n), 3)]
    rows += [(a, b, w + 1) for a, b, w in rng.sample(rows, 4)]   # parallel
    rows += [(0, 1, 2), (1, 2, 2), (2, 0, 2)]                     # a cycle
    return rows + [(50, 51, 9)]            # heavier than any cap below


def _closure_reference(rows, weighted, keep_self, cap):
    """Floyd–Warshall over walks of ≥ 1 edge (the diagonal is the shortest
    closed walk), then the doubling's cap rule: paths over ``cap`` are
    dropped, base pairs heavier than it keep their base weight."""
    inf = float("inf")
    base = {}
    for a, b, w in rows:
        w = w if weighted else 1
        if keep_self or a != b:
            base[(a, b)] = min(base.get((a, b), inf), w)
    ids = sorted({x for ab in base for x in ab})
    d = {(i, j): base.get((i, j), inf) for i in ids for j in ids}
    for k in ids:
        for i in ids:
            for j in ids:
                d[i, j] = min(d[i, j], d[i, k] + d[k, j])
    cap = inf if cap is None else cap
    return sorted((i, j, v if v <= cap else base[i, j])
                  for (i, j), v in d.items()
                  if (keep_self or i != j) and v < inf
                  and (v <= cap or base.get((i, j), 0) > cap))


@pytest.mark.parametrize("seed", [3, 8])
@pytest.mark.parametrize(("weighted", "keep_self", "cap"), [
    (False, False, None), (False, True, None), (True, False, None),
    (True, True, None), (True, False, 5), (True, True, 5), (False, True, 2),
    (False, False, 0)])
def test_minplus_closure_branches_row_identical(spark, monkeypatch, seed,
                                               weighted, keep_self, cap):
    """The driver search admits the closure at a bound of exactly |rows|
    and falls back to the doubling at |rows| - 1; both give the
    reference's rows. Under a weighted cap (or a hop cap of 0) a base
    edge heavier than the cap keeps its base weight."""
    rows = _closure_fixture(seed)
    e = local_df(spark, rows, "src long, dst long, weight long")
    kw = dict(keep_self=keep_self, max_depth=cap,
              weight_col="weight" if weighted else None)
    want = _closure_reference(rows, weighted, keep_self, cap)
    if cap is not None and (weighted or cap < 1):
        assert any(w > cap for _, _, w in want)
    got = {}
    for bound, distributed in ((len(want), False), (len(want) - 1, True)):
        monkeypatch.setattr(AN, "_LOCAL_MAX_ROWS", bound)
        out = AN.minplus_closure(e, **kw)
        assert _reads_checkpoint(out) == distributed
        got[bound] = sorted(tuple(r) for r in out.collect())
    assert got[len(want)] == got[len(want) - 1] == want


def test_minplus_closure_max_iter_truncation_stays_distributed(spark):
    """With 2**max_iter below the node count the doubling's truncation can
    bind, so the call runs the doubling even under the bound; with enough
    rounds for every path it runs on the driver, and both agree where the
    truncation does not bind."""
    chain = [(i, i + 1) for i in range(9)]
    e = _edges(spark, chain)
    short = AN.transitive_closure(e, max_iter=2)
    assert _reads_checkpoint(short)
    # 2 rounds cover paths of up to 4 hops
    assert sorted(tuple(r) for r in short.collect()) == sorted(
        (a, b, b - a) for a in range(10) for b in range(a + 1, min(a + 5, 10)))
    full = AN.transitive_closure(e, max_iter=4)
    assert not _reads_checkpoint(full)
    assert sorted(tuple(r) for r in full.collect()) == sorted(
        (a, b, b - a) for a in range(10) for b in range(a + 1, 10))


def test_minplus_closure_dense_graph_falls_back_on_scans(spark, monkeypatch):
    """A complete digraph's closure has no more rows than its base, but
    each source's search scans every edge: on 12 nodes 1,584 edges for
    132 rows. Under a bound of 132 rows the scans pass ``4 * bound`` and
    the call runs the doubling; at a bound of 396 they fit and it runs on
    the driver. Both give every ordered pair at depth 1."""
    n = 12
    e = _edges(spark, [(a, b) for a in range(n) for b in range(n) if a != b])
    want = sorted((a, b, 1) for a in range(n) for b in range(n) if a != b)
    for bound, distributed in ((len(want), True), (3 * len(want), False)):
        monkeypatch.setattr(AN, "_LOCAL_MAX_ROWS", bound)
        out = AN.transitive_closure(e)
        assert _reads_checkpoint(out) == distributed
        assert sorted(tuple(r) for r in out.collect()) == want


@pytest.mark.parametrize("id_type", ["bigint", "string"])
@pytest.mark.parametrize("weighted", [False, True])
def test_pagerank_branches_match(spark, monkeypatch, weighted, id_type):
    """Driver and distributed PageRank give the same ids, id type and
    ranks to 1e-12 (the sums run in different orders) on a graph with
    dangling nodes and parallel edges, cold and warm-started from
    ``init_ranks`` that lack some ids and carry ids the graph does not
    have."""
    import random

    key = str if id_type == "string" else int
    rng = random.Random(29)
    rows = [(key(rng.randrange(12)), key(rng.randrange(16)), rng.randrange(1, 5))
            for _ in range(40)]                 # ids 12..15 are sinks
    e = local_df(spark, rows, f"src {id_type}, dst {id_type}, weight long")
    init = local_df(spark, [(key(i), 0.5 + i / 10) for i in range(0, 20, 2)],
                    f"id {id_type}, rank double")  # odd ids and 16..19 unseen/extra
    wcol = "weight" if weighted else None
    got = {}
    for bound, distributed in ((10 ** 6, False), (0, True)):
        monkeypatch.setattr(AN, "_LOCAL_MAX_ROWS", bound)
        outs = [AN.pagerank(e, iters=3, weight_col=wcol),
                AN.pagerank(e, iters=2, weight_col=wcol, init_ranks=init)]
        assert all(_reads_checkpoint(o) == distributed for o in outs)
        assert all(o.schema["id"].dataType.simpleString() == id_type
                   for o in outs)
        got[bound] = [dict(tuple(r) for r in o.collect()) for o in outs]
    for local, dist in zip(got[10 ** 6], got[0]):
        assert local.keys() == dist.keys()
        assert all(abs(local[k] - dist[k]) < 1e-12 for k in local)
