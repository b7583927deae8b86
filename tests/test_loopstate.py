"""Loop-state lifecycle: an operator call leaves persisted only what backs
its result, a failing call leaves nothing, and no checkpoint, cache or
free in the package bypasses ``loopstate``."""

import re
from pathlib import Path
from unittest import mock

import pytest
from pyspark.sql import functions as F

from judy_graph_db_spark import loopstate
from judy_graph_db_spark.operators import analytics as AN
from judy_graph_db_spark.operators import sampling as S
from judy_graph_db_spark.operators import temporal as T
from judy_graph_db_spark.operators import unigram as U
from judy_graph_db_spark.schema import local_df

PACKAGE = Path(loopstate.__file__).resolve().parent

# two K4s joined through node 20, a pendant path off the second, and two
# separate components: a directed 3-cycle and a 3-node path. Shallow
# (diameter 6) so every case runs in a few seconds, yet every loop below
# runs more than one round: peels, waves, BFS levels, SCC trims.
_K4A = [(a, b) for a in range(4) for b in range(a + 1, 4)]
_K4B = [(a + 10, b + 10) for a, b in _K4A]
EDGES = (_K4A + _K4B + [(3, 20), (20, 10), (13, 30), (30, 31),
                        (40, 41), (41, 42), (42, 40), (60, 61), (61, 62)])


@pytest.fixture(scope="module")
def edges(spark):
    rows = [(s, d, (s * 7 + d) % 5 + 1, (s + d) % 4) for s, d in EDGES]
    return local_df(spark, rows, "src long, dst long, weight long, ts long")


@pytest.fixture(scope="module")
def docs(spark):
    text = ["the cat sat on the mat", "a cat and a hat", "the hat sat"]
    return local_df(spark, list(enumerate(text)), "doc_id long, text string")


def _persistent(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _backing(df) -> set:
    """RDD ids holding the result's data: the ``LogicalRDD`` leaves and
    ``InMemoryRelation`` buffers of its cache-substituted plan."""
    leaves = df._jdf.queryExecution().withCachedData().collectLeaves()
    ids = set()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        kind = leaf.getClass().getSimpleName()
        if kind == "LogicalRDD":
            ids.add(leaf.rdd().id())
        elif kind == "InMemoryRelation":
            ids.add(leaf.cacheBuilder().cachedColumnBuffers().id())
    return ids


def _distributed(op):
    """``op`` on its distributed branch (the fixture fits the driver
    branch otherwise)."""
    with mock.patch.object(AN, "_LOCAL_MAX_ROWS", 0):
        return op()


OPERATORS = {
    "connected_components": lambda e, d: AN.connected_components(e),
    "connected_components_distributed":
        lambda e, d: _distributed(lambda: AN.connected_components(e)),
    "transitive_closure": lambda e, d: AN.transitive_closure(e),
    "transitive_closure_distributed":
        lambda e, d: _distributed(lambda: AN.transitive_closure(e)),
    "pagerank": lambda e, d: AN.pagerank(e),
    "pagerank_distributed": lambda e, d: _distributed(lambda: AN.pagerank(e)),
    "scc_closure": lambda e, d: AN.strongly_connected_components(e, "closure"),
    "scc_coloring": lambda e, d: AN.strongly_connected_components(e, "coloring"),
    "betweenness_sampled": lambda e, d: AN.betweenness_sampled(e, n_pivots=4),
    "edge_betweenness_sampled":
        lambda e, d: AN.edge_betweenness_sampled(e, n_pivots=4),
    "random_walks": lambda e, d: S.random_walks(e),
    "unigram_train": lambda e, d: U.unigram_train(d, seed_size=32),
    "landmark_distances": lambda e, d: AN.landmark_distances(e),
    "greedy_coloring": lambda e, d: AN.greedy_coloring(e),
    "girvan_newman_split": lambda e, d: AN.girvan_newman_split(e, n_removals=2),
    "onion_layers": lambda e, d: AN.onion_layers(e),
    "maximal_independent_set": lambda e, d: AN.maximal_independent_set(e),
    "minimum_spanning_forest": lambda e, d: AN.minimum_spanning_forest(e),
    "time_respecting_reachability":
        lambda e, d: T.time_respecting_reachability(e),
    "greedy_moves": lambda e, d: AN.greedy_modularity_moves(e),
    "coreness": lambda e, d: AN.coreness(e),
    "maximal_matching": lambda e, d: AN.maximal_matching(e),
    "trussness": lambda e, d: AN.trussness(e),
    "hyperball_registers": lambda e, d: AN.hyperball_registers(e),
}


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_operator_leaves_only_its_result_persisted(spark, edges, docs, name):
    """Every RDD the call newly persisted backs one of its results. Each
    result is counted first, so deferred and lazy results are built. A
    GC can only unregister RDDs, so it can weaken this check but never
    break it."""
    edges.count(), docs.count()
    before = _persistent(spark)
    out = OPERATORS[name](edges, docs)
    results = list(out) if isinstance(out, tuple) else [out]
    for df in results:
        df.count()
    backing = set().union(*(_backing(df) for df in results))
    leaked = _persistent(spark) - before - backing
    assert not leaked, leaked


def test_scope_frees_everything_on_exception(spark, edges):
    before = _persistent(spark)

    @loopstate.scoped
    def failing():
        ck = loopstate.checkpoint(edges.select("src", "dst"), eager=True)
        loopstate.cache(ck.filter(F.col("src") > 1)).count()
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError, match="boom"):
        failing()
    assert not _persistent(spark) - before


def test_deferred_result_outlives_the_scope_that_first_reads_it(spark, edges):
    """A Deferred frame's result belongs to its holder: building it inside
    some other scope must not hand its checkpoints to that scope, and the
    relation its thunk read is freed once the result is built."""
    before = _persistent(spark)

    @loopstate.scoped
    def make():
        k = loopstate.checkpoint(edges.select("src", "dst"), eager=True)
        return loopstate.Deferred(spark, lambda: loopstate.checkpoint(
            k.filter(F.col("src") < 20), eager=True).filter(F.col("dst") > 0), [k])

    df = make()
    n = loopstate.scoped(df.count)()
    assert df.count() == n > 0
    assert not _persistent(spark) - before - _backing(df)


GUARDED = re.compile(r"localCheckpoint\(|queryExecution\(\)\.analyzed\(\)\.rdd\(\)"
                     r"\.unpersist|_unpersist_checkpoint")
OPERATOR_CACHE = re.compile(r"\.cache\(\)|\.unpersist\(")


def test_no_checkpoint_or_free_outside_loopstate():
    """Checkpoints, RDD-level frees and operator caches go through
    ``loopstate`` so a scope owns them; ``Graph.cache`` and the compiler's
    cached pattern table are user-facing and stay."""
    hits = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path == PACKAGE / "loopstate.py":
            continue
        in_operators = path.parent.name == "operators"
        hits += [f"{path.relative_to(PACKAGE.parent)}:{i}"
                 for i, line in enumerate(path.read_text().splitlines(), 1)
                 if GUARDED.search(line)
                 or (in_operators and OPERATOR_CACHE.search(line))]
    assert not hits, hits
