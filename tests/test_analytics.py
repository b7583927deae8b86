"""Whole-graph analytics operators (operators/analytics.py) on hand-checked
tiny graphs — the parity-plus surface the reference leaves TODO
(``doc/Neo4j.md:179-197``, SURVEY.md §2.7)."""

import duckdb
from pyspark.sql import functions as F

from judy_graph_db_spark import loopstate
from judy_graph_db_spark.operators import analytics as AN


def edges_df(spark, pairs):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "src BIGINT, dst BIGINT"
    )


def test_connected_components_two_components(spark):
    # chain 1-2-3-4 plus pair 10-11; direction must not matter
    e = edges_df(spark, [(2, 1), (2, 3), (4, 3), (10, 11)])
    got = {
        (r["id"], r["component"])
        for r in AN.connected_components(e).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}


def test_connected_components_isolated_nodes(spark):
    # an explicit node table adds edge-less ids as singleton components
    e = edges_df(spark, [(1, 2)])
    n = spark.createDataFrame([(1,), (2,), (9,)], "id BIGINT")
    got = {(r["id"], r["component"])
           for r in AN.connected_components(e, nodes=n).collect()}
    assert got == {(1, 1), (2, 1), (9, 9)}


def test_connected_components_long_chain_converges_fast(spark, monkeypatch):
    # pointer jumping: a 64-node path must converge well under 64 rounds
    # (on the distributed branch; the driver union-find has no rounds)
    monkeypatch.setattr(AN, "_LOCAL_MAX_ROWS", 0)
    n = 64
    e = edges_df(spark, [(i, i + 1) for i in range(n - 1)])
    cc = AN.connected_components(e, max_iter=12)
    assert {r["component"] for r in cc.collect()} == {0}


def test_connected_components_self_loop_and_parallel(spark):
    e = edges_df(spark, [(5, 5), (6, 7), (7, 6), (6, 7)])
    got = {(r["id"], r["component"]) for r in AN.connected_components(e).collect()}
    # self-loop-only node is dropped from sym (no neighbors); 6-7 merge
    assert got == {(6, 6), (7, 6)}


def test_triangle_count_k4(spark):
    # K4 has C(4,3)=4 triangles; add reversed + parallel rows to prove
    # canonicalization dedups them
    base = [(a, b) for a in range(4) for b in range(4) if a < b]
    e = edges_df(spark, base + [(b, a) for a, b in base] + base)
    assert AN.triangle_count(e).collect()[0]["triangles"] == 4


def test_triangle_count_triangle_free(spark):
    e = edges_df(spark, [(0, 1), (1, 2), (2, 3)])
    assert AN.triangle_count(e).collect()[0]["triangles"] == 0


def test_pagerank_star_matches_hand_computation(spark):
    # star: 1,2,3 -> 0; one iteration from rank 1.0:
    #   rank(0) = 0.15 + 0.85 * 3 = 2.70 ; leaves: 0.15 (no in-edges)
    e = edges_df(spark, [(1, 0), (2, 0), (3, 0)])
    pr = {r["id"]: r["rank"] for r in AN.pagerank(e, iters=1).collect()}
    assert abs(pr[0] - 2.70) < 1e-9
    for leaf in (1, 2, 3):
        assert abs(pr[leaf] - 0.15) < 1e-9


def test_pagerank_matches_unrolled_sql_oracle(spark):
    # cycle + chord, 3 iterations: Spark loop vs the DuckDB unrolled twin
    pairs = [(0, 1), (1, 2), (2, 3), (3, 0), (1, 3), (4, 1)]
    e = edges_df(spark, pairs)
    got = {
        r["id"]: r["rank_e4"]
        for r in AN.pagerank(e, iters=3)
        .select("id", F.round(F.col("rank") * 10000).cast("long").alias("rank_e4"))
        .collect()
    }
    con = duckdb.connect()
    values = ", ".join(f"({a}, {b})" for a, b in pairs)
    sql = AN.pagerank_oracle_sql(
        f"SELECT * FROM (VALUES {values}) AS t(src, dst)", iters=3
    )
    want = {row[0]: row[1] for row in con.sql(sql).fetchall()}
    assert got == want


def test_connected_components_random_vs_union_find(spark):
    import random

    rng = random.Random(42)
    for trial in range(3):
        n = 40
        m = rng.randint(10, 60)
        pairs = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        pairs = [(a, b) for a, b in pairs if a != b]
        # python union-find oracle
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        touched = {x for ab in pairs for x in ab}
        want = {x: find(x) for x in touched}
        # min-id canonical: find() with union-by-min gives the min root
        got = {
            r["id"]: r["component"]
            for r in AN.connected_components(edges_df(spark, pairs)).collect()
        }
        assert got == want, f"trial {trial}: {got} != {want}"


def test_triangle_count_random_vs_bruteforce(spark):
    import itertools
    import random

    rng = random.Random(7)
    n = 12
    pairs = [(a, b) for a in range(n) for b in range(n)
             if a < b and rng.random() < 0.3]
    adj = set(pairs)
    want = sum(
        1 for a, b, c in itertools.combinations(range(n), 3)
        if (a, b) in adj and (b, c) in adj and (a, c) in adj
    )
    got = AN.triangle_count(edges_df(spark, pairs)).collect()[0]["triangles"]
    assert got == want


def test_pagerank_warm_start_equals_cold(spark):
    # 2 cold iters + 1 warm iter runs the identical join/sum sequence as
    # 3 cold iters -> bit-identical floats, not just approximately equal
    pairs = [(0, 1), (1, 2), (2, 3), (3, 0), (1, 3), (4, 1)]
    e = edges_df(spark, pairs)
    cold = {r["id"]: r["rank"] for r in AN.pagerank(e, iters=3).collect()}
    warm = {r["id"]: r["rank"] for r in AN.pagerank(
        e, iters=1, init_ranks=AN.pagerank(e, iters=2)).collect()}
    assert warm == cold


def test_pagerank_warm_start_new_nodes_default_cold(spark):
    # a node absent from init_ranks (newly arrived in the snapshot)
    # starts at the cold 1.0, so its rank after one warm iteration
    # matches a hand computation: 5 -> 0 added; init covers only 0..4
    e0 = edges_df(spark, [(1, 0), (2, 0)])
    init = AN.pagerank(e0, iters=1)
    e1 = edges_df(spark, [(1, 0), (2, 0), (5, 0)])
    warm = {r["id"]: r["rank"] for r in AN.pagerank(
        e1, iters=1, init_ranks=init).collect()}
    # rank(0) = 0.15 + 0.85*(r1 + r2 + r5) with r1 = r2 = 0.15 (from
    # init), r5 = 1.0 (cold default)
    assert abs(warm[0] - (0.15 + 0.85 * (0.15 + 0.15 + 1.0))) < 1e-9
    assert abs(warm[5] - 0.15) < 1e-9


def test_pagerank_random_vs_numpy(spark):
    import random

    import numpy as np

    rng = random.Random(11)
    n = 15
    pairs = sorted({(rng.randrange(n), rng.randrange(n)) for _ in range(40)})
    pairs = [(a, b) for a, b in pairs if a != b]
    nodes = sorted({x for ab in pairs for x in ab})
    idx = {v: i for i, v in enumerate(nodes)}
    outdeg = {}
    for a, _ in pairs:
        outdeg[a] = outdeg.get(a, 0) + 1
    r = np.ones(len(nodes))
    for _ in range(4):
        nxt = np.full(len(nodes), 0.15)
        for a, b in pairs:
            nxt[idx[b]] += 0.85 * r[idx[a]] / outdeg[a]
        r = nxt
    got = {row["id"]: row["rank"]
           for row in AN.pagerank(edges_df(spark, pairs), iters=4).collect()}
    for v in nodes:
        assert abs(got[v] - r[idx[v]]) < 1e-9, v


def test_k_core_peels_cascade(spark):
    # triangle 1-2-3 plus a pendant chain 3-4-5: 2-core = the triangle only
    # (4 drops, then 5's degree is 0 — the cascade must propagate)
    e = edges_df(spark, [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)])
    got = {(r["id"], r["degree"]) for r in AN.k_core(e, k=2).collect()}
    assert got == {(1, 2), (2, 2), (3, 2)}
    # 3-core of the same graph is empty
    assert AN.k_core(e, k=3).count() == 0


def test_k_core_random_vs_python_peeling(spark):
    import random

    rng = random.Random(13)
    n = 25
    pairs = sorted({(a, b) for a in range(n) for b in range(n)
                    if a < b and rng.random() < 0.15})
    k = 2
    # python peeling oracle
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    changed = True
    while changed:
        changed = False
        for v in list(adj):
            if len(adj[v]) < k:
                for u in adj[v]:
                    adj[u].discard(v)
                del adj[v]
                changed = True
    want = {(v, len(nbrs)) for v, nbrs in adj.items()}
    got = {(r["id"], r["degree"])
           for r in AN.k_core(edges_df(spark, pairs), k=k).collect()}
    assert got == want


def test_transitive_closure_chain_and_branch(spark):
    # chain 1→2→3→4 plus branch 2→5; depths = shortest hop counts
    e = edges_df(spark, [(1, 2), (2, 3), (3, 4), (2, 5)])
    got = {(r.src, r.dst): r.depth for r in AN.transitive_closure(e).collect()}
    assert got == {
        (1, 2): 1, (2, 3): 1, (3, 4): 1, (2, 5): 1,
        (1, 3): 2, (2, 4): 2, (1, 5): 2, (1, 4): 3,
    }


def test_transitive_closure_cycle_safe(spark):
    e = edges_df(spark, [(1, 2), (2, 3), (3, 1)])
    got = {(r.src, r.dst): r.depth for r in AN.transitive_closure(e).collect()}
    # every ordered pair reachable; self-pairs excluded; min depths
    assert got == {
        (1, 2): 1, (2, 3): 1, (3, 1): 1,
        (1, 3): 2, (2, 1): 2, (3, 2): 2,
    }


def test_transitive_closure_random_vs_bfs(spark):
    import random
    from collections import deque

    rng = random.Random(5)
    n = 18
    pairs = sorted({(rng.randrange(n), rng.randrange(n)) for _ in range(30)})
    pairs = [(a, b) for a, b in pairs if a != b]
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, []).append(b)
    want = {}
    for s in {a for a, _ in pairs}:
        dist = {s: 0}
        q = deque([s])
        while q:
            u = q.popleft()
            for v in adj.get(u, []):
                if v not in dist:
                    dist[v] = dist[u] + 1
                    q.append(v)
        for v, d in dist.items():
            if v != s:
                want[(s, v)] = d
    got = {(r.src, r.dst): r.depth
           for r in AN.transitive_closure(edges_df(spark, pairs)).collect()}
    assert got == want


def test_label_propagation_two_cliques(spark):
    """Two 4-cliques joined by one bridge edge: each clique converges to its
    own min-id community; the bridge does not merge them (each bridge
    endpoint has 3 in-clique neighbors vs 1 across)."""
    import itertools

    c1 = list(itertools.combinations([0, 1, 2, 3], 2))
    c2 = list(itertools.combinations([10, 11, 12, 13], 2))
    got = {
        r["id"]: r["community"]
        for r in AN.label_propagation(edges_df(spark, c1 + c2 + [(3, 10)]), iters=4).collect()
    }
    assert {got[i] for i in (0, 1, 2, 3)} == {0}
    assert {got[i] for i in (10, 11, 12, 13)} == {10}


def test_label_propagation_random_vs_python(spark):
    """Synchronous min-tie LPA against a straight Python simulation."""
    import random
    from collections import Counter, defaultdict

    rng = random.Random(11)
    n = 30
    pairs = [(rng.randrange(n), rng.randrange(n)) for _ in range(60)]
    pairs = [(a, b) for a, b in pairs if a != b]
    adj = defaultdict(set)
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    lbl = {v: v for v in adj}
    iters = 3
    for _ in range(iters):
        nxt = {}
        for v in adj:
            counts = Counter(lbl[u] for u in adj[v])
            top = max(counts.values())
            nxt[v] = min(l for l, c in counts.items() if c == top)
        lbl = nxt
    got = {
        r["id"]: r["community"]
        for r in AN.label_propagation(edges_df(spark, pairs), iters=iters).collect()
    }
    assert got == lbl


def test_bipartite_projection(spark):
    # orders (src) containing parts (dst): parts co-ordered
    e = edges_df(spark, [(1, 10), (1, 11), (1, 12), (2, 10), (2, 11), (3, 10)])
    got = {(r.a, r.b): r.n_common for r in AN.bipartite_projection(e).collect()}
    assert got == {(10, 11): 2, (10, 12): 1, (11, 12): 1}
    strong = {(r.a, r.b) for r in AN.bipartite_projection(e, min_count=2).collect()}
    assert strong == {(10, 11)}


def test_bipartite_projection_max_degree_excludes_hub(spark):
    # basket 1 is a hub (4 items); basket 2 is small. With max_degree=2 the
    # hub basket contributes no wedges — only basket 2's pair survives.
    e = edges_df(
        spark, [(1, 10), (1, 11), (1, 12), (1, 13), (2, 10), (2, 11)]
    )
    full = {(r.a, r.b): r.n_common for r in AN.bipartite_projection(e).collect()}
    assert full[(10, 11)] == 2 and (12, 13) in full
    capped = {
        (r.a, r.b): r.n_common
        for r in AN.bipartite_projection(e, max_degree=2).collect()
    }
    assert capped == {(10, 11): 1}  # hub wedges gone, count drops to 1


def test_jaccard_max_degree_excludes_hub_pivot(spark):
    # star: hub 1 connects to 2,3,4 (deg 3); plus 2-3 via private node 5.
    # Capping the wedge pivot at degree 2 removes every wedge through 1.
    e = edges_df(spark, [(1, 2), (1, 3), (1, 4), (2, 5), (3, 5)])
    full = {(r.a, r.b) for r in AN.jaccard_similarity(e).collect()}
    assert (2, 4) in full and (3, 4) in full  # hub-only wedges present
    capped = {
        (r.a, r.b): r.common
        for r in AN.jaccard_similarity(e, max_degree=2).collect()
    }
    assert (2, 4) not in capped and (3, 4) not in capped
    # 2-3 survives via pivot 5 (deg 2), common excludes the hub wedge
    assert capped[(2, 3)] == 1


def test_resource_allocation(spark):
    # path 1-2-3 plus 1-3: every pair shares exactly one neighbor of
    # degree 2 -> RA = 500000; PA = 2·2 = 4
    e = edges_df(spark, [(1, 2), (2, 3), (1, 3)])
    got = {(r.a, r.b): (r.common, r.ra_micro, r.pa)
           for r in AN.resource_allocation(e).collect()}
    assert got == {(1, 2): (1, 500000, 4), (1, 3): (1, 500000, 4),
                   (2, 3): (1, 500000, 4)}
    # hub pivot discounts: 4-5 share hub 1 (deg 3) and leaf 6 (deg 2)
    # -> RA = 1000000//3 + 500000 = 833333
    e2 = edges_df(spark, [(4, 1), (5, 1), (1, 9), (4, 6), (5, 6)])
    got2 = {(r.a, r.b): (r.common, r.ra_micro)
            for r in AN.resource_allocation(e2).collect()}
    assert got2[(4, 5)] == (2, 833333)
    # max_degree=2 drops the hub wedge but keeps the leaf one
    capped = {(r.a, r.b): (r.common, r.ra_micro)
              for r in AN.resource_allocation(e2, max_degree=2).collect()}
    assert capped[(4, 5)] == (1, 500000)


def test_resource_allocation_matches_oracle(spark):
    import duckdb

    from judy_graph_db_spark import oracle as O

    rows = [(i % 7 + 1, (i * 3) % 11 + 20) for i in range(40)]
    e = spark.createDataFrame(rows, "src BIGINT, dst BIGINT")
    got = sorted(tuple(r) for r in AN.resource_allocation(e).collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE t (s BIGINT, d BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    twin = sorted(tuple(t) for t in con.execute(
        O.resource_allocation_sql(table="t", src_expr="s", dst_expr="d")
    ).fetchall())
    assert got == twin


def test_weighted_paths_rejects_bad_weights(spark):
    import pytest as _pt

    neg = spark.createDataFrame(
        [(1, 2, 5), (2, 3, -1)], "src BIGINT, dst BIGINT, weight BIGINT"
    )
    with _pt.raises(ValueError, match="non-negative"):
        AN.weighted_shortest_paths(neg)
    withnull = spark.createDataFrame(
        [(1, 2, 5), (2, 3, None)], "src BIGINT, dst BIGINT, weight BIGINT"
    )
    with _pt.raises(ValueError, match="non-null"):
        AN.weighted_shortest_paths(withnull)


def test_jaccard_similarity(spark):
    # path 1-2-3 plus 1-3: N(1)={2,3}, N(2)={1,3}, N(3)={1,2}
    e = edges_df(spark, [(1, 2), (2, 3), (1, 3)])
    got = {(r.a, r.b): (r.common, r.jaccard_permille)
           for r in AN.jaccard_similarity(e).collect()}
    # every pair shares exactly one neighbor; union = 2+2-1 = 3 -> 333
    assert got == {(1, 2): (1, 333), (1, 3): (1, 333), (2, 3): (1, 333)}


def test_jaccard_identical_neighborhoods(spark):
    # 4 and 5 both connect to {1,2} only -> jaccard(4,5) = 1000
    e = edges_df(spark, [(4, 1), (4, 2), (5, 1), (5, 2)])
    got = {(r.a, r.b): r.jaccard_permille for r in AN.jaccard_similarity(e).collect()}
    assert got[(4, 5)] == 1000


def test_weighted_shortest_paths(spark):
    # triangle with a shortcut: 1->2 (10), 2->3 (10), 1->3 (25) -> best 1->3 is 20
    e = spark.createDataFrame(
        [(1, 2, 10), (2, 3, 10), (1, 3, 25)], "src BIGINT, dst BIGINT, weight BIGINT"
    )
    got = {(r.src, r.dst): r.dist for r in AN.weighted_shortest_paths(e).collect()}
    assert got == {(1, 2): 10, (2, 3): 10, (1, 3): 20}
    # parallel edges collapse to the min; long chains converge via doubling
    e2 = spark.createDataFrame(
        [(1, 2, 7), (1, 2, 3)] + [(i, i + 1, 1) for i in range(2, 10)],
        "src BIGINT, dst BIGINT, weight BIGINT",
    )
    got2 = {(r.src, r.dst): r.dist for r in AN.weighted_shortest_paths(e2).collect()}
    assert got2[(1, 2)] == 3 and got2[(1, 10)] == 3 + 8


def test_hits_star(spark):
    # 1->3, 2->3: node 3 is the sole authority; 1 and 2 split hub mass
    e = edges_df(spark, [(1, 3), (2, 3)])
    got = {r.id: (round(r.auth, 9), round(r.hub, 9)) for r in AN.hits(e, iters=3).collect()}
    assert got[3] == (1.0, 0.0)
    assert got[1] == (0.0, 0.5) and got[2] == (0.0, 0.5)


def test_hits_prefers_hub_pointing_at_authorities(spark):
    # 10 points at both authorities, 11 at one: hub(10) > hub(11); the
    # doubly-cited authority outranks the singly-cited one
    e = edges_df(spark, [(10, 1), (10, 2), (11, 1), (1, 99), (2, 98)])
    got = {r.id: (r.auth, r.hub) for r in AN.hits(e, iters=3).collect()}
    assert got[10][1] > got[11][1]
    assert got[1][0] > got[2][0]
    # L1 normalization: each measure sums to 1
    assert abs(sum(a for a, _ in got.values()) - 1.0) < 1e-9
    assert abs(sum(h for _, h in got.values()) - 1.0) < 1e-9


def test_personalized_pagerank_chain(spark):
    # 1->2->3 seeded at 1: closed form after 2 rounds
    e = edges_df(spark, [(1, 2), (2, 3)])
    got = {r.id: round(r.rank, 9) for r in
           AN.personalized_pagerank(e, seeds=[1], iters=2).collect()}
    assert got[1] == round(0.15, 9)
    assert got[2] == round(0.85 * 0.15, 9)
    assert got[3] == round(0.85 * 0.85, 9)


def test_personalized_pagerank_mass_concentrates_near_seeds(spark):
    # two disjoint pairs; only the seeded pair carries any mass
    e = edges_df(spark, [(1, 2), (8, 9)])
    got = {r.id: r.rank for r in
           AN.personalized_pagerank(e, seeds=[1], iters=3).collect()}
    assert got[8] == 0.0 and got[9] == 0.0
    assert got[1] > 0 and got[2] > 0
    import pytest as _pt
    with _pt.raises(ValueError, match="non-empty seed"):
        AN.personalized_pagerank(e, seeds=[])


def test_scc_cycle_vs_chain(spark):
    # a->b->c->a is one SCC; the dangling chain c->d->e stays singletons
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)], "src long, dst long"
    )
    out = {r["id"]: r["scc"] for r in
           AN.strongly_connected_components(edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5}


def test_scc_direction_matters(spark):
    # two cycles bridged ONE WAY stay separate SCCs (weak CC would merge)
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (10, 11), (11, 10), (2, 10)], "src long, dst long"
    )
    out = {r["id"]: r["scc"] for r in
           AN.strongly_connected_components(edges).collect()}
    assert out == {1: 1, 2: 1, 10: 10, 11: 10}
    cc = {r["id"]: r["component"] for r in
          AN.connected_components(
              edges.select("src", "dst")).collect()}
    assert len(set(cc.values())) == 1  # the contrast the gate relies on


def test_scc_self_loop_and_isolated_pair(spark):
    # self-loops are filtered (src==dst); an edge a->b with no return path
    # leaves both as singletons
    edges = spark.createDataFrame(
        [(7, 7), (8, 9)], "src long, dst long"
    )
    out = {r["id"]: r["scc"] for r in
           AN.strongly_connected_components(edges).collect()}
    assert out == {8: 8, 9: 9}


def test_scc_coloring_matches_closure_on_random_graphs(spark):
    # the two physical strategies must agree; seeded graphs with mixed
    # cycles, chains, and cross-links exercise multi-round peeling
    import random

    for seed in (3, 17):
        rng = random.Random(seed)
        n = 40
        pairs = {(rng.randrange(n), rng.randrange(n)) for _ in range(70)}
        edges = spark.createDataFrame(
            [(int(a), int(b)) for a, b in pairs], "src long, dst long"
        )
        a = sorted((r["id"], r["scc"]) for r in
                   AN.strongly_connected_components(edges, method="closure").collect())
        b = sorted((r["id"], r["scc"]) for r in
                   AN.strongly_connected_components(edges, method="coloring").collect())
        assert a == b, f"seed {seed}: strategies disagree"


def test_scc_coloring_peels_chain(spark):
    # a pure chain is all-acyclic: trimming must settle EVERY node with
    # zero FW-BW rounds (pre-trim, this cost one full forward
    # propagation per node — O(n^2) jobs on lineage-chain graphs)
    from judy_graph_db_spark.operators.analytics import _scc_coloring

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "src long, dst long"
    )
    stats = {}
    out = {r["id"]: r["scc"]
           for r in _scc_coloring(edges, stats=stats).collect()}
    assert out == {i: i for i in range(7)}
    assert stats["fw_bw_rounds"] == 0
    assert stats["trim_iters"] >= 1


def test_scc_coloring_trim_iteration_job_count(spark):
    # r15 trim-loop merge: a trim iteration is ONE Spark job (the
    # emptiness count that materializes the trivial set and, through
    # lineage, the round's non-eager actives) — the r14 form paid 3
    # extra eager-checkpoint jobs per iteration (settled rewrite +
    # nodes + edges). A 7-node pure chain runs 4 trim iterations
    # ([0,6],[1,5],[2,4],[3]) + 1 empty-probe + 1 active-empty probe +
    # 1 final settled union + ~2 setup-free jobs; assert a hard budget
    # well under the r14 form's floor (which paid >= 4*4 + probes).
    from judy_graph_db_spark.operators.analytics import _scc_coloring

    sc = spark.sparkContext
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "src long, dst long"
    )
    stats = {}
    # pin one-action==one-job execution: AQE materializes every query
    # stage as its own job and broadcast exchanges run driver-side jobs
    # of their own, which would count engine stages, not operator actions
    saved = {k: spark.conf.get(k) for k in (
        "spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold")}
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sc.setJobGroup("scc-trim-jobs", "r15 trim job-count assertion")
    try:
        out = {r["id"]: r["scc"]
               for r in _scc_coloring(edges, stats=stats).collect()}
    finally:
        sc.setJobGroup(None, None)
        for k, v in saved.items():
            spark.conf.set(k, v)
    jobs = sc._jsc.sc().statusTracker().getJobIdsForGroup("scc-trim-jobs")
    assert out == {i: i for i in range(7)}
    assert stats["trim_iters"] == 4 and stats["fw_bw_rounds"] == 0
    # 4 trim counts + empty-trim probe + active-empty probe + final
    # settled union + the caller's collect = 8; leave slack for engine
    # internals but stay far below the r14 form's ~17+
    assert len(jobs) <= 10, f"trim loop ran {len(jobs)} jobs"


def test_scc_coloring_trim_then_one_fwbw_round(spark):
    # chain tail feeding a cycle: the tail trims away, the cycle needs
    # exactly one FW-BW round
    from judy_graph_db_spark.operators.analytics import _scc_coloring

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (5, 3)],
        "src long, dst long",
    )
    stats = {}
    out = {r["id"]: r["scc"]
           for r in _scc_coloring(edges, stats=stats).collect()}
    assert out == {0: 0, 1: 1, 2: 2, 3: 3, 4: 3, 5: 3}
    assert stats["fw_bw_rounds"] == 1


def test_closeness_centrality_star_and_chain(spark):
    # star center reaches 3 nodes in 1 hop each; chain head 1->2->3:
    # n_reach 2, sum_depth 3
    edges = spark.createDataFrame(
        [(0, 10), (0, 11), (0, 12), (1, 2), (2, 3)], "src long, dst long"
    )
    out = {r["id"]: (r["n_reach"], r["sum_depth"], r["closeness_micro"])
           for r in AN.closeness_centrality(edges).collect()}
    assert out[0] == (3, 3, 1000000)
    assert out[1] == (2, 3, 666666)
    assert out[2] == (1, 1, 1000000)
    assert 10 not in out and 3 not in out  # sinks reach nothing -> no row


def test_square_count_known_graphs(spark):
    def sq(pairs, **kw):
        e = spark.createDataFrame(pairs, "src long, dst long")
        return AN.square_count(e, **kw).collect()[0]["squares"]

    assert sq([(1, 2), (2, 3), (3, 4), (4, 1)]) == 1          # C4
    assert sq([(1, 2), (2, 3), (3, 1)]) == 0                  # triangle
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    assert sq(k4) == 3                                        # K4: 3 squares
    # hub cap: a star has no squares; capping the hub must not crash or
    # invent any
    star = [(0, i) for i in range(1, 8)]
    assert sq(star) == 0
    assert sq(star, max_degree=3) == 0


def test_incremental_cc_matches_full_recompute(spark):
    import random

    rng = random.Random(5)
    all_edges = [(rng.randrange(30), rng.randrange(30)) for _ in range(40)]
    all_edges = [(a, b) for a, b in all_edges if a != b]
    old, new = all_edges[:20], all_edges[20:]
    old_df = spark.createDataFrame(old, "src long, dst long")
    new_df = spark.createDataFrame(new, "src long, dst long")
    full_df = spark.createDataFrame(all_edges, "src long, dst long")

    labels = AN.connected_components(old_df)
    inc = sorted((r["id"], r["component"]) for r in
                 AN.incremental_connected_components(labels, new_df).collect())
    full = sorted((r["id"], r["component"]) for r in
                  AN.connected_components(full_df).collect())
    assert inc == full


def test_incremental_cc_bridges_and_fresh_nodes(spark):
    # old: two components {1,2} and {10,11}; new edges bridge them AND
    # introduce brand-new nodes 100-101
    old_df = spark.createDataFrame([(1, 2), (10, 11)], "src long, dst long")
    new_df = spark.createDataFrame([(2, 10), (100, 101)], "src long, dst long")
    labels = AN.connected_components(old_df)
    out = {r["id"]: r["component"] for r in
           AN.incremental_connected_components(labels, new_df).collect()}
    assert out == {1: 1, 2: 1, 10: 1, 11: 1, 100: 100, 101: 100}


def test_local_clustering_known_graphs(spark):
    def lcc(pairs, **kw):
        e = spark.createDataFrame(pairs, "src long, dst long")
        return {r["id"]: (r["degree"], r["triangles"], r["lcc_permille"])
                for r in AN.local_clustering(e, **kw).collect()}

    # triangle: every node fully clustered
    out = lcc([(1, 2), (2, 3), (3, 1)])
    assert all(v == (2, 1, 1000) for v in out.values())
    # triangle with a pendant: node 3 has deg 3, 1 triangle of 3 pairs
    out = lcc([(1, 2), (2, 3), (3, 1), (3, 4)])
    assert out[3] == (3, 1, 333)
    assert out[4] == (1, 0, 0)       # degree-1 convention
    # star: hub neighbors unconnected
    out = lcc([(0, i) for i in range(1, 5)])
    assert out[0] == (4, 0, 0)


# --- k-truss ----------------------------------------------------------------

def test_k_truss_clique_plus_tail(spark):
    from judy_graph_db_spark.operators import analytics as AN

    # K4 on 1-4 plus a dangling triangle 4-5-6 plus a tail 6-7
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
         (4, 5), (4, 6), (5, 6), (6, 7)],
        "src long, dst long",
    )
    t4 = {(r.a, r.b): r.support for r in AN.k_truss(edges, k=4).collect()}
    # 4-truss = the K4 only; every K4 edge closes 2 triangles inside it
    assert set(t4) == {(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)}
    assert all(s == 2 for s in t4.values())
    t3 = {(r.a, r.b) for r in AN.k_truss(edges, k=3).collect()}
    # 3-truss keeps the dangling triangle, drops only the tail
    assert t3 == set(t4) | {(4, 5), (4, 6), (5, 6)}


def test_k_truss_matches_duckdb(spark):
    import duckdb

    from judy_graph_db_spark.operators import analytics as AN
    from tests.oracle_utils import compare

    # deterministic clustered graph: ring of 30 nodes + chord triangles
    rows = [(i, (i + 1) % 30) for i in range(30)]
    rows += [(i, (i + 2) % 30) for i in range(0, 30, 3)]
    edges = spark.createDataFrame(rows, "src long, dst long")
    con = duckdb.connect()
    con.sql("CREATE TABLE e(src BIGINT, dst BIGINT)")
    for s, d in rows:
        con.execute("INSERT INTO e VALUES (?, ?)", [s, d])
    out = AN.k_truss(edges, k=3)
    sql = AN.k_truss_oracle_sql("SELECT src, dst FROM e", k=3, rounds=4)
    ok, msg = compare(out, con, sql)
    assert ok, msg


# --- maximal independent set ------------------------------------------------

def test_mis_is_independent_and_maximal(spark):
    from judy_graph_db_spark.operators import analytics as AN

    rows = [(i, i + 1) for i in range(50)]          # path
    rows += [(10, 30), (5, 45), (20, 40)]           # chords
    edges = spark.createDataFrame(rows, "src long, dst long")
    mis = {r.id for r in AN.maximal_independent_set(edges).collect()}
    adj = {}
    for s, d in rows:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    # independent: no two MIS nodes adjacent
    for v in mis:
        assert not (adj[v] & mis), f"node {v} has MIS neighbor"
    # maximal: every non-MIS node has an MIS neighbor
    for v in adj:
        if v not in mis:
            assert adj[v] & mis, f"non-MIS node {v} uncovered"


def test_mis_matches_duckdb(spark):
    import duckdb

    from judy_graph_db_spark.operators import analytics as AN
    from tests.oracle_utils import compare

    rows = [(i, i + 1) for i in range(40)] + [(i, i + 7) for i in range(0, 33, 5)]
    edges = spark.createDataFrame(rows, "src long, dst long")
    con = duckdb.connect()
    con.sql("CREATE TABLE e(src BIGINT, dst BIGINT)")
    for s, d in rows:
        con.execute("INSERT INTO e VALUES (?, ?)", [s, d])
    out = AN.maximal_independent_set(edges, seed=7)
    sql = AN.mis_oracle_sql("SELECT src, dst FROM e", seed=7, rounds=12)
    ok, msg = compare(out, con, sql)
    assert ok, msg


def test_harmonic_centrality_chain(spark):
    from judy_graph_db_spark.operators import analytics as AN

    # directed path 1 -> 2 -> 3 -> 4
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    rows = {r.id: (r.n_reach, r.harmonic_micro)
            for r in AN.harmonic_centrality(edges).collect()}
    # node 1 reaches 2,3,4 at d=1,2,3 -> 1000000 + 500000 + 333333
    assert rows[1] == (3, 1833333)
    assert rows[2] == (2, 1500000)
    assert rows[3] == (1, 1000000)
    assert 4 not in rows  # reaches nothing -> no row (oracle support)


# --- minimum spanning forest ------------------------------------------------

def _kruskal(rows):
    """Reference MST with the same (w, a, b) tie order."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    forest = []
    for w, a, b in sorted((w, min(a, b), max(a, b)) for a, b, w in rows):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
            forest.append((a, b, w))
    return forest


def test_msf_matches_kruskal_distinct_weights(spark):
    import random

    from judy_graph_db_spark.operators import analytics as AN

    rng = random.Random(13)
    n = 40
    rows = [(i, i + 1, 0) for i in range(n)]            # path
    rows += [(rng.randrange(n), rng.randrange(n), 0) for _ in range(60)]
    rows = [(a, b, 0) for a, b in {(a, b) for a, b, _ in rows if a != b}]
    # distinct weights -> unique MST
    weights = rng.sample(range(1, 10000), len(rows))
    rows = [(a, b, w) for (a, b, _), w in zip(rows, weights)]
    edges = spark.createDataFrame(rows, "src long, dst long, weight long")
    got = sorted((r.a, r.b, r.weight)
                 for r in AN.minimum_spanning_forest(edges).collect())
    want = sorted(_kruskal(rows))
    assert got == want


def test_msf_forest_on_disconnected_graph(spark):
    from judy_graph_db_spark.operators import analytics as AN

    # two components: a triangle (drop the heavy edge) and one edge
    edges = spark.createDataFrame(
        [(1, 2, 5), (2, 3, 7), (1, 3, 9), (10, 11, 1)],
        "src long, dst long, weight long",
    )
    got = sorted((r.a, r.b, r.weight)
                 for r in AN.minimum_spanning_forest(edges).collect())
    assert got == [(1, 2, 5), (2, 3, 7), (10, 11, 1)]


def test_modularity_two_cliques(spark):
    from judy_graph_db_spark.operators import analytics as AN

    # two triangles joined by one bridge: communities = the triangles
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "src long, dst long",
    )
    labels = spark.createDataFrame(
        [(i, 1 if i <= 3 else 2) for i in range(1, 7)],
        "id long, community long",
    )
    rows = {r.community: r for r in
            AN.modularity_scaled(edges, labels).collect()}
    m = 7
    # community 1: in=3, tot = 2*3 (internal) + 1 (bridge end at node 3)
    assert rows[1].in_edges == 3 and rows[1].tot_degree == 7
    assert rows[2].in_edges == 3 and rows[2].tot_degree == 7
    for c in (1, 2):
        assert rows[c].q_scaled == 2 * m * 2 * 3 - 7 * 7
    # Q = sum/(2m)^2 matches the textbook value
    q = sum(r.q_scaled for r in rows.values()) / (2 * m) ** 2
    assert abs(q - (2 * (6 / 14 - (7 / 14) ** 2))) < 1e-12


def test_weighted_pagerank_unit_weights_match_plain(spark):
    from judy_graph_db_spark.operators import analytics as AN

    edges = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 1), (3, 1, 1), (1, 3, 1)],
        "src long, dst long, w long",
    )
    plain = {r.id: round(r.rank, 9)
             for r in AN.pagerank(edges, iters=4).collect()}
    weighted = {r.id: round(r.rank, 9)
                for r in AN.pagerank(edges, iters=4, weight_col="w").collect()}
    assert plain == weighted


def test_weighted_pagerank_follows_weight_mass(spark):
    from judy_graph_db_spark.operators import analytics as AN

    # node 1 sends 9x more mass to 2 than to 3
    edges = spark.createDataFrame(
        [(1, 2, 9), (1, 3, 1)], "src long, dst long, w long"
    )
    r = {row.id: row.rank
         for row in AN.pagerank(edges, iters=1, weight_col="w").collect()}
    assert abs(r[2] - (0.15 + 0.85 * 0.9)) < 1e-12
    assert abs(r[3] - (0.15 + 0.85 * 0.1)) < 1e-12


def test_weighted_pagerank_matches_duckdb(spark):
    import duckdb

    from judy_graph_db_spark.operators import analytics as AN
    from tests.oracle_utils import compare

    rows = [(i, (i * 3 + 1) % 20, (i % 5) + 1) for i in range(40)]
    rows += [(i, (i * 7 + 2) % 20, (i % 3) + 1) for i in range(20)]
    rows = [(a, b, w) for a, b, w in rows if a != b]
    edges = spark.createDataFrame(rows, "src long, dst long, w long")
    con = duckdb.connect()
    con.sql("CREATE TABLE e(src BIGINT, dst BIGINT, w BIGINT)")
    for t in rows:
        con.execute("INSERT INTO e VALUES (?, ?, ?)", list(t))
    out = AN.pagerank(edges, iters=3, weight_col="w").select(
        "id", F.round(F.col("rank") * 10000).cast("long").alias("rank_e4"))
    sql = AN.pagerank_oracle_sql("SELECT src, dst, w FROM e", iters=3,
                                 weighted=True)
    ok, msg = compare(out, con, sql)
    assert ok, msg


def _greedy_moves_reference(edge_list, rounds):
    """Pure-Python replica of greedy_modularity_moves (same md5
    priorities, same integer scores) — the cross-implementation oracle."""
    import hashlib

    adj = {}
    for a, b in edge_list:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    nodes = sorted(adj)
    k = {v: len(adj[v]) for v in nodes}
    m = len({(min(a, b), max(a, b)) for a, b in edge_list})
    lab = {v: v for v in nodes}

    def pri(r, v):
        return int(hashlib.md5(f"{r}:{v}".encode()).hexdigest()[:15], 16)

    for r in range(rounds):
        tot = {}
        for v in nodes:
            tot[lab[v]] = tot.get(lab[v], 0) + k[v]
        new = dict(lab)
        for v in nodes:
            if any(pri(r, u) <= pri(r, v) for u in adj[v]):
                continue
            kin = {lab[v]: 0}
            for u in adj[v]:
                kin[lab[u]] = kin.get(lab[u], 0) + 1

            def score(c):
                t = tot.get(c, 0) - (k[v] if lab[v] == c else 0)
                return 4 * m * kin.get(c, 0) - 2 * k[v] * t

            best = max(kin, key=lambda c: (score(c), -c))
            if score(best) > score(lab[v]):
                new[v] = best
        lab = new
    return lab


def test_greedy_modularity_finds_cliques(spark):
    from judy_graph_db_spark.operators import analytics as AN

    # two 4-cliques joined by one bridge — the canonical community case
    c1 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    c2 = [(a, b) for a in range(5, 9) for b in range(a + 1, 9)]
    edges = spark.createDataFrame(c1 + c2 + [(4, 5)], "src long, dst long")
    labels = {r.id: r.community
              for r in AN.greedy_modularity_moves(edges, rounds=9).collect()}
    assert len({labels[i] for i in (1, 2, 3, 4)}) == 1
    assert len({labels[i] for i in (5, 6, 7, 8)}) == 1
    assert labels[1] != labels[5]
    # byte-identical to the pure-Python replica (same priorities + scores)
    assert labels == _greedy_moves_reference(c1 + c2 + [(4, 5)], rounds=9)


def test_greedy_modularity_improves_over_singletons(spark):
    from judy_graph_db_spark.operators import analytics as AN

    rows = [(i, i + 1) for i in range(20)] + [(0, 10), (5, 15)]
    edges = spark.createDataFrame(rows, "src long, dst long")
    labels = AN.greedy_modularity_moves(edges, rounds=3) \
        .withColumnRenamed("community", "community")
    q_moves = sum(
        r.q_scaled for r in AN.modularity_scaled(edges, labels).collect())
    singles = labels.select("id").withColumn("community", F.col("id"))
    q_single = sum(
        r.q_scaled for r in AN.modularity_scaled(edges, singles).collect())
    assert q_moves > q_single
    # deterministic: a re-run is byte-identical
    again = {(r.id, r.community) for r in
             AN.greedy_modularity_moves(edges, rounds=3).collect()}
    assert again == {(r.id, r.community) for r in labels.collect()}


def test_greedy_moves_matches_duckdb(spark):
    import duckdb

    from judy_graph_db_spark.operators import analytics as AN
    from tests.oracle_utils import compare

    rows = [(i, i + 1) for i in range(25)] + [(0, 5), (10, 15), (3, 20)]
    edges = spark.createDataFrame(rows, "src long, dst long")
    con = duckdb.connect()
    con.sql("CREATE TABLE e(src BIGINT, dst BIGINT)")
    for a, b in rows:
        con.execute("INSERT INTO e VALUES (?, ?)", [a, b])
    out = AN.greedy_modularity_moves(edges, rounds=3)
    sql = AN.greedy_moves_oracle_sql("SELECT src, dst FROM e", rounds=3)
    ok, msg = compare(out, con, sql)
    assert ok, msg


def test_shortest_path_counts_diamond(spark):
    from judy_graph_db_spark.operators import analytics as AN

    # diamond: 1->2->4, 1->3->4 (two shortest paths 1->4), plus 4->5
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5)], "src long, dst long"
    )
    got = {(r.src, r.dst): (r.depth, r.sigma)
           for r in AN.shortest_path_counts(edges).collect()}
    assert got[(1, 4)] == (2, 2)
    assert got[(1, 5)] == (3, 2)
    assert got[(2, 5)] == (2, 1)
    assert got[(1, 2)] == (1, 1)


def test_stress_centrality_diamond_and_chain(spark):
    from judy_graph_db_spark.operators import analytics as AN

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5)], "src long, dst long"
    )
    got = {r.id: r.stress for r in AN.stress_centrality(edges).collect()}
    # node 4 carries 1->5 (sigma 2), 2->5, 3->5, 1->... plus endpoints of
    # pairs it mediates: (1,5):2, (2,5):1, (3,5):1 => stress 4; nodes 2 and
    # 3 each carry one of the two 1->4 paths and one 1->5 path each
    assert got[4] == 4
    assert got[2] == 2 and got[3] == 2
    assert 5 not in got and 1 not in got

    # directed chain 1->2->3->4->5: interior position p of length-L chain
    # mediates (p-1)(L-p) pairs
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 5)], "src long, dst long"
    )
    got_c = {r.id: r.stress
             for r in AN.stress_centrality(chain).collect()}
    assert got_c == {2: 1 * 3, 3: 2 * 2, 4: 3 * 1}


def test_mis_empty_edges(spark):
    """No edges → no Luby rounds; must return an empty typed relation,
    not crash indexing an empty round list."""
    from judy_graph_db_spark.operators import analytics as AN

    empty = spark.createDataFrame([], "src long, dst long")
    out = AN.maximal_independent_set(empty)
    assert out.columns == ["id", "round"]
    assert out.count() == 0


def test_katz_centrality(spark):
    # chain 1->2->3->4, K=3, alpha=1/2: katz_scaled(v) =
    # sum over k<=min(3, pos-1) of 2^(3-k)
    e = edges_df(spark, [(1, 2), (2, 3), (3, 4)])
    got = {r.id: r.katz_scaled for r in AN.katz_centrality(
        e, alpha_pow2=1, iters=3).collect()}
    assert got == {2: 4, 3: 4 + 2, 4: 4 + 2 + 1}
    # diamond doubles the length-2 walk into 4: 1->2->4, 1->3->4
    e2 = edges_df(spark, [(1, 2), (1, 3), (2, 4), (3, 4)])
    got2 = {r.id: r.katz_scaled for r in AN.katz_centrality(
        e2, alpha_pow2=1, iters=2).collect()}
    assert got2 == {2: 2, 3: 2, 4: 2 * 2 + 2 * 1}
    import duckdb

    from judy_graph_db_spark import oracle  # noqa: F401  (twin import path)

    rows = [(i % 9 + 1, (i * 5) % 11 + 2) for i in range(30)]
    e3 = spark.createDataFrame(rows, "src BIGINT, dst BIGINT")
    got3 = sorted(tuple(r) for r in AN.katz_centrality(
        e3, alpha_pow2=2, iters=4).collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE t (src BIGINT, dst BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    twin = sorted(tuple(t) for t in con.execute(AN.katz_oracle_sql(
        "SELECT src, dst FROM t", alpha_pow2=2, iters=4)).fetchall())
    assert got3 == twin


def test_maximal_matching_invariants(spark):
    import random

    rng = random.Random(23)
    pairs = sorted({(a, b) for a in range(20) for b in range(20)
                    if a < b and rng.random() < 0.2})
    got = AN.maximal_matching(edges_df(spark, pairs)).collect()
    sel = {(r.a, r.b) for r in got}
    assert sel <= set(pairs)
    # matching: no shared endpoints
    nodes = [x for ab in sel for x in ab]
    assert len(nodes) == len(set(nodes))
    # maximal: every unmatched edge touches a matched node
    for a, b in set(pairs) - sel:
        assert a in set(nodes) or b in set(nodes), (a, b)
    # empty input -> typed empty result
    assert AN.maximal_matching(
        spark.createDataFrame([], "src BIGINT, dst BIGINT")).count() == 0


def test_maximal_matching_matches_oracle(spark):
    import random

    rng = random.Random(29)
    pairs = sorted({(rng.randrange(15), rng.randrange(15))
                    for _ in range(35)})
    pairs = [(a, b) for a, b in pairs if a != b]
    got = sorted(tuple(r) for r in AN.maximal_matching(
        edges_df(spark, pairs)).collect())
    con = duckdb.connect()
    values = ", ".join(f"({a}, {b})" for a, b in pairs)
    twin = sorted(tuple(t) for t in con.execute(AN.matching_oracle_sql(
        f"SELECT * FROM (VALUES {values}) AS t(src, dst)")).fetchall())
    assert got == twin


def test_coarsen_graph(spark):
    # path 1-2-3-4-5; match {1-2, 3-4}: supers 1, 3; 5 unmatched.
    # edges after contraction: 1-3 (from 2-3), 3-5 (from 4-5)
    e = edges_df(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    m = spark.createDataFrame([(1, 2), (3, 4)], "a BIGINT, b BIGINT")
    got = {(r.src, r.dst): r.weight
           for r in AN.coarsen_graph(e, m).collect()}
    assert got == {(1, 3): 1, (3, 5): 1}
    # parallel edges sum; weights preserved
    e2 = spark.createDataFrame(
        [(1, 3, 5), (2, 3, 7), (1, 2, 9)], "src BIGINT, dst BIGINT, w BIGINT")
    got2 = {(r.src, r.dst): r.weight for r in AN.coarsen_graph(
        e2, m, weight_col="w").collect()}
    # 1->3 and 2->3 both become 1->3 (5+7); intra-pair 1->2 drops
    assert got2 == {(1, 3): 12}
    con = duckdb.connect()
    twin = {(t[0], t[1]): t[2] for t in con.execute(AN.coarsen_oracle_sql(
        "SELECT * FROM (VALUES (1,3,5),(2,3,7),(1,2,9)) AS t(src,dst,w)",
        "SELECT * FROM (VALUES (1,2),(3,4)) AS m(a,b)",
        weight_expr="e.w")).fetchall()}
    assert got2 == twin


def test_community_conductance(spark):
    # two triangles {1,2,3} {4,5,6} joined by one bridge 3-4:
    # each community: cut=1, vol=7 (6 intra endpoints + 1 bridge end),
    # 2m=14 -> min(7, 7)=7 -> 1000*1//7 = 142
    e = edges_df(spark, [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6),
                         (3, 4)])
    lab = spark.createDataFrame(
        [(i, 100 if i <= 3 else 200) for i in range(1, 7)],
        "id BIGINT, community BIGINT")
    got = {r.community: (r.cut_edges, r.volume, r.conductance_permille)
           for r in AN.community_conductance(e, lab).collect()}
    assert got == {100: (1, 7, 142), 200: (1, 7, 142)}
    # isolated community (no incident edges): NULL conductance
    lab2 = lab.unionByName(spark.createDataFrame(
        [(9, 300)], "id BIGINT, community BIGINT"))
    got2 = {r.community: r.conductance_permille
            for r in AN.community_conductance(e, lab2).collect()}
    assert got2[300] is None
    con = duckdb.connect()
    twin = {t[0]: (t[1], t[2], t[3]) for t in con.execute(
        AN.conductance_oracle_sql(
            "SELECT * FROM (VALUES (1,2),(2,3),(1,3),(4,5),(5,6),(4,6),"
            "(3,4)) AS e(src,dst)",
            "SELECT * FROM (VALUES (1,100),(2,100),(3,100),(4,200),"
            "(5,200),(6,200),(9,300)) AS l(id,community)")).fetchall()}
    got2f = {r.community: (r.cut_edges, r.volume, r.conductance_permille)
             for r in AN.community_conductance(e, lab2).collect()}
    assert got2f == twin


def test_shortest_path_tree(spark):
    # diamond 1->{2,3}->4 ->5: parent of 4 is min(2,3)=2; depths BFS
    e = edges_df(spark, [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5)])
    got = {(r.root, r.id): (r.depth, r.parent)
           for r in AN.shortest_path_tree(e, [1]).collect()}
    assert got == {(1, 2): (1, 1), (1, 3): (1, 1), (1, 4): (2, 2),
                   (1, 5): (3, 4)}
    # multi-root; cycle-safe; unreached nodes absent
    e2 = edges_df(spark, [(1, 2), (2, 1), (3, 4)])
    got2 = {(r.root, r.id): (r.depth, r.parent)
            for r in AN.shortest_path_tree(e2, [1, 3]).collect()}
    assert got2 == {(1, 2): (1, 1), (3, 4): (1, 3)}
    con = duckdb.connect()
    import random

    rng = random.Random(31)
    pairs = sorted({(rng.randrange(12), rng.randrange(12))
                    for _ in range(30)})
    pairs = [(a, b) for a, b in pairs if a != b]
    values = ", ".join(f"({a}, {b})" for a, b in pairs)
    got3 = sorted(tuple(r) for r in AN.shortest_path_tree(
        edges_df(spark, pairs), [0, 5]).collect())
    twin = sorted(tuple(t) for t in con.execute(AN.shortest_path_tree_sql(
        f"SELECT * FROM (VALUES {values}) AS t(src, dst)", [0, 5]
    )).fetchall())
    assert got3 == twin


def test_reciprocity(spark):
    # 1->2 & 2->1 reciprocal; 2->3 one-way; self-loop + dup ignored
    e = edges_df(spark, [(1, 2), (2, 1), (2, 3), (4, 4), (1, 2)])
    row = AN.reciprocity(e).collect()[0]
    assert (row.n_edges, row.n_reciprocal, row.reciprocity_permille) \
        == (3, 2, 666)
    # empty graph: zero row, no division error
    empty = AN.reciprocity(
        spark.createDataFrame([], "src BIGINT, dst BIGINT")).collect()[0]
    assert tuple(empty) == (0, 0, 0)
    twin = duckdb.connect().execute(AN.reciprocity_sql(
        "SELECT * FROM (VALUES (1,2),(2,1),(2,3),(4,4),(1,2)) "
        "AS t(src,dst)")).fetchone()
    assert tuple(row) == twin


def test_wl_colors(spark):
    """WL refinement: isomorphic components share color multisets,
    structurally distinct nodes separate, twin agrees."""
    from collections import Counter

    # two disjoint copies of the same 4-path + one star
    path1 = [(1, 2), (2, 3), (3, 4)]
    path2 = [(11, 12), (12, 13), (13, 14)]
    star = [(20, 21), (20, 22), (20, 23)]
    e = edges_df(spark, path1 + path2 + star)
    got = {r.id: r.color for r in AN.wl_colors(e, rounds=2).collect()}
    # isomorphic paths: same multiset of colors, matched positionally
    assert got[1] == got[11] and got[2] == got[12]
    assert got[1] == got[4] and got[2] == got[3]    # path symmetry
    # star center differs from path interior despite same degree round 0
    assert got[20] != got[2]
    # leaves of the star differ from path ends (their neighbor differs)
    assert got[21] != got[1]
    assert Counter(got[i] for i in (1, 2, 3, 4)) \
        == Counter(got[i] for i in (11, 12, 13, 14))
    values = ", ".join(f"({a}, {b})" for a, b in path1 + path2 + star)
    twin = {t[0]: t[1] for t in duckdb.connect().execute(AN.wl_colors_sql(
        f"SELECT * FROM (VALUES {values}) AS t(src, dst)", rounds=2)
    ).fetchall()}
    assert got == twin


def test_rich_club(spark):
    # K4 clique on {1..4} + pendant leaves on each: rich nodes at k=2 are
    # the clique (degree 4); all 6 clique edges present -> phi = 1000
    clique = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    pend = [(i, i + 10) for i in range(1, 5)]
    e = edges_df(spark, clique + pend)
    row = AN.rich_club(e, k=2).collect()[0]
    assert tuple(row) == (2, 4, 6, 1000)
    # threshold above every degree: no rich nodes -> NULL phi
    row2 = AN.rich_club(e, k=10).collect()[0]
    assert (row2.n_rich, row2.e_rich, row2.phi_permille) == (0, 0, None)
    values = ", ".join(f"({a}, {b})" for a, b in clique + pend)
    twin = duckdb.connect().execute(AN.rich_club_sql(
        f"SELECT * FROM (VALUES {values}) AS t(src, dst)", k=2)).fetchone()
    assert tuple(row) == twin


def test_diameter_double_sweep(spark):
    # tree: double sweep is exact. Path 1-2-3-4-5 with branch 3-9-10:
    # diameter = dist(1..5)=4? dist(5,10)= 5-4? path 5-4-3-9-10 = 4 hops;
    # dist(1,5)=4, dist(1,10)=4; diameter 4.
    e = edges_df(spark, [(1, 2), (2, 3), (3, 4), (4, 5), (3, 9), (9, 10)])
    row = AN.diameter_double_sweep(e).collect()[0]
    assert row.start == 1 and row.diameter_lb == 4
    assert row.ecc_start == 4 and row.far_node in (5, 10)
    # empty graph -> typed empty
    assert AN.diameter_double_sweep(
        spark.createDataFrame([], "src BIGINT, dst BIGINT")).count() == 0
    values = ", ".join(f"({a}, {b})"
                       for a, b in [(1, 2), (2, 3), (3, 4), (4, 5),
                                    (3, 9), (9, 10)])
    twin = duckdb.connect().execute(AN.diameter_double_sweep_sql(
        f"SELECT * FROM (VALUES {values}) AS t(src, dst)")).fetchone()
    assert tuple(row) == twin


def test_degree_assortativity_stats(spark):
    import math

    # star: perfectly disassortative (r = -1)
    e = edges_df(spark, [(0, 1), (0, 2), (0, 3)])
    row = AN.degree_assortativity_stats(e).collect()[0]
    n, sxy, sx, sy, sxx, syy = tuple(row)
    r = (n * sxy - sx * sy) / math.sqrt(
        (n * sxx - sx * sx) * (n * syy - sy * sy))
    assert abs(r + 1.0) < 1e-9
    twin = duckdb.connect().execute(AN.degree_assortativity_stats_sql(
        "SELECT * FROM (VALUES (0,1),(0,2),(0,3)) AS t(src,dst)"
    )).fetchone()
    assert tuple(row) == twin


def test_edge_embeddedness(spark):
    # triangle 1-2-3 + bridge 3-4 + triangle 4-5-6
    e = edges_df(spark, [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6),
                         (4, 6)])
    got = {(r.a, r.b): r.embeddedness
           for r in AN.edge_embeddedness(e).collect()}
    assert got[(3, 4)] == 0                      # the local bridge
    assert got[(1, 2)] == 1 and got[(4, 5)] == 1
    assert len(got) == 7                          # every edge present
    values = ", ".join(f"({a}, {b})" for a, b in
                       [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6),
                        (4, 6)])
    twin = {(t[0], t[1]): t[2] for t in duckdb.connect().execute(
        AN.edge_embeddedness_sql(
            f"SELECT * FROM (VALUES {values}) AS t(src, dst)")).fetchall()}
    assert got == twin


def test_coreness(spark):
    import pytest as _pt

    # K4 clique (coreness 3) + pendant 1-9 (coreness 1) + triangle
    # 10-11-12 (coreness 2)
    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    e = edges_df(spark, k4 + [(1, 9), (10, 11), (11, 12), (10, 12)])
    got = {r.id: r.coreness for r in AN.coreness(e, k_max=4).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3, 9: 1, 10: 2, 11: 2, 12: 2}
    with _pt.raises(ValueError, match="degeneracy"):
        AN.coreness(e, k_max=2)
    values = ", ".join(f"({a}, {b})" for a, b in
                       k4 + [(1, 9), (10, 11), (11, 12), (10, 12)])
    twin = {t[0]: t[1] for t in duckdb.connect().execute(
        AN.coreness_oracle_sql(
            f"SELECT * FROM (VALUES {values}) AS t(src, dst)",
            k_max=4, rounds=6)).fetchall()}
    assert got == twin


def test_landmark_distances_and_upper(spark):
    """Landmark precompute + triangle-inequality estimates: exact through
    a landmark, a true upper bound elsewhere, twin-identical in DuckDB."""
    # star-with-tail, symmetrized: hub 0 (degree 4) is the sole landmark;
    # every u-v shortest path passes 0, so bounds are exact here
    base = [(0, 1), (0, 2), (0, 3), (3, 4)]
    sym = base + [(b, a) for a, b in base]
    e = edges_df(spark, sym)
    ld = AN.landmark_distances(e, n_landmarks=1)
    got = {(r.landmark, r.id): r.depth for r in ld.collect()}
    assert got == {(0, 0): 0, (0, 1): 1, (0, 2): 1, (0, 3): 1, (0, 4): 2}
    pairs = spark.createDataFrame(
        [(1, 2), (1, 4), (4, 2)], "u BIGINT, v BIGINT")
    up = {(r.u, r.v): r.dist_upper
          for r in AN.landmark_distance_upper(ld, pairs).collect()}
    assert up == {(1, 2): 2, (1, 4): 3, (4, 2): 3}

    # cycle + chord: with a non-central landmark the bound can exceed the
    # true distance but never undershoots it (check against true BFS)
    ring = [(i, (i + 1) % 8) for i in range(8)]
    sym2 = ring + [(b, a) for a, b in ring] + [(0, 9), (9, 0)]
    e2 = edges_df(spark, sym2)
    ld2 = AN.landmark_distances(e2, n_landmarks=2)
    allp = [(u, v) for u in range(8) for v in range(8) if u < v]
    p2 = spark.createDataFrame(allp, "u BIGINT, v BIGINT")
    up2 = {(r.u, r.v): r.dist_upper
           for r in AN.landmark_distance_upper(ld2, p2).collect()}
    true = {(u, v): min(abs(u - v), 8 - abs(u - v)) for u, v in allp}
    assert set(up2) == set(allp)
    assert all(up2[k] >= true[k] for k in allp)
    assert any(up2[k] == true[k] for k in allp)

    con = duckdb.connect()
    values = ", ".join(f"({a}, {b})" for a, b in sym2)
    pv = ", ".join(f"({a}, {b})" for a, b in allp)
    twin_d = sorted(tuple(t) for t in con.execute(AN.landmark_distances_sql(
        f"SELECT * FROM (VALUES {values}) AS t(src, dst)", n_landmarks=2
    )).fetchall())
    assert twin_d == sorted(tuple(r) for r in ld2.collect())
    twin_u = sorted(tuple(t) for t in con.execute(AN.landmark_upper_sql(
        f"SELECT * FROM (VALUES {values}) AS t(src, dst)",
        f"SELECT * FROM (VALUES {pv}) AS p(u, v)", n_landmarks=2
    )).fetchall())
    assert twin_u == sorted((u, v, d) for (u, v), d in up2.items())

    # a self-loop counts twice toward the ranking degree, as in the twin:
    # it lifts node 2 (4 -> 6) over node 0 (4, and the smaller id)
    base3 = [(0, 1), (0, 2), (2, 3)]
    sym3 = base3 + [(b, a) for a, b in base3] + [(2, 2)]
    ld3 = sorted(tuple(r) for r in AN.landmark_distances(
        edges_df(spark, sym3), n_landmarks=1).collect())
    assert ld3 == [(2, 0, 1), (2, 1, 2), (2, 2, 0), (2, 3, 1)]
    values3 = ", ".join(f"({a}, {b})" for a, b in sym3)
    assert ld3 == sorted(tuple(t) for t in con.execute(
        AN.landmark_distances_sql(
            f"SELECT * FROM (VALUES {values3}) AS t(src, dst)",
            n_landmarks=1)).fetchall())

    import pytest as _pt
    with _pt.raises(ValueError, match="positive"):
        AN.landmark_distances(e, n_landmarks=0)


def test_frontier_bfs_one_job_per_level(spark):
    """landmark_distances and shortest_path_tree on a 31-node path run
    one BFS level per hop (29 and 30 levels here). Under the session's
    own config (AQE on) a level costs its materializing count, its
    stage jobs and the broadcasts of its frontier and settled set —
    about 5 jobs. A loop that re-checkpoints the whole settled set and
    probes the frontier separately every level ran about 10."""
    sc = spark.sparkContext
    n = 31
    e = edges_df(spark, [(i, i + 1) for i in range(n - 1)])

    def run(group, fn):
        sc.setJobGroup(group, "frontier BFS job-count assertion")
        try:
            rows = fn().collect()
        finally:
            sc.setJobGroup(None, None)
        return rows, len(sc._jsc.sc().statusTracker().getJobIdsForGroup(group))

    ld, ld_jobs = run("bfs-jobs-ld", lambda: AN.landmark_distances(
        e, n_landmarks=1, max_iter=n))
    spt, spt_jobs = run("bfs-jobs-spt", lambda: AN.shortest_path_tree(
        e, [0], max_iter=n))
    # node 1 is the top-degree node (degree 2, smallest id)
    assert sorted((r.id, r.depth) for r in ld) == [(v, v - 1) for v in range(1, n)]
    assert sorted((r.id, r.depth, r.parent) for r in spt) == [
        (v, v, v - 1) for v in range(1, n)]
    levels = n - 1
    assert ld_jobs <= 6 * levels + 10, f"landmark_distances ran {ld_jobs} jobs"
    assert spt_jobs <= 6 * levels + 10, f"shortest_path_tree ran {spt_jobs} jobs"


def test_small_closure_and_pagerank_run_on_the_driver(spark):
    """On a small input transitive_closure and pagerank each run at most
    5 jobs, their result collect included: the job that sizes and
    materializes the base (a checkpoint, a cache), the collect of that
    base, and the collect of the local result. The doubling and the
    power iteration ran one job per round and per join stage — 32 and
    19 jobs on the perfbench batch input."""
    sc = spark.sparkContext
    e = edges_df(spark, [(i, (i * 7 + 3) % 40) for i in range(40)]
                 + [(i, i + 1) for i in range(39)])

    def jobs(group, fn):
        sc.setJobGroup(group, "driver-branch job-count assertion")
        try:
            rows = fn().collect()
        finally:
            sc.setJobGroup(None, None)
        return rows, len(sc._jsc.sc().statusTracker().getJobIdsForGroup(group))

    closure, closure_jobs = jobs("small-closure-jobs",
                                 lambda: AN.transitive_closure(e))
    ranks, pagerank_jobs = jobs("small-pagerank-jobs",
                                lambda: AN.pagerank(e, iters=3))
    assert len(closure) == 40 * 39 and len(ranks) == 40
    assert closure_jobs <= 5, f"transitive_closure ran {closure_jobs} jobs"
    assert pagerank_jobs <= 5, f"pagerank ran {pagerank_jobs} jobs"


def test_greedy_coloring(spark):
    """Proper coloring (no edge monochromatic), <= Delta+1 colors,
    deterministic across runs, DuckDB twin identical."""
    # Petersen-ish mix: a 5-cycle + chords + an isolated edge
    pairs = [(0, 1), (1, 2), (2, 3), (3, 4), (4, 0), (0, 2), (1, 3),
             (10, 11)]
    e = edges_df(spark, pairs)
    got = {r.id: r.color for r in AN.greedy_coloring(e, max_iter=16).collect()}
    und = pairs + [(b, a) for a, b in pairs]
    assert all(got[a] != got[b] for a, b in und)
    deg = {}
    for a, b in und:
        deg[a] = deg.get(a, 0) + 1
    assert all(c <= deg[v] + 1 for v, c in got.items())
    # determinism
    again = {r.id: r.color
             for r in AN.greedy_coloring(e, max_iter=16).collect()}
    assert again == got
    con = duckdb.connect()
    values = ", ".join(f"({a}, {b})" for a, b in pairs)
    twin = sorted(tuple(t) for t in con.execute(AN.greedy_coloring_sql(
        f"SELECT * FROM (VALUES {values}) AS t(src, dst)", max_iter=16
    )).fetchall())
    assert twin == sorted(
        tuple(r) for r in AN.greedy_coloring(e, max_iter=16).collect())
    # a triangle needs exactly 3 colors
    tri = edges_df(spark, [(1, 2), (2, 3), (1, 3)])
    cols = {r.color for r in AN.greedy_coloring(tri).collect()}
    assert cols == {1, 2, 3}
    import pytest as _pt
    with _pt.raises(AssertionError, match="uncolored"):
        AN.greedy_coloring(edges_df(spark, [(1, 2), (2, 3)]), max_iter=1)


def _brandes_reference(pairs, sources=None):
    """Textbook Brandes (2001) on an adjacency dict — the float oracle."""
    from collections import defaultdict, deque

    adj = defaultdict(list)
    nodes = set()
    for a, b in pairs:
        adj[a].append(b)
        nodes |= {a, b}
    bc = defaultdict(float)
    for s in (sources if sources is not None else nodes):
        dist = {s: 0}
        sigma = defaultdict(int)
        sigma[s] = 1
        preds = defaultdict(list)
        order = []
        q = deque([s])
        while q:
            v = q.popleft()
            order.append(v)
            for w in adj[v]:
                if w not in dist:
                    dist[w] = dist[v] + 1
                    q.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] += sigma[v]
                    preds[w].append(v)
        delta = defaultdict(float)
        for w in reversed(order):
            for v in preds[w]:
                delta[v] += sigma[v] / sigma[w] * (1 + delta[w])
            if w != s:
                bc[w] += delta[w]
    return {v: x for v, x in bc.items() if x > 0}


def test_betweenness_centrality(spark):
    """Diamond/path closed forms, a random-graph check against textbook
    Brandes, and sampled sources = reference restricted to them."""
    # diamond 1->{2,3}->4: two s-t paths, each middle mediates half
    e = edges_df(spark, [(1, 2), (1, 3), (2, 4), (3, 4)])
    got = {r.id: r.betweenness
           for r in AN.betweenness_centrality(e).collect()}
    assert got == {2: 0.5, 3: 0.5}
    # directed path 1->2->3->4: interior scores 2 and 2... (1,3),(1,4),(2,4)
    e2 = edges_df(spark, [(1, 2), (2, 3), (3, 4)])
    got2 = {r.id: r.betweenness
            for r in AN.betweenness_centrality(e2).collect()}
    assert got2 == {2: 2.0, 3: 2.0}
    # pseudo-random digraph vs the reference implementation
    import random

    rng = random.Random(17)
    pairs = sorted({(rng.randrange(10), rng.randrange(10))
                    for _ in range(28)} - {(i, i) for i in range(10)})
    e3 = edges_df(spark, pairs)
    got3 = {r.id: r.betweenness
            for r in AN.betweenness_centrality(e3).collect()}
    ref = _brandes_reference(pairs)
    assert set(got3) == set(ref)
    assert all(abs(got3[v] - ref[v]) < 1e-9 for v in ref)
    # sampled sources
    srcs = spark.createDataFrame([(0,), (1,), (2,)], "id long")
    got4 = {r.id: r.betweenness for r in AN.betweenness_centrality(
        e3, sources=srcs).collect()}
    ref4 = _brandes_reference(pairs, sources=[0, 1, 2])
    assert set(got4) == set(ref4)
    assert all(abs(got4[v] - ref4[v]) < 1e-9 for v in ref4)


def test_edge_betweenness_chain_and_diamond(spark):
    # directed 4-chain 0->1->2->3: eb(i->i+1) = (i+1)(3-i) pairs, all
    # sigma=1 -> 3, 4, 3
    e = edges_df(spark, [(0, 1), (1, 2), (2, 3)])
    eb = {(r["src"], r["dst"]): r["betweenness"]
          for r in AN.edge_betweenness(e).collect()}
    assert eb == {(0, 1): 3.0, (1, 2): 4.0, (2, 3): 3.0}
    # diamond 0->1->3, 0->2->3: sigma(0,3)=2, each edge carries
    # 1 (endpoint pair) + 0.5 (the split 0->3 mass) = 1.5
    d = edges_df(spark, [(0, 1), (0, 2), (1, 3), (2, 3)])
    eb2 = {(r["src"], r["dst"]): r["betweenness"]
           for r in AN.edge_betweenness(d).collect()}
    assert eb2 == {(0, 1): 1.5, (0, 2): 1.5, (1, 3): 1.5, (2, 3): 1.5}


def test_edge_betweenness_mass_conservation(spark):
    # sum over edges of eb = sum over reachable pairs of d(s,t): every
    # s->t shortest path distributes exactly d(s,t) units of edge mass
    pairs = [(0, 1), (1, 2), (2, 3), (3, 0), (1, 3), (4, 1)]
    e = edges_df(spark, pairs)
    total = sum(r["betweenness"]
                for r in AN.edge_betweenness(e).collect())
    dsum = sum(r["depth"]
               for r in AN.shortest_path_counts(e).collect())
    assert abs(total - dsum) < 1e-9


def test_girvan_newman_splits_barbell(spark):
    # two triangles joined by a bridge: the bridge carries every cross
    # pair -> max eb; one removal splits the graph in two
    pairs = [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)]
    e = edges_df(spark, pairs)
    removed, labels = AN.girvan_newman_split(e, n_removals=1)
    (r,) = removed.collect()
    assert (r["src"], r["dst"]) == (2, 3)
    comp = {x["id"]: x["component"] for x in labels.collect()}
    assert comp == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 3}


def test_girvan_newman_exhausts_edges_gracefully(spark):
    e = edges_df(spark, [(0, 1)])
    removed, labels = AN.girvan_newman_split(e, n_removals=5)
    assert removed.count() == 1  # only one undirected edge existed
    comp = {x["id"]: x["component"] for x in labels.collect()}
    assert comp == {0: 0, 1: 1}  # both survive as singletons


def test_betweenness_sampled(spark):
    """k-pivot Brandes: with every node a pivot it is EXACT (equals the
    full-closure operator and the textbook replica); with k<n pivots it
    equals (n/k)·Σ over exactly the md5-chosen pivots (deterministic),
    and unscaled it equals the restricted replica."""
    import hashlib
    import random

    rng = random.Random(41)
    pairs = sorted({(rng.randrange(12), rng.randrange(12))
                    for _ in range(34)} - {(i, i) for i in range(12)})
    nodes = sorted({v for p in pairs for v in p})
    e = edges_df(spark, pairs)

    # exact: n_pivots >= n
    got = {r.id: r.betweenness
           for r in AN.betweenness_sampled(e, n_pivots=len(nodes)).collect()}
    ref = _brandes_reference(pairs)
    assert set(got) == set(ref)
    assert all(abs(got[v] - ref[v]) < 1e-9 for v in ref)

    # sampled: replicate the md5 pivot choice, compare to the scaled
    # restricted replica
    k, seed = 3, 0
    pivots = sorted(
        nodes,
        key=lambda i: (hashlib.md5(f"piv{seed}|{i}".encode()).hexdigest(),
                       i))[:k]
    ref_s = _brandes_reference(pairs, sources=pivots)
    factor = len(nodes) / k
    want = {v: s * factor for v, s in ref_s.items() if s > 0}
    got_s = {r.id: r.betweenness for r in
             AN.betweenness_sampled(e, n_pivots=k, seed=seed).collect()}
    assert set(got_s) == set(want)
    assert all(abs(got_s[v] - want[v]) < 1e-9 for v in want)
    # unscaled = raw restricted sum
    got_raw = {r.id: r.betweenness for r in
               AN.betweenness_sampled(e, n_pivots=k, seed=seed,
                                      scale=False).collect()}
    assert all(abs(got_raw[v] - ref_s[v]) < 1e-9 for v in got_raw)

    # chain closed form survives sampling machinery: 1->2->3->4 exact
    chain = edges_df(spark, [(1, 2), (2, 3), (3, 4)])
    gc = {r.id: r.betweenness
          for r in AN.betweenness_sampled(chain, n_pivots=10).collect()}
    assert gc == {2: 2.0, 3: 2.0}


def test_hyperball_exact_register_invariant(spark):
    """After r rounds a node's registers equal hll_registers of its EXACT
    depth-<=r out-ball — approximation enters only at estimate time."""
    import random

    from judy_graph_db_spark.operators.sketch import hll_registers

    rng = random.Random(23)
    pairs = sorted({(rng.randrange(12), rng.randrange(12))
                    for _ in range(30)} - {(i, i) for i in range(12)})
    e = edges_df(spark, pairs)
    rounds = 2
    got = {
        (r.id, r.bucket): r.max_rho
        for r in AN.hyperball_registers(e, rounds=rounds, p=4).collect()
    }
    # exact balls via python BFS
    adj = {}
    nodes = set()
    for a, b in pairs:
        adj.setdefault(a, []).append(b)
        nodes.update((a, b))
    for v in sorted(nodes):
        ball, frontier = {v}, {v}
        for _ in range(rounds):
            frontier = {w for u in frontier for w in adj.get(u, [])} - ball
            ball |= frontier
        members = spark.createDataFrame([(m,) for m in sorted(ball)],
                                        "id long")
        want = {r.bucket: r.max_rho
                for r in hll_registers(members, "id", p=4).collect()}
        mine = {b: rho for (i, b), rho in got.items() if i == v}
        assert mine == want, f"node {v}"


def test_hyperball_nf_and_effective_diameter(spark):
    """NF estimates track exact ball sizes on a chain; effective diameter
    of a chain's NF lands between 0 and the chain length."""
    L = 30
    e = edges_df(spark, [(i, i + 1) for i in range(L)])
    regs = AN.hyperball_registers(e, rounds=4, p=6, with_rounds=True)
    nf = AN.hyperball_nf(regs, p=6)
    assert sorted(nf) == [0, 1, 2, 3, 4]
    # exact NF(r) = sum over positions of min(r, L-pos)+1
    for r in range(5):
        exact = sum(min(r, L - i) + 1 for i in range(L + 1))
        assert abs(nf[r] - exact) / exact < 0.35  # p=6 HLL error margin
    assert nf[0] < nf[1] < nf[2] < nf[3] < nf[4]
    d = AN.effective_diameter(nf, alpha=0.9)
    assert 0.0 < d <= 4.0
    # degenerate: empty nf
    assert AN.effective_diameter({}) == 0.0


def test_directed_triangle_census(spark):
    """Census matches brute force on hand cases and a random digraph with
    reciprocal edges (motif instances, not triangle sets)."""
    import itertools
    import random

    def brute(pairs):
        es = set(pairs)
        nodes = sorted({n for p in pairs for n in p})
        cyc = sum(
            1 for a, b, c in itertools.combinations(nodes, 3)
            for rot in (((a, b), (b, c), (c, a)), ((a, c), (c, b), (b, a)))
            if all(x in es for x in rot))
        # each ordered (a,b,c) with a→b, b→c, a→c is one instance
        tra = sum(
            1 for a, b, c in itertools.permutations(nodes, 3)
            if (a, b) in es and (b, c) in es and (a, c) in es)
        return cyc, tra

    # feed-forward loop: 1->2, 2->3, 1->3
    e = edges_df(spark, [(1, 2), (2, 3), (1, 3)])
    got = {r.kind: r.n for r in AN.directed_triangle_census(e).collect()}
    assert got == {"cyclic": 0, "transitive": 1}
    # 3-cycle
    e2 = edges_df(spark, [(1, 2), (2, 3), (3, 1)])
    got2 = {r.kind: r.n for r in AN.directed_triangle_census(e2).collect()}
    assert got2 == {"cyclic": 1, "transitive": 0}
    # reciprocal pair closing both ways: 1<->2, 1->3, 2->3
    e3 = edges_df(spark, [(1, 2), (2, 1), (1, 3), (2, 3)])
    got3 = {r.kind: r.n for r in AN.directed_triangle_census(e3).collect()}
    assert got3 == {"cyclic": 0, "transitive": 2}
    # random digraph incl. reciprocals and duplicate edges
    rng = random.Random(41)
    pairs = [(rng.randrange(9), rng.randrange(9)) for _ in range(60)]
    pairs = [(a, b) for a, b in pairs if a != b]
    cyc, tra = brute(set(pairs))
    got4 = {r.kind: r.n
            for r in AN.directed_triangle_census(
                edges_df(spark, pairs)).collect()}
    assert got4 == {"cyclic": cyc, "transitive": tra}
    # empty graph
    got5 = {r.kind: r.n for r in AN.directed_triangle_census(
        edges_df(spark, [(1, 2)])).collect()}
    assert got5 == {"cyclic": 0, "transitive": 0}


def test_onion_layers(spark):
    """Chain closed form, cycle single-wave, K-clique nucleus, and the
    isolated-by-peeling node is never lost; matches a python replica on a
    random graph."""
    # chain of 5: layers fold inward, all coreness 1
    e = edges_df(spark, [(i, i + 1) for i in range(1, 5)])
    got = {r.id: (r.coreness, r.layer)
           for r in AN.onion_layers(e).collect()}
    assert got == {1: (1, 1), 5: (1, 1), 2: (1, 2), 4: (1, 2), 3: (1, 3)}
    # triangle: one wave at k=2
    tri = edges_df(spark, [(1, 2), (2, 3), (3, 1)])
    gt = {r.id: (r.coreness, r.layer) for r in AN.onion_layers(tri).collect()}
    assert gt == {1: (2, 1), 2: (2, 1), 3: (2, 1)}
    # chain attached to a triangle: chain peels first, nucleus last
    mix = edges_df(spark, [(0, 1), (1, 2), (2, 3), (3, 4), (4, 2)])
    gm = {r.id: (r.coreness, r.layer) for r in AN.onion_layers(mix).collect()}
    assert gm[0] == (1, 1)
    assert gm[1] == (1, 2)
    assert gm[2][0] == 2 and gm[3][0] == 2 and gm[4][0] == 2
    # python replica on a random graph
    import random
    rng = random.Random(29)
    pairs = sorted({tuple(sorted((rng.randrange(14), rng.randrange(14))))
                    for _ in range(30)})
    pairs = [(a, b) for a, b in pairs if a != b]

    def replica(pairs):
        adj = {}
        for a, b in pairs:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        alive = set(adj)
        out, k, layer = {}, 0, 0
        while alive:
            degs = {v: len(adj[v] & alive) for v in alive}
            k = max(k, min(degs.values()))
            layer += 1
            wave = {v for v, d in degs.items() if d <= k}
            for v in wave:
                out[v] = (k, layer)
            alive -= wave
        return out

    want = replica(pairs)
    gr = {r.id: (r.coreness, r.layer)
          for r in AN.onion_layers(edges_df(spark, pairs)).collect()}
    assert gr == want

    # closed-form fast path: a 40-chain + a 6-cycle peel with ZERO wave
    # loops (max_iter=1 would raise inside the loop if it ran >1 wave;
    # the old implementation needed 20 sequential waves here)
    long_mix = [(i, i + 1) for i in range(40)] + \
        [(100 + i, 100 + (i + 1) % 6) for i in range(6)]
    gl = {r.id: (r.coreness, r.layer)
          for r in AN.onion_layers(edges_df(spark, long_mix),
                                   max_iter=1).collect()}
    assert gl == replica(long_mix)

    # global wave-offset math: path (extends the k=1 era) + cycle +
    # pendant-trimmed triangle residual, all in one graph — the cycle's
    # k=2 wave coincides with the residual's first post-trim wave
    offset_mix = [(i, i + 1) for i in range(10)] + \
        [(200, 201), (201, 202), (202, 200)] + \
        [(300, 301), (301, 302), (302, 300), (300, 303)]
    go = {r.id: (r.coreness, r.layer)
          for r in AN.onion_layers(edges_df(spark, offset_mix)).collect()}
    assert go == replica(offset_mix)

    # extra-wave case: cycle + K5 residual (first post-trim k=4 > 2, so
    # the cycles' k=2 wave is an extra global wave the residual must
    # shift past)
    import itertools as _it
    k5 = [(400 + a, 400 + b) for a, b in _it.combinations(range(5), 2)]
    extra_mix = k5 + [(500 + i, 500 + (i + 1) % 4) for i in range(4)] + \
        [(600, 601), (601, 602)]
    ge = {r.id: (r.coreness, r.layer)
          for r in AN.onion_layers(edges_df(spark, extra_mix)).collect()}
    assert ge == replica(extra_mix)

    # min-degree-≥3 pre-check: K5 alone skips the CC split entirely and
    # goes straight to the wave loop
    gk = {r.id: (r.coreness, r.layer)
          for r in AN.onion_layers(edges_df(spark, k5)).collect()}
    assert gk == replica(k5)

    # pure cycles (no endpoints at all) take the closed form: one global
    # k=2 wave, zero wave-loop iterations
    cycles_only = [(i, (i + 1) % 5) for i in range(5)] + \
        [(700 + i, 700 + (i + 1) % 3) for i in range(3)]
    gc = {r.id: (r.coreness, r.layer)
          for r in AN.onion_layers(edges_df(spark, cycles_only),
                                   max_iter=1).collect()}
    assert gc == replica(cycles_only)


def test_trussness(spark):
    """Chains score 2, K4 edges 4, K6 edges 6; matches a python replica
    on a random graph; loud error when k_max is too small."""
    import itertools

    import pytest as _pt

    chain = [(1, 2), (2, 3), (3, 4)]
    k4 = [(10 + a, 10 + b) for a, b in itertools.combinations(range(4), 2)]
    k6 = [(20 + a, 20 + b) for a, b in itertools.combinations(range(6), 2)]
    e = edges_df(spark, chain + k4 + k6)
    got = {(r.a, r.b): r.trussness for r in AN.trussness(e).collect()}
    for a, b in chain:
        assert got[(a, b)] == 2
    for a, b in k4:
        assert got[(a, b)] == 4
    for a, b in k6:
        assert got[(a, b)] == 6
    with _pt.raises(ValueError, match="raise k_max"):
        AN.trussness(e, k_max=4)

    # replica on a random graph via iterative peeling
    import random
    rng = random.Random(31)
    pairs = sorted({tuple(sorted((rng.randrange(10), rng.randrange(10))))
                    for _ in range(28)})
    pairs = [(a, b) for a, b in pairs if a != b]

    def truss_k(edges, k):
        es = set(edges)
        while True:
            sup = {}
            for a, b in es:
                sup[(a, b)] = sum(
                    1 for c in range(11)
                    if tuple(sorted((a, c))) in es
                    and tuple(sorted((b, c))) in es and c not in (a, b))
            drop = {e for e, s in sup.items() if s < k - 2}
            if not drop:
                return es
            es = es - drop

    want = {}
    for a, b in pairs:
        want[(a, b)] = 2
    k = 3
    while True:
        tk = truss_k(pairs, k)
        if not tk:
            break
        for e2 in tk:
            want[e2] = k
        k += 1
    got2 = {(r.a, r.b): r.trussness
            for r in AN.trussness(edges_df(spark, pairs), k_max=k).collect()}
    assert got2 == want


def test_adamic_adar(spark):
    """Integer-log2 AA matches a python replica; log damping orders hubs
    below rare shared neighbors."""
    # a-b share w1 (deg 2) and hub h (deg 5)
    e = edges_df(spark, [(1, 100), (2, 100),
                         (1, 200), (2, 200), (3, 200), (4, 200), (5, 200)])
    got = {(r.a, r.b): (r.common, r.aa_milli)
           for r in AN.adamic_adar(e).collect()}

    def bits(d):
        return d.bit_length() - 1
    # pair (1,2): w=100 deg 2 -> 1000//1 = 1000; w=200 deg 5 -> 1000//2
    assert got[(1, 2)] == (2, 1000 + 1000 // 2)
    # pairs sharing only the hub score lower than the (1,2) pair
    assert got[(3, 4)] == (1, 500)
    assert got[(1, 2)][1] > got[(3, 4)][1]
    # the symmetric graph also pairs the "item side": 100~200 via 1 and 2
    assert got[(100, 200)] == (2, 2000)
    # hub cap drops hub-pivot wedges entirely
    capped = {(r.a, r.b) for r in AN.adamic_adar(e, max_degree=3).collect()}
    assert capped == {(1, 2), (100, 200)}


def _edge_brandes_reference(pairs, sources=None, horizon=None):
    """Textbook per-source BFS with Brandes 2008 EDGE accumulation —
    the float oracle for edge betweenness: on each backward step the
    edge (v, w) receives sigma_v/sigma_w * (1 + delta_w) before that
    quantity folds into delta_v. ``horizon`` bounds path length."""
    from collections import defaultdict, deque

    adj = defaultdict(list)
    nodes = set()
    for a, b in pairs:
        if a != b:
            adj[a].append(b)
            nodes |= {a, b}
    eb = defaultdict(float)
    for s in (sources if sources is not None else sorted(nodes)):
        if s not in nodes:
            continue
        dist = {s: 0}
        sigma = defaultdict(int)
        sigma[s] = 1
        preds = defaultdict(list)
        order = []
        q = deque([s])
        while q:
            v = q.popleft()
            order.append(v)
            if horizon is not None and dist[v] >= horizon:
                continue
            for w in adj[v]:
                if w not in dist:
                    dist[w] = dist[v] + 1
                    q.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] += sigma[v]
                    preds[w].append(v)
        delta = defaultdict(float)
        for w in reversed(order):
            for v in preds[w]:
                c = sigma[v] / sigma[w] * (1 + delta[w])
                eb[(v, w)] += c
                delta[v] += c
    return {k: v for k, v in eb.items() if v > 0}


def test_pivot_sigma_bfs_deep_chain_collapses_seen(spark):
    """≥200-level chain at full horizon (VERDICT r12 watch item 1): the
    pivot BFS crosses six _SEEN_COLLAPSE_LEVELS windows, so the settled
    anti-join side is re-checkpointed repeatedly instead of growing a
    200-branch union plan. Closed form on the 201-node directed path
    from pivot 0: depth(v) = v, sigma(v) = 1, exactly 201 rows — and the
    backward pass across a collapse boundary (41-node chain, 40 levels)
    yields the restricted closed form delta_0(v) = n-1-v."""
    n = 201
    e = edges_df(spark, [(i, i + 1) for i in range(n - 1)])
    piv = e.sparkSession.createDataFrame([(0,)], "id long")

    @loopstate.scoped  # frees the BFS state on return
    def check_levels():
        seeds = piv.select(F.col("id").alias("s"), "id",
                           F.lit(1).cast("long").alias("sigma"))
        slices, counts = AN._frontier_bfs(
            AN._prep_edge_rel(e.select("src", "dst")), seeds,
            max_iter=n + 5, agg=F.sum("sigma").alias("sigma"))
        assert sum(counts) == n and len(slices) == n
        for depth, (sl, cnt) in enumerate(zip(slices, counts)):
            rows = sl.collect()
            assert len(rows) == cnt
            assert all(r["s"] == 0 and r["id"] == depth and r["sigma"] == 1
                       for r in rows)

    check_levels()
    # forward+backward across one collapse boundary: 40 levels
    m = 41
    e2 = edges_df(spark, [(i, i + 1) for i in range(m - 1)])
    got = {r.id: r.betweenness for r in AN.betweenness_sampled(
        e2, pivots=piv, scale=False, max_iter=m + 5).collect()}
    assert got == {v: float(m - 1 - v) for v in range(1, m - 1)}


def test_edge_betweenness_sampled(spark):
    """k-pivot edge Brandes: all-pivots == the exact closure operator ==
    the textbook replica; k<n pivots == (n/k)-scaled replica restricted
    to the md5-chosen pivots; unscaled == the raw restricted sum."""
    import hashlib
    import random

    rng = random.Random(43)
    pairs = sorted({(rng.randrange(12), rng.randrange(12))
                    for _ in range(34)} - {(i, i) for i in range(12)})
    nodes = sorted({v for p in pairs for v in p})
    e = edges_df(spark, pairs)

    # exact: every node a pivot -> equals closure operator AND replica
    got = {(r.src, r.dst): r.betweenness for r in
           AN.edge_betweenness_sampled(e, n_pivots=len(nodes)).collect()}
    via_closure = {(r.src, r.dst): r.betweenness
                   for r in AN.edge_betweenness(e).collect()}
    ref = _edge_brandes_reference(pairs)
    assert set(got) == set(ref) == set(via_closure)
    assert all(abs(got[k] - ref[k]) < 1e-9 for k in ref)
    assert all(abs(via_closure[k] - ref[k]) < 1e-9 for k in ref)

    # sampled: replicate the md5 pivot choice, compare to scaled replica
    k, seed = 3, 0
    pivots = sorted(
        nodes,
        key=lambda i: (hashlib.md5(f"piv{seed}|{i}".encode()).hexdigest(),
                       i))[:k]
    ref_s = _edge_brandes_reference(pairs, sources=pivots)
    factor = len(nodes) / k
    want = {kk: v * factor for kk, v in ref_s.items()}
    got_s = {(r.src, r.dst): r.betweenness for r in
             AN.edge_betweenness_sampled(e, n_pivots=k,
                                         seed=seed).collect()}
    assert set(got_s) == set(want)
    assert all(abs(got_s[kk] - want[kk]) < 1e-9 for kk in want)
    got_raw = {(r.src, r.dst): r.betweenness for r in
               AN.edge_betweenness_sampled(e, n_pivots=k, seed=seed,
                                           scale=False).collect()}
    assert all(abs(got_raw[kk] - ref_s[kk]) < 1e-9 for kk in got_raw)

    # chain closed form i*(L-i) survives the sampling machinery
    chain = edges_df(spark, [(0, 1), (1, 2), (2, 3)])
    gc = {(r.src, r.dst): r.betweenness for r in
          AN.edge_betweenness_sampled(chain, n_pivots=10).collect()}
    assert gc == {(0, 1): 3.0, (1, 2): 4.0, (2, 3): 3.0}


def test_edge_betweenness_sources_routes_to_pivot_pass(spark):
    """edge_betweenness(sources=) without a closure now runs the k-pivot
    pass (k*|V| state) — results must equal the closure composition
    restricted to the same sources, including at a bounded horizon."""
    import random

    rng = random.Random(7)
    pairs = sorted({(rng.randrange(14), rng.randrange(14))
                    for _ in range(30)} - {(i, i) for i in range(14)})
    e = edges_df(spark, pairs)
    srcs_py = [0, 3, 5, 99]  # 99: not in the graph -> ignored
    srcs = spark.createDataFrame([(s,) for s in srcs_py], "id long")

    got = {(r.src, r.dst): r.betweenness for r in
           AN.edge_betweenness(e, sources=srcs).collect()}
    via_closure = {(r.src, r.dst): r.betweenness for r in
                   AN.edge_betweenness(
                       e, sources=srcs,
                       closure=AN.shortest_path_counts(e)).collect()}
    ref = _edge_brandes_reference(pairs, sources=srcs_py)
    assert set(got) == set(ref) == set(via_closure)
    assert all(abs(got[k] - ref[k]) < 1e-9 for k in ref)

    # horizon convention: max_iter=h == closure(max_iter=h) == replica
    # bounded to h+1 hops (shortest_path_counts settles depths <= h+1)
    chain = edges_df(spark, [(i, i + 1) for i in range(6)])
    all_src = spark.createDataFrame([(i,) for i in range(7)], "id long")
    h = 2
    got_h = {(r.src, r.dst): r.betweenness for r in
             AN.edge_betweenness(chain, sources=all_src,
                                 max_iter=h).collect()}
    via_h = {(r.src, r.dst): r.betweenness for r in
             AN.edge_betweenness(
                 chain, sources=all_src,
                 closure=AN.shortest_path_counts(
                     chain, max_iter=h)).collect()}
    ref_h = _edge_brandes_reference([(i, i + 1) for i in range(6)],
                                    horizon=h + 1)
    assert got_h == via_h
    assert set(got_h) == set(ref_h)
    assert all(abs(got_h[k] - ref_h[k]) < 1e-9 for k in ref_h)


def test_girvan_newman_sampled_splits_barbell(spark):
    """With every node a pivot the sampled estimator is exact, so GN
    under n_pivots still removes the bridge first."""
    pairs = [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)]
    e = edges_df(spark, pairs)
    removed, labels = AN.girvan_newman_split(e, n_removals=1, n_pivots=6)
    (r,) = removed.collect()
    assert (r["src"], r["dst"]) == (2, 3)
    comp = {x["id"]: x["component"] for x in labels.collect()}
    assert comp == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 3}


def test_girvan_newman_modularity_peak(spark):
    """pick="modularity": with a removal budget past the peak, labels
    come from the argmax-Q prefix cut, not the over-fragmented final
    cut; removed still records the full prefix. Path 0-1-2-3, scored
    against the ORIGINAL graph: prefix 0 gives Q_scaled=0, removing the
    middle edge gives 6 (the peak — two pairs); every further removal
    only fragments (prefix 2 -> -2, prefix 3 -> -10), so the default
    (final-cut) labels are singletons while the modularity pick
    restores the two-pair cut."""
    pairs = [(0, 1), (1, 2), (2, 3)]
    e = edges_df(spark, pairs)
    removed_d, labels_d = AN.girvan_newman_split(e, n_removals=3)
    comp_d = {x["id"]: x["component"] for x in labels_d.collect()}
    assert comp_d == {0: 0, 1: 1, 2: 2, 3: 3}  # final cut: singletons
    removed, labels = AN.girvan_newman_split(
        e, n_removals=3, pick="modularity")
    assert removed.count() == 3  # budget fully spent and recorded
    assert [(r["src"], r["dst"]) for r in
            removed.orderBy("round").collect()] == [(1, 2), (0, 1), (2, 3)]
    comp = {x["id"]: x["component"] for x in labels.collect()}
    assert comp == {0: 0, 1: 0, 2: 2, 3: 2}  # the Q peak, not the end
    # sampled estimator threads through: all-pivots == exact
    removed_s, labels_s = AN.girvan_newman_split(
        e, n_removals=3, n_pivots=4, pick="modularity")
    comp_s = {x["id"]: x["component"] for x in labels_s.collect()}
    assert comp_s == comp
    import pytest
    with pytest.raises(ValueError):
        AN.girvan_newman_split(e, pick="conductance")


def test_girvan_newman_method_dispatch(spark, monkeypatch):
    """method= mirrors scc's dispatch: 'exact' and 'sampled' force a
    mode ('sampled' defaults to the 64-pivot budget — all-pivots-exact
    on this fixture), 'auto' flips to sampled above the edge limit
    (forced here by shrinking the limit to 0), and every mode agrees on
    the barbell split. Unknown methods raise."""
    pairs = [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)]
    e = edges_df(spark, pairs)
    expect = {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 3}
    for kw in ({"method": "exact"}, {"method": "sampled"}):
        removed, labels = AN.girvan_newman_split(e, n_removals=1, **kw)
        (r,) = removed.collect()
        assert (r["src"], r["dst"]) == (2, 3)
        assert {x["id"]: x["component"]
                for x in labels.collect()} == expect
    monkeypatch.setattr(AN, "_GN_AUTO_EDGE_LIMIT", 0)
    removed, labels = AN.girvan_newman_split(e, n_removals=1)
    (r,) = removed.collect()
    assert (r["src"], r["dst"]) == (2, 3)
    assert {x["id"]: x["component"] for x in labels.collect()} == expect
    import pytest
    with pytest.raises(ValueError, match="unknown method"):
        AN.girvan_newman_split(e, method="closure")


def test_girvan_newman_sampled_horizon_matches_exact(spark):
    """Diameter == max_iter+1 — the band where the modes used to
    diverge: the exact closure silently settles depth max_iter+1, and
    the sampled branch now runs the same bounded horizon instead of
    raising 'not settled in max_iter rounds'. All-pivots sampled must
    reproduce the exact removal on a 5-node path (diameter 4,
    max_iter 3)."""
    e = edges_df(spark, [(0, 1), (1, 2), (2, 3), (3, 4)])
    rex, _ = AN.girvan_newman_split(e, n_removals=1, max_iter=3,
                                    method="exact")
    rsam, _ = AN.girvan_newman_split(e, n_removals=1, max_iter=3,
                                     n_pivots=5)
    assert ([(r["src"], r["dst"]) for r in rex.collect()]
            == [(r["src"], r["dst"]) for r in rsam.collect()]
            == [(1, 2)])


def test_girvan_newman_selfloop_only_node_in_labels(spark):
    """A node whose only edges are self-loops still appears in labels
    (own id as component) — the node set comes from the RAW edges."""
    e = edges_df(spark, [(0, 1), (2, 2)])
    removed, labels = AN.girvan_newman_split(e, n_removals=1)
    comp = {x["id"]: x["component"] for x in labels.collect()}
    assert comp == {0: 0, 1: 1, 2: 2}


def test_betweenness_sources_routes_to_pivot_pass(spark):
    """betweenness_centrality(sources=) without a closure now runs the
    k-pivot pass (k*|V| state) — results must equal the closure
    composition restricted to the same sources, including at a bounded
    horizon, and still match the textbook replica."""
    import random

    rng = random.Random(11)
    pairs = sorted({(rng.randrange(14), rng.randrange(14))
                    for _ in range(30)} - {(i, i) for i in range(14)})
    e = edges_df(spark, pairs)
    srcs_py = [0, 2, 7, 99]  # 99: not in the graph -> ignored
    srcs = spark.createDataFrame([(s,) for s in srcs_py], "id long")

    got = {r.id: r.betweenness for r in
           AN.betweenness_centrality(e, sources=srcs).collect()}
    via_closure = {r.id: r.betweenness for r in
                   AN.betweenness_centrality(
                       e, sources=srcs,
                       closure=AN.shortest_path_counts(e)).collect()}
    ref = _brandes_reference(pairs, sources=[s for s in srcs_py
                                             if s != 99])
    assert set(got) == set(ref) == set(via_closure)
    assert all(abs(got[k] - ref[k]) < 1e-9 for k in ref)
    assert all(abs(via_closure[k] - ref[k]) < 1e-9 for k in ref)

    # horizon convention: max_iter=h == closure(max_iter=h) path
    chain = edges_df(spark, [(i, i + 1) for i in range(6)])
    all_src = spark.createDataFrame([(i,) for i in range(7)], "id long")
    h = 2
    got_h = {r.id: r.betweenness for r in
             AN.betweenness_centrality(chain, sources=all_src,
                                       max_iter=h).collect()}
    via_h = {r.id: r.betweenness for r in
             AN.betweenness_centrality(
                 chain, sources=all_src,
                 closure=AN.shortest_path_counts(
                     chain, max_iter=h)).collect()}
    assert got_h == via_h
    # closed form at horizon h+1=3 hops: b(p) = sum over s in
    # [p-2, p-1] of (min(6, s+3) - p) over 0-based positions 0..6
    want = {p: sum(min(6, s + 3) - p for s in range(max(0, p - 2), p))
            for p in range(1, 6)}
    want = {p: v for p, v in want.items() if v > 0}
    assert got_h == {p: float(v) for p, v in want.items()}


def test_girvan_newman_sampled_matches_exact_sequence(spark):
    """With every node a pivot the sampled estimator is exact, so the
    FULL removal sequence (not just the first cut) and the final labels
    must match the exact path on a random graph — the loop-level
    equivalence behind the per-round estimator equivalence."""
    import random

    rng = random.Random(17)
    pairs = sorted({(rng.randrange(10), rng.randrange(10))
                    for _ in range(22)} - {(i, i) for i in range(10)})
    e = edges_df(spark, pairs)
    rem_x, lab_x = AN.girvan_newman_split(e, n_removals=3)
    rem_s, lab_s = AN.girvan_newman_split(e, n_removals=3, n_pivots=10)
    seq_x = [(r["round"], r["src"], r["dst"])
             for r in rem_x.orderBy("round").collect()]
    seq_s = [(r["round"], r["src"], r["dst"])
             for r in rem_s.orderBy("round").collect()]
    assert seq_x == seq_s and len(seq_x) == 3
    cx = {r["id"]: r["component"] for r in lab_x.collect()}
    cs = {r["id"]: r["component"] for r in lab_s.collect()}
    assert cx == cs


def test_msf_distributed_contraction_branch_equivalent(spark, monkeypatch):
    """_LOCAL_MAX_ROWS=0 forces the distributed contraction inside
    connected_components — the branch the first rounds of a 100 TB run
    take — and must produce the exact same forest as the driver
    union-find on every fixture."""
    import random

    from judy_graph_db_spark.operators import analytics as AN

    rng = random.Random(13)
    n = 40
    rows = [(i, i + 1, 0) for i in range(n)]
    rows += [(rng.randrange(n), rng.randrange(n), 0) for _ in range(60)]
    rows = [(a, b, 0) for a, b in {(a, b) for a, b, _ in rows if a != b}]
    weights = rng.sample(range(1, 10000), len(rows))
    rows = [(a, b, w) for (a, b, _), w in zip(rows, weights)]
    edges = spark.createDataFrame(rows, "src long, dst long, weight long")
    fast = sorted((r.a, r.b, r.weight)
                  for r in AN.minimum_spanning_forest(edges).collect())
    monkeypatch.setattr(AN, "_LOCAL_MAX_ROWS", 0)
    dist = sorted((r.a, r.b, r.weight)
                  for r in AN.minimum_spanning_forest(edges).collect())
    assert fast == dist == sorted(_kruskal(rows))
    # disconnected fixture through the distributed branch too
    e2 = spark.createDataFrame(
        [(1, 2, 5), (2, 3, 7), (1, 3, 9), (10, 11, 1)],
        "src long, dst long, weight long",
    )
    got = sorted((r.a, r.b, r.weight)
                 for r in AN.minimum_spanning_forest(e2).collect())
    assert got == [(1, 2, 5), (2, 3, 7), (10, 11, 1)]


def test_girvan_newman_incremental_across_components(spark):
    """Per-component incremental exact GN (r14): two disconnected
    barbells — round 1's full eb computation caches both; removal 1
    takes the BIG barbell's bridge and recomputes only that component;
    removal 2's argmax (the small barbell's bridge) must come from the
    CACHE, and the final labels must be the 4 split communities."""
    from judy_graph_db_spark.operators import analytics as AN

    k4a = [(i, j) for i in range(0, 4) for j in range(i + 1, 4)]
    k4b = [(i, j) for i in range(4, 8) for j in range(i + 1, 8)]
    k3a = [(i, j) for i in range(10, 13) for j in range(i + 1, 13)]
    k3b = [(i, j) for i in range(13, 16) for j in range(i + 1, 16)]
    edges = spark.createDataFrame(
        k4a + k4b + k3a + k3b + [(3, 4), (12, 13)],
        "src long, dst long")
    removed, labels = AN.girvan_newman_split(
        edges, n_removals=2, method="exact")
    got = [(r["src"], r["dst"]) for r in
           removed.orderBy("round").collect()]
    assert got == [(3, 4), (12, 13)]
    comp = {r["id"]: r["component"] for r in labels.collect()}
    groups = {}
    for nid, c in comp.items():
        groups.setdefault(c, set()).add(nid)
    assert sorted(map(tuple, map(sorted, groups.values()))) == [
        (0, 1, 2, 3), (4, 5, 6, 7), (10, 11, 12), (13, 14, 15)]
