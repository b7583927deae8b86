"""Whole-graph iterative analytics — parity-plus over the reference.

The reference has no graph analytics beyond per-(node,label) degree counts
(SURVEY.md §2.7; shortestPath is a TODO at ``doc/Neo4j.md:179-197``). These
fill that surface with the standard Pregel-style algorithms, re-expressed as
driver-side iterative DataFrame loops — the same shape as the
variable-length-path loop in ``plans/compiler.py`` (SURVEY.md §4.3).

Scale design (100 TB):
- every iteration is ONE shuffle keyed on the join column; frontiers
  stay distributed. The driver collects only 1-row aggregates, argmaxes
  and, through one seam (``_driver_rows``), relations of at most
  ``_LOCAL_MAX_ROWS`` rows: ``connected_components``' pairs,
  ``minplus_closure``'s base pairs and ``pagerank``'s links. Such a call
  computes on the driver and returns a local relation; the size is the
  count of the checkpoint or cache the distributed plan materializes
  anyway;
- each iteration checkpoints the state DataFrame (``loopstate.checkpoint``)
  so lineage (and the Catalyst plan) stays flat no matter how many rounds
  run; every public operator runs in a ``loopstate.scoped`` scope, which
  frees each checkpoint and cache the call made except those backing its
  result, also when the call raises. Loops free a superseded state with
  ``loopstate.free`` once its successor is materialized;
- every multi-source BFS (``shortest_path_counts``, ``shortest_path_tree``,
  ``landmark_distances``, the sampled-betweenness forward pass) is one
  loop, ``_frontier_bfs``: one job per level, the settled set kept as
  per-level slices, and broadcast hints taken from measured level sizes;
- ``connected_components`` above the bound alternates large-star and
  small-star contraction, giving O(log n) rounds instead of O(d) on long
  chains;
- ``triangle_count`` canonicalizes to the ``a < b`` undirected edge set
  first, so each triangle is counted exactly once and the self-joins stay
  half-sized; on skewed degree distributions, AQE skew-join handles the
  hub-vertex buckets;
- ``pagerank`` above the bound pre-aggregates out-degrees once and
  re-broadcasts nothing — ranks and contributions meet in a shuffle-on-id
  join that AQE can convert per-partition.
"""

from __future__ import annotations

import heapq
from typing import Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from judy_graph_db_spark.loopstate import (Deferred, cache, checkpoint,
                                           fixpoint, free, scoped)
from judy_graph_db_spark.schema import local_columns_df, local_df, union_all


def _symmetric(edges: DataFrame) -> DataFrame:
    """Distinct undirected neighbor pairs (both directions materialized)."""
    fwd = edges.select("src", "dst")
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return union_all([fwd, rev]).filter(F.col("src") != F.col("dst")).distinct()


def _endpoints(df: DataFrame, a: str = "src", b: str = "dst", name: str = "id") -> DataFrame:
    """Columns ``a`` and ``b`` of ``df`` stacked into one column ``name``
    (UNION ALL: a node appears once per incident row)."""
    return union_all([df.select(F.col(a).alias(name)), df.select(F.col(b).alias(name))])


def _star_round(pairs: DataFrame, large: bool) -> DataFrame:
    """One large-star / small-star contraction (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14).

    ``pairs`` is the canonical edge set ``(a < b)``. For every node ``u``
    with neighborhood N(u) and ``m = min(N(u) ∪ {u})``:

    - large-star rewires the strictly-larger neighbors: ``(v, m)`` for
      ``v ∈ N(u), v > u``;
    - small-star rewires the rest: ``(v, m)`` for ``v ∈ N(u), v ≤ u``
      (plus ``(u, m)`` itself).

    Both keep every node attached to a smaller node of the same component,
    so connectivity is invariant; the alternation converges to disjoint
    stars rooted at component minima in O(log n) rounds on any topology —
    including long chains, where plain hash-min needs O(diameter) rounds.

    Each round annotates the adjacency with its per-u minimum via ONE
    window pass (one exchange of the O(|E|) relation) instead of the
    groupBy + join-back formulation, which exchanges it twice — measured
    ~20% faster at sf0.1 and strictly fewer big shuffles at scale. The
    self-link row per u falls out of the same pass (row_number == 1), and
    the minimum is ``first(v)`` over the SAME sorted window (v is unique
    within u, so the first row after the sort IS the min): one
    Sort+Window pass over the O(|E|) relation.
    """
    adj = union_all([pairs.select(F.col("a").alias("u"), F.col("b").alias("v")),
                     pairs.select(F.col("b").alias("u"), F.col("a").alias("v"))])
    wo = Window.partitionBy("u").orderBy("v")
    ann = adj.select(
        "u",
        "v",
        F.least(F.first("v").over(wo), F.col("u")).alias("m"),
        F.row_number().over(wo).alias("_rn"),
    )
    rewired = ann.filter(
        F.col("v") > F.col("u") if large else F.col("v") <= F.col("u")
    ).select("v", "m")
    self_link = ann.filter((F.col("_rn") == 1) & (F.col("u") > F.col("m"))).select(
        F.col("u").alias("v"), "m"
    )
    out = (
        union_all([rewired, self_link])
        .filter(F.col("v") != F.col("m"))
        .select(F.least("v", "m").alias("a"), F.greatest("v", "m").alias("b"))
    )
    # the large pass feeds straight into small-star, whose groupBy is
    # duplicate-insensitive and whose own distinct canonicalizes the round's
    # output — deduping here would only add a shuffle
    return out if large else out.distinct()


#: Most rows a driver-side branch may collect or build: the canonical
#: pairs :func:`connected_components` unions, the base and result pairs
#: of :func:`minplus_closure`, the links :func:`pagerank` iterates over.
#: A larger relation runs the distributed plan.
_LOCAL_MAX_ROWS = 1_000_000


def _driver_rows(df: DataFrame, n: int | None = None) -> "pa.Table | None":
    """``df`` as an Arrow table when it has at most ``_LOCAL_MAX_ROWS``
    rows and no NULL, else None.

    ``df`` is a checkpoint or cache that the caller's distributed plan
    materializes anyway; counting it (one job over its RDD, no shuffle)
    is that materialization. ``n`` is the count when the caller already
    ran it. Above the bound no row reaches the driver."""
    if n is None:
        n = df._jdf.queryExecution().toRdd().count()
    if n > _LOCAL_MAX_ROWS:
        return None
    table = df.toArrow()
    return None if any(c.null_count for c in table.columns) else table


def _union_find(a, b) -> tuple:
    """Columns ``(id, min id of its component)`` for every id on the
    pairs ``zip(a, b)`` (numpy arrays), by union-find over dense indices."""
    ids, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    parent = list(range(len(ids)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i, j in zip(inv[:len(a)].tolist(), inv[len(a):].tolist()):
        ri, rj = find(i), find(j)
        if ri != rj:
            # ids are sorted, so the smaller index is the smaller id
            parent[max(ri, rj)] = min(ri, rj)
    root = np.asarray(parent, dtype=np.int64)
    while True:
        up = root[root]
        if np.array_equal(up, root):
            return ids, ids[root]
        root = up


def _local_components(spark, pairs: "pa.Table",
                      nodes: DataFrame | None = None) -> DataFrame:
    """Driver union-find of the collected two-column ``pairs`` into a local
    relation, plus ``(id, id)`` for every edge-less id of ``nodes``."""
    a, b = (c.to_numpy() for c in pairs.columns)
    comp = local_columns_df(spark, _union_find(a, b), "id long, component long")
    if nodes is None:
        return comp
    loners = (nodes.select(F.col("id").cast("long").alias("id")).distinct()
              .join(comp, "id", "left_anti"))
    return union_all([comp, loners.select("id", F.col("id").alias("component"))])


@scoped
def connected_components(edges: DataFrame, max_iter: int = 50,
                         nodes: DataFrame | None = None) -> DataFrame:
    """Connected components. Returns ``(id BIGINT, component BIGINT)``
    where ``component`` is the minimum node id of the component. By
    default the node set is every id on a non-self-loop edge; pass
    ``nodes`` (an ``id`` column) to also emit ``(id, id)`` singleton
    components for edge-less ids — an explicit node table usually has
    some.

    The plan is chosen once per call by counting the canonical ``a < b``
    pair checkpoint (the job that materializes it). At most
    ``_LOCAL_MAX_ROWS`` pairs are collected as Arrow columns and labelled
    by a driver union-find (:func:`_driver_rows`, the seam
    :func:`minplus_closure` and :func:`pagerank` share) — small graphs pay
    job latency, not data. More go through
    alternating large-star/small-star contraction (see :func:`_star_round`),
    O(log n) checkpointed rounds of at most ``max_iter``; convergence test:
    a whp-exact fingerprint (count + sum of per-pair xxhash64) of the pair
    set, one agg job per round, no join.
    """
    pairs = checkpoint(
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") < F.col("b"))
        .distinct())
    small = _driver_rows(pairs)
    if small is not None:
        return _local_components(edges.sparkSession, small, nodes)

    id_set = _endpoints(pairs, "a", "b")
    if nodes is not None:
        id_set = union_all([id_set, nodes.select(F.col("id").cast("long"))])
    id_set = checkpoint(id_set.distinct(), eager=True)

    def fingerprint(df: DataFrame) -> tuple:
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (row["n"], int(row["h"] or 0))

    # the fingerprint aggregation is the job that materializes each
    # round's pair set — one job per round
    pairs = fixpoint(
        pairs, lambda p: _star_round(_star_round(p, large=True), large=False),
        fingerprint, max_iter)
    # fixpoint = disjoint stars rooted at component minima: every pair is
    # (root, member); roots map to themselves
    membership = pairs.select(F.col("b").alias("id"), F.col("a").alias("component"))
    return (
        id_set.join(membership, "id", "left")
        .select("id", F.coalesce("component", "id").alias("component"))
    )


@scoped
def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle count over the undirected simple graph.

    Canonicalize to distinct undirected pairs (direction and parallel-edge
    multiplicity dropped), then orient every edge from its lower to its
    higher endpoint in the ``(degree, id)`` total order and count wedges of
    each node's out-neighborhood closed by an oriented edge. Degree
    orientation bounds every out-degree by O(√m), so the wedge join is
    O(m^1.5) worst-case regardless of hubs — plain id-ordering degenerates
    to Σ deg² when a high-degree node sits low in the id space. The
    canonical and oriented edge sets are ``localCheckpoint``-ed: three plan
    aliases scan one materialization instead of recomputing the distinct.
    Returns a single row ``(triangles BIGINT)``.
    """
    und = checkpoint(
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") < F.col("b"))
        .distinct(), eager=True)
    deg = (
        _endpoints(und, "a", "b")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    withd = (
        und.join(deg.select(F.col("id").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("id").alias("b"), F.col("d").alias("db")), "b")
    )
    # field names inside the order keys must match for struct comparison
    ka = F.struct(F.col("da").alias("d"), F.col("a").alias("i"))
    kb = F.struct(F.col("db").alias("d"), F.col("b").alias("i"))
    lower_first = ka < kb
    oriented = checkpoint(withd.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(lower_first, kb).otherwise(ka).alias("kv"),
    ), eager=True)
    free(und)
    o1 = oriented.select(F.col("u").alias("s"), F.col("v").alias("x"),
                         F.col("kv").alias("kx"))
    o2 = oriented.select(F.col("u").alias("s"), F.col("v").alias("y"),
                         F.col("kv").alias("ky"))
    wedges = o1.join(o2, "s").filter(F.col("kx") < F.col("ky")).select("x", "y")
    closing = oriented.select(F.col("u").alias("x"), F.col("v").alias("y"))
    return (
        wedges.join(closing, ["x", "y"])
        .agg(F.count("*").cast("long").alias("triangles"))
    )


@scoped
def pagerank(
    edges: DataFrame, iters: int = 3, damping: float = 0.85,
    weight_col: str | None = None,
    init_ranks: DataFrame | None = None,
) -> DataFrame:
    """PageRank by fixed-round power iteration, GraphX semantics:
    ``rank = (1-d) + d * Σ_{in-neighbors} rank/outdeg`` starting from 1.0,
    dangling mass not redistributed (matches
    ``org.apache.spark.graphx.lib.PageRank.run``). Parallel edges collapse
    to simple links first. Returns ``(id BIGINT, rank DOUBLE)``.

    Fixed ``iters`` (not a convergence test) keeps the operator a
    deterministic function of its input, so it stays oracle-checkable via an
    unrolled-SQL twin (``pagerank_oracle_sql``).

    The plan is chosen once per call by the count that materializes the
    link cache. At most ``_LOCAL_MAX_ROWS`` links are collected
    (:func:`_driver_rows`) and iterated in numpy on the driver in a fixed
    ``(src, dst)`` order, so a warm start stays bit-identical to the
    longer cold run; the result is a local relation.

    Shuffle profile of the distributed plan (the property that matters at
    100 TB): the edge
    relation is shuffled exactly ONCE — one ``repartition`` on ``src``
    feeds the dedup (hash(src) already clusters (src,dst) duplicates) and
    the windowed out-degree, and the result is ``cache``\\ d, which — unlike
    ``localCheckpoint`` — preserves ``outputPartitioning``, so every
    iteration's contribs join reads co-located buckets with no Exchange on
    the edge side. Per-iteration shuffle volume is O(|nodes|) (the contrib
    aggregation and the rank join), never O(|edges|). The loop itself stays
    declarative (checkpoint only every 8 rounds to bound lineage), letting
    AQE pick runtime join strategies.
    """
    spark = edges.sparkSession
    num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if weight_col is None:
        links = (
            edges.select("src", "dst")
            .repartition(num_partitions, "src")
            .dropDuplicates(["src", "dst"])  # partition-local: hash(src) clusters dups
        )
        w = Window.partitionBy("src")
        ldeg = cache(links.withColumn("outdeg", F.count(F.lit(1)).over(w)))
    else:
        # weighted variant: parallel edges sum their weights; contributions
        # are weight-proportional (rank · w / Σw(src)) — same single edge
        # shuffle, the aggregation replaces the dedup
        links = (
            edges.select("src", "dst",
                         F.col(weight_col).cast("double").alias("__w"))
            .repartition(num_partitions, "src")
            .groupBy("src", "dst").agg(F.sum("__w").alias("__w"))
        )
        w = Window.partitionBy("src")
        ldeg = cache(links.withColumn("outdeg", F.sum("__w").over(w) / F.col("__w")))
    # materialize now: a cache whose plan is already final exposes its
    # partitioning to every later join (an in-flight one does not)
    small = _driver_rows(ldeg)
    if small is not None:
        id_type = _endpoints(ldeg).schema["id"].dataType.simpleString()
        return _local_pagerank(spark, small, iters, damping, init_ranks,
                               id_type)
    # distinct leaves hashpartitioning(id) in place for the rank joins.
    # Materialized SERIALLY after ldeg (a 2-thread overlap of the two
    # jobs measured at parity locally): the nodes job reads the ldeg
    # cache, so running it second guarantees a warm cache — overlapped,
    # its scans race the cache fill and can recompute the O(|E|) window
    # pass, which is not free on a saturated cluster.
    nodes = cache(_endpoints(ldeg).distinct())
    nodes.count()
    if init_ranks is None:
        ranks = nodes.withColumn("rank", F.lit(1.0))
    else:
        # warm start (evolving-graph serving: resume from the previous
        # snapshot's ranks instead of re-converging from scratch; nodes
        # the init relation lacks — newly arrived — start at 1.0, the
        # cold-start value). Restarting k iterations from cold(j) output
        # runs the SAME join/sum sequence as cold(j+k), so warm resume
        # is bit-identical to the longer cold run — the self-consistency
        # the `warm` gate part checks.
        ranks = nodes.join(
            init_ranks.select(F.col("id"), F.col("rank").alias("__r0")),
            "id", "left",
        ).select("id", F.coalesce(F.col("__r0"), F.lit(1.0)).alias("rank"))
    for i in range(iters):
        contribs = (
            ldeg.join(ranks, ldeg.src == ranks.id)
            .select(
                F.col("dst").alias("id"),
                (F.col("rank") / F.col("outdeg")).alias("c"),
            )
            .groupBy("id")
            .agg(F.sum("c").alias("s"))
        )
        ranks = nodes.join(contribs, "id", "left").select(
            "id",
            (
                F.lit(1.0 - damping)
                + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))
            ).alias("rank"),
        )
        if (i + 1) % 8 == 0 and i + 1 < iters:
            ranks = checkpoint(ranks, eager=True)
    # detach the result from the internal caches, which the scope frees
    return checkpoint(ranks, eager=True)


def _local_pagerank(spark, links: "pa.Table", iters: int, damping: float,
                    init_ranks: DataFrame | None, id_type: str) -> DataFrame:
    """:func:`pagerank`'s iterations over collected ``(src, dst, outdeg)``
    links, in numpy: the same ``rank / outdeg`` contributions, summed in
    ``(src, dst)`` order. Returns ``(id id_type, rank double)``."""
    src, dst, outdeg = (links.column(c).to_numpy() for c in ("src", "dst", "outdeg"))
    order = np.lexsort((dst, src))
    src, dst, outdeg = src[order], dst[order], outdeg[order]
    ids = np.unique(np.concatenate([src, dst]))
    si, di = np.searchsorted(ids, src), np.searchsorted(ids, dst)
    rank = np.ones(len(ids))
    if init_ranks is not None:
        # only the collected ids are read; the rest start cold at 1.0
        wanted = local_columns_df(spark, [ids], f"id {id_type}")
        got = wanted.join(init_ranks.select("id", F.col("rank").alias("__r0")),
                          "id").toArrow()
        r0 = got.column("__r0").fill_null(1.0).to_numpy()
        rank[np.searchsorted(ids, got.column("id").to_numpy())] = r0
    for _ in range(iters):
        s = np.bincount(di, weights=rank[si] / outdeg, minlength=len(ids))
        rank = (1.0 - damping) + damping * s
    return local_columns_df(spark, [ids, rank], f"id {id_type}, rank double")


def pagerank_oracle_sql(
    edges_sql: str, iters: int = 3, damping: float = 0.85,
    prefix: str | None = None, weighted: bool = False,
) -> str:
    """The ANSI-SQL twin of :func:`pagerank`: the same fixed number of power
    iterations unrolled as chained CTEs, over an ``edges_sql`` relation with
    ``src``/``dst`` columns. Final ranks come back rounded to 1e-4
    (``rank_e4 BIGINT``) — compare the Spark side with the same rounding.
    ``prefix`` is an existing ``WITH ...`` chain (e.g. the TPC-H graph CTEs)
    to extend instead of opening a new one.
    """
    head = f"{prefix},\nlinks" if prefix else "WITH links"
    if weighted:
        # mirror the Spark operator's exact float expression shape:
        # outdeg = wsum / w per (src, dst), contribution = rank / outdeg
        links_cte = (
            f"{head} AS (SELECT src, dst, CAST(SUM(w) AS DOUBLE) AS w "
            f"FROM ({edges_sql}) GROUP BY src, dst),"
        )
        deg_cte = ("deg AS (SELECT src, dst, "
                   "SUM(w) OVER (PARTITION BY src) / w AS outdeg FROM links),")
        deg_join = "LEFT JOIN deg d ON d.src = l.src AND d.dst = l.dst"
    else:
        links_cte = f"{head} AS (SELECT DISTINCT src, dst FROM ({edges_sql})),"
        deg_cte = "deg AS (SELECT src, COUNT(*) AS outdeg FROM links GROUP BY src),"
        deg_join = "LEFT JOIN deg d ON d.src = l.src"
    parts = [
        links_cte,
        deg_cte,
        "nodes AS (SELECT src AS id FROM links UNION SELECT dst FROM links),",
        "r0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS rank FROM nodes)",
    ]
    for k in range(1, iters + 1):
        parts.append(
            f""", r{k} AS (
  SELECT n.id,
         {1.0 - damping} + {damping} * COALESCE(SUM(r.rank / d.outdeg), 0.0) AS rank
  FROM nodes n
  LEFT JOIN links l ON l.dst = n.id
  {deg_join}
  LEFT JOIN r{k - 1} r ON r.id = l.src
  GROUP BY n.id
)"""
        )
        parts.append("")
    parts.append(
        f"SELECT id, CAST(ROUND(rank * 10000) AS BIGINT) AS rank_e4 FROM r{iters}"
    )
    return "\n".join(parts)


@scoped
def hits(edges: DataFrame, iters: int = 3) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) by fixed-round mutual
    recursion: ``auth ∝ Σ_{j→i} hub(j)``, ``hub ∝ Σ_{i→j} auth(j)``,
    L1-normalized to sum 1 ONCE at the end — per-round rescaling is a
    scalar factor that cancels under the final normalization, so skipping
    it gives the identical result while removing 2·iters driver-blocking
    scalar jobs (each scalar broadcast forces a full upstream
    materialization). Parallel edges collapse to simple links first.
    Fixed ``iters`` keeps the operator a deterministic function of its
    input (same oracle-checkability policy as :func:`pagerank`; twin:
    :func:`hits_oracle_sql`). Returns ``(id BIGINT, auth DOUBLE,
    hub DOUBLE)`` over every node that appears as a source or target.

    Shuffle profile: the edge relation is shuffled exactly once
    (``repartition`` on ``src`` feeding the dedup) and ``cache``\\ d so its
    partitioning survives into every iteration; per-half-round shuffle
    volume is O(|nodes|) (the contrib aggregation), and each half-round is
    ``localCheckpoint``\\ ed so no round ever recomputes its predecessor.
    The two L1 totals are 1-row aggregates attached by broadcast at the
    very end — never a wide join.
    """
    spark = edges.sparkSession
    num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    links = cache(
        edges.select("src", "dst")
        .repartition(num_partitions, "src")
        .dropDuplicates(["src", "dst"]))
    nodes = cache(_endpoints(links).distinct())
    links.count()
    nodes.count()
    hub = nodes.withColumn("hub", F.lit(1.0))
    auth = nodes.withColumn("auth", F.lit(0.0))
    for i in range(iters):
        a_raw = (
            links.join(hub, links.src == hub.id)
            .select(F.col("dst").alias("id"), F.col("hub").alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("raw"))
        )
        free(auth)
        auth = checkpoint(
            nodes.join(a_raw, "id", "left")
            .select("id", F.coalesce(F.col("raw"), F.lit(0.0)).alias("auth")), eager=True)
        h_raw = (
            links.join(auth, links.dst == auth.id)
            .select(F.col("src").alias("id"), F.col("auth").alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("raw"))
        )
        free(hub)
        hub = checkpoint(
            nodes.join(h_raw, "id", "left")
            .select("id", F.coalesce(F.col("raw"), F.lit(0.0)).alias("hub")), eager=True)
    a_tot = auth.agg(F.sum("auth").alias("t_a"))
    h_tot = hub.agg(F.sum("hub").alias("t_h"))
    return checkpoint(
        auth.join(hub, "id")
        .crossJoin(F.broadcast(a_tot))
        .crossJoin(F.broadcast(h_tot))
        .select(
            "id",
            (F.col("auth") / F.col("t_a")).alias("auth"),
            (F.col("hub") / F.col("t_h")).alias("hub"),
        ), eager=True)


def hits_oracle_sql(
    edges_sql: str, iters: int = 3, prefix: str | None = None
) -> str:
    """ANSI-SQL twin of :func:`hits`: the same fixed half-rounds unrolled as
    chained CTEs, unnormalized until the final select (identical formula to
    the Spark side so the fixed-point rounding agrees); auth/hub come back
    as ``floor(x * 1e9)`` BIGINTs — compare the Spark side with the same
    scaling."""
    head = f"{prefix},\nlinks" if prefix else "WITH links"
    parts = [
        f"{head} AS (SELECT DISTINCT src, dst FROM ({edges_sql})),",
        "nodes AS (SELECT src AS id FROM links UNION SELECT dst FROM links),",
        "h0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS hub FROM nodes)",
    ]
    for k in range(1, iters + 1):
        parts.append(
            f""", a{k} AS (
  SELECT n.id, COALESCE(r.raw, 0.0) AS auth
  FROM nodes n LEFT JOIN (
    SELECT l.dst AS id, SUM(h.hub) AS raw
    FROM links l JOIN h{k - 1} h ON h.id = l.src GROUP BY l.dst
  ) r ON r.id = n.id
), h{k} AS (
  SELECT n.id, COALESCE(r.raw, 0.0) AS hub
  FROM nodes n LEFT JOIN (
    SELECT l.src AS id, SUM(a.auth) AS raw
    FROM links l JOIN a{k} a ON a.id = l.dst GROUP BY l.src
  ) r ON r.id = n.id
)"""
        )
    parts.append(
        f"""SELECT a.id,
       CAST(FLOOR(a.auth / (SELECT SUM(auth) FROM a{iters}) * 1000000000) AS BIGINT) AS auth_e9,
       CAST(FLOOR(h.hub / (SELECT SUM(hub) FROM h{iters}) * 1000000000) AS BIGINT) AS hub_e9
FROM a{iters} a JOIN h{iters} h ON h.id = a.id"""
    )
    return "\n".join(parts)


@scoped
def personalized_pagerank(
    edges: DataFrame,
    seeds: Sequence[int],
    iters: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Personalized PageRank: random walk with restart onto a seed set —
    ``rank = (1-d)·1[id ∈ seeds]/|seeds| + d·Σ_{in} rank/outdeg``, ranks
    started at the restart vector. The workhorse of "related items" /
    topic-conditioned relevance on large graphs. Same fixed-iteration,
    dangling-mass-not-redistributed policy as :func:`pagerank` so the
    unrolled twin (:func:`personalized_pagerank_oracle_sql`) hash-matches.
    Returns ``(id BIGINT, rank DOUBLE)``.

    Scale shape: identical to :func:`pagerank` — one edge shuffle, cached
    partitioning reused every round, O(|nodes|) per-iteration shuffle. The
    seed membership test is a literal IN over a (small) id list, pure
    codegen; for seed sets too large for a literal, join a broadcast seed
    frame instead.
    """
    if not seeds:
        raise ValueError("personalized_pagerank needs a non-empty seed set")
    spark = edges.sparkSession
    num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    links = (
        edges.select("src", "dst")
        .repartition(num_partitions, "src")
        .dropDuplicates(["src", "dst"])
    )
    w = Window.partitionBy("src")
    ldeg = cache(links.withColumn("outdeg", F.count(F.lit(1)).over(w)))
    nodes = cache(_endpoints(ldeg).distinct())
    ldeg.count()
    nodes.count()
    seed_mass = F.when(
        F.col("id").isin([int(s) for s in seeds]), F.lit(1.0 / len(seeds))
    ).otherwise(F.lit(0.0))
    ranks = nodes.withColumn("rank", seed_mass)
    for i in range(iters):
        contribs = (
            ldeg.join(ranks, ldeg.src == ranks.id)
            .select(
                F.col("dst").alias("id"),
                (F.col("rank") / F.col("outdeg")).alias("c"),
            )
            .groupBy("id")
            .agg(F.sum("c").alias("s"))
        )
        ranks = nodes.join(contribs, "id", "left").select(
            "id",
            (
                F.lit(1.0 - damping) * seed_mass
                + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))
            ).alias("rank"),
        )
        if (i + 1) % 8 == 0 and i + 1 < iters:
            ranks = checkpoint(ranks, eager=True)
    return checkpoint(ranks, eager=True)


def personalized_pagerank_oracle_sql(
    edges_sql: str,
    seeds: Sequence[int],
    iters: int = 3,
    damping: float = 0.85,
    prefix: str | None = None,
) -> str:
    """ANSI-SQL twin of :func:`personalized_pagerank`, unrolled like
    :func:`pagerank_oracle_sql`; ranks come back as ``floor(rank * 1e6)``
    BIGINTs."""
    seed_list = ", ".join(str(int(s)) for s in seeds)
    mass = (
        f"(CASE WHEN n.id IN ({seed_list}) "
        f"THEN CAST({1.0 / len(seeds)} AS DOUBLE) ELSE 0.0 END)"
    )
    head = f"{prefix},\nlinks" if prefix else "WITH links"
    parts = [
        f"{head} AS (SELECT DISTINCT src, dst FROM ({edges_sql})),",
        "deg AS (SELECT src, COUNT(*) AS outdeg FROM links GROUP BY src),",
        "nodes AS (SELECT src AS id FROM links UNION SELECT dst FROM links),",
        f"r0 AS (SELECT n.id, {mass} AS rank FROM nodes n)",
    ]
    for k in range(1, iters + 1):
        parts.append(
            f""", r{k} AS (
  SELECT n.id,
         {1.0 - damping} * {mass}
         + {damping} * COALESCE(SUM(r.rank / d.outdeg), 0.0) AS rank
  FROM nodes n
  LEFT JOIN links l ON l.dst = n.id
  LEFT JOIN deg d ON d.src = l.src
  LEFT JOIN r{k - 1} r ON r.id = l.src
  GROUP BY n.id
)"""
        )
    parts.append(
        f"SELECT id, CAST(FLOOR(rank * 1000000) AS BIGINT) AS rank_e6 FROM r{iters}"
    )
    return "\n".join(parts)


@scoped
def label_propagation(edges: DataFrame, iters: int = 3) -> DataFrame:
    """Community detection by synchronous label propagation, made
    deterministic (classic LPA breaks ties randomly): every node starts
    labeled with its own id; each round it adopts the most frequent label
    among its undirected neighbors, ties broken by the smallest label.
    Fixed ``iters`` keeps the operator a pure function of its input, so it
    is oracle-checkable via an unrolled-SQL twin
    (:func:`label_propagation_oracle_sql`) — same policy as :func:`pagerank`.
    Returns ``(id BIGINT, community BIGINT)``.

    Shuffle profile (same discipline as :func:`pagerank`): the symmetric
    adjacency is shuffled ONCE onto the neighbor key and ``cache``\\ d —
    cache preserves ``outputPartitioning``, so every round's
    adjacency ⋈ labels join reads co-located buckets with no Exchange on
    the O(|E|) side. Inside a round, one explicit ``repartition`` on the
    node id serves BOTH aggregations (hash(id) satisfies the (id, label)
    clustering), so per-round shuffle volume is the partial-aggregated
    label counts, not the adjacency. The argmax-with-tie-break is a single
    ``min(struct(-count, label))`` partial-aggregable expression, not a
    window.
    """
    spark = edges.sparkSession
    num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    sym = cache(_symmetric(edges).repartition(num_partitions, "dst"))
    sym.count()  # materialized cache exposes its partitioning to the loop
    # every node appears as src (both directions are materialized), so src
    # alone enumerates the node set; labels₀ is derived per-plan from the
    # cached sym — unlike pagerank's nodes it is used only once, so a
    # second cache would be pure materialization overhead
    labels = (
        sym.select(F.col("src").alias("id")).distinct()
        .withColumn("community", F.col("id"))
    )
    for i in range(iters):
        neigh = sym.join(
            labels.select(F.col("id").alias("dst"), "community"), "dst"
        ).select(F.col("src").alias("id"), "community")
        counts = (
            neigh.repartition(num_partitions, "id")  # serves both aggs below
            .groupBy("id", "community")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        labels = (
            counts.groupBy("id")
            .agg(
                F.min(
                    F.struct((-F.col("n")).alias("neg_n"), F.col("community").alias("c"))
                ).alias("best")
            )
            .select("id", F.col("best.c").alias("community"))
        )
        if (i + 1) % 8 == 0 and i + 1 < iters:
            labels = checkpoint(labels, eager=True)
    return checkpoint(labels, eager=True)


def label_propagation_oracle_sql(
    edges_sql: str, iters: int = 3, prefix: str | None = None
) -> str:
    """ANSI-SQL twin of :func:`label_propagation`: the same fixed rounds
    unrolled as chained CTEs over an ``edges_sql`` relation with
    ``src``/``dst`` columns. The argmax-with-min-tie-break is a
    ``ROW_NUMBER`` ordered by ``(count DESC, label ASC)``."""
    head = f"{prefix},\nsym" if prefix else "WITH sym"
    parts = [
        f"""{head} AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM ({edges_sql})
    UNION ALL SELECT dst, src FROM ({edges_sql})
  ) t WHERE src <> dst
),
lp_nodes AS (SELECT DISTINCT src AS id FROM sym),
l0 AS (SELECT id, id AS community FROM lp_nodes)""",
    ]
    for k in range(1, iters + 1):
        parts.append(
            f""", c{k} AS (
  SELECT e.src AS id, l.community, COUNT(*) AS n
  FROM sym e JOIN l{k - 1} l ON e.dst = l.id
  GROUP BY e.src, l.community
),
l{k} AS (
  SELECT id, community FROM (
    SELECT id, community,
           ROW_NUMBER() OVER (PARTITION BY id ORDER BY n DESC, community) AS rn
    FROM c{k}
  ) WHERE rn = 1
)"""
        )
    parts.append(f"SELECT id, community FROM l{iters}")
    return "\n".join(parts)


@scoped
def k_core(edges: DataFrame, k: int, max_iter: int = 100) -> DataFrame:
    """Nodes of the k-core: the maximal subgraph where every node has
    undirected degree ≥ k. Returns ``(id BIGINT, degree BIGINT)`` with the
    degree measured inside the core.

    Iterative peeling: drop nodes under degree k, recompute degrees on the
    induced subgraph, repeat to fixpoint. Each round is one aggregation +
    two semi-joins on the (shrinking) symmetric edge set; state is
    ``localCheckpoint``-ed per round. Rounds = peeling depth (bounded by
    ``max_iter``); the edge set only shrinks, so late rounds are cheap.

    SQL twin: :func:`k_core_oracle_sql`. Peeling is *monotone* — once the
    edge set reaches the fixpoint, further rounds are no-ops — so a fixed
    unroll of R ≥ convergence-depth rounds computes the same core as the
    data-dependent fixpoint loop here (each round ``AS MATERIALIZED`` so
    the engine evaluates it once instead of inlining the whole chain into
    an exponentially-expanded scan tree).
    """
    surv = _k_core_peel(checkpoint(_symmetric(edges), eager=True), k, max_iter)
    return (
        surv.groupBy("src")
        .agg(F.count(F.lit(1)).alias("degree"))
        .filter(F.col("degree") >= int(k))
        .select(F.col("src").alias("id"), "degree")
    )


@scoped
def _k_core_peel(sym: DataFrame, k: int, max_iter: int) -> DataFrame:
    """Degree-peel an already-symmetric edge relation to its k-core
    fixpoint; returns the surviving symmetric relation, checkpointed. The
    input belongs to the caller's scope, so the peel never frees it —
    this is what lets :func:`coreness` thread level k's shrinking output
    into the level-(k+1) peel instead of re-peeling the full graph.
    """
    def peel(sym: DataFrame) -> DataFrame:
        deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
        keep = deg.filter(F.col("degree") >= int(k)).select("src")
        return (sym.join(keep, "src", "left_semi")
                .join(keep.withColumnRenamed("src", "dst"), "dst", "left_semi"))

    # the convergence count materializes each round: one job per round
    return fixpoint(sym, peel, lambda df: df.count(), max_iter)


def k_core_oracle_sql(edges_sql: str, k: int, rounds: int,
                      prefix: str | None = None) -> str:
    """The ANSI-SQL twin of :func:`k_core`: ``rounds`` peeling rounds
    unrolled as chained CTEs over an ``edges_sql`` relation with
    ``src``/``dst`` columns. Because peeling is monotone, any
    ``rounds`` ≥ the true convergence depth yields the exact fixpoint —
    extra rounds filter nothing. Each round mirrors the Spark loop: degree
    filter + two (semi-)joins against the surviving node set. ``prefix``
    extends an existing ``WITH ...`` chain (same convention as
    :func:`pagerank_oracle_sql`).

    Every round CTE is ``AS MATERIALIZED``: each ``sym{{r}}`` is referenced
    three times by round r+1, so an engine that inlines CTEs (DuckDB's
    default for multi-referenced CTEs it deems cheap) would expand the
    R-round chain into a 3^R-leaf scan tree — materialization keeps it
    linear, evaluating each round exactly once like the Spark loop."""
    head = f"{prefix},\nsym0" if prefix else "WITH sym0"
    parts = [
        f"""{head} AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM ({edges_sql})
    UNION ALL
    SELECT dst AS src, src AS dst FROM ({edges_sql})
  ) WHERE src <> dst
)""",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""", keep{r} AS MATERIALIZED (
  SELECT src FROM sym{r - 1} GROUP BY src HAVING COUNT(*) >= {int(k)}
), sym{r} AS MATERIALIZED (
  SELECT e.src, e.dst FROM sym{r - 1} e
  JOIN keep{r} a ON e.src = a.src
  JOIN keep{r} b ON e.dst = b.src
)"""
        )
    parts.append(
        f"""
SELECT src AS id, COUNT(*) AS degree FROM sym{rounds}
GROUP BY src HAVING COUNT(*) >= {int(k)}"""
    )
    return "\n".join(parts)


def transitive_closure(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """All-pairs reachability with minimum hop count, by min-plus path
    doubling: ``R_{2k} = min(R_k, R_k ∘ R_k)`` — O(log diameter) rounds,
    where the BFS frontier loop (``plans/compiler.py`` unbounded repeat /
    ``shortest_paths``) needs O(diameter). Returns
    ``(src BIGINT, dst BIGINT, depth BIGINT)``, one row per reachable
    ordered pair ``src != dst``, ``depth`` = fewest hops.

    The doubling join squares the reach relation, so intermediate size is
    bounded by the closure itself — the right trade on long-chain /
    small-closure graphs (lineage chains, version graphs); prefer the
    frontier loop when only a restricted source set matters (the pattern
    compiler's unbounded repeat picks between the two from runtime counts).

    Convergence: (pair count, total depth) is stationary iff a round added
    no pair and improved no depth — pairs only grow, depths only shrink.
    Cycle-safe: the min() keeps depths finite.

    A closure of at most ``_LOCAL_MAX_ROWS`` pairs is computed by one
    search per source on the driver instead, with the same rows (see
    :func:`minplus_closure`).
    """
    return minplus_closure(edges, keep_self=False, max_iter=max_iter)


@scoped
def minplus_closure(
    edges: DataFrame, keep_self: bool = False, max_iter: int = 20,
    max_depth: int | None = None, weight_col: str | None = None,
) -> DataFrame:
    """Min-plus doubling core behind :func:`transitive_closure`.

    ``keep_self=True`` keeps reflexive rows — self-loop edges and
    ``(c, c, cycle_length)`` pairs for nodes on cycles — which is what the
    unbounded-repeat pattern semantics need (a start node re-reached
    through a cycle IS a match at that depth, ``Cypher.hs:853-858``).

    ``max_depth`` drops pairs whose shortest distance exceeds it, *during*
    the rounds (safe: every sub-path of a shortest path ≤ cap is itself a
    shortest sub-path ≤ cap, so the filter never cuts a needed stepping
    stone). Callers that cap exploration (the unbounded-repeat pattern's
    ``UNBOUNDED_MAX_HOPS``) use this so both execution strategies return
    identical answers, and it also bounds intermediate state. The base
    pairs are never filtered: an edge heavier than the cap keeps its row
    at its own weight.

    ``weight_col`` generalizes hop counting to weighted shortest paths
    (non-negative integer weights; parallel edges collapse to their
    minimum): min-plus squaring is distance-metric-agnostic, so the same
    O(log L) rounds (L = most edges on any shortest path) compute
    Dijkstra's answer for every pair at once — the relational form of
    all-pairs shortest paths.

    The plan is chosen once per call by the count that materializes the
    base checkpoint. A base of at most ``_LOCAL_MAX_ROWS`` pairs is
    collected (:func:`_driver_rows`) and searched from every source on
    the driver by Dijkstra (an unweighted base has depth 1 on every pair)
    into a local relation with the doubling's exact rows. The doubling
    runs instead when the result would pass the bound, when the searches
    would scan more than ``4 * _LOCAL_MAX_ROWS`` edges (a dense graph),
    or when ``2**max_iter`` is below the node count, where the doubling's
    ``max_iter`` truncation could bind.
    """
    if weight_col is None:
        base = edges.select("src", "dst", F.lit(1).cast("long").alias("depth"))
    else:
        base = edges.select(
            "src", "dst", F.col(weight_col).cast("long").alias("depth")
        )
    if not keep_self:
        base = base.filter(F.col("src") != F.col("dst"))
    # materialized by the count that picks the plan
    r = checkpoint(base.groupBy("src", "dst").agg(F.min("depth").alias("depth")))
    if weight_col is not None:
        # min-plus correctness requires non-negative, non-null weights —
        # NULLs silently vanish into the min() aggregates and a negative
        # edge makes "shortest" undefined under doubling. Probe the raw
        # relation (pushed-down filter, short-circuits at the first bad
        # row) so a NULL hiding behind a valid parallel edge still fails.
        wcol = F.col(weight_col).cast("long")
        bad = edges.filter(wcol.isNull() | (wcol < 0)).limit(1).count()
        if bad:
            raise ValueError(
                f"minplus_closure: weight column {weight_col!r} must be "
                "non-negative and non-null"
            )

    small = _driver_rows(r)
    if small is not None:
        cols = _local_closure(small, keep_self, max_depth, max_iter)
        if cols is not None:
            return local_columns_df(edges.sparkSession, cols, r.schema)

    def fingerprint(df: DataFrame) -> tuple:
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("depth").cast("decimal(38,0)")).alias("d"),
        ).collect()[0]
        return (row["n"], int(row["d"] or 0))

    def double(r: DataFrame) -> DataFrame:
        left = r.select(
            F.col("src").alias("a"), F.col("dst").alias("m"),
            F.col("depth").alias("d1"),
        )
        right = r.select(
            F.col("src").alias("m2"), F.col("dst").alias("b"),
            F.col("depth").alias("d2"),
        )
        doubled = left.join(right, left.m == right.m2).select(
            F.col("a").alias("src"), F.col("b").alias("dst"),
            (F.col("d1") + F.col("d2")).alias("depth"),
        )
        if not keep_self:
            doubled = doubled.filter(F.col("src") != F.col("dst"))
        if max_depth is not None:
            doubled = doubled.filter(F.col("depth") <= max_depth)
        return (union_all([r, doubled]).groupBy("src", "dst")
                .agg(F.min("depth").alias("depth")))

    # the fingerprint job materializes each doubling round: one job per round
    return fixpoint(r, double, fingerprint, max_iter)


def _local_closure(base: "pa.Table", keep_self: bool, max_depth: int | None,
                   max_iter: int) -> "list | None":
    """The rows :func:`minplus_closure`'s doubling converges to, as
    ``[src, dst, depth]`` columns, from its collected ``base`` pairs; None
    when they would pass ``_LOCAL_MAX_ROWS``, when the searches would scan
    more than ``4 * _LOCAL_MAX_ROWS`` edges, or when ``max_iter`` rounds
    might not converge.

    Each source gets its shortest distance to every node it reaches, its
    own row being the shortest closed walk (``keep_self`` only). A path
    over the cap is dropped, but a base pair heavier than the cap keeps
    its base weight: the doubling filters only the composed pairs."""
    src, dst, depth = (c.to_pylist() for c in base.columns)
    # the doubling covers walks of up to 2**max_iter edges; a shortest
    # path or cycle has at most one edge per node
    if 2 ** max_iter < len(set(src) | set(dst)):
        return None
    adj: dict = {}
    for s, d, w in zip(src, dst, depth):
        adj.setdefault(s, []).append((d, w))
    cap = float("inf") if max_depth is None else max_depth
    # the driver's work is the edges scanned, summed over the sources: a
    # dense graph can stay under the row bound and still scan ~n**3 edges
    scans = 4 * _LOCAL_MAX_ROWS
    out_s, out_d, out_w = [], [], []
    for s in adj:
        found = _dijkstra_from(adj, s, cap, scans)
        if found is None:
            return None
        dist, scans = found
        if not keep_self:
            dist.pop(s, None)
        for d, w in adj[s]:
            if w > cap:
                dist.setdefault(d, w)
        if len(out_s) + len(dist) > _LOCAL_MAX_ROWS:
            return None
        out_s += [s] * len(dist)
        out_d += dist
        out_w += dist.values()
    return [out_s, out_d, out_w]


def _dijkstra_from(adj: dict, s, cap, scans: int) -> "tuple | None":
    """Shortest distance ≤ ``cap`` from ``s`` to every node a walk of ≥ 1
    edge reaches, ``s`` itself included when a cycle returns to it, and
    what is left of ``scans`` after the out-edges of every settled node;
    None once they would take more. ``adj`` maps a node to its
    ``(successor, non-negative weight)`` list."""
    best = {s: 0}
    closed = None
    heap = [(0, s)]
    while heap:
        d, u = heapq.heappop(heap)
        if d > best[u]:
            continue
        out = adj.get(u, ())
        scans -= len(out)
        if scans < 0:
            return None
        for v, w in out:
            nd = d + w
            if nd > cap:
                continue
            if v == s:
                closed = nd if closed is None else min(closed, nd)
            elif nd < best.get(v, nd + 1):
                best[v] = nd
                heapq.heappush(heap, (nd, v))
    del best[s]
    if closed is not None:
        best[s] = closed
    return best, scans


def bipartite_projection(edges: DataFrame, min_count: int = 1,
                         max_degree: int | None = None) -> DataFrame:
    """Project a bipartite edge set ``(src, dst)`` onto its ``dst`` side:
    for every pair of dst nodes sharing ≥ ``min_count`` src neighbors, one
    row ``(a, b, n_common)`` with ``a < b`` — the co-occurrence graph
    (parts co-ordered, terms co-occurring, users co-visiting).

    Scale notes: the wedge self-join is keyed on ``src``, so the pair
    explosion per src is O(deg²) — the hub problem every co-occurrence
    projection has. ``max_degree`` drops srcs (baskets) above that degree
    BEFORE the wedge join (one count-window pass, same shuffle key the
    join needs anyway — the skew guard mirroring
    ``dedup.minhash_lsh_candidates(max_bucket_size=)``); on a skewed
    100 TB graph leave it set or hubs straggle the stage. Note capping
    changes the answer for pairs that co-occur only inside huge baskets —
    the standard co-occurrence trade; the default None is exact.
    """
    d = edges.select("src", "dst").distinct()
    if max_degree is not None:
        wd = Window.partitionBy("src")
        d = (
            d.withColumn("__deg", F.count(F.lit(1)).over(wd))
            .filter(F.col("__deg") <= max_degree)
            .drop("__deg")
        )
    l = d.select("src", F.col("dst").alias("a"))
    r = d.select("src", F.col("dst").alias("b"))
    return (
        l.join(r, "src")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_count)
    )


def jaccard_similarity(edges: DataFrame, min_permille: int = 0,
                       max_degree: int | None = None) -> DataFrame:
    """Neighbor-set Jaccard similarity for every node pair sharing at least
    one neighbor in the undirected graph: ``|N(a)∩N(b)| / |N(a)∪N(b)|`` as
    integer permille (hash-stable). The classic link-prediction /
    entity-resolution signal.

    Candidates come from the common-neighbor wedge join only — pairs with
    zero overlap are never materialized, which is what keeps this O(Σdeg²)
    instead of O(n²). Intersection size falls out of the wedge count;
    union size is ``deg(a) + deg(b) - common``, attached from the tiny
    degree relation. Returns ``(a, b, common, jaccard_permille)``.

    ``max_degree`` excludes hub *via* nodes (wedge pivots with more than
    that many neighbors) from candidate generation — the O(deg²) blowup
    guard for skewed graphs, mirroring ``bipartite_projection``. Capping
    is an approximation: pairs whose only common neighbors are hubs are
    missed, and surviving pairs' ``common`` counts exclude hub wedges
    (full degrees still feed the union size). Default None is exact.
    """
    sym = _symmetric(edges)  # (src=node, dst=neighbor), both directions
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    wedge_base = sym
    if max_degree is not None:
        wv = Window.partitionBy("dst")  # dst = the wedge pivot (via)
        wedge_base = (
            sym.withColumn("__vd", F.count(F.lit(1)).over(wv))
            .filter(F.col("__vd") <= max_degree)
            .drop("__vd")
        )
    wedges = (
        wedge_base.select(F.col("dst").alias("via"), F.col("src").alias("a"))
        .join(
            wedge_base.select(F.col("dst").alias("via"), F.col("src").alias("b")),
            "via",
        )
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    out = (
        wedges.join(deg.select(F.col("src").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("src").alias("b"), F.col("d").alias("db")), "b")
        .select(
            "a",
            "b",
            "common",
            F.floor(
                F.col("common") * 1000
                / (F.col("da") + F.col("db") - F.col("common"))
            ).cast("long").alias("jaccard_permille"),
        )
    )
    return out.filter(F.col("jaccard_permille") >= min_permille)


def katz_centrality(edges: DataFrame, alpha_pow2: int = 1,
                    iters: int = 3) -> DataFrame:
    """Truncated Katz centrality (Katz 1953) with a power-of-two damping
    ``α = 2^-alpha_pow2``, scaled to an exact integer: ``katz_scaled(v) =
    Σ_{k=1..K} paths_k(v) · 2^(alpha_pow2·(K-k))`` where ``paths_k(v)``
    counts length-k walks ending at v — i.e. ``katz·2^(alpha_pow2·K)``
    with no float anywhere, so the relation hash-gates. Returns
    ``(id, katz_scaled)``; PageRank's damping-by-outdegree sibling that
    weights *all* walks, not just the stationary flow.

    One equi-join + dst-keyed partial agg per hop over the walk-count
    relation (O(nodes) rows) — the same per-iteration shape as
    ``personalized_pagerank``, never materializing the walks themselves.
    Truncation at K hops is the textbook distributed form; callers pick K
    so ``max_paths·2^(alpha_pow2·K)`` stays inside int64 (the chain/DAG
    graphs this gates on are nowhere near the bound).
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    e = edges.select("src", "dst").distinct()
    pk = e.groupBy(F.col("dst").alias("id")).agg(
        F.count(F.lit(1)).alias("c"))
    terms = [pk.select(
        "id", (F.col("c") * F.lit(1 << (alpha_pow2 * (iters - 1)))).alias("k"))]
    for k in range(2, iters + 1):
        pk = (
            pk.join(e.withColumnRenamed("src", "id"), "id")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("c").alias("c"))
        )
        w = 1 << (alpha_pow2 * (iters - k))
        terms.append(pk.select("id", (F.col("c") * F.lit(w)).alias("k")))
    return union_all(terms, by_name=True).groupBy("id").agg(F.sum("k").alias("katz_scaled"))


def katz_oracle_sql(edges_sql: str, alpha_pow2: int = 1, iters: int = 3,
                    prefix: str | None = None) -> str:
    """ANSI-SQL twin of :func:`katz_centrality`: the hop recurrences
    unrolled as chained CTEs."""
    head = f"{prefix},\nkz_e" if prefix else "WITH kz_e"
    parts = [f"{head} AS (SELECT DISTINCT src, dst FROM ({edges_sql})),",
             "kz_p1 AS (SELECT dst AS id, COUNT(*) AS c FROM kz_e"
             " GROUP BY dst),"]
    for k in range(2, iters + 1):
        parts.append(
            f"kz_p{k} AS (SELECT e.dst AS id, SUM(p.c) AS c "
            f"FROM kz_p{k - 1} p JOIN kz_e e ON p.id = e.src "
            f"GROUP BY e.dst),")
    terms = "\nUNION ALL\n".join(
        f"SELECT id, c * {1 << (alpha_pow2 * (iters - k))} AS k FROM kz_p{k}"
        for k in range(1, iters + 1))
    parts.append(
        f"kz_all AS (\n{terms}\n)\n"
        "SELECT id, CAST(SUM(k) AS BIGINT) AS katz_scaled "
        "FROM kz_all GROUP BY id")
    return "\n".join(parts)


def resource_allocation(edges: DataFrame, min_micro: int = 0,
                        max_degree: int | None = None) -> DataFrame:
    """Resource-allocation link-prediction index (Zhou, Lü & Zhang 2009 —
    the log-free sibling of Adamic–Adar) plus preferential attachment, for
    every node pair sharing a neighbor: ``RA(a,b) = Σ_{w∈N(a)∩N(b)}
    1/deg(w)`` in exact integer micro-units (``1000000 div deg(w)`` — no
    float path, so Spark and the DuckDB twin agree bit-for-bit), and
    ``PA(a,b) = deg(a)·deg(b)`` riding along for free off the same degree
    relation. Returns ``(a, b, common, ra_micro, pa)``.

    Same candidate shape as :func:`jaccard_similarity`: pairs come from
    the common-neighbor wedge join only — zero-overlap pairs never
    materialize, keeping this O(Σdeg²) not O(n²); ``max_degree`` excludes
    hub pivots from wedge generation (the skew guard — hubs contribute
    ≤ 1000000/max_degree each anyway, so capping loses little signal,
    unlike the count-based indices where it is a real approximation).
    """
    sym = _symmetric(edges)
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    wedge_base = sym.join(
        deg.select(F.col("src").alias("dst"), F.col("d").alias("__vd")), "dst")
    if max_degree is not None:
        wedge_base = wedge_base.filter(F.col("__vd") <= max_degree)
    wedges = (
        wedge_base.select(F.col("dst").alias("via"), F.col("src").alias("a"),
                          F.col("__vd"))
        .join(
            wedge_base.select(F.col("dst").alias("via"),
                              F.col("src").alias("b")),
            "via",
        )
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"),
             F.sum(F.expr("1000000 div __vd")).alias("ra_micro"))
    )
    out = (
        wedges.join(deg.select(F.col("src").alias("a"),
                               F.col("d").alias("da")), "a")
        .join(deg.select(F.col("src").alias("b"),
                         F.col("d").alias("db")), "b")
        .select("a", "b", "common", "ra_micro",
                (F.col("da") * F.col("db")).alias("pa"))
    )
    return out.filter(F.col("ra_micro") >= min_micro)


def weighted_shortest_paths(edges: DataFrame, weight_col: str = "weight",
                            max_iter: int = 20,
                            max_dist: int | None = None) -> DataFrame:
    """All-pairs weighted shortest paths over non-negative integer weights
    (Dijkstra's answer for every pair, relationally): min-plus doubling on
    the weighted relation — see :func:`minplus_closure`. Returns
    ``(src, dst, dist BIGINT)``, one row per reachable ordered pair."""
    return minplus_closure(
        edges, keep_self=False, max_iter=max_iter, max_depth=max_dist,
        weight_col=weight_col,
    ).withColumnRenamed("depth", "dist")


def strongly_connected_components(edges: DataFrame, method: str = "auto",
                                  max_iter: int = 20) -> DataFrame:
    """Strongly connected components of a DIRECTED edge set ``(src, dst)``:
    every node labeled with the minimum node id of its SCC (nodes not on
    any cycle are singleton components labeled with themselves). Unlike
    :func:`connected_components`, direction matters — two chains meeting at
    a node share a weak component but not a strong one.

    Parity-plus: the reference has no component algorithms at all; this
    completes the suite (CC / SCC / k-core / triangles / PageRank / HITS /
    LPA / closure) a graph-shaped corpus audit runs.

    Two physical strategies (``method``), same answer:

    - ``"closure"``: mutual reachability over the min-plus doubling
      closure — ``R ∩ Rᵀ`` (reach intersected with its transpose) groups
      exactly the co-cyclic pairs, O(log diameter) rounds. Intermediates
      are closure-sized, the trade :func:`transitive_closure` documents:
      right for lineage/version/workflow graphs whose closure fits.
    - ``"coloring"``: FW-BW coloring (Orzan 2004 / Slota et al. 2014) —
      iterative trimming first settles every in-degree-0/out-degree-0
      node as a singleton SCC (acyclic tails — and entire chain-shaped
      graphs — never enter propagation), then forward min-label
      propagation partitions the remainder into color classes, the
      backward sweep inside each class extracts the SCC of its root,
      settled nodes peel off, repeat. State is NODE+EDGE LINEAR every
      round — the 100 TB path; real web-/social-shaped graphs settle in
      a handful of FW-BW rounds and chains in zero.
    - ``"auto"``: coloring when the edge count exceeds ~5M (closure-sized
      intermediates stop being safe), else closure — the same runtime-
      stats dispatch the pattern compiler uses for unbounded repeats.
    """
    base = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    if method == "auto":
        method = "coloring" if base.count() > 5_000_000 else "closure"
    if method == "closure":
        return _scc_closure(base, max_iter)
    if method == "coloring":
        return _scc_coloring(base)
    raise ValueError(f"unknown SCC method {method!r}")


@scoped
def _scc_closure(base: DataFrame, max_iter: int = 20) -> DataFrame:
    nodes = (
        _endpoints(base)
        .distinct()
    )
    # reachability-only doubling: SCC needs the pair SET, not min depths —
    # two columns and a distinct() per round shuffle ~1/3 less than the
    # (src, dst, depth) groupBy-min the metric closure pays, and the
    # convergence test is a bare count (pairs only ever grow).
    # Measured alternative: a semi-naive Δ∘R ∪ R∘Δ variant (only new pairs
    # re-enter the composition) ran ~30% SLOWER on the order-chain/cycle
    # workload at sf0.1 (14.5s vs 10.7s) — with midpoint multiplicity
    # bounded by cycle length ~30, the extra per-round passes over R (the
    # anti-join and the two-sided composition) cost more than the smaller
    # candidate set saves. Revisit only for graphs with large SCCs.
    def double(reach: DataFrame) -> DataFrame:
        doubled = (
            reach.select(F.col("src").alias("a"), F.col("dst").alias("m"))
            .join(
                reach.select(F.col("src").alias("m"), F.col("dst").alias("b")),
                "m",
            )
            .select(F.col("a").alias("src"), F.col("b").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
        )
        return union_all([reach, doubled]).distinct()

    # the convergence count materializes each round's reach set (and the
    # first count the initial checkpoint): one job per round
    reach = fixpoint(checkpoint(base), double, lambda df: df.count(), max_iter)
    # transpose-intersect: (v, m) survives iff v reaches m AND m reaches v
    mutual = reach.join(
        reach.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
        ["src", "dst"],
    )
    partner_min = mutual.groupBy("src").agg(F.min("dst").alias("_mm"))
    return (
        nodes.join(partner_min, nodes.id == partner_min.src, "left")
        .select(
            "id",
            F.least(F.col("id"), F.coalesce(F.col("_mm"), F.col("id"))).alias("scc"),
        )
    )


@scoped
def _scc_coloring(base: DataFrame, max_peel_rounds: int = 10_000,
                  max_prop_iter: int = 10_000,
                  stats: dict | None = None) -> DataFrame:
    """FW-BW coloring; see :func:`strongly_connected_components`.

    Invariants driving convergence (each is an emptiness probe on the
    round's materialized delta, never a row collect): forward colors
    only decrease (empty update set = fixpoint), the backward in-SCC
    set only grows (empty growth set = fixpoint), and every peel round
    settles at least each color class's root — so the outer loop
    strictly shrinks the active node set and termination is guaranteed
    without a round budget. Both sweeps propagate DELTAS: a
    changed/new FLAG rides inside the colors / in-SCC relation, so the
    per-round edge join probes only last round's frontier, and the
    round costs exactly ONE job (a non-eager checkpoint whose
    materializing aggregation also answers the fixpoint test via a
    max over the flags) — half the dense union-groupBy form's job count,
    with strictly smaller join inputs.
    The first delta attempt materialized the update set separately
    (3 jobs/round) and LOST ~1.5x on the round-latency-bound bench
    fixture; the flag form is why the delta is free there and a win
    when data volume dominates (sf≫1).

    Before each FW-BW round, TRIM to fixpoint (Slota et al. 2014's
    Multistep prelude): a node with in-degree 0 or out-degree 0 in the
    active subgraph is on no cycle → a singleton SCC, settled by two
    anti-joins instead of a forward propagation whose synchronous
    min-push costs O(diameter) jobs. Chain-shaped graphs (version/
    lineage histories — the 100 TB corpus case) trim away COMPLETELY, so
    FW-BW runs zero rounds on them; without trimming a pure n-chain paid
    O(n) peel rounds × O(n) propagation jobs each.

    ``stats``, when given, receives ``{"fw_bw_rounds": int,
    "trim_iters": int}`` (test/diagnostic hook).
    """
    # non-eager setup: the first trim iteration's count job materializes
    # both
    active_edges = checkpoint(base, eager=False)
    active_nodes = checkpoint(
        _endpoints(active_edges)
        .distinct(), eager=False)
    # settled accumulates as DISJOINT per-step slices (each backed by a
    # checkpoint that already exists: the trim round's trivial set / the
    # peel round's in_scc relation), unioned ONCE at the end, never
    # re-checkpointed whole. A trim iteration is ONE job: the emptiness
    # count that materializes the trivial set AND, through lineage, the
    # round's non-eager actives.
    settled_parts: list = []
    pend_free: list = []  # superseded actives — freeable only once the
    #                       NEXT materializing job has run
    fw_bw_rounds = trim_iters = 0
    for _ in range(max_peel_rounds):
        # 0. trim: settle degree-0-in-or-out nodes until none remain.
        # One (id)-keyed max-aggregation per iteration computes both
        # degree flags (map-side combined), and its count doubles as the
        # emptiness check; chain fixtures run O(chain length / 2)
        # iterations (the bench fixture: 11), so this is the coloring's
        # hot loop
        while True:
            keep = (
                union_all([
                    active_edges.select(F.col("src").alias("id"),
                                        F.lit(1).alias("o"), F.lit(0).alias("i")),
                    active_edges.select(F.col("dst").alias("id"),
                                        F.lit(0).alias("o"),
                                        F.lit(1).alias("i"))], by_name=True)
                .groupBy("id")
                .agg(F.max("o").alias("has_out"), F.max("i").alias("has_in"))
                .filter((F.col("has_out") == 1) & (F.col("has_in") == 1))
                .select("id")
            )
            # non-eager: the emptiness count materializes the round's
            # trivial set — one job per trim iteration
            trivial = checkpoint(active_nodes.join(
                keep, "id", "left_anti"), eager=False)
            n_triv = trivial.count()
            # that one job also materialized this round's actives —
            # the previous round's state is now safe to free
            for df in pend_free:
                free(df)
            pend_free = []
            if n_triv == 0:
                free(trivial)
                break
            trim_iters += 1
            settled_parts.append(
                trivial.select("id", F.col("id").alias("scc")))
            old_nodes, old_edges = active_nodes, active_edges
            active_nodes = checkpoint(active_nodes.join(
                trivial, "id", "left_anti"), eager=False)
            active_edges = checkpoint(
                active_edges.join(trivial.withColumnRenamed("id", "src"),
                                  "src", "left_anti")
                .join(trivial.withColumnRenamed("id", "dst"),
                      "dst", "left_anti")
                .select("src", "dst"), eager=False)
            pend_free = [old_nodes, old_edges]
        if active_nodes.limit(1).count() == 0:
            break
        fw_bw_rounds += 1
        # 1. forward sweep: color(v) = min id that reaches v (within the
        # active subgraph), by synchronous min propagation along edges.
        # Delta-frontier form: a `chg` flag rides in the colors
        # relation — a node's color can only drop when an in-neighbor's
        # dropped, so only flagged colors are pushed; the per-round cost
        # stays two jobs (checkpoint + cached emptiness probe), the
        # probe replacing the dense form's sum-fingerprint collect.
        colors = checkpoint(active_nodes.select(
            "id", F.col("id").alias("color"),
            F.lit(True).alias("chg")), eager=True)
        for _ in range(max_prop_iter):
            mins = (
                active_edges.join(
                    colors.filter(F.col("chg")).select(F.col("id").alias("src"), "color"),
                    "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min("color").alias("_nc"))
            )
            old = colors
            # non-eager checkpoint: ONE aggregation job materializes the
            # round's colors AND answers the fixpoint test (max over the
            # chg flags). The predecessor is freed only after that job.
            colors = checkpoint(
                colors.join(mins, "id", "left")
                .select(
                    "id",
                    F.least(F.col("color"), F.col("_nc")).alias("color"),
                    F.coalesce(F.col("_nc") < F.col("color"),
                               F.lit(False)).alias("chg")), eager=False)
            any_chg = colors.agg(
                F.max(F.col("chg").cast("int"))).collect()[0][0]
            free(old)
            if not any_chg:
                break
        # 2. backward sweep inside each color class: grow from the root
        # (id == color) along reversed edges restricted to equal colors.
        # Delta form like the forward sweep: a `new` flag marks last
        # round's additions — only they can reach further nodes — and
        # since every id carries exactly one active color the reached
        # set needs a distinct + anti-join, not a min-aggregation over
        # the whole relation. Two jobs per round, like the forward sweep.
        in_scc = checkpoint(colors.filter(F.col("id") == F.col("color")).select(
            "id", "color", F.lit(True).alias("new")), eager=True)
        while True:
            add = (
                active_edges.join(
                    in_scc.filter(F.col("new")).select(
                        F.col("id").alias("dst"), F.col("color").alias("_wc")
                    ),
                    "dst",
                )
                .select(F.col("src").alias("id"), F.col("_wc").alias("color"))
                .join(colors.select("id", F.col("color").alias("_uc")), "id")
                .filter(F.col("color") == F.col("_uc"))
                .select("id", "color")
                .distinct()
                .join(in_scc.select("id"), "id", "left_anti")
            )
            old = in_scc
            # same one-job merge as the forward sweep
            in_scc = checkpoint(
                union_all([in_scc.select("id", "color", F.lit(False).alias("new")),
                           add.select("id", "color", F.lit(True).alias("new"))],
                          by_name=True), eager=False)
            any_new = in_scc.agg(
                F.max(F.col("new").cast("int"))).collect()[0][0]
            free(old)
            if not any_new:
                break
        # the materialized in_scc relation BACKS its settled slice —
        # no re-checkpoint of the accumulator (see setup comment)
        settled_parts.append(in_scc.select("id", F.col("color").alias("scc")))
        # 3. peel: drop settled nodes and their incident edges (non-eager
        # — the next peel round's first trim count materializes them)
        ids = in_scc.select("id")
        old_nodes, old_edges = active_nodes, active_edges
        active_nodes = checkpoint(active_nodes.join(ids, "id", "left_anti"), eager=False)
        active_edges = checkpoint(
            active_edges.join(ids.withColumnRenamed("id", "src"), "src", "left_anti")
            .join(ids.withColumnRenamed("id", "dst"), "dst", "left_anti")
            .select("src", "dst"), eager=False)
        # colors was only read by the (now fully materialized) backward
        # sweep — freeable immediately; the actives wait for the next job
        free(colors)
        pend_free = [old_nodes, old_edges]
    if stats is not None:
        stats["fw_bw_rounds"] = fw_bw_rounds
        stats["trim_iters"] = trim_iters
    if not settled_parts:
        return local_df(base.sparkSession, [], "id long, scc long")
    # ONE self-contained checkpoint for the caller; the scope frees the
    # slice-backing and residual-active checkpoints
    return checkpoint(union_all(settled_parts), eager=True)


def closeness_centrality(edges: DataFrame, max_iter: int = 20,
                         closure: DataFrame | None = None) -> DataFrame:
    """Out-closeness per node over a directed edge set: from the hop
    closure, ``n_reach`` (nodes reachable), ``sum_depth`` (total shortest
    hops to them), and ``closeness_micro = floor(n_reach·1e6 /
    sum_depth)`` — integer micro-units so the result hashes identically
    across engines (house float rule). Nodes that reach nothing have no
    row (no closure pairs), matching the oracle's support.

    One aggregation over :func:`transitive_closure` — the closure is the
    cost (documented there); when only a seed set's centrality matters,
    run the frontier BFS per seed instead. Pass ``closure=`` to share one
    materialized closure across closeness/harmonic (they aggregate the
    same relation).
    """
    cl = closure if closure is not None else transitive_closure(
        edges, max_iter=max_iter)
    return (
        cl.groupBy("src")
        .agg(
            F.count(F.lit(1)).alias("n_reach"),
            F.sum("depth").alias("sum_depth"),
        )
        .select(
            F.col("src").alias("id"), "n_reach", "sum_depth",
            F.floor(F.col("n_reach") * 1e6 / F.col("sum_depth"))
            .cast("long").alias("closeness_micro"),
        )
    )


@scoped
def square_count(edges: DataFrame, max_degree: int | None = None) -> DataFrame:
    """Global 4-cycle (square) count over the undirected simple graph —
    with :func:`triangle_count` the standard motif pair a graph-shaped
    corpus audit reports (C4 density separates bipartite-ish co-occurrence
    structure that triangles are blind to).

    Formula: every 4-cycle is determined by its two diagonals, so
    ``#C4 = Σ_{u<v} C(codeg(u,v), 2) / 2`` with codeg = common-neighbor
    count. One wedge join keyed on the shared neighbor (the via node)
    produces the codegree relation; hubs make the wedge O(deg²), so
    ``max_degree`` drops high-degree via nodes first — the same skew guard
    (and the same candidate-bound caveat) as ``bipartite_projection``.
    Returns a single row ``(squares BIGINT)``.
    """
    sym = checkpoint(_symmetric(edges), eager=True)
    wedge_base = sym
    if max_degree is not None:
        wv = Window.partitionBy("src")  # src = the wedge pivot (via)
        wedge_base = (
            sym.withColumn("__vd", F.count(F.lit(1)).over(wv))
            .filter(F.col("__vd") <= max_degree)
            .drop("__vd")
        )
    codeg = (
        wedge_base.select(F.col("src").alias("via"), F.col("dst").alias("a"))
        .join(
            wedge_base.select(F.col("src").alias("via"), F.col("dst").alias("b")),
            "via",
        )
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return codeg.agg(
        F.coalesce(
            (F.sum(F.col("c") * (F.col("c") - 1) / 2) / 2).cast("long"),
            F.lit(0).cast("long"),
        ).alias("squares")
    )


def incremental_connected_components(labels: DataFrame,
                                     new_edges: DataFrame,
                                     max_iter: int = 50) -> DataFrame:
    """Fold a batch of NEW edges into an existing component labeling
    without re-scanning the labeled graph — the continuous-ingest
    companion to :func:`connected_components` (same shape as the
    incremental dedup operators: probe what exists, recompute only what
    the batch touches).

    ``labels`` is ``(id, component)`` from a previous run (components
    labeled by their min id — the fixpoint this module produces); the
    update maps each new edge endpoint through its existing label
    (fresh nodes map to themselves), runs :func:`connected_components`
    on that QUOTIENT graph — whose size is O(|batch| + touched
    components), independent of the full graph, so a small batch is
    unioned on the driver — and joins the quotient
    result back. Labels stay min-id-canonical, so iterating per batch is
    associative: the result equals a full recompute over old ∪ new.

    Returns the complete updated labeling ``(id, component)`` (old nodes
    re-labeled where merged, new nodes appended).
    """
    lab = labels.select("id", "component")
    def through(col):  # endpoint → its existing component, or itself
        side = lab.select(F.col("id").alias(col),
                          F.col("component").alias(f"__c_{col}"))
        return side
    q_edges = (
        new_edges.select("src", "dst")
        .join(through("src"), "src", "left")
        .join(through("dst"), "dst", "left")
        .select(
            F.coalesce(F.col("__c_src"), F.col("src")).alias("src"),
            F.coalesce(F.col("__c_dst"), F.col("dst")).alias("dst"),
        )
    )
    q = connected_components(q_edges, max_iter=max_iter).select(
        F.col("id").alias("_qid"), F.col("component").alias("_qcomp")
    )
    updated_old = (
        lab.join(q, lab.component == F.col("_qid"), "left")
        .select(
            "id", F.coalesce(F.col("_qcomp"), F.col("component")).alias("component")
        )
    )
    fresh = (
        _endpoints(new_edges)
        .distinct()
        .join(lab.select("id"), "id", "left_anti")
        .join(q, F.col("id") == F.col("_qid"), "left")
        .select("id", F.coalesce(F.col("_qcomp"), F.col("id")).alias("component"))
    )
    return union_all([updated_old, fresh], by_name=True)


@scoped
def local_clustering(edges: DataFrame,
                     max_degree: int | None = None) -> DataFrame:
    """Per-node local clustering coefficient over the undirected simple
    graph: ``lcc(u) = 2·t(u) / (deg(u)·(deg(u)−1))`` in integer permille,
    where ``t(u)`` counts edges among u's neighbors — the standard
    "how clique-like is this node's neighborhood" signal (with
    :func:`triangle_count`/:func:`square_count` the local third of the
    motif family). Nodes of degree < 2 score 0 by convention.

    Shape: triangles enumerated once via the wedge join keyed on the
    pivot, then each triangle credits its three corners through one
    explode + count — never a per-node neighborhood self-join.
    ``max_degree`` caps the wedge pivot exactly as in
    :func:`square_count`. Returns ``(id, degree, triangles, lcc_permille)``.
    """
    sym = checkpoint(_symmetric(edges), eager=True)
    deg = sym.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    wedge_base = sym
    if max_degree is not None:
        wv = Window.partitionBy("src")
        wedge_base = (
            sym.withColumn("__vd", F.count(F.lit(1)).over(wv))
            .filter(F.col("__vd") <= max_degree)
            .drop("__vd")
        )
    wedges = (
        wedge_base.select(F.col("src").alias("via"), F.col("dst").alias("a"))
        .join(
            wedge_base.select(F.col("src").alias("via"), F.col("dst").alias("b")),
            "via",
        )
        .filter(F.col("a") < F.col("b"))
    )
    closing = sym.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    tri = wedges.join(closing, ["a", "b"])  # (via, a, b): one row per corner view
    # each triangle appears exactly 3 times in `tri` (once per pivot), so
    # counting pivot credits IS the per-node triangle count
    t = tri.groupBy(F.col("via").alias("id")).agg(
        F.count(F.lit(1)).alias("triangles")
    )
    return (
        deg.join(t, "id", "left")
        .select(
            "id", "degree",
            F.coalesce(F.col("triangles"), F.lit(0)).cast("long").alias("triangles"),
            F.when(
                F.col("degree") < 2, F.lit(0).cast("long")
            ).otherwise(
                F.floor(
                    F.coalesce(F.col("triangles"), F.lit(0)) * 2 * 1000
                    / (F.col("degree") * (F.col("degree") - 1))
                ).cast("long")
            ).alias("lcc_permille"),
        )
    )


@scoped
def k_truss(edges: DataFrame, k: int, max_iter: int = 50) -> DataFrame:
    """Edges of the k-truss: the maximal subgraph where every edge closes
    at least ``k-2`` triangles. Returns ``(a BIGINT, b BIGINT,
    support BIGINT)`` with ``a < b`` and support measured inside the truss.

    A strictly stronger cohesion filter than :func:`k_core` (every k-truss
    edge is in the (k-1)-core) — the standard community-core primitive.
    Iterative support peeling: enumerate triangles over the surviving
    canonical ``a<b`` edge set via the ``a<b<c`` wedge join, credit each
    triangle to its three edges, drop edges under ``k-2``, repeat to
    fixpoint. Each round = one wedge self-join + one closing semi-join +
    one (a,b) aggregation, all keyed joins on the shrinking edge relation;
    per-round state is ``localCheckpoint``-ed. Peeling is monotone, so the
    SQL twin (:func:`k_truss_oracle_sql`) is a fixed unroll, exactly the
    :func:`k_core` scheme.

    Scale note: the wedge join is the triangle-counting join — O(Σ deg²)
    on the raw ordering; hub-heavy graphs should pre-filter with
    ``k_core(edges, k-1)`` (cheap, provably lossless for the k-truss) to
    shrink the relation before peeling starts.
    """
    und = checkpoint(
        edges.select(F.least("src", "dst").alias("a"),
                     F.greatest("src", "dst").alias("b"))
        .filter(F.col("a") < F.col("b"))
        .distinct(), eager=True)
    support = _k_truss_peel(und, k, max_iter)
    return support.select("a", "b", F.col("support").cast("long"))


@scoped
def _k_truss_peel(und: DataFrame, k: int, max_iter: int) -> DataFrame:
    """Support-peel an already-canonical ``(a < b)`` edge relation to its
    k-truss fixpoint; returns the surviving ``(a, b, support)`` relation,
    checkpointed. The input belongs to the caller's scope, so the peel
    never frees it — this is what lets :func:`trussness` thread level k's
    shrinking output into the level-(k+1) peel instead of re-peeling the
    full graph.
    """
    def peel(state: DataFrame) -> DataFrame:
        und = state.select("a", "b")
        e1 = und.select(F.col("a").alias("x"), F.col("b").alias("y"))
        e2 = und.select(F.col("a").alias("y"), F.col("b").alias("z"))
        tri = (
            e1.join(e2, "y")
            .join(und.select(F.col("a").alias("x"), F.col("b").alias("z")),
                  ["x", "z"], "left_semi")
        )
        sup = (
            union_all([tri.select(F.col("x").alias("a"), F.col("y").alias("b")),
                       tri.select(F.col("y").alias("a"), F.col("z").alias("b")),
                       tri.select(F.col("x").alias("a"), F.col("z").alias("b"))], by_name=True)
            .groupBy("a", "b").agg(F.count(F.lit(1)).alias("support"))
        )
        return (
            und.join(sup, ["a", "b"], "left")
            .select("a", "b",
                    F.coalesce("support", F.lit(0)).alias("support"))
            .filter(F.col("support") >= int(k) - 2)
        )

    # the convergence count materializes each round: one job per round
    return fixpoint(und, peel, lambda df: df.count(), max_iter)


def k_truss_oracle_sql(edges_sql: str, k: int, rounds: int,
                       prefix: str | None = None) -> str:
    """ANSI-SQL twin of :func:`k_truss`: ``rounds`` support-peeling rounds
    unrolled as materialized CTEs (monotone ⇒ any rounds ≥ convergence
    depth is exact; the final round recomputes support inside the truss).
    """
    head = f"{prefix},\ntr0" if prefix else "WITH tr0"
    parts = [f"""{head} AS MATERIALIZED (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM ({edges_sql}) WHERE src <> dst
)"""]
    for r in range(1, rounds + 1):
        parts.append(f""", sup{r} AS MATERIALIZED (
  SELECT a, b, COUNT(*) AS support FROM (
    SELECT e1.a AS a, e1.b AS b FROM tr{r - 1} e1
      JOIN tr{r - 1} e2 ON e1.b = e2.a
      JOIN tr{r - 1} e3 ON e3.a = e1.a AND e3.b = e2.b
    UNION ALL
    SELECT e2.a, e2.b FROM tr{r - 1} e1
      JOIN tr{r - 1} e2 ON e1.b = e2.a
      JOIN tr{r - 1} e3 ON e3.a = e1.a AND e3.b = e2.b
    UNION ALL
    SELECT e3.a, e3.b FROM tr{r - 1} e1
      JOIN tr{r - 1} e2 ON e1.b = e2.a
      JOIN tr{r - 1} e3 ON e3.a = e1.a AND e3.b = e2.b
  ) GROUP BY a, b
), tr{r} AS MATERIALIZED (
  SELECT e.a, e.b FROM tr{r - 1} e JOIN sup{r} s
    ON e.a = s.a AND e.b = s.b AND s.support >= {int(k) - 2}
)""")
    parts.append(f"""
SELECT e.a, e.b, CAST(s.support AS BIGINT) AS support
FROM tr{rounds} e JOIN sup{rounds} s ON e.a = s.a AND e.b = s.b""")
    return "\n".join(parts)


@scoped
def maximal_independent_set(edges: DataFrame, seed: int = 7,
                            max_rounds: int = 64) -> DataFrame:
    """Deterministic Luby maximal independent set over the undirected
    graph: ``(id BIGINT, round BIGINT)`` — every returned node has no
    returned neighbor, and every non-returned node has a returned neighbor
    (maximality). ``round`` is the Luby round that admitted the node.

    "Random" priorities are ``md5(seed:round:id)`` (the engine-wide
    content-hash-as-randomness convention), so the result is byte-identical
    across partitionings and engines — each round admits the strict local
    minima of the round's priority among still-active neighbors, then
    deactivates them and their neighbors. Expected O(log n) rounds (Luby
    1986); each round is one neighbor-min aggregation + two anti-join
    style filters over the shrinking active edge set. SQL twin:
    :func:`mis_oracle_sql` (fixed unroll; rounds past convergence are
    no-ops because the active set is empty).
    """
    sym = checkpoint(_symmetric(edges), eager=True)
    active_nodes = checkpoint(sym.select(F.col("src").alias("id")).distinct(), eager=True)
    mis_parts = []
    for r in range(1, max_rounds + 1):
        if active_nodes.limit(1).count() == 0:
            break
        pri = F.conv(
            F.substring(F.md5(F.concat_ws(":", F.lit(str(seed)), F.lit(str(r)),
                                          F.col("id").cast("string"))), 1, 15),
            16, 10,
        ).cast("long")
        withp = active_nodes.select("id", pri.alias("p"))
        act_edges = (
            sym.join(withp.select(F.col("id").alias("src"),
                                  F.col("p").alias("sp")), "src")
            .join(withp.select(F.col("id").alias("dst"),
                               F.col("p").alias("dp"),), "dst")
        )
        # strict (p, id) tuple order — md5-collision-proof determinism
        nbr_min = act_edges.groupBy("src").agg(
            F.min(F.struct(F.col("dp").alias("p"),
                           F.col("dst").alias("i"))).alias("nmin"))
        winners = (
            checkpoint(withp.join(nbr_min, withp.id == nbr_min.src, "left")
            .filter(
                F.col("nmin").isNull()
                | (F.struct(F.col("p"), F.col("id").alias("i"))
                   < F.col("nmin"))
            )
            .select("id"), eager=True)
        )
        mis_parts.append(winners.select("id", F.lit(r).cast("long").alias("round")))
        # deactivate winners and their neighbors
        removed = union_all([
            winners,
            sym.join(winners.withColumnRenamed("id", "src"), "src",
                     "left_semi").select(F.col("dst").alias("id"))
        ], by_name=True).distinct()
        nxt = checkpoint(active_nodes.join(removed, "id", "left_anti"), eager=True)
        free(active_nodes)
        active_nodes = nxt
        nxt = checkpoint(
            sym.join(active_nodes.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(active_nodes.withColumnRenamed("id", "dst"), "dst", "left_semi"),
            eager=True)
        free(sym)
        sym = nxt
    if not mis_parts:  # no edges → no rounds ran; empty typed result
        spark = edges.sparkSession
        return local_df(spark, [], "id BIGINT, round BIGINT")
    return union_all(mis_parts, by_name=True)


def mis_oracle_sql(edges_sql: str, seed: int = 7, rounds: int = 24,
                   prefix: str | None = None) -> str:
    """ANSI-SQL twin of :func:`maximal_independent_set`: fixed Luby-round
    unroll with the same md5 priorities and (p, id) tuple order."""
    def pri(r, col):
        return (f"CAST(CAST('0x' || substring(md5('{seed}' || ':' || '{r}'"
                f" || ':' || CAST({col} AS VARCHAR)), 1, 15) AS UBIGINT)"
                f" AS BIGINT)")

    head = f"{prefix},\nsym AS" if prefix else "WITH sym AS"
    parts = [f"""{head} MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM ({edges_sql})
    UNION ALL SELECT dst, src FROM ({edges_sql})
  ) WHERE src <> dst
), act0 AS MATERIALIZED (SELECT DISTINCT src AS id FROM sym)"""]
    for r in range(1, rounds + 1):
        parts.append(f""", mn{r} AS MATERIALIZED (
  SELECT e.src AS id, MIN(ROW({pri(r, 'e.dst')}, e.dst)) AS nmin
  FROM sym e
  JOIN act{r - 1} a ON e.src = a.id JOIN act{r - 1} b ON e.dst = b.id
  GROUP BY e.src
), win{r} AS MATERIALIZED (
  SELECT a.id FROM act{r - 1} a LEFT JOIN mn{r} m ON a.id = m.id
  WHERE m.id IS NULL OR ROW({pri(r, 'a.id')}, a.id) < m.nmin
), act{r} AS MATERIALIZED (
  SELECT id FROM act{r - 1}
  WHERE id NOT IN (SELECT id FROM win{r})
    AND id NOT IN (SELECT e.dst FROM sym e
                   JOIN win{r} w ON e.src = w.id)
)""")
    selects = " UNION ALL ".join(
        f"SELECT id, CAST({r} AS BIGINT) AS round FROM win{r}"
        for r in range(1, rounds + 1)
    )
    parts.append("\n" + selects)
    return "\n".join(parts)


@scoped
def maximal_matching(edges: DataFrame, seed: int = 7,
                     max_rounds: int = 64) -> DataFrame:
    """Deterministic greedy maximal matching (Luby-style local minima on
    the *edge* hash, i.e. Israeli–Itai 1986's symmetry-breaking made
    reproducible): ``(a BIGINT, b BIGINT, round BIGINT)`` with ``a < b``
    — no two returned edges share a node, and every remaining edge
    touches a matched node (maximality). The building block for
    entity-pair assignment, graph coarsening, and 1-1 dedup pairing.

    Priorities are ``md5(seed:round:a:b)`` (the engine-wide content-hash
    convention): a round selects every active edge that is the strict
    ``(p, a, b)``-minimum among the edges incident to BOTH its endpoints
    — the global minimum always qualifies, so progress is guaranteed, and
    local minima give the expected O(log m) rounds. Each round is one
    endpoint-min aggregation (the incident relation is the edge set
    exploded twice — map-side-combinable) + two semi-join removals over
    the shrinking active set; state never exceeds the edge relation. SQL
    twin: :func:`matching_oracle_sql` (fixed unroll; rounds past
    convergence are no-ops on the empty active set).
    """
    und = checkpoint(
        _symmetric(edges)
        .filter(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("a"), F.col("dst").alias("b")), eager=False)
    n_active = und.count()  # materializes the checkpoint — one job
    parts = []
    for r in range(1, max_rounds + 1):
        if n_active == 0:
            break
        pri = F.conv(
            F.substring(F.md5(F.concat_ws(
                ":", F.lit(str(seed)), F.lit(str(r)),
                F.col("a").cast("string"), F.col("b").cast("string"))), 1, 15),
            16, 10,
        ).cast("long")
        wp = und.select("a", "b", pri.alias("p"))
        incid = union_all([wp.select(F.col("a").alias("node"), "p", "a", "b"),
                           wp.select(F.col("b").alias("node"), "p", "a", "b")], by_name=True)
        nmin = incid.groupBy("node").agg(
            F.min(F.struct("p", "a", "b")).alias("nm"))
        key = F.struct("p", "a", "b")
        # sel is materialized by nxt's count below (non-eager checkpoints
        # share one job per round). A non-empty
        # active set always selects at least the global minimum edge, so
        # the count of the NEXT active set doubles as the loop test.
        sel = checkpoint(
            wp.join(nmin.select(F.col("node").alias("a"),
                                F.col("nm").alias("na")), "a")
            .join(nmin.select(F.col("node").alias("b"),
                              F.col("nm").alias("nb")), "b")
            .filter((key == F.col("na")) & (key == F.col("nb")))
            .select("a", "b"), eager=False)
        parts.append(sel.select("a", "b", F.lit(r).cast("long").alias("round")))
        matched = _endpoints(sel, "a", "b", "node").distinct()
        nxt = checkpoint(
            und.join(matched.withColumnRenamed("node", "a"), "a", "left_anti")
            .join(matched.withColumnRenamed("node", "b"), "b", "left_anti")
            .select("a", "b"), eager=False)
        n_active = nxt.count()
        free(und)
        und = nxt
    if not parts:
        return local_df(edges.sparkSession, [], "a BIGINT, b BIGINT, round BIGINT")
    return union_all(parts, by_name=True)


def coarsen_graph(edges: DataFrame, matching: DataFrame,
                  weight_col: str | None = None) -> DataFrame:
    """One multilevel coarsening step (Karypis & Kumar 1998, METIS's
    contraction phase): collapse every matched pair ``(a, b)`` from
    :func:`maximal_matching` into supernode ``a`` (= min endpoint, since
    the matching emits ``a < b``), remap both edge endpoints, drop the
    intra-pair self-loops, and sum parallel edge weights. Returns
    ``(src, dst, weight BIGINT)`` — a graph of ≥½ fewer matched nodes
    whose cut weights are exactly preserved, ready for the next
    match-contract level (partitioning, clustering, or multilevel
    embedding pipelines).

    The mapping is the |matching|-row relation joined twice (left, so
    unmatched nodes map to themselves via coalesce) — two equi-joins +
    one (src, dst) partial-agg sum; nothing driver-side, nothing
    quadratic. ``weight_col=None`` counts multiplicity (weight 1/edge).
    """
    w = (F.col(weight_col).cast("long") if weight_col
         else F.lit(1).cast("long"))
    cmap = matching.select(F.col("b").alias("node"),
                           F.col("a").alias("super"))
    e = edges.select("src", "dst", w.alias("__w"))
    mapped = (
        e.join(cmap.select(F.col("node").alias("src"),
                           F.col("super").alias("__ms")), "src", "left")
        .join(cmap.select(F.col("node").alias("dst"),
                          F.col("super").alias("__md")), "dst", "left")
        .select(F.coalesce("__ms", "src").alias("src"),
                F.coalesce("__md", "dst").alias("dst"), "__w")
    )
    return (
        mapped.filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.sum("__w").alias("weight"))
    )


def coarsen_oracle_sql(edges_sql: str, matching_sql: str,
                       weight_expr: str = "1") -> str:
    """ANSI-SQL twin of :func:`coarsen_graph`."""
    return f"""WITH cg_map AS (
  SELECT b AS node, a AS super FROM ({matching_sql})
),
cg_m AS (
  SELECT COALESCE(ma.super, e.src) AS src,
         COALESCE(mb.super, e.dst) AS dst,
         CAST({weight_expr} AS BIGINT) AS w
  FROM ({edges_sql}) e
  LEFT JOIN cg_map ma ON e.src = ma.node
  LEFT JOIN cg_map mb ON e.dst = mb.node
)
SELECT src, dst, CAST(SUM(w) AS BIGINT) AS weight
FROM cg_m WHERE src <> dst GROUP BY src, dst"""


def matching_oracle_sql(edges_sql: str, seed: int = 7, rounds: int = 16,
                        prefix: str | None = None) -> str:
    """ANSI-SQL twin of :func:`maximal_matching`: fixed-round unroll with
    the same md5 edge priorities and (p, a, b) tuple order."""
    def pri(r, a, b):
        return (f"CAST(CAST('0x' || substring(md5('{seed}' || ':' || '{r}'"
                f" || ':' || CAST({a} AS VARCHAR) || ':' ||"
                f" CAST({b} AS VARCHAR)), 1, 15) AS UBIGINT) AS BIGINT)")

    head = f"{prefix},\nmm0 AS" if prefix else "WITH mm0 AS"
    parts = [f"""{head} MATERIALIZED (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM ({edges_sql}) WHERE src <> dst
)"""]
    for r in range(1, rounds + 1):
        p = pri(r, "a", "b")
        parts.append(f""", mp{r} AS MATERIALIZED (
  SELECT a, b, {p} AS p FROM mm{r - 1}
), mn{r} AS MATERIALIZED (
  SELECT node, MIN(ROW(p, a, b)) AS nm FROM (
    SELECT a AS node, p, a, b FROM mp{r}
    UNION ALL SELECT b AS node, p, a, b FROM mp{r}
  ) GROUP BY node
), ms{r} AS MATERIALIZED (
  SELECT e.a, e.b FROM mp{r} e
  JOIN mn{r} na ON e.a = na.node AND ROW(e.p, e.a, e.b) = na.nm
  JOIN mn{r} nb ON e.b = nb.node AND ROW(e.p, e.a, e.b) = nb.nm
), mm{r} AS MATERIALIZED (
  SELECT a, b FROM mm{r - 1}
  WHERE a NOT IN (SELECT a FROM ms{r}) AND a NOT IN (SELECT b FROM ms{r})
    AND b NOT IN (SELECT a FROM ms{r}) AND b NOT IN (SELECT b FROM ms{r})
)""")
    selects = " UNION ALL ".join(
        f"SELECT a, b, CAST({r} AS BIGINT) AS round FROM ms{r}"
        for r in range(1, rounds + 1))
    parts.append("\n" + selects)
    return "\n".join(parts)


def harmonic_centrality(edges: DataFrame, max_iter: int = 20,
                        closure: DataFrame | None = None) -> DataFrame:
    """Out-harmonic centrality per node: ``Σ 1/d(u,v)`` over reachable
    nodes, in exact integer micro-units (``1000000 div d`` per pair — both
    engines' integer division, no float path at all, unlike closeness
    where the single final ratio is floored). Harmonic handles
    disconnected graphs gracefully (unreachable pairs contribute 0 rather
    than poisoning the mean) — the variant recommended for centrality on
    fragmented 100 TB graphs. Returns ``(id, n_reach, harmonic_micro)``;
    one aggregation over :func:`transitive_closure` (the closure is the
    documented cost)."""
    cl = closure if closure is not None else transitive_closure(
        edges, max_iter=max_iter)
    return (
        cl.groupBy("src")
        .agg(
            F.count(F.lit(1)).alias("n_reach"),
            F.sum(F.expr("1000000 div depth")).alias("harmonic_micro"),
        )
        .select(F.col("src").alias("id"), "n_reach",
                F.col("harmonic_micro").cast("long"))
    )


@scoped
def minimum_spanning_forest(edges: DataFrame, weight_col: str = "weight",
                            max_iter: int = 20) -> DataFrame:
    """Borůvka minimum spanning forest over an undirected weighted edge
    set: ``(a BIGINT, b BIGINT, weight BIGINT)``, the MST of every
    connected component. Deterministic under ties — the per-component
    pick minimizes the ``(weight, a, b)`` tuple, so the result is a
    well-defined forest even with repeated weights (and THE unique MST
    whenever cycle weights are distinct).

    Classic O(log n)-round Borůvka, all relational: canonicalize to the
    min-weight ``a<b`` edge per pair; each round every component selects
    its lightest outgoing edge (one groupBy on the component label over
    the cross-component edge set), the selected edges join the forest,
    and components contract by running :func:`connected_components` on
    the selected COMPONENT-level graph — whose size is O(#components),
    halving every round, so all but the first rounds of a large run union
    it on the driver. Cross edges at least halve per round; the loop ends
    when none remain.
    """
    canon = checkpoint(
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            F.col(weight_col).cast("long").alias("w"),
        )
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b").agg(F.min("w").alias("w")), eager=True)
    comp = checkpoint(
        _endpoints(canon, "a", "b")
        .distinct()
        .select("id", F.col("id").alias("comp")), eager=True)
    forest_parts = []
    for _ in range(max_iter):
        lab = (
            canon.join(comp.select(F.col("id").alias("a"),
                                   F.col("comp").alias("ca")), "a")
            .join(comp.select(F.col("id").alias("b"),
                              F.col("comp").alias("cb")), "b")
            .filter(F.col("ca") != F.col("cb"))
        )
        # both endpoints' components bid on the edge; dedup after
        # selection. The bid rows carry ca/cb so the contraction graph
        # below is a plain projection of `picked` — no second pair of
        # component-label joins per round (the tie order is unchanged:
        # equal (w, a, b) means the same edge, which fixes ca/cb).
        bids = union_all([lab.select(F.col("ca").alias("c"), "a", "b", "w", "ca", "cb"),
                          lab.select(F.col("cb").alias("c"), "a", "b", "w", "ca", "cb")],
                         by_name=True)
        picked = checkpoint(
            bids.groupBy("c")
            .agg(F.min(F.struct(
                F.col("w").alias("w"), F.col("a").alias("a"),
                F.col("b").alias("b"), F.col("ca").alias("ca"),
                F.col("cb").alias("cb"))).alias("m"))
            .select(F.col("m.a").alias("a"), F.col("m.b").alias("b"),
                    F.col("m.w").alias("w"), F.col("m.ca").alias("ca"),
                    F.col("m.cb").alias("cb"))
            .distinct(), eager=False)
        # ONE evaluation of the component-label join per round: its count
        # materializes the checkpoint, doubles as the cross-edge emptiness
        # test (a non-empty cross set always yields ≥ 1 picked edge) and
        # sizes the contraction graph below
        n_picked = picked.count()
        if n_picked == 0:
            break
        forest_parts.append(picked.select("a", "b", "w"))
        # contract on the component-level selected graph (O(#components)),
        # sized by the count above: a small one skips connected_components' count
        cedges = picked.select(F.col("ca").alias("src"), F.col("cb").alias("dst"))
        small = _driver_rows(cedges, n_picked)
        merged = (connected_components(cedges) if small is None
                  else _local_components(picked.sparkSession, small))
        nxt = checkpoint(
            comp.join(merged.withColumnRenamed("id", "comp"), "comp", "left")
            .select("id", F.coalesce("component", F.col("comp")).alias("comp")), eager=True)
        free(comp)
        comp = nxt
    if not forest_parts:
        return canon.filter(F.lit(False)).select(
            "a", "b", F.col("w").alias("weight"))
    return union_all(forest_parts, by_name=True).distinct().select(
        "a", "b", F.col("w").alias("weight"))


@scoped
def modularity_scaled(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Exact integer modularity per community: for an undirected graph with
    m canonical edges and a ``(id, community)`` assignment, returns one row
    per community ``(community, n_nodes, in_edges, tot_degree, q_scaled)``
    where ``q_scaled = 2m·(2·in_c) − tot_c²`` — the community's term of
    Newman modularity multiplied by ``(2m)²``, so ``Q = Σ q_scaled/(2m)²``
    with no float touching the relation (house rule: hash-stable outputs;
    the caller divides once at the end if it wants the familiar [-1, 1]
    number).

    One shuffle keyed on the node to attach labels, one on the community
    for the per-community sums — the standard "score this clustering"
    pass to run after :func:`label_propagation` / :func:`connected_components`
    on a 100 TB graph, where sampling-free exact evaluation is otherwise
    fragile in floating point.
    """
    und = checkpoint(
        edges.select(F.least("src", "dst").alias("a"),
                     F.greatest("src", "dst").alias("b"))
        .filter(F.col("a") < F.col("b"))
        .distinct(), eager=True)
    la = labels.select(F.col("id").alias("a"), F.col("community").alias("ca"))
    lb = labels.select(F.col("id").alias("b"), F.col("community").alias("cb"))
    lab = und.join(la, "a").join(lb, "b")
    m = und.count()
    in_c = (
        lab.filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("community"))
        .agg(F.count(F.lit(1)).alias("in_edges"))
    )
    deg = (
        _endpoints(lab, "ca", "cb", "community")
        .groupBy("community")
        .agg(F.count(F.lit(1)).alias("tot_degree"))
    )
    nn = (
        labels.groupBy(F.col("community"))
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )
    return (
        nn.join(deg, "community", "left").join(in_c, "community", "left")
        .select(
            "community", "n_nodes",
            F.coalesce("in_edges", F.lit(0)).cast("long").alias("in_edges"),
            F.coalesce("tot_degree", F.lit(0)).cast("long").alias("tot_degree"),
            (F.lit(2 * m) * 2 * F.coalesce("in_edges", F.lit(0))
             - F.coalesce("tot_degree", F.lit(0))
             * F.coalesce("tot_degree", F.lit(0))).cast("long")
            .alias("q_scaled"),
        )
    )


@scoped
def greedy_modularity_moves(edges: DataFrame, rounds: int = 3) -> DataFrame:
    """Louvain-style local moves, deterministic and synchronous: every node
    simultaneously evaluates joining each neighboring community by EXACT
    integer modularity gain and takes the best (ties → smallest community
    id); ``rounds`` fixed sweeps. Returns ``(id, community)``.

    The gain of node i joining community c is, up to the constant 1/(2m)²
    and i's self-terms, ``score(i,c) = 4m·k_in(i,c) − 2·k_i·tot_c^{−i}``
    where ``k_in(i,c)`` counts i's edges into c and ``tot_c^{−i}``
    excludes i's own degree when i ∈ c — comparing scores across c
    (including i's current community) reproduces the Louvain move rule
    with no float anywhere, so the sweep is engine-portable (the same
    reason :func:`modularity_scaled` stays scaled). Synchronous sweeps are
    the standard distributed Louvain relaxation (sequential Louvain is
    inherently order-dependent); fixed ``rounds`` keeps the operator a
    deterministic function of its input like :func:`label_propagation`.

    Per round: one labels join onto the symmetric edge set, one
    (node, neighbor-community) aggregation, one argmax — all keyed
    shuffles, state checkpointed.
    """
    sym = checkpoint(_symmetric(edges), eager=True)
    m = sym.count() // 2
    deg = checkpoint(sym.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("k")), eager=True)
    labels = deg.select("id", F.col("id").alias("community"))
    for _round in range(rounds):
        lab_s = labels.select(F.col("id").alias("src"),
                              F.col("community").alias("__c_src"))
        lab_d = labels.select(F.col("id").alias("dst"),
                              F.col("community").alias("__c_dst"))
        tot = (
            labels.join(deg, "id")
            .groupBy("community").agg(F.sum("k").alias("tot"))
        )
        cur = labels.select("id", F.col("community").alias("__cur"))
        cands = (
            sym.join(lab_d, "dst")
            .select(F.col("src").alias("id"),
                    F.col("__c_dst").alias("cand"), F.lit(1).alias("__one"))
        )
        kin = (
            # the node's CURRENT community is always a candidate (k_in may
            # be 0 — without this row a community-isolated node would be
            # forced into a losing move)
            union_all([cands, cur.select("id", F.col("__cur").alias("cand"),
                                         F.lit(0).alias("__one"))], by_name=True)
            .groupBy("id", "cand")
            .agg(F.sum("__one").alias("k_in"))
        )
        scored = (
            kin.join(deg, "id")
            .join(cur, "id")
            .join(tot.withColumnRenamed("community", "cand"), "cand")
            .select(
                "id", "cand", "__cur",
                (F.lit(4 * m) * F.col("k_in")
                 - 2 * F.col("k")
                 * (F.col("tot")
                    - F.when(F.col("cand") == F.col("__cur"), F.col("k"))
                    .otherwise(F.lit(0)))).alias("score"),
            )
        )
        # best candidate per node: max score, ties -> smallest community id;
        # a node moves only on STRICT improvement over staying
        stay = scored.filter(F.col("cand") == F.col("__cur")).select(
            "id", F.col("score").alias("__stay"))
        best = (
            scored.groupBy("id")
            .agg(F.max(F.struct(F.col("score"),
                                (-F.col("cand")).alias("negc"))).alias("m"))
            .select("id", (-F.col("m.negc")).alias("__best"),
                    F.col("m.score").alias("__bscore"))
            .join(stay, "id")
            .select("id", F.when(F.col("__bscore") > F.col("__stay"),
                                 F.col("__best")).alias("community"))
        )
        # synchronous-swap guard: only an INDEPENDENT SET moves per round —
        # nodes whose md5(round:id) priority is a strict local minimum among
        # neighbors (deterministic Luby trick, same as maximal_independent_set)
        # — so no two adjacent nodes relabel simultaneously and each applied
        # move's frozen-neighborhood gain is the true gain
        pri = F.conv(F.substring(F.md5(F.concat_ws(
            ":", F.lit(str(_round)), F.col("id").cast("string"))), 1, 15),
            16, 10).cast("long")
        withp = labels.select("id", pri.alias("__p"))
        nbr_min = (
            sym.join(withp.select(F.col("id").alias("dst"),
                                  F.col("__p").alias("__dp")), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.min("__dp").alias("__nmin"))
        )
        movers = (
            withp.join(nbr_min, "id", "left")
            .filter(F.col("__nmin").isNull() | (F.col("__p") < F.col("__nmin")))
            .select("id")
        )
        nxt = checkpoint(
            labels.select("id")
            .join(best.join(movers, "id", "left_semi"), "id", "left")
            .join(cur, "id")
            .select("id",
                    F.coalesce("community", F.col("__cur")).alias("community")), eager=True)
        free(labels)
        labels = nxt
    return labels


def greedy_moves_oracle_sql(edges_sql: str, rounds: int = 3,
                            prefix: str | None = None) -> str:
    """ANSI-SQL twin of :func:`greedy_modularity_moves`: fixed unrolled
    sweeps with the same integer scores, md5 independent-set gating, and
    strict-improvement rule."""
    def pri(r, col):
        return (f"CAST(CAST('0x' || substring(md5('{r}' || ':' || "
                f"CAST({col} AS VARCHAR)), 1, 15) AS UBIGINT) AS BIGINT)")

    head = f"{prefix},\ngsym AS" if prefix else "WITH gsym AS"
    parts = [f"""{head} MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM ({edges_sql})
    UNION ALL SELECT dst, src FROM ({edges_sql})
  ) WHERE src <> dst
), gdeg AS MATERIALIZED (
  SELECT src AS id, COUNT(*) AS k FROM gsym GROUP BY src
), gm AS (SELECT COUNT(*) // 2 AS m FROM gsym),
gl0 AS MATERIALIZED (SELECT id, id AS community FROM gdeg)"""]
    for r in range(1, rounds + 1):
        r0 = r - 1  # the operator seeds priorities with the 0-based round
        parts.append(f""", gtot{r} AS (
  SELECT l.community, SUM(d.k) AS tot
  FROM gl{r - 1} l JOIN gdeg d ON l.id = d.id GROUP BY l.community
), gkin{r} AS (
  SELECT id, cand, SUM(one) AS k_in FROM (
    SELECT e.src AS id, ld.community AS cand, 1 AS one
    FROM gsym e JOIN gl{r - 1} ld ON e.dst = ld.id
    UNION ALL SELECT id, community, 0 FROM gl{r - 1}
  ) GROUP BY id, cand
), gsc{r} AS (
  SELECT kin.id, kin.cand, cur.community AS curc,
         4 * gm.m * kin.k_in
           - 2 * d.k * (t.tot - CASE WHEN kin.cand = cur.community
                                     THEN d.k ELSE 0 END) AS score
  FROM gkin{r} kin
  JOIN gdeg d ON kin.id = d.id
  JOIN gl{r - 1} cur ON kin.id = cur.id
  JOIN gtot{r} t ON kin.cand = t.community
  CROSS JOIN gm
), gbs{r} AS (
  SELECT id, MAX(ROW(score, -cand)) AS mb FROM gsc{r} GROUP BY id
), gnm{r} AS (
  SELECT e.src AS id, MIN({pri(r0, 'e.dst')}) AS nmin
  FROM gsym e GROUP BY e.src
), gmv{r} AS (
  SELECT d.id FROM gdeg d LEFT JOIN gnm{r} n ON d.id = n.id
  WHERE n.id IS NULL OR {pri(r0, 'd.id')} < n.nmin
), gl{r} AS MATERIALIZED (
  SELECT cur.id,
         CASE WHEN mo.id IS NOT NULL
                   AND struct_extract(b.mb, 1) > st.score
              THEN -struct_extract(b.mb, 2)
              ELSE cur.community END AS community
  FROM gl{r - 1} cur
  LEFT JOIN gmv{r} mo ON cur.id = mo.id
  LEFT JOIN gbs{r} b ON cur.id = b.id
  LEFT JOIN (SELECT id, score FROM gsc{r} WHERE cand = curc) st
    ON cur.id = st.id
)""")
    parts.append(f"\nSELECT id, CAST(community AS BIGINT) AS community "
                 f"FROM gl{rounds}")
    return "\n".join(parts)


@scoped
def shortest_path_counts(edges: DataFrame, max_iter: int = 100) -> DataFrame:
    """All-pairs shortest-path COUNTS over a directed simple graph:
    ``(src, dst, depth, sigma)`` — depth = min hops, sigma = number of
    distinct shortest paths (the σ of Brandes' betweenness). Exact
    integers, so unlike fractional betweenness the result hash-gates.

    All-sources simultaneous BFS carrying path counts: the depth-1 edges
    (sigma 1) seed :func:`_frontier_bfs` with ``sum(sigma)`` per (src,
    dst), so first settlement = min depth and the sum is complete when
    written. Seeding the edges rather than every src itself skips a
    level whose only output is the edge set. State is closure-sized —
    the :func:`transitive_closure` trade; rounds = diameter, up to
    ``max_iter + 1`` hops, truncated silently (the loop exits on an
    empty frontier, so a generous ``max_iter`` costs nothing after
    convergence — unlike the DOUBLING closure this frontier is linear,
    one round per hop).
    """
    base = _prep_edge_rel(edges)
    first = base.select(F.col("src").alias("s"), F.col("dst").alias("id"),
                        F.lit(1).cast("long").alias("sigma"))
    slices, _ = _frontier_bfs(base, first, max_iter,
                              F.sum("sigma").alias("sigma"))
    # one self-contained checkpoint for the caller; the scope frees the
    # per-level slices, the collapsed settled sets and the edge relation
    return checkpoint(union_all(
        [sl.select(F.col("s").alias("src"), F.col("id").alias("dst"),
                   F.lit(d + 1).cast("long").alias("depth"), "sigma")
         for d, sl in enumerate(slices)], by_name=True), eager=True)


def stress_centrality(edges: DataFrame, max_iter: int = 100) -> DataFrame:
    """Stress centrality per node: the number of shortest paths passing
    THROUGH the node (Shimbel 1953) — the integer-exact member of the
    betweenness family (Brandes' betweenness divides by σ(s,t); stress
    does not, so it hash-gates). Returns ``(id, stress BIGINT)`` for nodes
    with stress > 0.

    Composition over the σ closure: a path s→t of length d(s,t) passes
    through v iff d(s,v)+d(v,t) = d(s,t), contributing σ(s,v)·σ(v,t);
    three keyed joins of the closure relation (on v, then on (s,t)) and
    one aggregation. Closure-sized intermediates — the documented trade.
    """
    # shortest_path_counts already returns a self-contained checkpoint
    C = shortest_path_counts(edges, max_iter=max_iter)
    a = C.select(F.col("src").alias("s"), F.col("dst").alias("v"),
                 F.col("depth").alias("d1"), F.col("sigma").alias("sig1"))
    b = C.select(F.col("src").alias("v"), F.col("dst").alias("t"),
                 F.col("depth").alias("d2"), F.col("sigma").alias("sig2"))
    st = C.select(F.col("src").alias("s"), F.col("dst").alias("t"),
                  F.col("depth").alias("dst_d"))
    return (
        a.join(b, "v")
        .filter(F.col("s") != F.col("t"))
        .join(st, ["s", "t"])
        .filter(F.col("d1") + F.col("d2") == F.col("dst_d"))
        .groupBy(F.col("v").alias("id"))
        .agg(F.sum(F.col("sig1") * F.col("sig2")).alias("stress"))
    )


@scoped
def community_conductance(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Exact integer conductance per community — the cut-quality metric
    that complements :func:`modularity_scaled` (Kannan, Vempala & Vetta
    2004's cluster-quality measure): ``φ(C) = cut(C) / min(vol(C),
    vol(V∖C))`` as integer permille (``1000·cut div min(vol, 2m−vol)``;
    NULL for zero-volume sides, where conductance is undefined). Returns
    ``(community, cut_edges, volume, conductance_permille)`` — low φ =
    well-separated community; the standard scorer for LPA / Louvain /
    CC output before trusting it downstream.

    Same two-shuffle shape as modularity: one node-keyed join to attach
    labels, one community-keyed aggregation; the edge total ``2m`` rides
    as a Python scalar (one count job), never a per-row subquery.
    """
    und = checkpoint(
        edges.select(F.least("src", "dst").alias("a"),
                     F.greatest("src", "dst").alias("b"))
        .filter(F.col("a") < F.col("b"))
        .distinct(), eager=True)
    la = labels.select(F.col("id").alias("a"), F.col("community").alias("ca"))
    lb = labels.select(F.col("id").alias("b"), F.col("community").alias("cb"))
    lab = und.join(la, "a").join(lb, "b")
    two_m = 2 * und.count()
    cut = (
        _endpoints(lab.filter(F.col("ca") != F.col("cb")), "ca", "cb", "community")
        .groupBy("community")
        .agg(F.count(F.lit(1)).alias("cut_edges"))
    )
    vol = (
        _endpoints(lab, "ca", "cb", "community")
        .groupBy("community")
        .agg(F.count(F.lit(1)).alias("volume"))
    )
    nn = labels.select("community").distinct()
    return (
        nn.join(vol, "community", "left").join(cut, "community", "left")
        .select(
            "community",
            F.coalesce("cut_edges", F.lit(0)).cast("long").alias("cut_edges"),
            F.coalesce("volume", F.lit(0)).cast("long").alias("volume"),
        )
        .withColumn(
            "conductance_permille",
            F.expr(f"CASE WHEN least(volume, {two_m} - volume) > 0 "
                   f"THEN 1000 * cut_edges div least(volume, "
                   f"{two_m} - volume) ELSE NULL END").cast("long"),
        )
    )


def conductance_oracle_sql(edges_sql: str, labels_sql: str) -> str:
    """DuckDB twin of :func:`community_conductance`. The CTEs read more
    than once are ``MATERIALIZED``: inlined, each reader re-runs
    ``labels_sql`` (an unrolled label-propagation twin in the
    ``label_communities`` gate), which ran out of memory at sf0.01."""
    return f"""WITH cd_e AS MATERIALIZED (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM ({edges_sql}) WHERE src <> dst
),
cd_l AS MATERIALIZED (SELECT id, community FROM ({labels_sql})),
cd_j AS MATERIALIZED (
  SELECT e.a, e.b, la.community AS ca, lb.community AS cb
  FROM cd_e e JOIN cd_l la ON e.a = la.id JOIN cd_l lb ON e.b = lb.id
),
cd_m AS (SELECT 2 * COUNT(*) AS m2 FROM cd_e),
cd_cut AS (
  SELECT community, COUNT(*) AS cut_edges FROM (
    SELECT ca AS community FROM cd_j WHERE ca <> cb
    UNION ALL SELECT cb FROM cd_j WHERE ca <> cb
  ) GROUP BY community
),
cd_vol AS (
  SELECT community, COUNT(*) AS volume FROM (
    SELECT ca AS community FROM cd_j UNION ALL SELECT cb FROM cd_j
  ) GROUP BY community
)
SELECT n.community,
       CAST(COALESCE(c.cut_edges, 0) AS BIGINT) AS cut_edges,
       CAST(COALESCE(v.volume, 0) AS BIGINT) AS volume,
       CAST(CASE WHEN LEAST(COALESCE(v.volume, 0),
                            m.m2 - COALESCE(v.volume, 0)) > 0
            THEN 1000 * COALESCE(c.cut_edges, 0)
                 // LEAST(COALESCE(v.volume, 0),
                          m.m2 - COALESCE(v.volume, 0))
            ELSE NULL END AS BIGINT) AS conductance_permille
FROM (SELECT DISTINCT community FROM cd_l) n
CROSS JOIN cd_m m
LEFT JOIN cd_vol v ON n.community = v.community
LEFT JOIN cd_cut c ON n.community = c.community"""


@scoped
def shortest_path_tree(edges: DataFrame, sources: "list[int]",
                       max_iter: int = 20) -> DataFrame:
    """BFS shortest-path tree from each source with deterministic parent
    pointers — the path-RECONSTRUCTION companion to the depth-only
    closures (``transitive_closure`` tells you X is reachable at depth d;
    this tells you *through which edge*, so a pipeline can surface the
    actual chain: provenance, lineage explanations, routing). Returns
    ``(root, id, depth, parent)`` — ``parent`` is the minimum-id
    predecessor among those at ``depth-1`` (the standard deterministic
    tie-break), NULL-free since every non-root tree node has one; roots
    are not emitted as members.

    :func:`_frontier_bfs` from every root with ``min(pred)`` as the
    level aggregate — O(frontier) work per round, rounds = eccentricity,
    truncated at ``max_iter``. Self-loops never settle a node, so the
    loop reads :func:`_prep_edge_rel`. ``sources`` is a literal list
    (broadcast-sized by construction).
    """
    spark = edges.sparkSession
    roots = sorted({int(r) for r in sources})
    seeds = local_df(spark, [(r, r) for r in roots], "s BIGINT, id BIGINT")
    slices, _ = _frontier_bfs(_prep_edge_rel(edges), seeds, max_iter,
                              F.min("pred").alias("parent"))
    if len(slices) == 1:
        return local_df(spark, [], "root BIGINT, id BIGINT, depth BIGINT, parent BIGINT")
    return union_all(
        [sl.select(F.col("s").alias("root"), "id",
                   F.lit(d).cast("long").alias("depth"), "parent")
         for d, sl in enumerate(slices) if d], by_name=True)


def shortest_path_tree_sql(edges_sql: str, sources: "list[int]",
                           max_iter: int = 20) -> str:
    """ANSI-SQL twin of :func:`shortest_path_tree` (DuckDB recursive CTE:
    min depth per (root, node), then min-id parent among depth-1
    predecessors). The recursion is depth-bounded by ``max_iter`` — the
    same truncation the Spark round loop applies, and WITHOUT it the
    (root, id, d) triple space is infinite on cyclic graphs (the UNION
    dedup never converges because d keeps growing)."""
    src_rows = ", ".join(f"({int(s)})" for s in sorted(set(sources)))
    return f"""WITH RECURSIVE spt_e AS (
  SELECT DISTINCT src, dst FROM ({edges_sql})
),
spt_w(root, id, d) AS (
  SELECT s.root, s.root, 0 FROM (VALUES {src_rows}) s(root)
  UNION
  SELECT w.root, e.dst, w.d + 1
  FROM spt_w w JOIN spt_e e ON w.id = e.src AND w.d < {int(max_iter)}
),
spt_d AS (
  SELECT root, id, CAST(MIN(d) AS BIGINT) AS depth
  FROM spt_w GROUP BY root, id
)
SELECT n.root, n.id, n.depth, CAST(MIN(p.id) AS BIGINT) AS parent
FROM spt_d n
JOIN spt_e e ON e.dst = n.id
JOIN spt_d p ON p.root = n.root AND p.id = e.src AND p.depth = n.depth - 1
WHERE n.depth > 0
GROUP BY n.root, n.id, n.depth"""


@scoped
def reciprocity(edges: DataFrame) -> DataFrame:
    """Directed-graph reciprocity (Garlaschelli & Loffredo 2004): the
    fraction of directed edges whose reverse also exists, as integer
    permille. Returns one row ``(n_edges, n_reciprocal,
    reciprocity_permille)`` — a first-look health metric for any directed
    network (mutual follows, request/reply flows; ~0 for citation-style
    DAGs, ~1000 for effectively-undirected data that should be modeled as
    such before paying directed-algorithm costs).

    One distinct edge relation, one self-equi-join on the reversed key
    (left_semi — the probe never materializes pair payloads), two scalar
    counts folded into a single-row result.
    """
    e = (checkpoint(edges.select("src", "dst")
         .filter(F.col("src") != F.col("dst")).distinct(), eager=True))
    rec = e.join(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
        ["src", "dst"], "left_semi")
    return (
        e.agg(F.count(F.lit(1)).alias("n_edges"))
        .crossJoin(rec.agg(F.count(F.lit(1)).alias("n_reciprocal")))
        .select(
            "n_edges", "n_reciprocal",
            F.expr("CASE WHEN n_edges > 0 THEN 1000 * n_reciprocal "
                   "div n_edges ELSE 0 END").alias("reciprocity_permille"))
    )


def reciprocity_sql(edges_sql: str) -> str:
    """ANSI-SQL twin of :func:`reciprocity`."""
    return f"""WITH rc_e AS (
  SELECT DISTINCT src, dst FROM ({edges_sql}) WHERE src <> dst
)
SELECT (SELECT COUNT(*) FROM rc_e) AS n_edges,
       (SELECT COUNT(*) FROM rc_e a
        WHERE EXISTS (SELECT 1 FROM rc_e b
                      WHERE b.src = a.dst AND b.dst = a.src))
         AS n_reciprocal,
       CAST(CASE WHEN (SELECT COUNT(*) FROM rc_e) > 0
            THEN 1000 * (SELECT COUNT(*) FROM rc_e a
                         WHERE EXISTS (SELECT 1 FROM rc_e b
                                       WHERE b.src = a.dst
                                         AND b.dst = a.src))
                 // (SELECT COUNT(*) FROM rc_e)
            ELSE 0 END AS BIGINT) AS reciprocity_permille"""


@scoped
def wl_colors(edges: DataFrame, rounds: int = 2,
              labels: DataFrame | None = None) -> DataFrame:
    """1-dimensional Weisfeiler–Leman color refinement (Weisfeiler &
    Leman 1968; the graph-kernel / GNN-expressiveness primitive): every
    node starts from its degree (or a supplied ``(id, label)`` coloring)
    and each round re-colors to ``md5(own color | sorted multiset of
    neighbor colors)``. Nodes with different colors after r rounds are
    provably non-isomorphic in their r-hop neighborhoods — the standard
    structural fingerprint for graph dedup, ego-role discovery, and
    WL-kernel features. Returns ``(id, color)`` (32-hex strings).

    Each round is ONE neighbor join + one node-keyed
    ``sort_array(collect_list(...))`` aggregation — the multiset
    canonicalization is per-node (bounded by degree), never a global
    sort; r rounds ⇒ r shuffles, state O(nodes).

    The returned plan is LAZY for up to the last 7 rounds (checkpoints
    land every 8th round only, not one eager job + full |V|
    materialization per round): a caller that triggers MANY
    actions on the result recomputes those tail rounds per action, so
    checkpoint ``wl_colors(...)`` first when reusing it.
    """
    sym = checkpoint(_symmetric(edges), eager=True)
    if labels is not None:
        colors = labels.select(
            "id", F.md5(F.col("label").cast("string")).alias("color"))
    else:
        colors = sym.groupBy(F.col("src").alias("id")).agg(
            F.md5(F.count(F.lit(1)).cast("string")).alias("color"))
    colors = checkpoint(colors, eager=True)
    for i in range(rounds):
        nbr = (
            sym.join(colors.select(F.col("id").alias("dst"),
                                   F.col("color").alias("__nc")), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.sort_array(F.collect_list("__nc")).alias("__ncs"))
        )
        colors = (
            colors.join(nbr, "id", "left")
            .select(
                "id",
                F.md5(F.concat_ws(
                    "|", F.col("color"),
                    F.concat_ws(",", F.coalesce(
                        F.col("__ncs"),
                        F.array().cast("array<string>"))))).alias("color"))
        )
        # fixed small round counts stay one LAZY pipeline (the caller's
        # action computes all rounds in one job); checkpoint only every
        # 8 rounds to bound lineage on long refinements (pagerank's loop
        # discipline)
        if (i + 1) % 8 == 0 and i + 1 < rounds:
            colors = checkpoint(colors, eager=True)
    # the scope frees the superseded checkpoints; the LAST one backs the
    # returned (possibly lazy) plan and stays live for the caller's action
    return colors


def wl_colors_sql(edges_sql: str, rounds: int = 2) -> str:
    """ANSI-SQL twin of :func:`wl_colors` (degree-seeded variant)."""
    parts = [f"""WITH wl_sym AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM ({edges_sql})
    UNION ALL SELECT dst, src FROM ({edges_sql})
  ) WHERE src <> dst
),
wlc0 AS (
  SELECT src AS id, md5(CAST(COUNT(*) AS VARCHAR)) AS color
  FROM wl_sym GROUP BY src
)"""]
    for r in range(1, rounds + 1):
        parts.append(f""", wln{r} AS (
  SELECT s.src AS id,
         list_aggr(list_sort(list(c.color)), 'string_agg', ',') AS ncs
  FROM wl_sym s JOIN wlc{r - 1} c ON s.dst = c.id
  GROUP BY s.src
), wlc{r} AS (
  SELECT p.id,
         md5(p.color || '|' || COALESCE(n.ncs, '')) AS color
  FROM wlc{r - 1} p LEFT JOIN wln{r} n ON p.id = n.id
)""")
    parts.append(f"\nSELECT id, color FROM wlc{rounds}")
    return "\n".join(parts)


def rich_club(edges: DataFrame, k: int) -> DataFrame:
    """Rich-club coefficient (Zhou & Mondragón 2004) at degree threshold
    ``k``: among the "rich" nodes (undirected degree > k), the realized
    fraction of possible edges, as integer permille —
    ``1000·2·E_rich div (N_rich·(N_rich−1))`` (NULL when fewer than two
    rich nodes). Returns one row ``(k, n_rich, e_rich, phi_permille)``.
    High φ at high k = elite interconnection (hub cartels in citation /
    co-purchase graphs); flat φ = degree-mixed topology.

    One degree aggregation, one semi-join of the canonical edge set
    against the rich set on BOTH endpoints, two scalar counts — no
    pairwise materialization anywhere.
    """
    sym = _symmetric(edges)
    deg = sym.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("d"))
    rich = deg.filter(F.col("d") > int(k)).select("id")
    und = sym.filter(F.col("src") < F.col("dst"))
    e_rich = (
        und.join(rich.withColumnRenamed("id", "src"), "src", "left_semi")
        .join(rich.withColumnRenamed("id", "dst"), "dst", "left_semi")
    )
    return (
        rich.agg(F.count(F.lit(1)).alias("n_rich"))
        .crossJoin(e_rich.agg(F.count(F.lit(1)).alias("e_rich")))
        .select(
            F.lit(int(k)).cast("long").alias("k"), "n_rich", "e_rich",
            F.expr("CASE WHEN n_rich >= 2 THEN 1000 * 2 * e_rich "
                   "div (n_rich * (n_rich - 1)) ELSE NULL END")
            .cast("long").alias("phi_permille"))
    )


def rich_club_sql(edges_sql: str, k: int) -> str:
    """ANSI-SQL twin of :func:`rich_club`."""
    return f"""WITH rb_sym AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM ({edges_sql})
    UNION ALL SELECT dst, src FROM ({edges_sql})
  ) WHERE src <> dst
),
rb_rich AS (
  SELECT src AS id FROM rb_sym GROUP BY src HAVING COUNT(*) > {int(k)}
),
rb_cnt AS (SELECT COUNT(*) AS n_rich FROM rb_rich),
rb_e AS (
  SELECT COUNT(*) AS e_rich FROM rb_sym e
  WHERE e.src < e.dst
    AND e.src IN (SELECT id FROM rb_rich)
    AND e.dst IN (SELECT id FROM rb_rich)
)
SELECT CAST({int(k)} AS BIGINT) AS k, CAST(n_rich AS BIGINT) AS n_rich,
       CAST(e_rich AS BIGINT) AS e_rich,
       CAST(CASE WHEN n_rich >= 2
            THEN 1000 * 2 * e_rich // (n_rich * (n_rich - 1))
            ELSE NULL END AS BIGINT) AS phi_permille
FROM rb_cnt, rb_e"""


@scoped
def diameter_double_sweep(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """Double-sweep diameter lower bound (Magnien, Latapy & Habib 2009 —
    the standard cheap estimator, exact on trees and usually tight in
    practice): BFS from the minimum-id node, hop to the farthest node
    found (max depth, tie → min id), BFS again from there over the
    UNDIRECTED graph; the second eccentricity is the bound. Returns one
    row ``(start, far_node, ecc_start, diameter_lb)`` — the 2-BFS answer
    to "how deep is this graph" that an exact all-pairs diameter (a full
    closure) cannot afford at 100 TB.

    Two :func:`_frontier_bfs` passes (two :func:`shortest_path_tree`
    calls, O(frontier) per round); the two single-row pivots (min id,
    argmax depth) are bounded driver scalars, not data collections.
    """
    sym = checkpoint(_symmetric(edges), eager=True)
    start_row = sym.agg(F.min("src").alias("m")).collect()[0]
    if start_row["m"] is None:
        return local_df(
            edges.sparkSession, [], "start BIGINT, far_node BIGINT, ecc_start BIGINT, "
                "diameter_lb BIGINT")
    start = int(start_row["m"])
    t1 = shortest_path_tree(sym, [start], max_iter=max_iter)
    far_row = t1.agg(
        F.max(F.struct(F.col("depth"), (-F.col("id")).alias("ni")))
        .alias("m")).collect()[0]["m"]
    ecc1, far = int(far_row["depth"]), -int(far_row["ni"])
    t2 = shortest_path_tree(sym, [far], max_iter=max_iter)
    return (
        t2.agg(F.max("depth").alias("diameter_lb"))
        .select(
            F.lit(start).cast("long").alias("start"),
            F.lit(far).cast("long").alias("far_node"),
            F.lit(ecc1).cast("long").alias("ecc_start"),
            F.col("diameter_lb").cast("long"))
    )


def diameter_double_sweep_sql(edges_sql: str, max_iter: int = 20) -> str:
    """ANSI-SQL twin of :func:`diameter_double_sweep` (two depth-bounded
    recursions; the second seeds from the first's argmax row)."""
    d = int(max_iter)
    return f"""WITH RECURSIVE ds_e AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM ({edges_sql})
    UNION ALL SELECT dst, src FROM ({edges_sql})
  ) WHERE src <> dst
),
ds_s AS (SELECT MIN(src) AS s FROM ds_e),
ds_w1(id, d) AS (
  SELECT s, 0 FROM ds_s
  UNION
  SELECT e.dst, w.d + 1 FROM ds_w1 w JOIN ds_e e
    ON w.id = e.src AND w.d < {d}
),
ds_d1 AS (SELECT id, MIN(d) AS depth FROM ds_w1 GROUP BY id),
ds_far AS (
  SELECT id, depth FROM ds_d1 ORDER BY depth DESC, id ASC LIMIT 1
),
ds_w2(id, d) AS (
  SELECT id, 0 FROM ds_far
  UNION
  SELECT e.dst, w.d + 1 FROM ds_w2 w JOIN ds_e e
    ON w.id = e.src AND w.d < {d}
),
ds_d2 AS (SELECT id, MIN(d) AS depth FROM ds_w2 GROUP BY id)
SELECT CAST(s.s AS BIGINT) AS start,
       CAST(f.id AS BIGINT) AS far_node,
       CAST(f.depth AS BIGINT) AS ecc_start,
       CAST((SELECT MAX(depth) FROM ds_d2) AS BIGINT) AS diameter_lb
FROM ds_s s, ds_far f"""


def degree_assortativity_stats(edges: DataFrame) -> DataFrame:
    """Sufficient statistics for the degree-assortativity coefficient
    (Newman 2002) over the undirected graph — one row ``(n, sxy, sx, sy,
    sxx, syy)`` of exact integer sums over every edge-endpoint degree
    pair (both orientations, the standard symmetrized form). The Pearson
    coefficient is ``(n·sxy − sx·sy) / sqrt((n·sxx − sx²)(n·syy − sy²))``
    — one float division the CALLER does once; keeping the relation
    integer-only is the house hash-gating rule, and at 100 TB the six
    sums partial-aggregate map-side while a float Pearson would not be
    engine-reproducible.
    """
    sym = _symmetric(edges)
    deg = sym.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("d"))
    pairs = (
        sym.join(deg.select(F.col("id").alias("src"),
                            F.col("d").alias("dx")), "src")
        .join(deg.select(F.col("id").alias("dst"),
                         F.col("d").alias("dy")), "dst")
    )
    return pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum("dx").alias("sx"), F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
    )


def degree_assortativity_stats_sql(edges_sql: str) -> str:
    """ANSI-SQL twin of :func:`degree_assortativity_stats`."""
    return f"""WITH da_sym AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM ({edges_sql})
    UNION ALL SELECT dst, src FROM ({edges_sql})
  ) WHERE src <> dst
),
da_deg AS (SELECT src AS id, COUNT(*) AS d FROM da_sym GROUP BY src)
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(a.d * b.d) AS BIGINT) AS sxy,
       CAST(SUM(a.d) AS BIGINT) AS sx, CAST(SUM(b.d) AS BIGINT) AS sy,
       CAST(SUM(a.d * a.d) AS BIGINT) AS sxx,
       CAST(SUM(b.d * b.d) AS BIGINT) AS syy
FROM da_sym e JOIN da_deg a ON e.src = a.id JOIN da_deg b ON e.dst = b.id"""


def edge_embeddedness(edges: DataFrame,
                      max_degree: int | None = None) -> DataFrame:
    """Embeddedness of every undirected edge — the number of common
    neighbors of its endpoints (Granovetter's tie strength; 0 = a LOCAL
    BRIDGE, the weak tie whose removal pushes its endpoints ≥ 3 hops
    apart). Returns ``(a, b, embeddedness)`` for every canonical edge,
    zeros included — bridge detection is precisely the zero set, so this
    relation answers both questions.

    Wedge candidates come from the same pivot equi-join as
    :func:`jaccard_similarity` (zero-overlap pairs never materialize);
    the edge relation then LEFT-joins the wedge counts so bridges keep
    their explicit 0. ``max_degree`` is the usual hub-pivot guard.
    """
    sym = _symmetric(edges)
    und = sym.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("a"), F.col("dst").alias("b"))
    wedge_base = sym
    if max_degree is not None:
        wv = Window.partitionBy("dst")
        wedge_base = (
            sym.withColumn("__vd", F.count(F.lit(1)).over(wv))
            .filter(F.col("__vd") <= max_degree)
            .drop("__vd")
        )
    wedges = (
        wedge_base.select(F.col("dst").alias("via"), F.col("src").alias("a"))
        .join(wedge_base.select(F.col("dst").alias("via"),
                                F.col("src").alias("b")), "via")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    return und.join(wedges, ["a", "b"], "left").select(
        "a", "b",
        F.coalesce("__c", F.lit(0)).cast("long").alias("embeddedness"))


def edge_embeddedness_sql(edges_sql: str) -> str:
    """ANSI-SQL twin of :func:`edge_embeddedness` (exact variant)."""
    return f"""WITH eb_sym AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM ({edges_sql})
    UNION ALL SELECT dst, src FROM ({edges_sql})
  ) WHERE src <> dst
),
eb_und AS (SELECT src AS a, dst AS b FROM eb_sym WHERE src < dst),
eb_w AS (
  SELECT l.src AS a, r.src AS b, COUNT(*) AS c
  FROM eb_sym l JOIN eb_sym r ON l.dst = r.dst AND l.src < r.src
  GROUP BY 1, 2
)
SELECT u.a, u.b, CAST(COALESCE(w.c, 0) AS BIGINT) AS embeddedness
FROM eb_und u LEFT JOIN eb_w w ON u.a = w.a AND u.b = w.b"""


@scoped
def coreness(edges: DataFrame, k_max: int = 8,
             max_iter: int = 100) -> DataFrame:
    """Full core decomposition: every non-isolated node's core number
    (the largest k whose k-core contains it) — the degeneracy profile
    behind "peel the graph into shells" analyses, where single-k
    :func:`k_core` answers only one slice. Returns ``(id, coreness)``.

    Computed by the nested-core identity: cores are nested, so
    ``coreness(v) = 1 + Σ_{k≥2} [v ∈ k-core]``, with each level peeled
    FROM THE PREVIOUS LEVEL'S SURVIVING EDGE SET — the k-core of the
    (k-1)-core equals the k-core of the whole graph, so each peel runs
    on a geometrically shrinking relation instead of ``k_max − 1``
    full-graph re-peels. Raises if the ``(k_max+1)``-core is non-empty
    (silent truncation would mislabel the densest shell — callers pick
    ``k_max`` ≥ the graph's degeneracy, which the error reports how to
    find); the guard too peels only the last level's output.
    """
    surv = _k_core_peel(checkpoint(_symmetric(edges), eager=True), 1, max_iter)
    base = checkpoint(surv.select("src").distinct()
                      .select(F.col("src").alias("id")), eager=True)
    out = base.withColumn("coreness", F.lit(1).cast("long"))
    for k in range(2, k_max + 2):
        prev, surv = surv, _k_core_peel(surv, k, max_iter)
        if k == k_max + 1:
            if surv.limit(1).count():
                raise ValueError(
                    f"coreness: the {k_max + 1}-core is non-empty — "
                    "raise k_max to at least the graph's degeneracy")
            break
        ck = (surv.select("src").distinct()
              .select(F.col("src").alias("id"), F.lit(1).alias("__in")))
        out = checkpoint(out.join(ck, "id", "left").select(
            "id",
            (F.col("coreness") + F.coalesce("__in", F.lit(0)))
            .cast("long").alias("coreness")), eager=True)
        free(prev)
    return out


def coreness_oracle_sql(edges_sql: str, k_max: int, rounds: int) -> str:
    """ANSI-SQL twin of :func:`coreness`: one self-contained fixed-unroll
    k-core chain per level, merged by the nested-core summation."""
    joins = "\n".join(
        f"LEFT JOIN ({k_core_oracle_sql(edges_sql, k, rounds)}) c{k} "
        f"ON c1.id = c{k}.id"
        for k in range(2, k_max + 1))
    hits = " + ".join(
        f"CASE WHEN c{k}.id IS NULL THEN 0 ELSE 1 END"
        for k in range(2, k_max + 1)) or "0"
    return f"""SELECT c1.id, CAST(1 + {hits} AS BIGINT) AS coreness
FROM ({k_core_oracle_sql(edges_sql, 1, rounds)}) c1
{joins}"""


@scoped
def landmark_distances(edges: DataFrame, n_landmarks: int = 4,
                       max_iter: int = 20) -> DataFrame:
    """Distances from the ``n_landmarks`` highest-degree nodes to every
    reachable node — the precompute half of landmark-based (a.k.a.
    ALT / distance-oracle) shortest-path estimation (Goldberg & Harrelson
    2005): at 100 TB scale you cannot run per-query BFS, so you store
    k·|V| landmark rows and answer any ``d(u, v)`` with a two-row lookup.
    Landmarks are the top-k by undirected degree (ties: smaller id), the
    standard highest-centrality-first heuristic. Returns ``(landmark, id,
    depth)`` INCLUDING the landmark's own depth-0 row.

    One :func:`_frontier_bfs` over all k landmarks (deduplicated levels,
    no aggregate) — O(frontier) per round, rounds bounded by
    eccentricity and truncated at ``max_iter``. The landmark list itself
    is a k-row driver collect (bounded by construction); degrees count
    self-loops, as the twin does, so they are taken over the input
    relation rather than the BFS's self-loop-free one.

    Parity-plus vs the reference (depth queries exist only per-source via
    ``***`` closures; SURVEY.md §2.7).
    """
    if n_landmarks <= 0:
        raise ValueError("n_landmarks must be positive")
    deg = (
        _endpoints(edges.select("src", "dst").distinct())
        .groupBy("id").agg(F.count(F.lit(1)).alias("deg"))
        .orderBy(F.col("deg").desc(), F.col("id").asc())
        .limit(int(n_landmarks))
    )
    marks = [int(r["id"]) for r in deg.collect()]
    spark = edges.sparkSession
    if not marks:
        return local_df(spark, [], "landmark BIGINT, id BIGINT, depth BIGINT")
    seeds = local_df(spark, [(m, m) for m in marks], "s BIGINT, id BIGINT")
    slices, _ = _frontier_bfs(_prep_edge_rel(edges), seeds, max_iter)
    return checkpoint(union_all(
        [sl.select(F.col("s").alias("landmark"), "id",
                   F.lit(d).cast("long").alias("depth"))
         for d, sl in enumerate(slices)], by_name=True), eager=True)


def landmark_distances_sql(edges_sql: str, n_landmarks: int = 4,
                           max_iter: int = 20) -> str:
    """ANSI-SQL twin of :func:`landmark_distances` (depth-bounded
    recursive CTE, same truncation as the Spark round loop)."""
    return f"""WITH RECURSIVE lm_e AS (
  SELECT DISTINCT src, dst FROM ({edges_sql})
),
lm_marks AS (
  SELECT id FROM (
    SELECT id, COUNT(*) AS deg FROM (
      SELECT src AS id FROM lm_e UNION ALL SELECT dst FROM lm_e
    ) GROUP BY id
  ) ORDER BY deg DESC, id ASC LIMIT {int(n_landmarks)}
),
lm_w(landmark, id, d) AS (
  SELECT id, id, 0 FROM lm_marks
  UNION
  SELECT w.landmark, e.dst, w.d + 1
  FROM lm_w w JOIN lm_e e ON w.id = e.src AND w.d < {int(max_iter)}
)
SELECT landmark, id, CAST(MIN(d) AS BIGINT) AS depth
FROM lm_w GROUP BY landmark, id"""


def landmark_distance_upper(dists: DataFrame, pairs: DataFrame) -> DataFrame:
    """Answer ``d(u, v)`` upper bounds from a :func:`landmark_distances`
    relation: ``min over landmarks of d(l, u) + d(l, v)`` — the triangle-
    inequality bound, EXACT whenever some shortest u–v path passes a
    landmark, and valid as an upper bound on SYMMETRIZED edge sets (where
    ``d(l, u) = d(u, l)``); on a directed input ``d(l,u)+d(l,v)`` bounds
    nothing, so pass the symmetrized graph to the precompute. ``pairs``
    has columns ``(u, v)``; pairs sharing no landmark (disconnected) are
    omitted. Returns ``(u, v, dist_upper)``.

    Two keyed joins against the k·|V| landmark relation and one (u, v)
    min-agg — no BFS at query time; this is the whole point of the
    precompute at scale.
    """
    du = dists.select("landmark", F.col("id").alias("u"),
                      F.col("depth").alias("__du"))
    dv = dists.select("landmark", F.col("id").alias("v"),
                      F.col("depth").alias("__dv"))
    return (
        pairs.select("u", "v")
        .join(du, "u")
        .join(dv, ["landmark", "v"])
        .groupBy("u", "v")
        .agg(F.min(F.col("__du") + F.col("__dv")).alias("dist_upper"))
    )


def landmark_upper_sql(edges_sql: str, pairs_sql: str,
                       n_landmarks: int = 4, max_iter: int = 20) -> str:
    """ANSI-SQL twin of :func:`landmark_distance_upper` over
    :func:`landmark_distances_sql` (``pairs_sql`` selects ``u, v``)."""
    return f"""WITH lm_d AS ({landmark_distances_sql(
        edges_sql, n_landmarks=n_landmarks, max_iter=max_iter)}),
lm_p AS (SELECT u, v FROM ({pairs_sql}))
SELECT p.u, p.v, CAST(MIN(a.depth + b.depth) AS BIGINT) AS dist_upper
FROM lm_p p
JOIN lm_d a ON a.id = p.u
JOIN lm_d b ON b.id = p.v AND b.landmark = a.landmark
GROUP BY p.u, p.v"""


@scoped
def greedy_coloring(edges: DataFrame, max_iter: int = 64,
                    seed: int = 0) -> DataFrame:
    """Distance-1 graph coloring by parallel Jones–Plassmann (1993):
    every node gets a deterministic md5 priority; each round, every
    uncolored node whose higher-priority neighbors are ALL colored takes
    the smallest color absent among its colored neighbors. Proper
    coloring with ≤ Δ+1 colors, byte-identical on any partitioning (the
    priority is a content hash, ties broken by id). Returns ``(id,
    color, round)`` — ``round`` is when the node settled, the
    parallel-schedule depth. The standard "which rows can run
    concurrently" primitive: conflict-free update waves, register-style
    resource assignment, independent-batch scheduling over a 100 TB
    conflict graph.

    Each round = one colored-neighbor aggregation + one
    higher-priority-uncolored anti-check + an array min-free-color pick
    — keyed joins and per-node arrays bounded by degree, no global
    structure. Expected rounds = longest decreasing-priority path =
    O(log n / log log n) on random priorities (Jones & Plassmann 1993),
    NOT the color count. Raises loudly if ``max_iter`` rounds leave
    nodes uncolored (mirroring the fixed-unroll twin's truncation).

    Parity-plus vs the reference (no coloring surface; SURVEY.md §2.7).
    """
    spark = edges.sparkSession
    und = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .filter(F.col("a") != F.col("b"))
    )
    adj = checkpoint(
        union_all([und, und.select(F.col("b").alias("a"), F.col("a").alias("b"))],
                  by_name=True)
        .distinct(), eager=True)
    pri = F.conv(F.substring(F.md5(F.concat_ws(
        "|", F.lit(f"color{seed}"), F.col("id").cast("string"))), 1, 15),
        16, 10).cast("long")
    nodes = checkpoint(
        adj.select(F.col("a").alias("id")).distinct()
        .select("id", pri.alias("pri")), eager=True)
    # colored is the union of the per-round slices, re-checkpointed every
    # _SEEN_COLLAPSE_LEVELS rounds to keep its plan flat; uncolored
    # shrinks, and its materializing count is also the emptiness test
    colored = local_df(spark, [], "id BIGINT, color BIGINT, round BIGINT")
    uncolored = nodes
    remaining = nodes.count()
    for rnd in range(1, max_iter + 1):
        if remaining == 0:
            break
        # does an uncolored node still have a higher-priority uncolored
        # neighbor? (priority = (pri, id) lexicographic, collision-safe)
        blocked = (
            uncolored.alias("u")
            .join(adj, F.col("u.id") == F.col("a"))
            .join(uncolored.select(F.col("id").alias("b"),
                                   F.col("pri").alias("bpri")), "b")
            .filter((F.col("bpri") > F.col("u.pri"))
                    | ((F.col("bpri") == F.col("u.pri"))
                       & (F.col("b") > F.col("u.id"))))
            .select(F.col("u.id").alias("id")).distinct()
        )
        ready = uncolored.join(blocked, "id", "left_anti")
        used = (
            ready.join(adj, ready.id == adj.a, "left")
            .join(colored.select(F.col("id").alias("b"),
                                 F.col("color").alias("c")),
                  "b", "left")
            .groupBy(ready.id)
            .agg(F.collect_set("c").alias("used"))
        )
        newly = checkpoint(used.select(
            "id",
            F.expr("array_min(array_except("
                   "sequence(1, size(used) + 1), used))").alias("color"),
            F.lit(rnd).cast("long").alias("round"),
        ), eager=True)
        colored = union_all([colored, newly], by_name=True)
        if rnd % _SEEN_COLLAPSE_LEVELS == 0:
            colored = checkpoint(colored, eager=True)
        uncolored = checkpoint(uncolored.join(newly.select("id"), "id", "left_anti"))
        remaining = uncolored.count()
    if remaining:
        raise AssertionError(
            f"greedy_coloring: nodes uncolored after {max_iter} rounds — "
            "raise max_iter (twin unrolls the same bound)")
    return colored


def greedy_coloring_sql(edges_sql: str, max_iter: int = 64,
                        seed: int = 0) -> str:
    """ANSI-SQL twin of :func:`greedy_coloring` — fixed unroll, one
    colored-set CTE per round (the Spark loop raises if the bound is
    hit, so equal unrolls see equal fixpoints)."""
    h = (f"CAST(CAST('0x' || substring(md5(concat_ws('|', 'color{seed}', "
         f"CAST(id AS VARCHAR))), 1, 15) AS UBIGINT) AS BIGINT)")
    parts = [f"""WITH gc_e AS (
  SELECT a, b FROM (
    SELECT src AS a, dst AS b FROM ({edges_sql}) WHERE src <> dst
    UNION SELECT dst, src FROM ({edges_sql}) WHERE src <> dst
  )
),
gc_n AS (
  SELECT id, {h} AS pri FROM (SELECT DISTINCT a AS id FROM gc_e)
),
gc_c0 AS (SELECT CAST(NULL AS BIGINT) AS id, CAST(NULL AS BIGINT) AS color,
          CAST(NULL AS BIGINT) AS rnd WHERE 1 = 0)"""]
    for r in range(1, max_iter + 1):
        # MATERIALIZED is load-bearing: every round references the
        # previous colored set several times, and inlined CTEs would
        # re-evaluate the whole prefix — exponential in max_iter
        parts.append(f""", gc_u{r} AS MATERIALIZED (
  SELECT n.id, n.pri FROM gc_n n
  WHERE n.id NOT IN (SELECT id FROM gc_c{r - 1})
), gc_r{r} AS (
  SELECT u.id FROM gc_u{r} u
  WHERE NOT EXISTS (
    SELECT 1 FROM gc_e e JOIN gc_u{r} v ON e.b = v.id
    WHERE e.a = u.id
      AND (v.pri > u.pri OR (v.pri = u.pri AND v.id > u.id))
  )
), gc_c{r} AS MATERIALIZED (
  SELECT * FROM gc_c{r - 1}
  UNION ALL
  SELECT r.id,
         CAST(list_min(list_filter(generate_series(1, len(used) + 1),
           x -> NOT list_contains(used, x))) AS BIGINT) AS color,
         CAST({r} AS BIGINT) AS rnd
  FROM (
    SELECT r.id,
           list_distinct(list_filter(list(c.color), x -> x IS NOT NULL))
             AS used
    FROM gc_r{r} r
    LEFT JOIN gc_e e ON e.a = r.id
    LEFT JOIN gc_c{r - 1} c ON c.id = e.b
    GROUP BY r.id
  ) r
)""")
    parts.append(
        f"\nSELECT id, color, rnd AS round FROM gc_c{max_iter}")
    return "\n".join(parts)


def betweenness_centrality(edges: DataFrame,
                           sources: DataFrame | None = None,
                           closure: DataFrame | None = None,
                           max_iter: int = 100) -> DataFrame:
    """Betweenness centrality (Freeman 1977 / Brandes 2001):
    ``b(v) = Σ_{s≠v≠t} σ_st(v) / σ_st`` — the fraction of shortest paths
    mediated by each node. Composition over the same σ closure as
    :func:`stress_centrality` (pass ``closure=`` to share one
    materialization): ``σ_st(v) = σ_sv·σ_vt`` when ``d(s,v)+d(v,t) =
    d(s,t)``, so betweenness is the stress triple join with each
    contribution divided by ``σ_st``. Returns ``(id, betweenness
    DOUBLE)`` for nodes with positive score.

    Float by necessity (the σ ratios are arbitrary rationals), so this
    is unit-tested against a reference implementation, NOT hash-gated —
    exactly the bm25/pca house rule; the integer-exact sibling
    :func:`stress_centrality` carries the family's driver row.

    ``sources`` (a DataFrame of ``id``) restricts the s side — the
    standard sampled approximation (Brandes & Pich 2007). Without an
    explicit ``closure=`` this delegates to :func:`betweenness_sampled`
    with the given sources as pivots and ``scale=False`` — the SAME
    restricted sum (unit-tested equal to the closure composition), but
    over the k·|V| pivot BFS relation; the all-pairs closure is never
    materialized (the b-leg of the triple join inherently reads the
    whole closure, so merely filtering the s-leg never shrinks the
    state; :func:`edge_betweenness` routes its ``sources=`` the same way).
    ``max_iter`` keeps the closure path's ≤ max_iter+1-hop horizon
    convention, truncating at the bound instead of erroring. With
    ``closure=`` given, the triple join runs as before (right when the
    closure already exists for stress/closeness siblings).
    """
    if sources is not None and closure is None:
        return betweenness_sampled(
            edges, pivots=sources, scale=False,
            max_iter=max_iter + 1, horizon=True)
    C = closure if closure is not None else shortest_path_counts(
        edges, max_iter=max_iter)
    a = C.select(F.col("src").alias("s"), F.col("dst").alias("v"),
                 F.col("depth").alias("d1"), F.col("sigma").alias("sig1"))
    if sources is not None:
        a = a.join(sources.select(F.col("id").alias("s")).distinct(), "s")
    b = C.select(F.col("src").alias("v"), F.col("dst").alias("t"),
                 F.col("depth").alias("d2"), F.col("sigma").alias("sig2"))
    st = C.select(F.col("src").alias("s"), F.col("dst").alias("t"),
                  F.col("depth").alias("dst_d"),
                  F.col("sigma").alias("sig_st"))
    return (
        a.join(b, "v")
        .filter(F.col("s") != F.col("t"))
        .join(st, ["s", "t"])
        .filter(F.col("d1") + F.col("d2") == F.col("dst_d"))
        .groupBy(F.col("v").alias("id"))
        .agg(F.sum(
            (F.col("sig1") * F.col("sig2")).cast("double") / F.col("sig_st")
        ).alias("betweenness"))
    )


def edge_betweenness(edges: DataFrame,
                     sources: DataFrame | None = None,
                     closure: DataFrame | None = None,
                     max_iter: int = 100) -> DataFrame:
    """Edge betweenness (Girvan & Newman 2002 — the quantity their
    community-splitting algorithm repeatedly removes the maximum of):
    ``eb(u→v) = Σ_{s,t} σ_st(u→v) / σ_st``, the fraction of shortest
    paths traversing each edge. Returns ``(src, dst, betweenness
    DOUBLE)`` for edges on at least one shortest path.

    Two physical strategies behind one logical result:

    * **closure composition** (default, and whenever ``closure=`` is
      passed to share one σ materialization with
      :func:`betweenness_centrality` / :func:`stress_centrality`): a
      shortest s→t path uses edge (u,v) iff ``d(s,u) + 1 + d(v,t) =
      d(s,t)``, and then ``σ_st(u→v) = σ_su · σ_vt`` — three keyed
      joins over the closure. The closure has no diagonal, so the
      s=u / v=t legs join through an appended ``(x, x, 0, 1)``
      diagonal over the edge-incident nodes. Closure-sized state —
      affordable exactly when the closure already exists.
    * **k-pivot Brandes pass** (``sources=`` without an explicit
      closure): delegates to :func:`edge_betweenness_sampled` with the
      given sources as pivots and ``scale=False`` — the SAME
      restricted sum ``Σ_{s∈sources} Σ_t σ_st(e)/σ_st`` (unit-tested
      equal to the closure path), but state is the k·|V| pivot BFS
      relation and the all-pairs closure is never materialized. This
      is the 100 TB path (Brandes & Pich 2007 sampling). ``max_iter``
      keeps the closure path's horizon convention — paths of up to
      ``max_iter + 1`` hops, the depths :func:`shortest_path_counts`
      settles — truncating at the bound instead of erroring.

    Float by necessity (σ ratios), same house rule as
    :func:`betweenness_centrality`: unit-tested against hand values;
    the driver row hash-gates it ONLY on the chain fixture where every
    σ=1 makes the sum integer-exact (closed form ``i·(L-i)`` for the
    i-th edge of an L-chain).
    """
    if sources is not None and closure is None:
        return edge_betweenness_sampled(
            edges, pivots=sources, scale=False,
            max_iter=max_iter + 1, horizon=True)
    C = closure if closure is not None else shortest_path_counts(
        edges, max_iter=max_iter)
    base = (edges.select("src", "dst")
            .filter(F.col("src") != F.col("dst")).distinct())
    nodes = _endpoints(base).distinct()
    diag = nodes.select(
        F.col("id").alias("src"), F.col("id").alias("dst"),
        F.lit(0).cast("long").alias("depth"),
        F.lit(1).cast("long").alias("sigma"))
    aug = union_all([C.select("src", "dst", "depth", "sigma"), diag], by_name=True)
    a = aug.select(F.col("src").alias("s"), F.col("dst").alias("u"),
                   F.col("depth").alias("d1"), F.col("sigma").alias("sig1"))
    if sources is not None:
        a = a.join(sources.select(F.col("id").alias("s")).distinct(), "s")
    e = base.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    b = aug.select(F.col("src").alias("w"), F.col("dst").alias("t"),
                   F.col("depth").alias("d2"), F.col("sigma").alias("sig2"))
    st = C.select(F.col("src").alias("s"), F.col("dst").alias("t"),
                  F.col("depth").alias("dst_d"),
                  F.col("sigma").alias("sig_st"))
    return (
        a.join(e, "u")
        .join(b, "w")
        .filter(F.col("s") != F.col("t"))
        .join(st, ["s", "t"])
        .filter(F.col("d1") + 1 + F.col("d2") == F.col("dst_d"))
        .groupBy(F.col("u").alias("src"), F.col("w").alias("dst"))
        .agg(F.sum(
            (F.col("sig1") * F.col("sig2")).cast("double") / F.col("sig_st")
        ).alias("betweenness"))
    )


#: auto-dispatch crossover for girvan_newman_split — same rationale as
#: strongly_connected_components' 5M: above this many undirected edge
#: rows the per-round |V|² σ closure stops being safe to materialize
_GN_AUTO_EDGE_LIMIT = 5_000_000
#: pivot budget the auto dispatch uses when it picks the sampled
#: estimator (Brandes & Pich 2007 report stable rankings well below
#: this on million-node graphs; GN only needs the per-round argmax)
_GN_AUTO_PIVOTS = 64


@scoped
def girvan_newman_split(edges: DataFrame, n_removals: int = 1,
                        max_iter: int = 100,
                        n_pivots: int | None = None, seed: int = 0,
                        pick: str | None = None,
                        method: str = "auto"
                        ) -> "tuple[DataFrame, DataFrame]":
    """Girvan & Newman 2002 divisive community detection, the fixed-budget
    form: ``n_removals`` rounds of (recompute edge betweenness over the
    UNDIRECTED view → delete the max-eb edge pair → repeat), then label
    the survivors' connected components. Returns ``(removed, labels)``:
    ``removed(round, src, dst, betweenness)`` in removal order and
    ``labels(id, component)`` over the original node set — including
    nodes whose only edges are self-loops (labeled with their own id,
    exactly what :func:`connected_components` yields for isolates).

    ``n_pivots=`` switches each round's betweenness to the k-pivot
    sampled estimator :func:`edge_betweenness_sampled` (the large-graph
    configuration the paper itself recommends, via Brandes & Pich
    2007): per-round state drops from the |V|² σ closure to a k·|V|
    BFS relation. Exact mode is right for small graphs and shares one
    closure per round. The sampled branch runs bounded-horizon at
    ``max_iter + 1`` hops — the same silent truncation depth the exact
    branch's closure settles — so both modes see identical path sets
    and the all-pivots==exact equivalence holds at every diameter.

    ``method`` picks between them (mirroring
    :func:`strongly_connected_components`'s dispatch): ``"exact"`` and
    ``"sampled"`` force a mode (sampled defaults to 64 pivots when
    ``n_pivots`` is None); ``"auto"`` (default — the scale-safe
    setting) uses exact below ~5M undirected edge rows and the
    64-pivot estimator above, unless an explicit ``n_pivots`` already
    chose sampled. One count job on the already-checkpointed
    undirected view decides.

    ``pick="modularity"`` returns the cut with maximum Newman
    modularity instead of the final one: every prefix cut (0 removals
    .. n_removals) is scored with :func:`modularity_scaled` against the
    ORIGINAL graph (Newman & Girvan 2004 §V's stopping rule) and
    ``labels`` becomes the argmax cut's components (ties → fewest
    removals; the comparison is on the integer ``q_scaled`` sum, so the
    argmax is engine-exact). ``removed`` still records the full prefix.

    Determinism: the max-eb choice orders by betweenness rounded to
    integer MICRO-units, then (src, dst) ascending over the canonical
    ``src < dst`` representative. Betweenness is a distributed float
    sum whose accumulation order varies run-to-run, so near-ties
    (within 1e-6) would otherwise flip the argmax across runs; with
    micro-unit rounding the output is deterministic given eb values
    that differ by more than 1e-6 (genuinely closer scores tie-break
    by edge id, also deterministically).

    Scale shape: each round is one eb computation (closure-sized exact,
    or k·|V| sampled), a 1-row collect of the max, and nothing else.
    Exact mode is additionally PER-COMPONENT INCREMENTAL: shortest
    paths never cross components, so after round 1's full closure each
    removal recomputes eb only for the component it touched (one
    left-anti against the cached values + a component-sized closure)
    and component labels update by a CC run over the affected node set
    alone — on fragmenting graphs later rounds shrink with the largest
    touched component (bench: `girvan_newman_r2_incr`). Sampled mode
    keeps full recompute: a k-pivot estimate is NOT component-
    decomposable (the pivot draw is over the whole node set, so a
    per-component re-estimate with the same budget would change the
    estimator, and with a proportional budget would change the seed
    stream — either way the removal sequence would diverge from a full
    recompute).
    superseded checkpoints — the previous round's undirected view, the
    exact path's σ closure, the sampled path's BFS state — are freed
    eagerly, so live storage is one round's state, not
    O(n_removals). ``n_removals`` is a small constant (the dendrogram
    prefix you actually inspect), NOT |E| — the full dendrogram is
    O(|E|) rounds and out of scope by design. ``pick="modularity"``
    adds one :func:`connected_components` + one integer modularity
    aggregation per round.
    """
    if pick not in (None, "modularity"):
        raise ValueError(f"unknown pick={pick!r}; use None or 'modularity'")
    if method not in ("auto", "exact", "sampled"):
        raise ValueError(
            f"unknown method={method!r}; use 'auto', 'exact' or 'sampled'")
    spark = edges.sparkSession
    # flatten the input plan first: localCheckpoint on a filtered
    # multi-branch union view can hit Catalyst's constraint-rewrite
    # "key not found" (seen on the 7-label tpch_graph edges view) —
    # checkpointing the bare (src, dst) projection up front gives every
    # downstream checkpoint a plain LogicalRDD base
    # non-eager e0: all_nodes' eager checkpoint job materializes it;
    # und0 is likewise materialized by its first consumer (the dispatch
    # count, the modularity baseline, or round 1's edge prep)
    e0 = checkpoint(edges.select("src", "dst"), eager=False)
    # node set from the RAW edges — a node whose only edges are
    # self-loops must still appear in the labels output
    all_nodes = checkpoint(_endpoints(e0).distinct(), eager=True)
    und0 = e0.filter(F.col("src") != F.col("dst"))
    und0 = checkpoint(union_all([und0, und0.select(F.col("dst").alias("src"),
                                        F.col("src").alias("dst"))]).distinct(), eager=False)
    und = und0
    if method == "exact":
        n_pivots = None
    elif method == "sampled":
        n_pivots = _GN_AUTO_PIVOTS if n_pivots is None else n_pivots
    elif n_pivots is None and und0.count() > _GN_AUTO_EDGE_LIMIT:
        n_pivots = _GN_AUTO_PIVOTS

    def _q_scaled(cut_und):
        labels = connected_components(cut_und, nodes=all_nodes).select(
            "id", F.col("component").alias("community"))
        q = modularity_scaled(und0, labels).agg(
            F.sum("q_scaled")).collect()[0][0]
        return int(q or 0)

    def _q_from_labels(labels):
        q = modularity_scaled(
            und0, labels.select("id", F.col("component").alias("community"))
        ).agg(F.sum("q_scaled")).collect()[0][0]
        return int(q or 0)

    best_r = 0
    best_q = _q_scaled(und0) if pick == "modularity" else 0
    removed = []
    eb_micro = F.round(F.col("betweenness") * 1e6).cast("long")
    # Exact mode is INCREMENTAL per component: shortest paths never
    # cross components, so eb decomposes exactly over components —
    # removing an edge only changes betweenness inside the component it
    # belonged to (and possibly split). Round 1 computes the full
    # closure once; each later round recomputes ONLY the affected
    # component's edges against cached values for the rest, and the
    # component labels update by re-running CC on the affected node set
    # alone (min-id labels of disjoint node sets never collide with the
    # untouched components'). On fragmenting graphs round r's closure
    # cost shrinks with the largest touched component instead of
    # staying |V|²; identical removal sequences by construction (same
    # per-edge sums, same micro-rounded tie-break).
    eb_cache = None   # (src, dst, betweenness) over the CURRENT und
    comp = None       # (id, component) over all_nodes for the CURRENT und
    # (guide §1.2 — don't compute things you throw away): the
    # removal sequence never reads the labels, so all label work is
    # DEFERRED into the returned labels DataFrame (computed on first
    # access, see loopstate.Deferred) unless pick="modularity" consumes
    # labels internally every round. Concretely: the exact path's full
    # CC init runs only when a second round (or modularity scoring)
    # needs it, the FINAL round's incremental comp update moves into
    # the labels thunk, and the final round's eb-cache update — dead
    # work in every mode, nothing reads eb_cache after the last argmax
    # — is skipped outright.
    defer_labels = pick != "modularity"
    n_rounds = int(n_removals)
    pending_a = None  # final removal awaiting its deferred comp update

    def _ensure_comp():
        nonlocal comp
        if comp is None:
            comp = checkpoint(connected_components(und0, nodes=all_nodes), eager=True)

    def _split(comp, und, a):
        """comp after removing an edge at ``a``: CC re-run over ``a``'s
        component X alone; returns (new comp, X's ids, X's edges)."""
        comp_a = comp.filter(F.col("id") == a) \
            .select("component").collect()[0][0]
        x_ids = checkpoint(comp.filter(F.col("component") == comp_a)
                           .select("id"), eager=True)
        sub = checkpoint(und.join(x_ids.select(F.col("id").alias("src")),
                                  "src", "left_semi"), eager=True)
        new_comp = checkpoint(union_all(
            [comp.filter(F.col("component") != comp_a),
             connected_components(sub, nodes=x_ids)], by_name=True), eager=True)
        return new_comp, x_ids, sub

    def _top(eb: DataFrame) -> list:
        return (eb.filter(F.col("src") < F.col("dst"))
                .orderBy(eb_micro.desc(), F.col("src").asc(), F.col("dst").asc())
                .limit(1).collect())

    @scoped
    def _sampled_top(und: DataFrame) -> list:
        # max_iter+1 hops, silently truncated — exactly the depth the
        # exact branch's shortest_path_counts settles, keeping the two
        # modes' path sets identical at any diameter. The round's BFS state is freed
        # when this scope returns the collected row.
        return _top(_sampled_betweenness(
            und, n_pivots, seed, max_iter + 1, scale=True, pivots=None,
            horizon=True, want_edges=True))

    if n_pivots is None:
        C = shortest_path_counts(und, max_iter=max_iter)
        eb_cache = checkpoint(edge_betweenness(und, closure=C), eager=True)
        free(C)
        if not defer_labels:
            _ensure_comp()
    for r in range(n_rounds):
        last = r == n_rounds - 1
        top = _sampled_top(und) if n_pivots is not None else _top(eb_cache)
        if not top:
            break
        a, b, score = top[0]["src"], top[0]["dst"], top[0]["betweenness"]
        removed.append((r, a, b, float(score)))
        prev = und
        und = checkpoint(und.filter(
            ~((F.col("src") == a) & (F.col("dst") == b))
            & ~((F.col("src") == b) & (F.col("dst") == a))
        ), eager=True)
        if prev is not und0:  # und0 backs the modularity scoring
            free(prev)
        if n_pivots is None:
            if last and defer_labels:
                # nothing downstream reads comp or eb_cache eagerly —
                # the final incremental comp update runs inside the
                # labels thunk on first access, and the eb update is
                # dead work (no further argmax)
                pending_a = a
                continue
            _ensure_comp()
            # affected component X = a's component BEFORE the removal
            # (b shares it — they shared an edge)
            new_comp, x_ids, sub = _split(comp, und, a)
            free(comp)
            comp = new_comp
            if not last:
                # eb_cache serves ONLY the next round's argmax — on the
                # final round the update is dead work in every mode
                C = shortest_path_counts(sub, max_iter=max_iter)
                eb_sub = edge_betweenness(sub, closure=C)
                new_cache = checkpoint(union_all(
                    [eb_cache.join(x_ids.select(F.col("id").alias("src")),
                                   "src", "left_anti"), eb_sub],
                    by_name=True), eager=True)
                free(C)
                free(eb_cache)
                eb_cache = new_cache
            free(sub)
            free(x_ids)
        if pick == "modularity":
            q = _q_from_labels(comp) if n_pivots is None else _q_scaled(und)
            if q > best_q:
                best_r, best_q = r + 1, q
    rem_df = local_df(
        spark, removed, "round long, src long, dst long, betweenness double")
    if pick == "modularity" and best_r < len(removed):
        # ONE anti-join against the argmax prefix's removed pairs (both
        # orientations) — plan depth constant in best_r, vs the per-edge
        # filter chain that grew O(prefix) predicates
        rem_pairs = local_df(
            spark, [(a, b) for _rr, a, b, _s in removed[:best_r]],
            "src long, dst long")
        sym = union_all([rem_pairs, rem_pairs.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"))])
        cut = und0.join(sym, ["src", "dst"], "left_anti")
        labels = connected_components(cut, nodes=all_nodes)
    elif n_pivots is None and pending_a is not None:
        # exact mode with a deferred final round: the thunk applies the
        # final removal's incremental comp update (or, when no
        # incremental state was ever built — single-round calls — one
        # CC over the final cut). und/comp/all_nodes stay live until
        # the thunk runs; same min-id labeling as the eager form,
        # computed on first access only.
        def _labels_exact(und_f=und, comp_f=comp, a_f=pending_a):
            if comp_f is None:
                return connected_components(und_f, nodes=all_nodes)
            return _split(comp_f, und_f, a_f)[0]

        labels = Deferred(spark, _labels_exact, [und, comp, all_nodes])
    elif n_pivots is None and comp is not None:
        # the incrementally-maintained labels ARE connected_components
        # of the final cut (same min-id labeling over the same
        # partition of all_nodes)
        labels = comp
    elif defer_labels:
        # sampled mode (or an exact call whose loop never removed an
        # edge): one CC over the final cut, on first access
        labels = Deferred(
            spark, lambda und_f=und: connected_components(und_f, nodes=all_nodes),
            [und, all_nodes])
    else:
        labels = connected_components(und, nodes=all_nodes)
    return rem_df, labels


#: re-checkpoint a growing union of per-level slices (the frontier BFS's
#: settled set, greedy_coloring's colored set) every this many levels —
#: bounds the plan depth on deep-diameter graphs while keeping the extra
#: full-relation writes to 1/32 of rounds
_SEEN_COLLAPSE_LEVELS = 32

#: broadcast a per-level BFS state relation (frontier / settled set /
#: dependency slice) into its join when its MEASURED row count is at most
#: this — ~24 B/row of long columns keeps the built relation well under
#: the guide's few-hundred-MB broadcast comfort zone (§3.1). The counts
#: are exact (each level is counted when its checkpoint materializes), so
#: this is a runtime-stats decision, not an estimate: small levels join
#: with ZERO exchanges; levels above the bound fall back to the
#: co-partitioned sort-merge path against the cached edge relation.
_BCAST_STATE_MAX_ROWS = 1_000_000


#: edge-relation rows above which the BFS loops pay one extra shuffle to
#: hold the edges as a hash(src)-partitioned, sorted, CACHED relation —
#: ``InMemoryRelation`` preserves outputPartitioning/outputOrdering, so
#: every per-level join then reads co-located pre-sorted buckets with NO
#: Exchange and NO Sort on the O(|E|) side (one edges shuffle total
#: instead of one per BFS level, guide §2.4). Below the bound the plain
#: checkpoint wins: fresh-JVM A/B at sf0.1 (270k undirected rows, 6.7k
#: pivots, horizon 9) measured the cached form ~20-25% SLOWER per level
#: (columnar decode per scan > the tiny local exchange it saves), while
#: the exchange it avoids grows linearly with |E| — the same
#: runtime-stats auto-dispatch pattern as SCC's closure/coloring 5M bound.
_EDGE_CACHE_MIN_ROWS = 50_000_000


def _prep_edge_rel(edges: DataFrame, dedup: bool = True) -> DataFrame:
    """The loop-invariant edge relation for iterative BFS passes:
    ``(src, dst)``, self-loops dropped, optionally deduped, materialized
    with ONE job (non-eager checkpoint whose first action is the count
    that drives the size dispatch below).

    Above ``_EDGE_CACHE_MIN_ROWS`` the relation is additionally
    repartitioned on ``src``, sorted and ``cache``\\ d so the per-level
    joins are exchange- and sort-free on the edge side (see the constant's
    rationale); the underlying checkpoint stays alive as the cache's
    recompute source (cache eviction re-reads the checkpoint blocks, never
    the original input). Both are owned by the caller's scope.
    """
    e = (edges.filter(F.col("src") != F.col("dst"))
         .select("src", "dst"))
    if dedup:
        e = e.distinct()
    e = checkpoint(e, eager=False)
    n = e.count()
    if n >= _EDGE_CACHE_MIN_ROWS:
        spark = edges.sparkSession
        num_partitions = int(
            spark.conf.get("spark.sql.shuffle.partitions", "32"))
        e = cache(e.repartition(num_partitions, "src")
                  .sortWithinPartitions("src", "dst"))
        e.count()
    return e


def _frontier_bfs(e: DataFrame, seeds: DataFrame, max_iter: int,
                  agg: Column | None = None):
    """The multi-source frontier BFS every BFS-shaped operator here runs:
    per-level checkpointed slices of a relation keyed ``(s, id)``, where
    ``s`` is the source a row belongs to and ``id`` a node reached from
    it. ``seeds(s, id, …)`` is level 0 — each source itself, at hop
    distance = slice index, or (:func:`shortest_path_counts`) its
    out-edges, one hop further. Level k+1 is level k ⋈ ``e`` on ``id``,
    minus the rows that return to ``s`` and every settled ``(s, id)``
    (left anti-join: first settlement = min depth), then grouped by
    ``(s, id)`` with ``agg`` — or deduplicated when ``agg`` is None. ``agg`` reads the joined rows: the frontier's own columns, with
    ``id`` the new node and ``pred`` the frontier node it was reached
    from. All depth-k paths arrive in round k, so an aggregate such as
    ``sum(sigma)`` (σ_s(id), the Brandes path count) or ``min(pred)``
    (a deterministic BFS-tree parent) is complete when written.

    Per level the loop runs ONE job: a non-eager checkpoint whose
    materializing count doubles as the emptiness test. The settled side
    is a union of the per-level slices, never a re-written whole; it is
    re-checkpointed every ``_SEEN_COLLAPSE_LEVELS`` levels so
    deep-diameter graphs pay linear, not quadratic, plan work. ``e``
    comes from :func:`_prep_edge_rel`, so the edge side of the join
    needs no Exchange and no Sort at any scale; a frontier or settled
    set whose MEASURED count is ≤ ``_BCAST_STATE_MAX_ROWS`` is also
    broadcast, removing the remaining exchanges (guide §2.4/§3.1).
    Every checkpoint is owned by the caller's scope.

    Returns ``(slices, counts)``: the non-empty levels (list index =
    depth) and their exact row counts. At most ``max_iter`` levels past
    the seeds run; a caller that must not truncate checks
    ``len(slices) > max_iter``.
    """
    frontier = checkpoint(seeds, eager=False)
    n = frontier.count()
    slices, counts = [frontier], [n]
    settled = frontier.select("s", "id")
    ej = e.withColumnRenamed("src", "pred")
    while n and len(slices) <= max_iter:
        fr = F.broadcast(frontier) if n <= _BCAST_STATE_MAX_ROWS else frontier
        sn = F.broadcast(settled) \
            if sum(counts) <= _BCAST_STATE_MAX_ROWS else settled
        step = (fr.withColumnRenamed("id", "pred").join(ej, "pred")
                .withColumnRenamed("dst", "id")
                .filter(F.col("s") != F.col("id"))
                .join(sn, ["s", "id"], "left_anti"))
        nxt = checkpoint(
            step.select("s", "id").distinct() if agg is None
            else step.groupBy("s", "id").agg(agg), eager=False)
        n = nxt.count()
        if not n:
            break
        slices.append(nxt)
        counts.append(n)
        settled = union_all([settled, nxt.select("s", "id")], by_name=True)
        if (len(slices) - 1) % _SEEN_COLLAPSE_LEVELS == 0:
            settled = checkpoint(settled, eager=True)
        frontier = nxt
    return slices, counts


def _brandes_backward(slices: list, counts: list, e: DataFrame,
                      want_edges: bool):
    """Brandes' level-synchronous backward accumulation over the pivot
    BFS slices ``slices[d](s, id, sigma)``: from the deepest layer
    upward, per level one edge join between adjacent depth slices and
    one (s, v)-keyed aggregation computes the node dependency ``δ_s(v)
    = Σ_{w: d(s,w)=d(s,v)+1, (v,w)∈E} σ_sv/σ_sw · (1 + δ_s(w))``
    (Brandes 2001). The summand feeding that aggregation IS the
    per-EDGE dependency ``δ_s(v,w) = σ_sv/σ_sw · (1 + δ_s(w))``
    (Brandes 2008, "On variants of shortest-path betweenness centrality
    and their generic computation", the edge-betweenness accumulation),
    so ``want_edges`` taps the same join with a second, (v, w)-keyed
    aggregation per level. Returns ``(node_parts, edge_parts)`` —
    per-level relations the caller unions and aggregates.

    The slices are consumed directly (no ``depth == d`` filters over
    their union, so ``maxd = len(slices) - 1`` needs no job); per-level relations
    whose exact counts are small are broadcast into their joins, and
    ``e`` is the :func:`_prep_edge_rel` cached relation, so a level
    with small state runs with zero exchanges on the edge side. In
    edge mode, the level's 3-way join (``terms``) is materialized by
    the SAME job that checkpoints the level's δ (non-eager checkpoint
    under an eager one) — one job per level instead of two. Per-level
    δ checkpoints stay live (both parts lists reference them through
    lineage-truncated plans, so freeing early would lose data); the
    caller's scope frees them once its result no longer reads them.
    ~diameter rounds; no driver-side values at all.
    """
    maxd = len(slices) - 1
    node_parts: list = []
    edge_parts: list = []
    delta = slices[maxd].select("s", "id", F.lit(0.0).alias("delta"))
    delta_rows = counts[maxd]
    ej = e.withColumnRenamed("src", "id")
    for d in range(maxd - 1, -1, -1):
        succ = (slices[d + 1].join(delta, ["s", "id"])
                .select("s", F.col("id").alias("dst"),
                        F.col("sigma").alias("__sw"),
                        F.col("delta").alias("__dw")))
        if max(counts[d + 1], delta_rows) <= _BCAST_STATE_MAX_ROWS:
            succ = F.broadcast(succ)
        lvl = slices[d]
        fr = F.broadcast(lvl) if counts[d] <= _BCAST_STATE_MAX_ROWS else lvl
        terms = (
            fr.join(ej, "id")
            .join(succ, ["s", "dst"])
            .select("s", "id", "dst",
                    (F.col("sigma").cast("double") / F.col("__sw")
                     * (F.lit(1.0) + F.col("__dw"))).alias("__term")))
        if want_edges:
            # both the edge aggregation and the node-δ recursion read
            # this level's join — materialize it once instead of
            # executing the 3-way join twice (the backward pass's
            # dominant work at scale). Non-eager: the δ checkpoint's
            # materializing job below computes it as a side effect.
            terms = checkpoint(terms, eager=False)
            edge_parts.append(
                terms.groupBy(F.col("id").alias("src"), "dst")
                .agg(F.sum("__term").alias("delta")))
        contrib = terms.groupBy("s", "id").agg(
            F.sum("__term").alias("delta"))
        if counts[d] <= _BCAST_STATE_MAX_ROWS:
            contrib = F.broadcast(contrib)
        delta = checkpoint(
            lvl.select("s", "id")
            .join(contrib, ["s", "id"], "left")
            .select("s", "id",
                    F.coalesce("delta", F.lit(0.0)).alias("delta")), eager=True)
        delta_rows = counts[d]
        if d > 0:  # depth 0 is the pivot itself (v = s: excluded)
            node_parts.append(delta)
    return node_parts, edge_parts


@scoped
def betweenness_sampled(edges: DataFrame, n_pivots: int = 16,
                        seed: int = 0, max_iter: int = 100,
                        scale: bool = True,
                        pivots: DataFrame | None = None,
                        horizon: bool = False) -> DataFrame:
    """k-pivot sampled Brandes betweenness (Brandes & Pich 2007,
    "Centrality Estimation in Large Networks"): the production estimator
    for graphs where the all-pairs σ closure behind
    :func:`betweenness_centrality` cannot be materialized. Estimator:
    ``b̂(v) = (n/k) · Σ_{s∈S} δ_s(v)`` over ``k`` hash-sampled pivot
    sources ``S`` — unbiased for every ``v ∉ S`` (each source term is
    sampled uniformly without replacement), with the exact Brandes
    per-source dependency ``δ_s(v) = Σ_{w: d(s,w)=d(s,v)+1, (v,w)∈E}
    σ_sv/σ_sw · (1 + δ_s(w))``. With ``n_pivots >= n`` every node is a
    pivot and the result is EXACT betweenness (ordered source-target
    pairs, same convention as :func:`betweenness_centrality`; halve for
    the undirected convention).

    Scale shape — this is the 100 TB path: state is the k·|V| pivot
    BFS relation (``(s, v, depth, σ)``), never the |V|² closure.
    Forward: :func:`_frontier_bfs` with a σ-accumulating ``(s, id)``
    sum; all k pivots ride the same frontier joins, O(frontier) per
    round. Backward: :func:`_brandes_backward` — Brandes' accumulation
    level-synchronously from the deepest BFS layer up, per level one
    edge join between adjacent depth slices and one ``(s, v)``
    aggregation; ~diameter rounds each way, no global window, no
    driver-side node state (the only driver values are three scalars:
    the node count, the pivot count, the max depth).

    Pivots are the top-k by ``md5(seed || id)`` — a deterministic
    uniform sample, reproducible across runs (house rule: no RNG in
    operators); ``pivots=`` (a DataFrame of ``id``) substitutes an
    explicit source set for the hash sample — the
    ``betweenness_centrality(sources=)`` routing, with ``scale=False``
    so scores stay the restricted sum; pivot ids not in the graph are
    ignored. ``horizon=True`` truncates the BFS at ``max_iter`` hops
    instead of erroring (bounded-horizon betweenness). ``scale=False``
    returns the raw ``Σ_{s∈S} δ_s(v)``. Returns ``(id,
    betweenness DOUBLE)`` for nodes with positive score. Float by
    necessity, so the estimator is unit-tested against a replica; the
    restricted-sum route carries a driver hash gate on the chain
    fixture where σ=1 makes it integer-exact (`graph_similarity` op
    `betws`).
    """
    return checkpoint(_sampled_betweenness(
        edges, n_pivots, seed, max_iter, scale, pivots, horizon,
        want_edges=False), eager=True)


@scoped
def edge_betweenness_sampled(edges: DataFrame, n_pivots: int = 16,
                             seed: int = 0, max_iter: int = 100,
                             scale: bool = True,
                             pivots: DataFrame | None = None,
                             horizon: bool = False) -> DataFrame:
    """k-pivot sampled EDGE betweenness — Brandes & Pich 2007 pivot
    sampling applied to Brandes 2008's edge-betweenness accumulation:
    ``êb(u→v) = (n/k) · Σ_{s∈S} δ_s(u,v)`` with the per-edge dependency
    ``δ_s(u,v) = σ_su/σ_sv · (1 + δ_s(v))`` emitted by the same
    level-synchronous backward pass as :func:`betweenness_sampled`
    (the summand feeding the node aggregation IS the edge dependency;
    :func:`_brandes_backward` taps it with a (u, v)-keyed aggregation).
    With every node a pivot the result is EXACT edge betweenness —
    unit-tested equal to :func:`edge_betweenness`.

    Scale shape — the 100 TB estimator the exact operator cannot be:
    state is the k·|V| pivot BFS relation, NEVER the |V|² σ closure
    (the exact operator's documented trade); forward and backward are
    each ~diameter rounds of frontier-sized keyed joins. The only
    driver-side values are three scalars (node count, pivot count, max
    depth).

    ``pivots=`` (a DataFrame of ``id``) substitutes an explicit source
    set for the hash sample — :func:`edge_betweenness` routes its
    ``sources=`` here with ``scale=False`` so scores stay the
    restricted sum; pivot ids not in the graph are ignored.
    ``horizon=True`` truncates the BFS at ``max_iter`` hops instead of
    erroring — bounded-horizon betweenness (only paths of ≤ max_iter
    hops count), the web-graph deployment mode where full-diameter
    convergence is latency-bound.

    Pivot choice, determinism, float policy: exactly
    :func:`betweenness_sampled` (seeded-md5 top-k, no RNG in
    operators; float by necessity → unit-tested, not hash-gated).
    Returns
    ``(src, dst, betweenness DOUBLE)`` for edges with positive score.
    """
    return checkpoint(_sampled_betweenness(
        edges, n_pivots, seed, max_iter, scale, pivots, horizon,
        want_edges=True), eager=True)


def _sampled_betweenness(edges: DataFrame, n_pivots: int, seed: int,
                         max_iter: int, scale: bool,
                         pivots: DataFrame | None, horizon: bool,
                         want_edges: bool) -> DataFrame:
    """The shared body of :func:`betweenness_sampled` (node scores) and
    :func:`edge_betweenness_sampled` (``want_edges``: edge scores). The
    result is lazy over the BFS and backward-pass checkpoints, which the
    caller's scope owns."""
    spark = edges.sparkSession
    key = ["src", "dst"] if want_edges else ["id"]
    schema = ", ".join(f"{c} BIGINT" for c in key) + ", betweenness DOUBLE"
    e = _prep_edge_rel(edges)
    nodes = _endpoints(e).distinct()
    n = nodes.count()
    if n == 0:
        return local_df(spark, [], schema)
    if pivots is not None:
        pick = checkpoint(pivots.select("id").distinct().join(nodes, "id"))
    else:
        if n_pivots <= 0:
            raise ValueError("n_pivots must be positive")
        pick = checkpoint(nodes.orderBy(
            F.md5(F.concat_ws("|", F.lit(f"piv{seed}"),
                              F.col("id").cast("string"))).asc(),
            F.col("id").asc()).limit(int(n_pivots)))
    k = pick.count()
    if k == 0:
        return local_df(spark, [], schema)
    seeds = pick.select(F.col("id").alias("s"), "id",
                        F.lit(1).cast("long").alias("sigma"))
    slices, counts = _frontier_bfs(e, seeds, max_iter,
                                   F.sum("sigma").alias("sigma"))
    if not horizon and len(slices) > max_iter:
        raise RuntimeError(
            f"pivot sigma-BFS not settled in {max_iter} rounds "
            "— raise max_iter (or pass horizon=True for "
            "bounded-horizon betweenness)")
    node_parts, edge_parts = _brandes_backward(slices, counts, e,
                                               want_edges=want_edges)
    parts = edge_parts if want_edges else node_parts
    if not parts:
        return local_df(spark, [], schema)
    factor = float(n) / k if scale else 1.0
    return (union_all(parts, by_name=True).groupBy(*key)
            .agg((F.sum("delta") * F.lit(factor)).alias("betweenness"))
            .filter(F.col("betweenness") > 0))


@scoped
def hyperball_registers(edges: DataFrame, rounds: int = 3, p: int = 4,
                        nodes: DataFrame | None = None,
                        with_rounds: bool = False) -> DataFrame:
    """HyperBall ball-size sketches (Boldi & Vigna 2013, "In-Core
    Computation of Geometric Centralities with HyperBall").

    Per-node HLL registers of the OUT-ball ``B(v, r) = {v} ∪ {w :
    v →≤r w}``: round r+1 max-merges every node's registers with its
    out-neighbors' round-r registers — one sketched BFS step from EVERY
    source simultaneously. ``hll_estimate`` over a node's rows then
    approximates ``|B(v, r)|``; the per-round series is the neighborhood
    function (→ effective diameter, approximate closeness/distance
    distributions) that an exact all-pairs closure cannot afford at
    100 TB. State is O(nodes · min(2^p, |ball|)) register rows — the
    representation is sparse, only occupied buckets exist — and each
    round is ONE dst-keyed equi-join + one (id, bucket)
    map-side-combinable max: node+edge-linear, never pair-quadratic,
    the same shuffle shape as one PageRank iteration.

    Registers use the identical seeded-md5 60-bit hash as
    :func:`~judy_graph_db_spark.operators.sketch.hll_registers`, so the
    output is byte-identical across engines and partitionings and
    max-mergeable across graph shards. EXACT invariant (tested): after r
    rounds a node's rows equal ``hll_registers`` of its exact depth-≤r
    ball membership — approximation enters only at estimate time.

    Returns ``(id, bucket, max_rho)``; ``with_rounds`` prepends a
    ``round`` column carrying every 0..rounds prefix (the
    neighborhood-function input for :func:`hyperball_nf`).

    Reference: judy-graph-db stops at exact closures
    (`src/JudyGraph/Cypher.hs` `***`); parity-plus for corpus-scale
    graphs where exact all-pairs state is unaffordable.
    """
    from judy_graph_db_spark.operators.sketch import _HLL_W, _h60

    e = checkpoint(edges.select("src", "dst"), eager=True)
    if nodes is None:
        nodes = _endpoints(e).distinct()
    else:
        nodes = nodes.select("id").distinct()
    h = _h60(F.col("id"), "hll")
    regs = checkpoint(nodes.select(
        "id",
        (h % (1 << p)).alias("bucket"),
        F.when(F.shiftright(h, p) % (1 << _HLL_W) == 0,
               F.lit(_HLL_W + 1))
        .otherwise(F.lit(_HLL_W + 1)
                   - F.length(F.bin(F.shiftright(h, p) % (1 << _HLL_W))))
        .alias("max_rho"),
    ), eager=True)
    snapshots = [regs]
    for _ in range(rounds):
        contrib = (
            e.join(regs.select(F.col("id").alias("dst"), "bucket",
                               "max_rho"), "dst")
            .select(F.col("src").alias("id"), "bucket", "max_rho")
        )
        nxt = checkpoint(
            union_all([regs, contrib], by_name=True)
            .groupBy("id", "bucket")
            .agg(F.max("max_rho").alias("max_rho")), eager=True)
        snapshots.append(nxt)
        regs = nxt
    if with_rounds:
        return union_all([snap.select(F.lit(r).cast("long").alias("round"),
                                      "id", "bucket", "max_rho")
                          for r, snap in enumerate(snapshots)], by_name=True)
    return regs


def hyperball_nf(regs_with_rounds: DataFrame, p: int = 4) -> dict:
    """Neighborhood function from ``hyperball_registers(...,
    with_rounds=True)`` output: ``{round: NF(round)}`` where ``NF(r) =
    Σ_v est|B(v, r)|`` (Palmer et al. 2002's ANF, estimated per node with
    the standard bias-corrected HLL harmonic mean). The per-node estimate
    and the Σ_v fold are both relational — two chained aggregations over
    the ≤ rounds·nodes·2^p-row register relation — so only ``rounds``
    scalar rows ever reach the driver. Floats are fine here: the result
    is unit-tested for accuracy rather than oracle-hashed, like
    ``hll_estimate``."""
    m = 1 << p
    alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(
        m, 0.7213 / (1 + 1.079 / m)) if m < 128 else 0.7213 / (1 + 1.079 / m)
    per_node = regs_with_rounds.groupBy("round", "id").agg(
        F.sum(F.pow(F.lit(2.0), -F.col("max_rho"))).alias("z_occ"),
        F.count(F.lit(1)).alias("occ"),
    )
    zeros = F.lit(m) - F.col("occ")
    # empty buckets contribute 2^-0 = 1 each
    raw = F.lit(alpha * m * m) / (F.col("z_occ") + zeros)
    est = F.when((raw <= F.lit(2.5 * m)) & (zeros > 0),
                 F.lit(float(m)) * F.log(F.lit(float(m)) / zeros)
                 ).otherwise(raw)
    totals = (per_node.select("round", est.alias("est"))
              .groupBy("round").agg(F.sum("est").alias("nf"))
              .collect())
    return dict(sorted((row["round"], row["nf"]) for row in totals))


def effective_diameter(nf: dict, alpha: float = 0.9) -> float:
    """Effective diameter from a neighborhood function: the (interpolated)
    smallest r where NF(r) ≥ alpha · NF(max round) — the Boldi-Vigna /
    ANF headline statistic ("90% of connected pairs are within d hops").
    """
    if not nf:
        return 0.0
    target = alpha * nf[max(nf)]
    prev_r, prev_v = 0, 0.0
    for r in sorted(nf):
        v = nf[r]
        if v >= target:
            if r == 0 or v == prev_v:
                return float(r)
            return prev_r + (target - prev_v) / (v - prev_v)
        prev_r, prev_v = r, v
    return float(max(nf))


@scoped
def directed_triangle_census(edges: DataFrame) -> DataFrame:
    """Directed triangle census: motif-instance counts of the two directed
    triangle classes (Milo et al. 2002 network motifs; Wasserman & Faust's
    triad census restricted to complete triads) — ``cyclic`` (a→b→c→a
    rotations) and ``transitive`` (a→b, b→c plus the a→c shortcut, the
    feed-forward loop). Reciprocal edges contribute every orientation they
    complete, so counts are motif INSTANCES, not triangle sets.

    Plan: one pass canonicalizes each unordered pair to ``(min, max)``
    with two direction bits, then the same degree-ordered wedge join as
    :func:`triangle_count` enumerates each undirected triangle ONCE in
    O(m^1.5) worst-case (hub-robust), and the six direction bits classify
    it in pure codegen — no second pass over the edge relation, no
    per-permutation joins. The closing join and classification ride the
    same shuffles the undirected counter already pays.

    Returns two rows ``(kind STRING, n BIGINT)``.

    Reference: judy-graph-db has no motif surface (Cypher.hs stops at
    path patterns); parity-plus for graph-structure profiling.
    """
    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst")) \
        .distinct()
    und = checkpoint(
        e.groupBy(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"))
        .agg(
            F.max((F.col("src") < F.col("dst")).cast("long")).alias("fwd"),
            F.max((F.col("src") > F.col("dst")).cast("long")).alias("bwd")), eager=True)
    deg = (
        _endpoints(und, "a", "b")
        .groupBy("id").agg(F.count(F.lit(1)).alias("d"))
    )
    withd = (
        und.join(deg.select(F.col("id").alias("a"),
                            F.col("d").alias("da")), "a")
        .join(deg.select(F.col("id").alias("b"),
                         F.col("d").alias("db")), "b")
    )
    ka = F.struct(F.col("da").alias("d"), F.col("a").alias("i"))
    kb = F.struct(F.col("db").alias("d"), F.col("b").alias("i"))
    lower_first = ka < kb
    # u→v in (degree, id) order; fwd/bwd stay keyed to the (min-id → max-id)
    # direction so classification below is orientation-independent
    oriented = checkpoint(
        withd.select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(lower_first, kb).otherwise(ka).alias("kv"),
            "fwd", "bwd"), eager=True)
    free(und)
    o1 = oriented.select(F.col("u").alias("s"), F.col("v").alias("x"),
                         F.col("kv").alias("kx"),
                         F.col("fwd").alias("f1"), F.col("bwd").alias("b1"))
    o2 = oriented.select(F.col("u").alias("s"), F.col("v").alias("y"),
                         F.col("kv").alias("ky"),
                         F.col("fwd").alias("f2"), F.col("bwd").alias("b2"))
    o3 = oriented.select(F.col("u").alias("x"), F.col("v").alias("y"),
                         F.col("fwd").alias("f3"), F.col("bwd").alias("b3"))
    tri = (
        o1.join(o2, "s").filter(F.col("kx") < F.col("ky"))
        .join(o3, ["x", "y"])
    )

    def has(i, j, f, b):
        # edge i→j exists? f = (min-id → max-id) bit, b = the reverse bit
        return F.when(F.col(i) < F.col(j), F.col(f)).otherwise(F.col(b))

    hsx, hxs = has("s", "x", "f1", "b1"), has("x", "s", "f1", "b1")
    hsy, hys = has("s", "y", "f2", "b2"), has("y", "s", "f2", "b2")
    hxy, hyx = has("x", "y", "f3", "b3"), has("y", "x", "f3", "b3")
    cyc = hsx * hxy * hys + hsy * hyx * hxs
    trans = (hsx * hxy * hsy + hsy * hyx * hsx
             + hxs * hsy * hxy + hxy * hys * hxs
             + hys * hsx * hyx + hyx * hxs * hys)
    # oriented stays checkpointed — the returned plan scans it lazily
    sums = tri.agg(F.coalesce(F.sum(cyc), F.lit(0)).alias("cyc"),
                   F.coalesce(F.sum(trans), F.lit(0)).alias("tra"))
    return sums.select(F.explode(F.array(
        F.struct(F.lit("cyclic").alias("kind"),
                 F.col("cyc").cast("long").alias("n")),
        F.struct(F.lit("transitive").alias("kind"),
                 F.col("tra").cast("long").alias("n")),
    )).alias("r")).select("r.kind", "r.n")


def _path_end_distances(psym: DataFrame, max_rounds: int = 64,
                        allow_cycles: bool = False) -> DataFrame:
    """Distance from every node of a disjoint-PATHS graph to its nearest
    endpoint (degree-1 node), by pointer doubling along the path —
    O(log L) composition rounds over a 2·|edges|-row directed-walk state
    instead of the O(L) sequential peel waves the onion definition
    implies. ``psym`` must be the symmetric edge relation of components
    whose degrees are all ≤ 2 — with at least one degree-1 node each
    (disjoint simple paths) unless ``allow_cycles``.

    State per directed edge ``(v, u)``: the walk that starts at ``v``
    and steps first to ``u``, after ``2^t`` steps — either TERMINAL
    (``dist`` = distance from ``v`` to the endpoint in that direction)
    or continuing at node ``at`` with next hop ``nxt``. One
    self-composition per round; all rows are terminal after
    ``⌈log2(max path length)⌉`` rounds. Returns ``(id, end_dist)``.

    With ``allow_cycles`` the input may also contain cycle components
    (all-degree-2, no endpoint). Walks on a cycle never terminate; the
    loop instead stops at the first round where the non-terminal row
    count stops shrinking. That stall is exactly "only cycles remain":
    path distances-to-endpoint are contiguous (1..Dmax along each path),
    so whenever any pending path walk exists, some walk has remaining
    distance in (2^t, 2^(t+1)] and the next round terminates it. Cycle
    nodes are simply ABSENT from the result (the caller takes the
    complement); path nodes still get their exact ``end_dist``.
    """
    nbr = psym.groupBy("src").agg(
        F.min("dst").alias("n1"), F.max("dst").alias("n2"),
        F.count(F.lit(1)).alias("d"))
    # init: one step along each directed edge; direction u's continuation
    # is u's other neighbor (interior nodes have exactly two)
    st = checkpoint(
        psym.join(nbr.withColumnRenamed("src", "dst"), "dst")
        .select(
            F.col("src").alias("v"), F.col("dst").alias("u"),
            (F.col("d") == 1).alias("term"),
            F.lit(1).cast("long").alias("dist"),
            F.col("dst").alias("at"),
            F.when(F.col("n1") == F.col("src"), F.col("n2"))
            .otherwise(F.col("n1")).alias("nxt"),
        ), eager=True)
    prev_nonterm = -1
    for _ in range(max_rounds):
        nonterm = st.filter(~F.col("term")).count()
        if not nonterm:
            break
        if allow_cycles and nonterm == prev_nonterm:
            break  # stalled ⇒ every pending walk circles a cycle
        prev_nonterm = nonterm
        hop = st.select(F.col("v").alias("at"), F.col("u").alias("nxt"),
                        F.col("term").alias("t2"),
                        F.col("dist").alias("d2"),
                        F.col("at").alias("at2"), F.col("nxt").alias("n2x"))
        prev = st
        st = checkpoint(
            st.join(hop, ["at", "nxt"], "left")
            .select(
                "v", "u",
                F.when(F.col("term"), F.col("term"))
                .otherwise(F.col("t2")).alias("term"),
                F.when(F.col("term"), F.col("dist"))
                .otherwise(F.col("dist") + F.col("d2")).alias("dist"),
                F.when(F.col("term"), F.col("at"))
                .otherwise(F.col("at2")).alias("at"),
                F.when(F.col("term"), F.col("nxt"))
                .otherwise(F.col("n2x")).alias("nxt"),
            ), eager=True)
        free(prev)
    else:
        raise RuntimeError("_path_end_distances: walk did not terminate — "
                           "input is not a disjoint union of simple paths")
    ends = nbr.filter(F.col("d") == 1).select(
        F.col("src").alias("id"), F.lit(0).cast("long").alias("end_dist"))
    inner = st.filter(F.col("term")).groupBy(F.col("v").alias("id")).agg(
        F.min("dist").alias("end_dist"))
    return union_all([inner.join(ends.select("id"), "id", "left_anti"), ends], by_name=True)


@scoped
def onion_layers(edges: DataFrame, max_iter: int = 10000) -> DataFrame:
    """Onion decomposition (Hébert-Dufresne, Grochow & Allard 2016):
    refines coreness with the PEELING WAVE each node leaves in — layer 1
    is the outermost rim, deeper layers sit closer to the nucleus. The
    (coreness, layer) spectrum separates graphs the k-core profile alone
    cannot (tree-like vs loopy peripheries); a corpus-graph structural
    fingerprint.

    Definition: repeatedly remove ALL nodes of degree ≤ k in one wave
    (one layer), raising k to the remaining minimum degree whenever the
    wave would be empty; every node removed at threshold k has coreness
    k.

    The wave count on degree-≤2 components is O(component length) — a
    pure n-path peels in ⌈n/2⌉ strictly sequential waves, the same
    chain-shaped 100×-scale exposure SCC had before its trim — so those
    components are peeled OUT in closed form first: one CC pass splits
    off the components with max degree ≤ 2 (disjoint paths and cycles);
    a path node's layer is 1 + distance to its nearest endpoint
    (pointer-doubled in O(log L) rounds, coreness 1) and a cycle peels
    whole in the first k=2 wave (coreness 2). Only the residual — the
    components containing a degree-≥3 node — runs the wave loop, and its
    wave layers are shifted to the exact global numbering the one-loop
    definition produces (the k=1 trim phases run concurrently; the path
    phase can extend the k=1 era, and the cycles' k=2 wave is an extra
    wave iff no residual node peels at k=2). Each residual wave: one
    degree aggregation, one left join, two anti-joins on the shrinking
    symmetric edge set, one 2-long-row scalar pull.

    Returns ``(id, coreness, layer)`` (layer 1-based, global);
    zero-degree nodes of the input edge relation are absent only if they
    appear in no edge at all.
    """
    sym_all = checkpoint(_symmetric(edges), eager=True)
    deg0 = sym_all.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("d"))
    # cheap pre-check: one global degree aggregate decides whether the
    # CC component split can possibly pay for itself (it only exists to
    # separate degree-≤2 components from the residual)
    grow = deg0.agg(F.min("d").alias("gmin"), F.max("d").alias("gmax"),
                    F.count(F.lit(1)).alias("n")).collect()[0]
    if not grow["n"]:
        return local_df(edges.sparkSession, [], "id long, coreness long, layer long")
    out_parts = []
    w_p = 0

    if int(grow["gmax"]) <= 2:
        # EVERY component is a path or a cycle — closed form only, no
        # CC pass and no wave loop. Cycle nodes are the walks that never
        # reach an endpoint (absent from _path_end_distances' result).
        pl = checkpoint(_path_end_distances(sym_all, allow_cycles=True).select(
            "id", F.lit(1).cast("long").alias("coreness"),
            (F.col("end_dist") + 1).cast("long").alias("layer")
        ), eager=True)
        w_p = int(pl.agg(F.max("layer")).collect()[0][0] or 0)
        if w_p:
            out_parts.append(pl)
        cyc = deg0.select("id").join(pl.select("id"), "id", "left_anti")
        # global numbering: cycles survive the whole k=1 era (w_p waves)
        # untouched, then peel together in the first k=2 wave
        return union_all([cyc.select(
            "id", F.lit(2).cast("long").alias("coreness"),
            F.lit(w_p + 1).cast("long").alias("layer"))] + out_parts, by_name=True)

    has_cycles = False
    d2n = None
    if int(grow["gmin"]) >= 3:
        # no degree-≤2 node anywhere ⇒ no component can qualify for the
        # closed form — skip the CC split, the whole graph is residual
        sym = sym_all
    else:
        comp = connected_components(sym_all)
        cstat = (comp.join(deg0, "id").groupBy("component")
                 .agg(F.max("d").alias("dmax"), F.min("d").alias("dmin")))
        d2n = (checkpoint(comp.join(cstat.filter(F.col("dmax") <= 2), "component")
               .select("id", "dmin"), eager=True))

        # paths: layer = 1 + distance to nearest endpoint, coreness 1
        pn = d2n.filter(F.col("dmin") == 1).select("id")
        if pn.limit(1).count():
            psym = checkpoint(sym_all.join(pn.withColumnRenamed("id", "src"),
                                "src", "left_semi"), eager=True)
            pl = checkpoint(_path_end_distances(psym).select(
                "id", F.lit(1).cast("long").alias("coreness"),
                (F.col("end_dist") + 1).cast("long").alias("layer")
            ), eager=True)
            w_p = int(pl.agg(F.max("layer")).collect()[0][0] or 0)
            out_parts.append(pl)
            free(psym)

        has_cycles = bool(d2n.filter(F.col("dmin") == 2).limit(1).count())

        # residual: components with a degree-≥3 node run the wave loop
        rn = (comp.join(cstat.filter(F.col("dmax") >= 3), "component")
              .select("id"))
        sym = checkpoint(sym_all.join(rn.withColumnRenamed("id", "src"),
                           "src", "left_semi"), eager=True)
    nodes = checkpoint(sym.select(F.col("src").alias("id")).distinct(), eager=True)
    r_parts = []  # (peel_df, k, local_wave)
    k = 0
    wave = 0
    if nodes.limit(1).count():
        for _ in range(max_iter):
            deg = sym.groupBy(F.col("src").alias("id")) \
                .agg(F.count(F.lit(1)).alias("d"))
            degall = nodes.join(deg, "id", "left").select(
                "id", F.coalesce("d", F.lit(0)).alias("d"))
            row = degall.agg(F.min("d").alias("m"),
                             F.count(F.lit(1)).alias("n")).collect()[0]
            if not row["n"]:
                break
            k = max(k, int(row["m"]))
            wave += 1
            peel = checkpoint(degall.filter(F.col("d") <= k).select("id"), eager=True)
            r_parts.append((peel, k, wave))
            prev_n, prev_s = nodes, sym
            nodes = checkpoint(nodes.join(peel, "id", "left_anti"), eager=True)
            sym = checkpoint(
                sym.join(peel.withColumnRenamed("id", "src"),
                         "src", "left_anti")
                .join(peel.withColumnRenamed("id", "dst"),
                      "dst", "left_anti")
                .select("src", "dst"), eager=True)
            free(prev_n)
            free(prev_s)
        else:
            raise RuntimeError(
                f"onion_layers: no fixpoint in {max_iter} waves")

    # exact global wave numbering (see docstring): the k=1 trim phases of
    # the paths and the residual run concurrently, so the global k=1 era
    # lasts T1 = max(path waves, residual trim waves); post-trim residual
    # waves shift by the era extension, +1 more iff the cycles' k=2 wave
    # peels nothing from the residual (its first post-trim k > 2)
    t_r = sum(1 for (_, kk, _) in r_parts if kk == 1)
    t1 = max(w_p, t_r)
    first_post_k = next((kk for (_, kk, ww) in r_parts if ww == t_r + 1),
                        None)
    extra = 1 if (has_cycles and first_post_k is not None
                  and first_post_k > 2) else 0
    for peel, kk, ww in r_parts:
        glayer = ww if ww <= t_r else ww + (t1 - t_r) + extra
        out_parts.append(peel.select(
            "id", F.lit(kk).cast("long").alias("coreness"),
            F.lit(glayer).cast("long").alias("layer")))
    if has_cycles:
        out_parts.append(d2n.filter(F.col("dmin") == 2).select(
            "id", F.lit(2).cast("long").alias("coreness"),
            F.lit(t1 + 1).cast("long").alias("layer")))

    if not out_parts:
        return local_df(edges.sparkSession, [], "id long, coreness long, layer long")
    return union_all(out_parts, by_name=True)


@scoped
def trussness(edges: DataFrame, k_max: int = 8,
              max_iter: int = 50) -> DataFrame:
    """Full truss decomposition (Cohen 2008): every canonical edge's truss
    number — the largest k whose k-truss contains it — the edge-level
    cohesion profile that separates community cores (high trussness)
    from tree-like tissue (trussness 2, no triangle) the way
    :func:`coreness` profiles nodes. Returns ``(a, b, trussness)`` with
    ``a < b``.

    Computed by the nested-truss identity (trusses nest exactly like
    cores): ``trussness(e) = 2 + Σ_{k≥3} [e ∈ k-truss]``, with each level
    peeled FROM THE PREVIOUS LEVEL'S SURVIVING EDGE SET — the k-truss of
    the (k-1)-truss equals the k-truss of the whole graph, so the
    expensive triangle-support wedge join runs on a geometrically
    shrinking relation instead of ``k_max − 2`` full-graph re-peels.
    Raises if the ``(k_max+1)``-truss is non-empty (silent truncation
    would mislabel the densest community cores); the guard too peels
    only the last level's output.
    """
    und = checkpoint(
        edges.select(F.least("src", "dst").alias("a"),
                     F.greatest("src", "dst").alias("b"))
        .filter(F.col("a") < F.col("b"))
        .distinct(), eager=True)
    out = und.withColumn("trussness", F.lit(2).cast("long"))
    tk = und  # previous level's surviving edge set
    for k in range(3, k_max + 2):
        prev, tk = tk, _k_truss_peel(tk.select("a", "b"), k, max_iter)
        if k == k_max + 1:
            if tk.limit(1).count():
                raise ValueError(
                    f"trussness: the {k_max + 1}-truss is non-empty — "
                    "raise k_max to at least the graph's maximum "
                    "trussness")
            break
        out = checkpoint(out.join(tk.select("a", "b", F.lit(1).alias("__in")),
                       ["a", "b"], "left").select(
            "a", "b",
            (F.col("trussness") + F.coalesce("__in", F.lit(0)))
            .cast("long").alias("trussness")), eager=True)
        free(prev)
    return out


def adamic_adar(edges: DataFrame, min_milli: int = 0,
                max_degree: int | None = None) -> DataFrame:
    """Adamic–Adar link-prediction index (Adamic & Adar 2003) in the
    engine's integer-log2 idiom: ``AA(a,b) = Σ_{w∈N(a)∩N(b)}
    1000 div bits(deg(w))`` with ``bits(d) = floor(log2(d)) =
    length(bin(d)) − 1`` — the log-damped sibling of
    :func:`resource_allocation` (hubs discount logarithmically instead of
    linearly), hash-stable where a float ``1/ln`` never would be. A
    common neighbor always has degree ≥ 2, so the bits term is ≥ 1 and
    the division is total. Returns ``(a, b, common, aa_milli)``.

    Identical candidate shape and skew guard as `resource_allocation`:
    pairs only from the common-neighbor wedge join (O(Σdeg²), never
    O(n²)); ``max_degree`` excludes hub pivots.
    """
    sym = _symmetric(edges)
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    wedge_base = sym.join(
        deg.select(F.col("src").alias("dst"), F.col("d").alias("__vd")), "dst")
    if max_degree is not None:
        wedge_base = wedge_base.filter(F.col("__vd") <= max_degree)
    return (
        wedge_base.select(F.col("dst").alias("via"), F.col("src").alias("a"),
                          F.col("__vd"))
        .join(
            wedge_base.select(F.col("dst").alias("via"),
                              F.col("src").alias("b")),
            "via",
        )
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"),
             F.sum(F.expr("1000 div (length(bin(__vd)) - 1)"))
             .alias("aa_milli"))
        .filter(F.col("aa_milli") >= int(min_milli))
    )
