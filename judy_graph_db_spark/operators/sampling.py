"""Graph sampling for GNN / embedding training-data prep — deterministic
neighbor sampling and fixed-length random walks.

Parity-plus (SURVEY.md §2.7): the reference has no sampling surface at all.
GraphSAGE-style neighbor sampling and node2vec-style walk corpora are the
standard export from a 100 TB graph into a trainer, and both need to be
*reproducible* across re-runs and cluster sizes — so "random" here is a
content hash (md5 over seed + position + edge), never an RNG: the same
graph + seed always yields byte-identical samples on any partitioning.

Scale shapes:
- ``sample_neighbors`` is one ``row_number`` window keyed on the source
  node — a single shuffle, and the per-node fanout cap is exactly the skew
  bound (hubs emit k rows, not deg rows).
- ``random_walks`` keeps the adjacency cached and pre-partitioned on the
  source key (cache preserves partitioning, so every step's join reads
  co-located buckets on the adjacency side); each step shuffles only the
  O(|walks|) frontier. The per-step argmin-by-hash is the same
  partial-aggregable ``min(struct(...))`` trick the analytics use — no
  window over the frontier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from judy_graph_db_spark.loopstate import cache, checkpoint, scoped
from judy_graph_db_spark.schema import union_all


def _edge_hash(seed, *cols) -> "F.Column":
    return F.md5(F.concat_ws("|", F.lit(str(seed)), *[c.cast("string") for c in cols]))


def sample_neighbors(edges: DataFrame, k: int, seed: int = 0) -> DataFrame:
    """Keep at most ``k`` neighbors per source node, chosen by md5 rank
    (uniform, reproducible, engine-portable). The GraphSAGE fanout cap:
    output degree is min(deg, k) for every node, which also bounds hub
    skew in everything built downstream. Returns
    ``(src, dst, sample_rank)`` with rank 1..k."""
    d = edges.select("src", "dst").distinct()
    w = Window.partitionBy("src").orderBy(
        _edge_hash(seed, F.col("src"), F.col("dst")).asc(), F.col("dst").asc()
    )
    return (
        d.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= k)
    )


@scoped
def random_walks(edges: DataFrame, length: int = 3, seed: int = 0,
                 starts: DataFrame | None = None,
                 num_partitions: int | None = None) -> DataFrame:
    """One fixed-length walk from every node (or from ``starts``' ``id``
    column): at step ``s`` the walker at ``cur`` moves to the neighbor
    minimizing ``md5(seed, walk_id, s, cur, dst)`` — a uniform,
    reproducible choice that differs per walk and per step (so walks from
    the same node at different steps decorrelate). Walkers stop early at
    sink nodes. Returns ``(walk_id, step, node)`` with step 0 = the start.

    This is the node2vec-corpus shape (p=q=1); biased transitions would
    weight the hash rank, same plan.
    """
    spark = edges.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    adj = cache(
        edges.select("src", "dst").distinct()
        .repartition(num_partitions, "src"))
    adj.count()  # materialize so the per-step joins see the partitioning
    if starts is None:
        starts = adj.select(F.col("src").alias("id")).distinct()
    frontier = starts.select(
        F.col("id").alias("walk_id"), F.col("id").alias("cur")
    )
    steps = [frontier.select(
        "walk_id", F.lit(0).cast("long").alias("step"),
        F.col("cur").alias("node"),
    )]
    for s in range(1, length + 1):
        h = _edge_hash(
            seed, F.col("walk_id"), F.lit(s), F.col("src"), F.col("dst")
        )
        step = (
            frontier.join(adj, frontier.cur == adj.src)
            .select(
                "walk_id",
                F.struct(h.alias("h"), F.col("dst").alias("d")).alias("pick"),
            )
            .groupBy("walk_id")
            .agg(F.min("pick").alias("pick"))
            .select("walk_id", F.col("pick.d").alias("cur"))
        )
        # non-eager: lineage still truncates at each hop, but the hops
        # materialize inside the ONE job that computes the final result
        # checkpoint instead of paying an eager job per hop (r15; the
        # shortest_path_counts idiom). Each hop's checkpoint is read
        # twice (next hop's join + the output union) without recompute.
        frontier = checkpoint(step, eager=False)
        steps.append(
            frontier.select(
                "walk_id", F.lit(s).cast("long").alias("step"),
                F.col("cur").alias("node"),
            )
        )
    # the scope frees adj and the hop checkpoints
    return checkpoint(union_all(steps, by_name=True), eager=True)


def random_walks_oracle_sql(edges_sql: str, length: int = 3, seed: int = 0,
                            starts_sql: str | None = None,
                            prefix: str | None = None) -> str:
    """ANSI-SQL twin of :func:`random_walks`: the fixed steps unrolled as
    chained CTEs, each picking the argmin-by-md5 neighbor with a
    ROW_NUMBER — same hash, same tiebreak. ``starts_sql`` selects an ``id``
    column (default: every node)."""
    head = f"{prefix},\nrw_adj" if prefix else "WITH rw_adj"
    w0 = (
        f"SELECT id AS walk_id, id AS cur FROM ({starts_sql})"
        if starts_sql is not None
        else "SELECT DISTINCT src AS walk_id, src AS cur FROM rw_adj"
    )
    parts = [
        f"""{head} AS (
  SELECT DISTINCT src, dst FROM ({edges_sql})
),
w0 AS ({w0})""",
    ]
    for s in range(1, length + 1):
        parts.append(
            f""", w{s} AS (
  SELECT walk_id, cur FROM (
    SELECT f.walk_id, a.dst AS cur,
           ROW_NUMBER() OVER (
             PARTITION BY f.walk_id
             ORDER BY md5(concat_ws('|', '{seed}', CAST(f.walk_id AS VARCHAR),
                          '{s}', CAST(a.src AS VARCHAR),
                          CAST(a.dst AS VARCHAR))) ASC, a.dst ASC) AS rn
    FROM w{s - 1} f JOIN rw_adj a ON f.cur = a.src
  ) WHERE rn = 1
)"""
        )
    selects = [
        f"SELECT walk_id, CAST({s} AS BIGINT) AS step, cur AS node FROM w{s}"
        for s in range(0, length + 1)
    ]
    parts.append("\nUNION ALL\n".join(selects))
    return "\n".join(parts)


def sample_neighbors_oracle_sql(k: int, seed: int = 0,
                                edges_sql: str = "SELECT src, dst FROM edges",
                                prefix: str | None = None) -> str:
    """ANSI-SQL twin of :func:`sample_neighbors`."""
    head = f"{prefix},\nsn_d" if prefix else "WITH sn_d"
    return f"""{head} AS (
  SELECT DISTINCT src, dst FROM ({edges_sql})
)
SELECT src, dst, sample_rank FROM (
  SELECT src, dst,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY src
           ORDER BY md5(concat_ws('|', '{seed}', CAST(src AS VARCHAR),
                        CAST(dst AS VARCHAR))) ASC, dst ASC) AS INTEGER
         ) AS sample_rank
  FROM sn_d
) WHERE sample_rank <= {k}
"""


def walk_skipgram_pairs(walks: DataFrame, window: int = 2) -> DataFrame:
    """(center, context) co-occurrence counts within ±``window`` steps of
    the same walk — the skip-gram training corpus DeepWalk (Perozzi et al.
    2014) / node2vec (Grover & Leskovec 2016) feed to word2vec. Input is
    :func:`random_walks` output ``(walk_id, step, node)``; returns
    ``(center, context, n_pairs)`` (both directions counted, a center
    never pairs with itself-at-the-same-step).

    Scale shape: each walk row fans out into ≤ 2·window shifted probes
    (an explode inside the scan stage), one equi-join back on
    ``(walk_id, step)`` — walk-sized keys, never node² — and one
    map-side-combined count on (center, context). Total work is
    O(walks · length · window), the exact size of the corpus a word2vec
    trainer would consume."""
    if window < 1:
        raise ValueError("window must be positive")
    offs = [o for o in range(-window, window + 1) if o != 0]
    shifted = walks.select(
        "walk_id", "step", F.col("node").alias("center"),
        F.explode(F.array(*[F.lit(o) for o in offs])).alias("__off"),
    ).select(
        "walk_id", (F.col("step") + F.col("__off")).alias("step"), "center",
    )
    ctx = walks.select("walk_id", "step", F.col("node").alias("context"))
    return (
        shifted.join(ctx, ["walk_id", "step"])
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def walk_skipgram_oracle_sql(walks_sql: str, window: int = 2) -> str:
    """ANSI-SQL twin of :func:`walk_skipgram_pairs` over a walks query
    (e.g. :func:`random_walks_oracle_sql` wrapped as a subquery)."""
    offs = ", ".join(str(o) for o in range(-window, window + 1) if o != 0)
    return f"""WITH sg_w AS (
  SELECT * FROM ({walks_sql})
),
sg_sh AS (
  SELECT walk_id, step + unnest([{offs}]) AS step, node AS center
  FROM sg_w
)
SELECT s.center, c.node AS context, COUNT(*) AS n_pairs
FROM sg_sh s JOIN sg_w c ON s.walk_id = c.walk_id AND s.step = c.step
GROUP BY s.center, c.node"""


@scoped
def sampled_negatives(pairs: DataFrame, freqs: DataFrame, k: int = 3,
                      seed: int = 0, n_bins: int = 1 << 12,
                      num_partitions: int | None = None) -> DataFrame:
    """Deterministic word2vec negative sampling (Mikolov et al. 2013) for
    skip-gram pairs: slot ``i`` of pair ``(center, context)`` draws node
    ``j`` with probability ``freq_j / Σfreq`` — the draw is the node whose
    cumulative-frequency interval contains ``md5-hash mod Σfreq``, so the
    output is reproducible and hash-gates. ``freqs`` is ``(node, freq)``
    (integer weights; pre-scale by ``freq^0.75`` upstream if the word2vec
    smoothing is wanted — kept out of here so the operator stays
    integer-exact). Returns ``(center, context, slot, negative)``; draws
    that collide with the pair's own center/context are KEPT (word2vec
    resamples, but resampling would make row i depend on draw i-1 —
    callers filter instead).

    Scale shape: the cumulative intervals come from the same two-pass
    distributed prefix sum as ``curation.shard_by_token_budget`` (a
    per-partition window + a broadcast ≤P-row offset table — never a
    single-task global window over the node table); interval→draw lookup
    is a bin-bucketed range join (intervals explode into ~W/B bins, probes
    hash to one bin), so no all-pairs comparison at any corpus size. The
    Σfreq and bin-width scalars ride along as 1-row broadcast joins, not
    driver round-trips.
    """
    from judy_graph_db_spark.operators.sketch import _h60

    if k < 1:
        raise ValueError("k must be positive")
    spark = pairs.sparkSession
    if num_partitions is None:
        num_partitions = int(
            spark.conf.get("spark.sql.shuffle.partitions", "32"))
    base = freqs.select(F.col("node"), F.col("freq").cast("long").alias("freq"))
    # a non-positive frequency corrupts the cumulative intervals (two
    # nodes' [lo, hi) ranges overlap and one probe draws twice) — fail
    # loudly, same guard as weighted_random_walks
    bad = base.filter(F.col("freq").isNull() | (F.col("freq") <= 0))         .limit(1).count()
    if bad:
        raise ValueError("sampled_negatives: freqs must be positive "
                         "and non-null")
    parted = checkpoint(  # pin __pid for both readers
        base.repartitionByRange(num_partitions, F.col("node"))
        .withColumn("__pid", F.spark_partition_id()), eager=True)
    totals = parted.groupBy("__pid").agg(F.sum("freq").alias("__pt"))
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "__pid", F.coalesce(F.sum("__pt").over(w_off), F.lit(0)).alias("__off"))
    w_in = (Window.partitionBy("__pid").orderBy("node")
            .rowsBetween(Window.unboundedPreceding, -1))
    cum = (
        parted.join(F.broadcast(offsets), "__pid")
        .select(
            "node", "freq",
            (F.col("__off")
             + F.coalesce(F.sum("freq").over(w_in), F.lit(0))).alias("lo"))
        .withColumn("hi", F.col("lo") + F.col("freq"))
    )
    scal = base.agg(F.sum("freq").alias("__W")).select(
        "__W", F.greatest(F.expr(f"__W div {int(n_bins)}"),
                          F.lit(1)).alias("__B"))
    cand = (
        cum.crossJoin(F.broadcast(scal))
        .select(
            "node", "lo", "hi",
            F.explode(F.sequence(F.expr("lo div __B"),
                                 F.expr("(hi - 1) div __B"))).alias("bin"))
    )
    probes = (
        pairs.select("center", "context")
        .crossJoin(F.broadcast(scal))
        .select(
            "center", "context", "__W", "__B",
            F.explode(F.sequence(F.lit(1), F.lit(int(k)))).alias("slot"))
        .withColumn(
            "__h",
            _h60(F.concat_ws("|", "center", "context", "slot"),
                 f"neg{int(seed)}") % F.col("__W"))
        .withColumn("bin", F.expr("__h div __B"))
    )
    return (
        probes.join(cand, "bin")
        .filter((F.col("lo") <= F.col("__h")) & (F.col("__h") < F.col("hi")))
        .select("center", "context", "slot", F.col("node").alias("negative"))
    )


def sampled_negatives_oracle_sql(pairs_sql: str, freqs_sql: str, k: int = 3,
                                 seed: int = 0,
                                 n_bins: int = 1 << 12) -> str:
    """ANSI-SQL twin of :func:`sampled_negatives` (DuckDB): plain window
    prefix sum (the scale concern the Spark side's two-pass shape answers
    doesn't apply to the oracle)."""
    h_expr = ("CAST(center AS VARCHAR) || '|' || CAST(context AS VARCHAR) "
              "|| '|' || CAST(slot AS VARCHAR)")
    from judy_graph_db_spark.oracle import _h60_sql

    return f"""WITH ns_f AS ({freqs_sql}),
ns_cum AS (
  SELECT node, freq,
         CAST(COALESCE(SUM(freq) OVER (ORDER BY node
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS lo
  FROM ns_f
),
ns_scal AS (
  SELECT CAST(SUM(freq) AS BIGINT) AS w,
         CAST(GREATEST(SUM(freq) // {int(n_bins)}, 1) AS BIGINT) AS b
  FROM ns_f
),
ns_cand AS (
  SELECT c.node, c.lo, c.lo + c.freq AS hi,
         unnest(generate_series(c.lo // s.b, (c.lo + c.freq - 1) // s.b))
           AS bin
  FROM ns_cum c, ns_scal s
),
ns_pr AS (
  SELECT p.center, p.context, sl.slot,
         {_h60_sql(h_expr, f'neg{int(seed)}')} % s.w AS h,
         {_h60_sql(h_expr, f'neg{int(seed)}')} % s.w // s.b AS bin
  FROM ({pairs_sql}) p,
       (SELECT unnest(generate_series(1, {int(k)})) AS slot) sl,
       ns_scal s
)
SELECT p.center, p.context, p.slot, c.node AS negative
FROM ns_pr p JOIN ns_cand c
  ON p.bin = c.bin AND c.lo <= p.h AND p.h < c.hi"""


def neighbor_feature_agg(edges: DataFrame, features: DataFrame,
                         hops: int = 1, id_col: str = "node",
                         feat_col: str = "f",
                         max_fanout: int | None = None) -> DataFrame:
    """GraphSAGE-style neighbor feature aggregation (Hamilton et al.
    2017's mean aggregator, path-multiplicity semantics): for every node,
    the sum / count / integer-micro mean of its ``hops``-hop neighbors'
    integer feature, each neighbor weighted by the number of length-
    ``hops`` paths reaching it. Returns ``(id, n_paths, sum_f,
    mean_micro)`` with ``mean_micro = (1000000·sum_f) div n_paths`` —
    integer-exact, so the relation hash-gates against the SQL twin.

    This is the feature-propagation pass a GNN trainer pre-computes at
    corpus scale (SGC / "graph-augmented features"): each hop is ONE
    equi-join frontier→edges plus a map-side-combinable (id, node) partial
    agg — O(paths) state, never a node² product. ``max_fanout`` routes
    the frontier through :func:`sample_neighbors` first (seed 0), which
    is the skew guard GraphSAGE itself prescribes: hub explosion is
    bounded by k^hops per node.
    """
    if hops < 1:
        raise ValueError("hops must be >= 1")
    e = edges.select("src", "dst").distinct()
    if max_fanout is not None:
        e = sample_neighbors(edges, k=max_fanout).select("src", "dst")
    fr = e.select(F.col("src").alias("id"), F.col("dst").alias("node"),
                  F.lit(1).cast("long").alias("c"))
    for _ in range(hops - 1):
        fr = (
            fr.join(e.withColumnRenamed("src", "node"), "node")
            .select("id", F.col("dst").alias("node"), "c")
            .groupBy("id", "node")
            .agg(F.sum("c").alias("c"))
        )
    feats = features.select(F.col(id_col).alias("node"),
                            F.col(feat_col).cast("long").alias("__f"))
    return (
        fr.join(feats, "node")
        .groupBy("id")
        .agg(F.sum("c").alias("n_paths"),
             F.sum(F.col("c") * F.col("__f")).alias("sum_f"))
        .select("id", "n_paths", "sum_f",
                F.expr("(1000000 * sum_f) div n_paths").alias("mean_micro"))
    )


def neighbor_feature_agg_oracle_sql(edges_sql: str, feats_sql: str,
                                    hops: int = 1, id_col: str = "node",
                                    feat_col: str = "f") -> str:
    """ANSI-SQL twin of :func:`neighbor_feature_agg` (DuckDB): the hop
    joins unrolled (no sampling path — twin of ``max_fanout=None``)."""
    if hops < 1:
        raise ValueError("hops must be >= 1")
    joins = "".join(
        f" JOIN nfa_e e{i} ON e{i - 1}.dst = e{i}.src" for i in range(1, hops))
    return f"""WITH nfa_e AS (SELECT DISTINCT src, dst FROM ({edges_sql})),
nfa_fr AS (
  SELECT e0.src AS id, e{hops - 1}.dst AS node, COUNT(*) AS c
  FROM nfa_e e0{joins}
  GROUP BY e0.src, e{hops - 1}.dst
)
SELECT fr.id, CAST(SUM(c) AS BIGINT) AS n_paths,
       CAST(SUM(c * ft.{feat_col}) AS BIGINT) AS sum_f,
       CAST(1000000 * SUM(c * ft.{feat_col}) // SUM(c) AS BIGINT)
         AS mean_micro
FROM nfa_fr fr JOIN ({feats_sql}) ft ON fr.node = ft.{id_col}
GROUP BY fr.id"""


@scoped
def metapath_walks(edges: DataFrame, metapath: "list[str]",
                   length: int | None = None, seed: int = 0,
                   starts: DataFrame | None = None,
                   label_col: str = "label",
                   num_partitions: int | None = None) -> DataFrame:
    """Metapath-constrained random walks (metapath2vec, Dong et al.
    2017): step ``s`` may only traverse edges whose ``label_col`` equals
    ``metapath[(s-1) % len(metapath)]`` — the heterogeneous-graph walk
    corpus where plain walks would drown the rare node types. Same
    deterministic argmin-by-md5 transition, same ``(walk_id, step,
    node)`` output as :func:`random_walks` (so :func:`walk_skipgram_pairs`
    and :func:`sampled_negatives` compose unchanged); walkers stop early
    where the path's next label has no outgoing edge.

    Scale shape: ONE adjacency relation partitioned on the source key,
    with the step label applied as a pushed-down filter per hop — the
    label set is tiny, so each hop's join reads the same co-located
    buckets as the uniform walker.
    """
    if not metapath:
        raise ValueError("metapath must be non-empty")
    if length is None:
        length = len(metapath)
    spark = edges.sparkSession
    if num_partitions is None:
        num_partitions = int(
            spark.conf.get("spark.sql.shuffle.partitions", "32"))
    adj = cache(
        edges.select("src", "dst", F.col(label_col).alias("__lbl"))
        .distinct()
        .repartition(num_partitions, "src"))
    adj.count()
    if starts is None:
        starts = (adj.filter(F.col("__lbl") == metapath[0])
                  .select(F.col("src").alias("id")).distinct())
    frontier = starts.select(
        F.col("id").alias("walk_id"), F.col("id").alias("cur"))
    steps = [frontier.select(
        "walk_id", F.lit(0).cast("long").alias("step"),
        F.col("cur").alias("node"))]
    for s in range(1, length + 1):
        lbl = metapath[(s - 1) % len(metapath)]
        h = _edge_hash(
            seed, F.col("walk_id"), F.lit(s), F.col("src"), F.col("dst"))
        step = (
            frontier.join(adj.filter(F.col("__lbl") == lbl),
                          frontier.cur == adj.src)
            .select(
                "walk_id",
                F.struct(h.alias("h"), F.col("dst").alias("d")).alias("pick"))
            .groupBy("walk_id")
            .agg(F.min("pick").alias("pick"))
            .select("walk_id", F.col("pick.d").alias("cur"))
        )
        frontier = checkpoint(step, eager=True)
        steps.append(frontier.select(
            "walk_id", F.lit(s).cast("long").alias("step"),
            F.col("cur").alias("node")))
    return checkpoint(union_all(steps, by_name=True), eager=True)


def metapath_walks_oracle_sql(edges_sql: str, metapath: "list[str]",
                              length: int | None = None, seed: int = 0,
                              starts_sql: str | None = None) -> str:
    """ANSI-SQL twin of :func:`metapath_walks` (``edges_sql`` must select
    ``src, dst, label``)."""
    if not metapath:
        raise ValueError("metapath must be non-empty")
    if length is None:
        length = len(metapath)
    w0 = (
        f"SELECT id AS walk_id, id AS cur FROM ({starts_sql})"
        if starts_sql is not None
        else f"SELECT DISTINCT src AS walk_id, src AS cur FROM mp_adj "
             f"WHERE label = '{metapath[0]}'"
    )
    parts = [f"""WITH mp_adj AS (
  SELECT DISTINCT src, dst, label FROM ({edges_sql})
),
mw0 AS ({w0})"""]
    for s in range(1, length + 1):
        lbl = metapath[(s - 1) % len(metapath)]
        parts.append(f""", mw{s} AS (
  SELECT walk_id, cur FROM (
    SELECT f.walk_id, a.dst AS cur,
           ROW_NUMBER() OVER (
             PARTITION BY f.walk_id
             ORDER BY md5(concat_ws('|', '{seed}', CAST(f.walk_id AS VARCHAR),
                          '{s}', CAST(a.src AS VARCHAR),
                          CAST(a.dst AS VARCHAR))) ASC, a.dst ASC) AS rn
    FROM mw{s - 1} f JOIN mp_adj a ON f.cur = a.src AND a.label = '{lbl}'
  ) WHERE rn = 1
)""")
    selects = [
        f"SELECT walk_id, CAST({s} AS BIGINT) AS step, cur AS node FROM mw{s}"
        for s in range(0, length + 1)
    ]
    parts.append("\nUNION ALL\n".join(selects))
    return "\n".join(parts)


@scoped
def weighted_random_walks(edges: DataFrame, weight_col: str = "weight",
                          length: int = 3, seed: int = 0,
                          starts: DataFrame | None = None,
                          num_partitions: int | None = None) -> DataFrame:
    """Fixed-length walks with WEIGHT-proportional transitions (the
    node2vec/DeepWalk generalization for weighted graphs): at step ``s``
    the walker at ``cur`` moves to out-neighbor ``d`` with probability
    ``w(cur,d) / Σ_out w(cur,·)``, realized deterministically — the draw
    is the neighbor whose cumulative-weight interval contains
    ``md5(seed, walk_id, s, cur) mod W_cur``. Integer weights (> 0),
    byte-identical across partitionings/engines. Returns ``(walk_id,
    step, node)``; same shape as :func:`random_walks`, so skip-gram pairs
    and negative sampling compose unchanged.

    Scale shape: the per-source cumulative intervals are computed ONCE
    (a src-keyed window over the adjacency — per-source frame, never a
    global sort), cached partitioned on ``src``; each step is the same
    frontier equi-join as the uniform walker with the interval test as a
    post-join filter (comparison set = out-degree of the current node,
    exactly like the argmin walker).
    """
    spark = edges.sparkSession
    if num_partitions is None:
        num_partitions = int(
            spark.conf.get("spark.sql.shuffle.partitions", "32"))
    w = F.col(weight_col).cast("long")
    base = (edges.select("src", "dst", w.alias("__w"))
            .groupBy("src", "dst").agg(F.max("__w").alias("__w")))
    bad = base.filter(F.col("__w").isNull() | (F.col("__w") <= 0)) \
        .limit(1).count()
    if bad:
        raise ValueError("weighted_random_walks: weights must be positive "
                         "and non-null")
    ws = Window.partitionBy("src").orderBy("dst") \
        .rowsBetween(Window.unboundedPreceding, -1)
    wt = Window.partitionBy("src")
    adj = cache(
        base.select(
            "src", "dst",
            F.coalesce(F.sum("__w").over(ws), F.lit(0)).alias("lo"),
            F.sum("__w").over(wt).alias("W"),
            F.col("__w"))
        .withColumn("hi", F.col("lo") + F.col("__w"))
        .repartition(num_partitions, "src"))
    adj.count()
    if starts is None:
        starts = adj.select(F.col("src").alias("id")).distinct()
    frontier = starts.select(
        F.col("id").alias("walk_id"), F.col("id").alias("cur"))
    steps = [frontier.select(
        "walk_id", F.lit(0).cast("long").alias("step"),
        F.col("cur").alias("node"))]
    for s in range(1, length + 1):
        h = F.conv(F.substring(F.md5(F.concat_ws(
            "|", F.lit(str(seed)), F.col("walk_id").cast("string"),
            F.lit(str(s)), F.col("cur").cast("string"))), 1, 15),
            16, 10).cast("long")
        step = (
            frontier.join(adj, frontier.cur == adj.src)
            .withColumn("__h", h % F.col("W"))
            .filter((F.col("lo") <= F.col("__h"))
                    & (F.col("__h") < F.col("hi")))
            .select("walk_id", F.col("dst").alias("cur"))
        )
        frontier = checkpoint(step, eager=True)
        steps.append(frontier.select(
            "walk_id", F.lit(s).cast("long").alias("step"),
            F.col("cur").alias("node")))
    return checkpoint(union_all(steps, by_name=True), eager=True)


def weighted_walks_oracle_sql(edges_sql: str, length: int = 3,
                              seed: int = 0,
                              starts_sql: str | None = None) -> str:
    """ANSI-SQL twin of :func:`weighted_random_walks` (``edges_sql``
    selects ``src, dst, weight``)."""
    w0 = (
        f"SELECT id AS walk_id, id AS cur FROM ({starts_sql})"
        if starts_sql is not None
        else "SELECT DISTINCT src AS walk_id, src AS cur FROM ww_adj"
    )
    parts = [f"""WITH ww_b AS (
  SELECT src, dst, MAX(CAST(weight AS BIGINT)) AS w
  FROM ({edges_sql}) GROUP BY src, dst
),
ww_adj AS (
  -- NB: DuckDB identifiers are case-insensitive, so the total and the
  -- per-edge weight need distinct NAMES (wtot/wval), not just case
  SELECT src, dst,
         CAST(COALESCE(SUM(w) OVER (PARTITION BY src ORDER BY dst
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS lo,
         CAST(SUM(w) OVER (PARTITION BY src) AS BIGINT) AS wtot,
         CAST(w AS BIGINT) AS wval
  FROM ww_b
),
ww0 AS ({w0})"""]
    for s in range(1, length + 1):
        h = (f"CAST(CAST('0x' || substring(md5(concat_ws('|', '{seed}', "
             f"CAST(f.walk_id AS VARCHAR), '{s}', "
             f"CAST(f.cur AS VARCHAR))), 1, 15) AS UBIGINT) AS BIGINT)")
        parts.append(f""", ww{s} AS (
  SELECT f.walk_id, a.dst AS cur
  FROM ww{s - 1} f JOIN ww_adj a ON f.cur = a.src
  WHERE a.lo <= ({h}) % a.wtot AND ({h}) % a.wtot < a.lo + a.wval
)""")
    selects = [
        f"SELECT walk_id, CAST({s} AS BIGINT) AS step, cur AS node FROM ww{s}"
        for s in range(0, length + 1)
    ]
    parts.append("\nUNION ALL\n".join(selects))
    return "\n".join(parts)


@scoped
def sample_non_edges(edges: DataFrame, k: int = 3, seed: int = 0,
                     n_buckets: int = 64) -> DataFrame:
    """Deterministic NON-edge sampling — the negative examples a link-
    prediction trainer pairs with the positive edge set (RA/Jaccard/PA
    features score both): for each source node and slot ``1..k``, hash
    the slot to one of ``n_buckets`` node buckets, take that bucket's
    argmin-by-``md5(src|slot|node)`` node, and keep the pair only if it
    is not an existing (undirected) edge or a self-pair. Returns
    ``(src, slot, dst)`` with ≤ k rows per source — slots that land on a
    real edge are dropped, so callers oversample ``k`` slightly (the
    standard trick; on a sparse graph nearly all slots survive).

    Scale shape: the node table hashes into buckets ONCE; each probe is
    an equi-join on the bucket key + a (src, slot) partial-agg argmin,
    then one anti-join against the edge set — never a uniform draw over
    an id space (which sparse/hashed ids would break), never a node²
    product.
    """
    from judy_graph_db_spark.operators.analytics import _symmetric
    from judy_graph_db_spark.operators.sketch import _h60

    if k < 1:
        raise ValueError("k must be positive")
    sym = checkpoint(_symmetric(edges), eager=True)
    nodes = sym.select(F.col("src").alias("node")).distinct()
    nb = int(n_buckets)
    bnodes = nodes.select(
        "node", (_h60(F.col("node"), f"neb{seed}") % nb).alias("b"))
    probes = nodes.select(F.col("node").alias("src")).select(
        "src", F.explode(F.sequence(F.lit(1), F.lit(int(k)))).alias("slot")
    ).select(
        "src", "slot",
        (_h60(F.concat_ws("|", "src", "slot"), f"nep{seed}") % nb).alias("b"))
    cand = (
        probes.join(bnodes, "b")
        .withColumn("__h", _h60(F.concat_ws("|", "src", "slot", "node"),
                                f"nec{seed}"))
        .groupBy("src", "slot")
        .agg(F.min(F.struct("__h", F.col("node").alias("n"))).alias("m"))
        .select("src", "slot", F.col("m.n").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )
    # the key-list join puts (src, dst) first — restore the
    # documented (src, slot, dst) order
    return cand.join(sym, ["src", "dst"], "left_anti") \
        .select("src", "slot", "dst")


def sample_non_edges_oracle_sql(edges_sql: str, k: int = 3, seed: int = 0,
                                n_buckets: int = 64) -> str:
    """ANSI-SQL twin of :func:`sample_non_edges`."""
    from judy_graph_db_spark.oracle import _h60_sql

    nb = int(n_buckets)
    hb = _h60_sql("CAST(node AS VARCHAR)", f"neb{seed}")
    hp = _h60_sql("CAST(src AS VARCHAR) || '|' || CAST(slot AS VARCHAR)",
                  f"nep{seed}")
    hc = _h60_sql("CAST(src AS VARCHAR) || '|' || CAST(slot AS VARCHAR)"
                  " || '|' || CAST(node AS VARCHAR)", f"nec{seed}")
    return f"""WITH ne_sym AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM ({edges_sql})
    UNION ALL SELECT dst, src FROM ({edges_sql})
  ) WHERE src <> dst
),
ne_n AS (SELECT DISTINCT src AS node FROM ne_sym),
ne_b AS (SELECT node, {hb} % {nb} AS b FROM ne_n),
ne_p AS (
  SELECT src, slot, {hp} % {nb} AS b FROM (
    SELECT node AS src, unnest(generate_series(1, {int(k)})) AS slot
    FROM ne_n
  )
),
ne_c AS (
  SELECT src, slot, node AS dst FROM (
    SELECT p.src, p.slot, n.node,
           ROW_NUMBER() OVER (PARTITION BY p.src, p.slot
                              ORDER BY {hc}, n.node) AS rn
    FROM ne_p p JOIN ne_b n ON p.b = n.b
  ) WHERE rn = 1 AND src <> dst
)
SELECT c.src, c.slot, c.dst
FROM ne_c c LEFT JOIN ne_sym e ON c.src = e.src AND c.dst = e.dst
WHERE e.src IS NULL"""


@scoped
def node2vec_walks(edges: DataFrame, length: int = 3, seed: int = 0,
                   w_return: int = 1, w_common: int = 4, w_far: int = 2,
                   starts: DataFrame | None = None) -> DataFrame:
    """Second-order (node2vec) biased walks: the transition out of ``cur``
    depends on the PREVIOUS node. Candidate next-hop ``x`` from ``cur``
    (prev = the node visited one step earlier) draws weight

    - ``w_return`` if ``x == prev``            (node2vec 1/p),
    - ``w_common`` if edge ``prev -> x`` exists (distance 1 from prev),
    - ``w_far``    otherwise                    (node2vec 1/q),

    so the classic ``(1/p, 1, 1/q)`` biases are the integer ratios
    ``(w_return, w_common, w_far)`` — integers keep the draw byte-exact in
    both engines (house rule). Step 1 has no prev and is uniform, matching
    Grover & Leskovec 2016 §3.2. Draws are deterministic: the candidate
    whose cumulative-weight interval contains ``md5(seed, walk_id, step,
    prev, cur) mod W``. Returns ``(walk_id, step, node)`` — the same shape
    as :func:`random_walks`, so :func:`walk_skipgram_pairs` /
    :func:`sampled_negatives` compose unchanged.

    Scale shape: each step is one frontier-adjacency equi-join on ``cur``
    plus one edge-set probe on ``(prev, dst)`` (both keyed joins, never a
    cross), and the cumulative intervals are a window partitioned BY WALK
    over ≤ out-degree candidate rows — frontier-linear state, no global
    sort anywhere. Hub fan-out in the candidate join is bounded by
    pre-capping the adjacency with :func:`sample_neighbors`. The
    ``prev -> x`` probe treats the graph as directed; pass a symmetrized
    edge set for undirected node2vec semantics.

    Parity-plus vs the reference (no sampling surface; SURVEY.md §2.7).
    """
    for name, v in (("w_return", w_return), ("w_common", w_common),
                    ("w_far", w_far)):
        if int(v) <= 0:
            raise ValueError(f"node2vec_walks: {name} must be positive")
    adj = checkpoint(edges.select("src", "dst").distinct(), eager=True)
    probe = adj.select(F.col("src").alias("p_src"),
                       F.col("dst").alias("p_dst"))
    if starts is None:
        starts = adj.select(F.col("src").alias("id")).distinct()
    # frontier carries (walk_id, prev, cur); prev = -1 before step 1 (the
    # hash twin uses the same sentinel, so the draw streams are identical)
    frontier = starts.select(
        F.col("id").alias("walk_id"), F.lit(-1).cast("long").alias("prev"),
        F.col("id").alias("cur"))
    steps = [frontier.select(
        "walk_id", F.lit(0).cast("long").alias("step"),
        F.col("cur").alias("node"))]
    wb = Window.partitionBy("walk_id").orderBy("dst") \
        .rowsBetween(Window.unboundedPreceding, -1)
    wt = Window.partitionBy("walk_id")
    for s in range(1, length + 1):
        cand = (
            frontier.join(adj, frontier.cur == adj.src)
            .join(probe, (F.col("prev") == F.col("p_src"))
                  & (F.col("dst") == F.col("p_dst")), "left")
            .withColumn(
                "__w",
                F.when(F.col("prev") == F.lit(-1), F.lit(1))   # step 1: uniform
                .when(F.col("dst") == F.col("prev"), F.lit(int(w_return)))
                .when(F.col("p_src").isNotNull(), F.lit(int(w_common)))
                .otherwise(F.lit(int(w_far))).cast("long"))
        )
        h = F.conv(F.substring(_edge_hash(
            seed, F.col("walk_id"), F.lit(s), F.col("prev"),
            F.col("cur")), 1, 15), 16, 10).cast("long")
        step = (
            cand.select(
                "walk_id", "prev", "cur", "dst", "__w",
                F.coalesce(F.sum("__w").over(wb), F.lit(0)).alias("lo"),
                F.sum("__w").over(wt).alias("W"))
            .withColumn("__h", h % F.col("W"))
            .filter((F.col("lo") <= F.col("__h"))
                    & (F.col("__h") < F.col("lo") + F.col("__w")))
            .select("walk_id", F.col("cur").alias("prev"),
                    F.col("dst").alias("cur"))
        )
        frontier = checkpoint(step, eager=True)
        steps.append(frontier.select(
            "walk_id", F.lit(s).cast("long").alias("step"),
            F.col("cur").alias("node")))
    return checkpoint(union_all(steps, by_name=True), eager=True)


def node2vec_walks_oracle_sql(edges_sql: str, length: int = 3,
                              seed: int = 0, w_return: int = 1,
                              w_common: int = 4, w_far: int = 2,
                              starts_sql: str | None = None) -> str:
    """ANSI-SQL twin of :func:`node2vec_walks` (fixed unroll, one CTE per
    step; ``edges_sql`` selects ``src, dst``)."""
    w0 = (
        f"SELECT id AS walk_id, CAST(-1 AS BIGINT) AS prev, id AS cur "
        f"FROM ({starts_sql})"
        if starts_sql is not None
        else "SELECT DISTINCT src AS walk_id, CAST(-1 AS BIGINT) AS prev, "
             "src AS cur FROM nv_adj"
    )
    parts = [f"""WITH nv_adj AS (
  SELECT DISTINCT src, dst FROM ({edges_sql})
),
nv0 AS ({w0})"""]
    for s in range(1, length + 1):
        h = (f"CAST(CAST('0x' || substring(md5(concat_ws('|', '{seed}', "
             f"CAST(c.walk_id AS VARCHAR), CAST({s} AS VARCHAR), "
             f"CAST(c.prev AS VARCHAR), CAST(c.cur AS VARCHAR))), 1, 15) "
             f"AS UBIGINT) AS BIGINT)")
        parts.append(f""", nv{s}c AS (
  SELECT f.walk_id, f.prev, f.cur, a.dst,
         CAST(CASE WHEN f.prev = -1 THEN 1
                   WHEN a.dst = f.prev THEN {int(w_return)}
                   WHEN p.p_src IS NOT NULL THEN {int(w_common)}
                   ELSE {int(w_far)} END AS BIGINT) AS w
  FROM nv{s - 1} f
  JOIN nv_adj a ON f.cur = a.src
  LEFT JOIN (SELECT src AS p_src, dst AS p_dst FROM nv_adj) p
    ON f.prev = p.p_src AND a.dst = p.p_dst
), nv{s} AS (
  SELECT walk_id, cur AS prev, dst AS cur FROM (
    SELECT c.*,
           CAST(COALESCE(SUM(w) OVER (PARTITION BY walk_id ORDER BY dst
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS lo,
           CAST(SUM(w) OVER (PARTITION BY walk_id) AS BIGINT) AS wtot,
           ({h}) AS h
    FROM nv{s}c c
  ) WHERE lo <= h % wtot AND h % wtot < lo + w
)""")
    selects = [
        f"SELECT walk_id, CAST({s} AS BIGINT) AS step, cur AS node FROM nv{s}"
        for s in range(0, length + 1)
    ]
    parts.append("\nUNION ALL\n".join(selects))
    return "\n".join(parts)
