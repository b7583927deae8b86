"""Embedding clustering and semantic deduplication.

Parity-plus (SURVEY.md §2.7): the reference has no vector operations at
all; a pretraining-data pipeline needs both a clustering pass (corpus
mapping, IVF centroid training, cluster-balanced sampling) and semantic
near-duplicate pruning (SemDeDup, Abbas et al. 2023: k-means the embedding
space, then drop all-but-one of each within-cluster high-cosine group).

Design for 100 TB:

- **k-means (Lloyd)** with deterministic seeding (the ``k`` lowest-id
  vectors — same convention as ``similarity.ivf_assign``'s stand-in
  centroids, so trained centroids drop straight into the IVF layout).
  Centroids are a k-row relation that BROADCASTS; the assignment step is a
  map-side broadcast join + an argmin aggregation that reuses the base
  table's hash partitioning on the id (no per-iteration exchange of the
  big side — the same partitioning-reuse shape as ``analytics.pagerank``).
  The only per-iteration shuffle is the k-group centroid update, which
  partial-aggregates map-side to ``k`` rows per partition.
- Updated centroid coordinates are quantized to 1e-6 (``round(avg·1e6)/
  1e6``) so the DuckDB oracle twin reproduces them bit-for-bit: a raw
  double group-average depends on row visit order in its last ulp; on the
  1e-6 grid both engines land on the same value.
- **semantic_dedup** never scores a cross-cluster pair: the pairwise
  cosine join is keyed on the cluster id, so the candidate count is
  O(n²/k) not O(n²) — the same bucket-constrained shape as
  ``similarity.cosine_neardup_pairs`` (clusters play the LSH buckets).
  Per-vector norms are computed once before the join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from judy_graph_db_spark.operators.similarity import norm
from judy_graph_db_spark.loopstate import checkpoint
from judy_graph_db_spark.schema import union_all

#: broadcast the materialized (id, cluster) assignment into the
#: semantic-dedup joins when its MEASURED row count is at most this —
#: two longs/row keeps the built relation well inside the guide's §3.1
#: comfort zone; beyond it the sort-merge fallback is the right plan
_BCAST_CLUSTERS_MAX_ROWS = 10_000_000

#: corpus rows above which semantic_dedup materializes its k-means
#: assignment once instead of letting the plan's three references
#: recompute it (see the dispatch comment in :func:`semantic_dedup` —
#: at sf0.1 the checkpoint measured 0.71-0.76×, at corpus scale the
#: recompute is three full k-means passes)
_SEMDEDUP_CKPT_MIN_ROWS = 5_000_000


def _sqdist(vec_col: str, cent_col: str, dim: int):
    """Squared Euclidean distance, emitted as an explicit ``dim``-term sum:
    pure whole-stage codegen, and the strict left-to-right summation order
    makes the double bit-identical to the oracle twin's ``list_sum`` fold."""
    terms = " + ".join(
        f"(cast({vec_col}[{i}] as double) - {cent_col}[{i}]) * "
        f"(cast({vec_col}[{i}] as double) - {cent_col}[{i}])"
        for i in range(dim)
    )
    return F.expr(terms)


def kmeans_assign(embeddings: DataFrame, k: int = 8, iters: int = 2,
                  dim: int = 64, id_col: str = "vec_id",
                  vec_col: str = "embedding",
                  target_cluster_size: int | None = None) -> DataFrame:
    """Lloyd's k-means with deterministic init: centroids start as the ``k``
    lowest-id vectors, then ``iters`` rounds of (assign to nearest centroid,
    recompute centroid as the member mean). Ties in the argmin break toward
    the lower centroid id. Returns ``(id_col, cluster)``.

    A cluster that loses every member keeps its previous centroid (the
    LEFT-JOIN/COALESCE below), so ``k`` never silently shrinks.

    **Scale ``k`` with the corpus.** The fixture default ``k=8`` is a
    small-data convenience; the O(n²/k) within-cluster pair bound that
    downstream :func:`semantic_dedup` relies on is only real when k grows
    with n (SemDeDup uses k ≈ 0.1%·n, i.e. ~1000-vector clusters). Pass
    ``target_cluster_size`` to derive ``k = max(2, n // target)`` from a
    corpus count instead of hand-picking it.
    """
    base = embeddings.select(id_col, vec_col)
    if target_cluster_size is not None:
        if target_cluster_size <= 0:
            raise ValueError("target_cluster_size must be positive")
        k = max(2, base.count() // int(target_cluster_size))
    cents = (
        base.orderBy(id_col).limit(int(k))
        .select(
            F.col(id_col).alias("_cid"),
            F.expr(
                "transform(%s, x -> cast(x as double))" % vec_col
            ).alias("_cvec"),
        )
    )
    # rebind the centroid id to a dense 0..k-1 rank so the SQL twin (which
    # orders by vec_id) agrees on ids regardless of the raw key values
    from pyspark.sql import Window

    cents = cents.withColumn(
        "_cid", F.row_number().over(Window.orderBy("_cid")) - 1
    )

    assigned = None
    for _ in range(int(iters)):
        scored = base.join(F.broadcast(cents)).withColumn(
            "_d", _sqdist(vec_col, "_cvec", dim)
        )
        assigned = (
            scored.groupBy(id_col)
            .agg(
                F.min(F.struct(F.col("_d"), F.col("_cid"))).alias("_m"),
                F.first(vec_col).alias(vec_col),
            )
            .select(id_col, F.col("_m._cid").alias("cluster"), vec_col)
        )
        new_cents = assigned.groupBy("cluster").agg(
            *[
                (F.round(F.avg(F.col(vec_col)[i].cast("double")) * 1e6) / 1e6).alias(
                    f"_a{i}"
                )
                for i in range(dim)
            ]
        ).select(
            F.col("cluster").alias("_cid"),
            F.array(*[F.col(f"_a{i}") for i in range(dim)]).alias("_cvec"),
        )
        cents = (
            cents.withColumnRenamed("_cvec", "_ov")
            .join(new_cents.withColumnRenamed("_cvec", "_nv"), "_cid", "left")
            .select("_cid", F.coalesce("_nv", "_ov").alias("_cvec"))
        )
    return assigned.select(id_col, "cluster")


def kmeans_sizes(embeddings: DataFrame, k: int = 8, iters: int = 2,
                 dim: int = 64, id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """Per-cluster member counts after :func:`kmeans_assign` — the corpus
    map a curation run reports. Returns ``(cluster, n)``."""
    return (
        kmeans_assign(embeddings, k, iters, dim, id_col, vec_col)
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def semantic_dedup(embeddings: DataFrame, clusters: DataFrame | None = None,
                   threshold_micro: int = 350000, k: int = 8, iters: int = 2,
                   dim: int = 64, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   target_cluster_size: int | None = None) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): within each k-means cluster, drop every
    vector that has a LOWER-id neighbor at cosine ≥ ``threshold_micro``
    micro-units — each high-similarity group keeps exactly its lowest id
    (the same canonical-representative rule as ``dedup.exact_dedup``).

    Pass a precomputed ``clusters`` frame (``(id_col, cluster)``) to reuse
    an assignment; otherwise :func:`kmeans_assign` runs with the given
    ``k``/``iters``. Pairs are generated per cluster only — candidates are
    O(n²/k), and the pair join's equi-key is the cluster id, so skewed
    mega-clusters are visible (and salt-able) in the shuffle plan.

    Returns ``(id_col, cluster, kept)`` for every input vector.

    The O(n²/k) candidate bound requires k to SCALE with the corpus —
    prefer ``target_cluster_size`` (SemDeDup's k ≈ 0.1%·n means ~1000-row
    clusters) over the small-fixture default ``k=8`` on real data.
    """
    if clusters is None:
        # The assignment feeds both sides of the within-cluster pair join
        # AND the final label join — the plan carries THREE copies of the
        # iterative k-means pipeline. RUNTIME-STATS DISPATCH (the
        # _prep_edge_rel pattern): above ``_SEMDEDUP_CKPT_MIN_ROWS`` the
        # assignment is materialized once (checkpoint + measured-count
        # broadcast hint, guide §2.4/§3.1) so the corpus-sized k-means
        # runs once, not three times; below it the lazy triple-reference
        # stays — the r15 A/B measured every checkpointed variant
        # 0.71-0.76× at sf0.1 (5k cached vectors: the operator is
        # latency-bound and the extra materialization jobs cost more
        # than three cheap recomputes), while at corpus scale the
        # recompute is three full k-means passes. One count job on the
        # (typically cached) input decides from the real size.
        clusters = kmeans_assign(embeddings, k, iters, dim, id_col, vec_col,
                                 target_cluster_size=target_cluster_size)
        if embeddings.count() >= _SEMDEDUP_CKPT_MIN_ROWS:
            clusters = checkpoint(clusters, eager=False)
            # a checkpoint scan carries no size statistics — the measured
            # count restores the broadcast strategy when it fits
            if clusters.count() <= _BCAST_CLUSTERS_MAX_ROWS:
                clusters = F.broadcast(clusters)
    # the pair-join sides re-run only one scan of the (typically
    # cached/columnar) embeddings plus this join — measured cheaper at
    # sf0.1 than checkpointing the vec-width relation (0.87× A/B), and
    # at scale the duplicated work stays one linear scan
    e = (
        embeddings.select(id_col, vec_col)
        .join(clusters, id_col)
        .withColumn("_nrm", norm(vec_col, dim))
    )
    a = e.select(F.col(id_col).alias("_ida"), F.col(vec_col).alias("_va"),
                 F.col("_nrm").alias("_na"), "cluster")
    b = e.select(F.col(id_col).alias("_idb"), F.col(vec_col).alias("_vb"),
                 F.col("_nrm").alias("_nb"), "cluster")
    from judy_graph_db_spark.operators.similarity import dot

    sim = F.round(dot("_va", "_vb", dim) / (F.col("_na") * F.col("_nb")) * 1e6).cast(
        "long"
    )
    drops = (
        a.join(b, "cluster")
        .filter(F.col("_ida") < F.col("_idb"))
        .withColumn("_sim", sim)
        .filter(F.col("_sim") >= int(threshold_micro))
        .select(F.col("_idb").alias(id_col))
        .distinct()
    )
    return (
        clusters.join(
            drops.withColumn("_dropped", F.lit(True)), id_col, "left"
        )
        .select(
            id_col, "cluster",
            F.coalesce(~F.col("_dropped"), F.lit(True)).alias("kept"),
        )
    )


# --------------------------------------------------------------- product
# quantization (Jégou, Douze, Schmid, "Product Quantization for Nearest
# Neighbor Search", TPAMI 2011): split each vector into m subvectors, run
# k-means per subspace, store only the m centroid codes (dim·4 bytes →
# m bytes per vector), and answer queries with asymmetric distance
# computation (ADC) over a broadcastable m·k lookup table.

def pq_train_encode(embeddings: DataFrame, m: int = 4, k: int = 16,
                    iters: int = 2, dim: int = 64, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Train per-subspace codebooks and encode every vector:
    ``(id_col, codes)`` where ``codes[s]`` is the nearest-centroid id of
    subvector ``s`` (deterministic Lloyd via :func:`kmeans_assign`, so the
    whole pipeline hash-gates).

    Scale shape: ``m`` independent k-means runs over dim/m-wide slices —
    each inherits kmeans_assign's broadcast-centroid plan (the corpus is
    never reshuffled per iteration), then ONE id-keyed rollup assembles
    the code arrays. The output is the 100 TB serving artifact: at
    m=8, k=256 a 64-dim float corpus shrinks 32× before ANN serving.
    """
    if dim % m != 0:
        raise ValueError("dim must be divisible by m")
    d = dim // m
    parts = []
    for s in range(m):
        sub = embeddings.select(
            id_col, F.slice(vec_col, s * d + 1, d).alias(vec_col))
        a = kmeans_assign(sub, k=k, iters=iters, dim=d,
                          id_col=id_col, vec_col=vec_col)
        parts.append(a.select(
            id_col, F.lit(s).cast("long").alias("__sub"),
            F.col("cluster").alias("__code")))
    return (
        union_all(parts, by_name=True).groupBy(id_col)
        .agg(F.array_sort(F.collect_list(
            F.struct("__sub", "__code"))).alias("__sc"))
        .select(id_col,
                F.transform(F.col("__sc"), lambda x: x["__code"])
                .alias("codes"))
    )


def pq_codebooks(embeddings: DataFrame, codes: DataFrame, m: int = 4,
                 dim: int = 64, id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """Final codebooks implied by an encoding: centroid ``(sub, code)`` =
    mean of its members' subvectors, on the same 1e-6 grid as
    ``kmeans_assign`` (one extra Lloyd update — the standard PQ training
    output). Returns ``(sub, code, cvec)`` — m·k rows, broadcast-sized at
    any corpus scale."""
    d = dim // m
    j = embeddings.select(id_col, vec_col).join(codes, id_col)
    parts = []
    for s in range(m):
        parts.append(
            j.select(
                F.col("codes")[s].alias("code"),
                F.slice(vec_col, s * d + 1, d).alias("__sv"))
            .groupBy("code")
            .agg(*[
                (F.round(F.avg(F.col("__sv")[i].cast("double")) * 1e6)
                 / 1e6).alias(f"__a{i}")
                for i in range(d)
            ])
            .select(F.lit(s).cast("long").alias("sub"), "code",
                    F.array(*[F.col(f"__a{i}") for i in range(d)])
                    .alias("cvec"))
        )
    return union_all(parts, by_name=True)


def pq_adc_topk(codes: DataFrame, codebooks: DataFrame, query: DataFrame,
                m: int = 4, dim: int = 64, topk: int = 10,
                id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: the query (a 1-row frame
    with ``vec_col``) meets each codebook centroid once, giving an m·k
    distance table whose entries quantize to exact integers
    (``floor(d² · 2^20)`` — power-of-two scaling of a bit-identical
    double, so both engines agree); per-vector distance is then an
    ORDER-FREE integer sum of m table lookups. Returns
    ``(id_col, dist_q, rank)`` for the ``topk`` nearest (rank 1 = best,
    ties break toward the lower id).

    Scale shape: the distance table broadcasts (m·k rows); the scan side
    explodes each code array into m lookups and partial-aggregates the
    integer sum map-side — one corpus-sized shuffle on the id, then a
    global top-k which Spark executes as per-partition heaps + a
    driver-sized merge."""
    d = dim // m
    qsubs = union_all([
        query.select(
            F.lit(s).cast("long").alias("sub"),
            F.transform(F.slice(vec_col, s * d + 1, d),
                        lambda x: x.cast("double")).alias("__qv"))
        for s in range(m)], by_name=True)
    dtable = (
        codebooks.join(F.broadcast(qsubs), "sub")
        .withColumn("__dd", _sqdist("__qv", "cvec", d))
        .select("sub", "code",
                F.floor(F.col("__dd") * (1 << 20)).cast("long").alias("__dq"))
    )
    from pyspark.sql import Window

    scored = (
        codes.select(id_col, F.posexplode("codes").alias("sub", "code"))
        .join(F.broadcast(dtable), ["sub", "code"])
        .groupBy(id_col)
        .agg(F.sum("__dq").alias("dist_q"))
    )
    # top-k via sort+limit (TakeOrdered: per-partition heaps + a
    # driver-sized merge of k rows), THEN rank over the k survivors — a
    # bare global row_number window would funnel the corpus-sized scored
    # relation through one partition (same fix as similarity.py's
    # cosine_topk_bruteforce).
    top = scored.orderBy(F.col("dist_q").asc(), F.col(id_col).asc()).limit(
        int(topk))
    w = Window.orderBy(F.col("dist_q").asc(), F.col(id_col).asc())
    return top.withColumn("rank", F.row_number().over(w))


def ivf_pq_topk(embeddings: DataFrame, query_id: int, topk: int = 10,
                n_cells: int = 4, n_probe: int = 2, m: int = 4,
                k: int = 16, iters: int = 2, dim: int = 64,
                id_col: str = "vec_id",
                vec_col: str = "embedding",
                codes: DataFrame | None = None,
                codebooks: DataFrame | None = None) -> DataFrame:
    """The composed billion-vector serving layout (Jégou et al. 2011's
    IVFADC): IVF coarse routing picks the query's ``n_probe`` nearest
    cells, then PQ asymmetric distance ranks ONLY the vectors living in
    those cells — the index never touches raw floats at query time and
    never scans outside the probed partitions. Returns
    ``(id_col, dist_q, rank)`` like :func:`pq_adc_topk` (the query vector
    itself is excluded).

    Scale shape: cell routing is a broadcast of ``n_cells`` rows; the
    candidate set is a partition-pruned fraction ``n_probe/n_cells`` of
    the corpus; PQ scoring inherits the broadcast m·k distance table +
    order-free integer sum. Codebooks/cells train on the full corpus
    (the standard offline step) — pre-compute and reuse both in a real
    serving deployment rather than re-deriving per query as this
    convenience wrapper does.
    """
    from judy_graph_db_spark.operators.similarity import (
        cosine_sim_micro, ivf_assign,
    )

    cents = (
        embeddings.orderBy(id_col).limit(n_cells)
        .select(F.col(id_col).alias("_cid"), F.col(vec_col).alias("_cvec"))
    )
    q = embeddings.filter(F.col(id_col) == int(query_id)).limit(1).select(
        F.col(vec_col).alias("_qvec"))
    probe_cells = (
        F.broadcast(cents).join(F.broadcast(q))
        .withColumn("_sim", cosine_sim_micro("_cvec", "_qvec"))
        .orderBy(F.col("_sim").desc(), F.col("_cid"))
        .limit(int(n_probe))
        .select("_cid")
    )
    assign = ivf_assign(embeddings, n_cells, id_col, vec_col)
    cand = (
        assign.join(F.broadcast(probe_cells),
                    assign["cell"] == F.col("_cid"))
        .filter(F.col(id_col) != int(query_id))
        .select(id_col)
    )
    # a real deployment trains once and passes both in; the per-query
    # retrain below is the convenience path only
    if codes is None:
        codes = pq_train_encode(embeddings, m=m, k=k, iters=iters, dim=dim,
                                id_col=id_col, vec_col=vec_col)
    cb = codebooks if codebooks is not None else pq_codebooks(
        embeddings, codes, m=m, dim=dim, id_col=id_col, vec_col=vec_col)
    qv = embeddings.filter(F.col(id_col) == int(query_id)).limit(1) \
        .select(vec_col)
    restricted = codes.join(cand, id_col, "left_semi")
    return pq_adc_topk(restricted, cb, qv, m=m, dim=dim, topk=topk,
                       id_col=id_col, vec_col=vec_col)
