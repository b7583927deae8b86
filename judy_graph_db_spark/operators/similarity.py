"""Similarity search over embedding columns (``array<float>``).

Brute-force cosine top-k as the exact baseline, plus two scale paths:

- **Hyperplane LSH**: deterministic sign-bit bucketing (planes = the
  dataset's lowest-id vectors, so the DuckDB oracle can reproduce them) —
  candidate generation becomes an equi-join on the bucket key.
- **IVF-style partitioning**: assign every vector to its nearest of C
  coarse centroids, search only the query's cell — the standard
  billion-vector layout (cells = partition pruning on disk).

All dot products run as JVM-side ``aggregate``/``zip_with`` expressions in
DOUBLE precision (same left-to-right fold DuckDB's list functions use) —
no Python in the hot path; similarity is reported as integer micro-units
(``round(sim·1e6)``) so oracle hashes are float-safe.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from judy_graph_db_spark.loopstate import checkpoint
from judy_graph_db_spark.schema import union_all

DOT = "aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), cast(0.0 as double), (acc, v) -> acc + v)"
NORM = "sqrt(aggregate({a}, cast(0.0 as double), (acc, v) -> acc + cast(v as double) * cast(v as double)))"


def dot(a: str, b: str, dim: int | None = None) -> Column:
    """Dot product. With ``dim`` the sum is emitted as an explicit 64-term
    expression — pure whole-stage codegen, ~10× the throughput of the
    higher-order ``aggregate`` fold (lambdas are interpreted per element).
    Identical doubles either way: both sum strictly left-to-right."""
    if dim:
        terms = " + ".join(
            f"cast({a}[{i}] as double) * cast({b}[{i}] as double)" for i in range(dim)
        )
        return F.expr(terms)
    return F.expr(DOT.format(a=a, b=b))


def norm(a: str, dim: int | None = None) -> Column:
    if dim:
        terms = " + ".join(
            f"cast({a}[{i}] as double) * cast({a}[{i}] as double)" for i in range(dim)
        )
        return F.expr(f"sqrt({terms})")
    return F.expr(NORM.format(a=a))


def cosine_sim_micro(a: str, b: str, dim: int | None = None) -> Column:
    """cosine(a,b) · 1e6 as BIGINT (hash-stable across engines)."""
    return F.round(dot(a, b, dim) / (norm(a, dim) * norm(b, dim)) * 1e6).cast("long")


def cosine_topk_bruteforce(embeddings: DataFrame, query_id: int, k: int = 10,
                           id_col: str = "vec_id", vec_col: str = "embedding",
                           dim: int | None = None) -> DataFrame:
    """Exact top-k cosine neighbors of one stored vector: broadcast the query
    row against the full table — one scan, no shuffle except the final top-k.
    Returns (vec_id, rank, sim_micro)."""
    # limit(1) makes the broadcast side PROVABLY one-row (ids are unique,
    # but the bound lets the plan linter verify it statically) — this is
    # the shape `plans.lint` certifies as a scalar nested-loop build
    q = embeddings.filter(F.col(id_col) == int(query_id)).limit(1).select(
        F.col(vec_col).alias("_qvec"))
    scored = (
        embeddings.filter(F.col(id_col) != int(query_id))
        .join(F.broadcast(q))
        .withColumn("sim_micro", cosine_sim_micro(vec_col, "_qvec", dim))
        .select(id_col, "sim_micro")
    )
    # top-k via sort+limit (TakeOrdered: per-partition heaps, no global
    # shuffle), THEN rank over the k survivors — a bare global row_number
    # window would funnel every scored row through one partition
    top = scored.orderBy(F.col("sim_micro").desc(), F.col(id_col)).limit(int(k))
    w = Window.orderBy(F.col("sim_micro").desc(), F.col(id_col))
    return top.withColumn("rank", F.row_number().over(w)).select(
        id_col, "rank", "sim_micro"
    )


def knn_join(queries: DataFrame, corpus: DataFrame, k: int = 10,
             id_col: str = "vec_id", vec_col: str = "embedding",
             dim: int | None = None) -> DataFrame:
    """Batch exact k-NN join: for EVERY query vector, its top-k cosine
    neighbors in the corpus — the shape a retrieval/dedup pipeline actually
    runs (a batch of probes against a huge corpus), generalizing the
    single-query :func:`cosine_topk_bruteforce`.

    The query batch broadcasts (small side); scoring is ONE corpus scan
    producing |corpus|·|queries| scored rows that shuffle once, keyed by
    query id, for the per-query top-k window. Self-pairs (same id) are
    excluded. For corpus-scale probe sets, bucket both sides first
    (:func:`hyperplane_buckets` / :func:`ivf_assign`) and knn_join within
    buckets. Returns (query_id, vec_id, rank, sim_micro)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    )
    scored = (
        corpus.join(F.broadcast(q), F.col(id_col) != F.col("query_id"))
        .withColumn("sim_micro", cosine_sim_micro(vec_col, "_qvec", dim))
        .select("query_id", id_col, "sim_micro")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim_micro").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select("query_id", id_col, "rank", "sim_micro")
    )


def hyperplane_buckets(embeddings: DataFrame, n_planes: int = 4,
                       id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """LSH bucket per vector: bit i = sign(dot(v, plane_i)), planes = the
    ``n_planes`` lowest-id vectors (deterministic, oracle-reproducible).
    Returns (vec_id, bucket) — bucket is an n-char '0'/'1' string.

    Scale: planes are a broadcast of n rows; bucketing is map-only; the
    search join is then an equi-join on ``bucket``."""
    planes = (
        embeddings.orderBy(id_col).limit(n_planes)
        .select(F.col(id_col).alias("_pid"), F.col(vec_col).alias("_pvec"))
    )
    tagged = embeddings.join(F.broadcast(planes)).withColumn(
        "_bit", F.when(dot(vec_col, "_pvec") >= 0, F.lit("1")).otherwise(F.lit("0"))
    )
    return (
        tagged.groupBy(id_col)
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pid", "_bit"))),
                    lambda s: s["_bit"],
                ),
            ).alias("bucket")
        )
    )


def lsh_topk(embeddings: DataFrame, query_id: int, k: int = 10, n_planes: int = 4,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k: exact cosine ranking *within the query's LSH
    bucket* — the scale path (bucket equi-join instead of full scan)."""
    buckets = hyperplane_buckets(embeddings, n_planes, id_col, vec_col)
    qb = buckets.filter(F.col(id_col) == int(query_id)).select(
        F.col("bucket").alias("_qb"))
    cell = (
        embeddings.join(buckets, id_col)
        .join(F.broadcast(qb), F.col("bucket") == F.col("_qb"), "inner")
        .drop("_qb", "bucket")
    )
    return cosine_topk_bruteforce(cell, query_id, k, id_col, vec_col)


def cosine_neardup_pairs(embeddings: DataFrame, threshold_micro: int = 400000,
                         n_planes: int | None = None, id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         dim: int | None = None) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-bucket-constrained: only
    pairs sharing a hyperplane-LSH bucket are scored (the O(n²/buckets)
    scale path — a full pairwise scan never happens), then kept when
    cosine ≥ ``threshold_micro``. Returns (vec_a, vec_b, sim_micro).

    ``n_planes=None`` (default) AUTO-SCALES the plane count with the
    corpus: ``max(4, ⌈log2(n/128)⌉)``, keeping the expected bucket
    occupancy ≈128 so the candidate-pair count stays O(n·128) — without
    this, a FIXED plane count makes the bucket join quadratic in n (the
    sf1.0 scale probe measured exactly that: α=1.64 at n_planes=4 when
    the corpus grew 10×). Pass an explicit ``n_planes`` to pin the
    bucketing (the oracle-twinned gates do, so their DuckDB SQL stays in
    lockstep). Candidate recall is the standard LSH trade-off: more
    planes → finer buckets → cheaper but lower recall; union several
    independent plane sets for higher recall at the same cost shape."""
    if n_planes is None:
        import math  # noqa: PLC0415

        n = embeddings.count()
        n_planes = max(4, math.ceil(math.log2(max(n, 1) / 128.0))
                       if n > 128 else 4)
    buckets = hyperplane_buckets(embeddings, n_planes, id_col, vec_col)
    # precompute each vector's norm ONCE before the pairwise join — the
    # per-pair work is then a single dot product, not dot + two norms;
    # materialized ONCE (r15): both sides of the bucket self-join read
    # this relation, and without the checkpoint each side re-ran the
    # bucketing aggregation (plane join + collect_list over n·n_planes
    # rows, duplicated in the r14 plan — guide §2.4)
    e = checkpoint(embeddings.join(buckets, id_col)
                   .withColumn("_nrm", norm(vec_col, dim)), eager=True)
    a = e.select(F.col(id_col).alias("vec_a"), F.col(vec_col).alias("_emb_a"),
                 F.col("_nrm").alias("_nrm_a"), "bucket")
    b = e.select(F.col(id_col).alias("vec_b"), F.col(vec_col).alias("_emb_b"),
                 F.col("_nrm").alias("_nrm_b"), "bucket")
    sim = F.round(
        dot("_emb_a", "_emb_b", dim) / (F.col("_nrm_a") * F.col("_nrm_b")) * 1e6
    ).cast("long")
    return (
        a.join(b, "bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("sim_micro", sim)
        .filter(F.col("sim_micro") >= int(threshold_micro))
        .select("vec_a", "vec_b", "sim_micro")
    )


def ivf_assign(embeddings: DataFrame, n_cells: int = 4,
               id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """IVF coarse quantization: centroid c = the ``n_cells`` lowest-id
    vectors (deterministic stand-in for k-means — swap in trained centroids
    in production); every vector is assigned to its max-cosine centroid.
    Returns (vec_id, cell). At scale, write the table partitioned by
    ``cell`` so a query scans one partition."""
    cents = (
        embeddings.orderBy(id_col).limit(n_cells)
        .select(F.col(id_col).alias("_cid"), F.col(vec_col).alias("_cvec"))
    )
    scored = embeddings.join(F.broadcast(cents)).withColumn(
        "_sim", cosine_sim_micro(vec_col, "_cvec")
    )
    w = Window.partitionBy(id_col).orderBy(F.col("_sim").desc(), F.col("_cid"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(id_col, F.col("_cid").alias("cell"))
    )


def ivf_topk(embeddings: DataFrame, query_id: int, k: int = 10, n_cells: int = 4,
             n_probe: int = 1,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k searching the query's ``n_probe`` closest IVF
    cells (standard recall/cost knob: probe more cells → recall approaches
    exact at proportional scan cost; the scanned fraction stays
    n_probe/n_cells of the corpus)."""
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
    cell = (
        embeddings.join(assign, id_col)
        .join(F.broadcast(probe_cells), assign["cell"] == F.col("_cid"))
        .drop("cell", "_cid")
    )
    return cosine_topk_bruteforce(cell, query_id, k, id_col, vec_col)


def quantize_embeddings(embeddings: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Symmetric int8 scalar quantization, per vector: ``scale = max(|v|)/
    127``, ``q[i] = round(v[i]/scale)`` — the standard 4× storage shrink a
    100 TB embedding corpus takes before ANN serving (recall loss at int8
    is typically <1% for cosine ranking). Pure codegen ``transform``
    expressions, no shuffle, no UDF.

    The scale surfaces as integer micro-units and each quantized vector as
    its comma-joined md5, so the whole transform is hash-gated exactly
    (house float rule). Zero vectors quantize to all-zeros with scale 0.
    Returns ``(id_col, scale_micro, n_dims, q_hash)``.
    """
    amax = F.expr(
        f"aggregate({vec_col}, cast(0.0 as double), "
        f"(acc, x) -> greatest(acc, abs(cast(x as double))))"
    )
    scale = amax / 127.0
    q = F.expr(
        f"transform({vec_col}, x -> cast(round(cast(x as double) / "
        f"(aggregate({vec_col}, cast(0.0 as double), "
        f"(acc, y) -> greatest(acc, abs(cast(y as double)))) / 127.0)) as bigint))"
    )
    qz = F.when(amax == 0, F.expr(f"transform({vec_col}, x -> cast(0 as bigint))")).otherwise(q)
    return embeddings.select(
        F.col(id_col),
        F.round(scale * 1e6).cast("long").alias("scale_micro"),
        F.size(F.col(vec_col)).alias("n_dims"),
        F.md5(F.concat_ws(",", qz.cast("array<string>"))).alias("q_hash"),
    )


def rrf_fuse(rankings: "list[DataFrame]", id_col: str = "id",
             rank_col: str = "rank", k0: int = 60) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Büttcher 2009) of N
    ranked lists — the standard hybrid-retrieval combiner (BM25 lexical +
    ANN dense, or any mix): ``score(d) = Σ_lists 1/(k0 + rank_d)``, here
    in exact integer micro-units (``1000000 div (k0 + rank)``) so the
    fused scores hash identically across engines. Returns
    ``(id_col, n_lists, rrf_micro)``; callers order by
    ``(rrf_micro DESC, id)`` for a deterministic fused ranking.

    Scale shape: each input list is already small (top-k per query — the
    expensive retrieval happened upstream); fusion is one union + one
    id-keyed partial-agg shuffle, independent of corpus size. k0=60 is
    the published default.
    """
    if not rankings:
        raise ValueError("rankings must be non-empty")
    parts = [
        r.select(F.col(id_col),
                 F.col(rank_col).cast("long").alias("__rank"))
        for r in rankings
    ]
    return (
        union_all(parts, by_name=True).groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_lists"),
             F.sum(F.expr(f"1000000 div ({int(k0)} + __rank)"))
             .alias("rrf_micro"))
    )


def rrf_fuse_oracle_sql(rank_sqls: "list[str]", id_col: str = "id",
                        rank_col: str = "rank", k0: int = 60) -> str:
    """ANSI-SQL twin of :func:`rrf_fuse` for DuckDB."""
    union = "\nUNION ALL\n".join(
        f"SELECT {id_col}, CAST({rank_col} AS BIGINT) AS r FROM ({s})"
        for s in rank_sqls)
    return f"""SELECT {id_col}, COUNT(*) AS n_lists,
       CAST(SUM(1000000 // ({int(k0)} + r)) AS BIGINT) AS rrf_micro
FROM ({union}) GROUP BY {id_col}"""


def topk_recall(approx: DataFrame, exact: DataFrame,
                query_col: str = "query_id", id_col: str = "id") -> DataFrame:
    """Recall@k of an approximate top-k retrieval against the exact
    (brute-force) top-k, per query — the acceptance metric every ANN
    index (IVF/LSH/PQ) ships with. Returns ``(query_col, n_exact, n_hit,
    recall_permille)`` with ``recall_permille = 1000·|approx ∩ exact|
    div |exact|`` (integer-exact).

    Both inputs are top-k relations (O(queries·k) rows), so the whole
    evaluation is one equi-join + one query-keyed aggregation — no touch
    of the corpus. A left join from exact keeps queries the approx side
    missed entirely (recall 0) visible.
    """
    a = approx.select(F.col(query_col), F.col(id_col)).distinct()
    hits = (
        exact.select(F.col(query_col), F.col(id_col))
        .join(a.withColumn("__hit", F.lit(1)), [query_col, id_col], "left")
        .groupBy(query_col)
        .agg(F.count(F.lit(1)).alias("n_exact"),
             F.count("__hit").alias("n_hit"))
    )
    return hits.select(
        query_col, "n_exact", "n_hit",
        F.expr("1000 * n_hit div n_exact").alias("recall_permille"))


def topk_recall_oracle_sql(approx_sql: str, exact_sql: str,
                           query_col: str = "query_id",
                           id_col: str = "id") -> str:
    """ANSI-SQL twin of :func:`topk_recall` for DuckDB."""
    return f"""WITH ap AS (
  SELECT DISTINCT {query_col}, {id_col} FROM ({approx_sql})
),
ex AS (SELECT {query_col}, {id_col} FROM ({exact_sql}))
SELECT e.{query_col}, COUNT(*) AS n_exact,
       COUNT(a.{id_col}) AS n_hit,
       CAST(1000 * COUNT(a.{id_col}) // COUNT(*) AS BIGINT)
         AS recall_permille
FROM ex e LEFT JOIN ap a
  ON e.{query_col} = a.{query_col} AND e.{id_col} = a.{id_col}
GROUP BY e.{query_col}"""


def mean_pool_embeddings(embs: DataFrame, group_col: str,
                         vec_col: str = "embedding",
                         scale_pow2: int = 20) -> DataFrame:
    """Mean-pool vectors per group — the chunk→document aggregation every
    long-document embedding pipeline needs (embed chunks, pool to one doc
    vector before ANN indexing). Returns ``(group_col, n_vecs, pooled
    ARRAY<DOUBLE>, pooled_q ARRAY<LONG>)``.

    Element-wise sums via ``posexplode`` + one (group, dim) partial-agg
    shuffle (the CollapseProject-safe shape — a zip_with fold would
    re-inline per element). ``pooled_q`` never touches a float: each
    element quantizes to ``floor(float64(v)·2^10)`` FIRST (power-of-two,
    engine-exact on the raw value), the integers sum (order-free, unlike
    float sums), and the mean is the integer division
    ``(Σq · 2^(scale_pow2-10)) div n`` — so the float-valued ``pooled``
    column gets an integer fingerprint the gate can hash.
    """
    up = 1 << (scale_pow2 - 10)
    parts = (
        embs.select(F.col(group_col), F.posexplode(vec_col).alias("i", "v"))
        .groupBy(group_col, "i")
        .agg(F.sum(F.col("v").cast("double")).alias("s"),
             F.sum(F.floor(F.col("v").cast("double") * 1024).cast("long"))
             .alias("qs"),
             F.count(F.lit(1)).alias("n"))
    )
    return (
        parts.groupBy(group_col)
        .agg(
            F.max("n").alias("n_vecs"),
            F.array_sort(
                F.collect_list(F.struct(
                    "i", (F.col("s") / F.col("n")).alias("m"),
                    F.expr(f"(qs * {up}) div n").alias("q")))
            ).alias("_sm"),
        )
        .select(
            group_col, F.col("n_vecs").cast("long"),
            F.expr("transform(_sm, x -> x.m)").alias("pooled"),
            F.expr("transform(_sm, x -> x.q)").alias("pooled_q"),
        )
    )


def random_projection(embs: DataFrame, out_dim: int = 16, seed: int = 0,
                      vec_col: str = "embedding",
                      id_col: str = "vec_id",
                      dim: int | None = None) -> DataFrame:
    """Johnson–Lindenstrauss random projection with a ±1 (Achlioptas
    2003) sign matrix derived from md5 — dimensionality reduction for
    ANN prefiltering / sketching, fully integer-exact: inputs quantize to
    ``q = floor(float64(x)·2^10)`` (power-of-two, engine-exact), signs
    are the parity of the shared 60-bit hash of ``(seed, j, i)``, and
    output ``y_j = Σ_i sign_ij · q_i`` is an integer sum — so the
    projected relation hash-gates with no float anywhere. Returns
    ``(id_col, j, v)`` rows (j = 0..out_dim−1); distances in the
    projected space are ≈ 2^10·√out_dim-scaled originals.

    Scale shape: the sign matrix is an ``out_dim·dim``-row relation built
    from ``spark.range(dim)`` (pass ``dim`` explicitly, or a bounded
    one-row probe discovers it — never a corpus scan) and BROADCAST to
    the join (kilobytes even at dim 4096); vectors ``posexplode`` in the
    scan stage and the only shuffle is the (id, j) partial-agg sum. No
    Python, no UDF, no unbounded driver round-trip.
    """
    from judy_graph_db_spark.operators.sketch import _h60

    if out_dim < 1:
        raise ValueError("out_dim must be positive")
    spark = embs.sparkSession
    if dim is None:
        # one-row probe, NOT a corpus scan — the sign matrix must never
        # cost a full pass over a 100 TB embedding table
        row = embs.select(F.size(vec_col).alias("d")).limit(1).collect()
        dim = int(row[0]["d"]) if row else 0
    dim_df = spark.range(int(dim)).select(F.col("id").cast("int").alias("i"))
    signs = (
        dim_df.select(
            "i",
            F.explode(F.sequence(F.lit(0), F.lit(out_dim - 1))).alias("j"))
        .select(
            "i", "j",
            (1 - 2 * (_h60(F.concat_ws("|", F.lit(str(seed)), "j", "i"),
                           "rproj") % 2)).alias("s"))
    )
    q = embs.select(
        F.col(id_col),
        F.posexplode(vec_col).alias("i", "x"),
    ).select(
        id_col, "i",
        F.floor(F.col("x").cast("double") * 1024).cast("long").alias("q"))
    return (
        q.join(F.broadcast(signs), "i")
        .groupBy(id_col, "j")
        .agg(F.sum(F.col("s") * F.col("q")).alias("v"))
    )


def random_projection_oracle_sql(out_dim: int = 16, seed: int = 0,
                                 vec_col: str = "embedding",
                                 id_col: str = "vec_id",
                                 table: str = "embeddings") -> str:
    """ANSI-SQL twin of :func:`random_projection` (DuckDB)."""
    from judy_graph_db_spark.oracle import _h60_sql

    h = _h60_sql(f"'{seed}' || '|' || CAST(j AS VARCHAR) || '|' || "
                 f"CAST(i AS VARCHAR)", "rproj")
    # seed folds into the same md5 input text as the Spark side:
    # both hash 'rproj:' || seed || '|' || j || '|' || i
    return f"""WITH rp_q AS (
  SELECT {id_col},
         unnest(generate_series(1, len({vec_col}))) - 1 AS i,
         CAST(floor(CAST(unnest({vec_col}) AS DOUBLE) * 1024) AS BIGINT)
           AS q
  FROM {table}
),
rp_s AS (
  SELECT i, j, 1 - 2 * ({h} % 2) AS s
  FROM (SELECT DISTINCT i FROM rp_q),
       (SELECT unnest(generate_series(0, {out_dim - 1})) AS j)
)
SELECT q.{id_col}, s.j, CAST(SUM(s.s * q.q) AS BIGINT) AS v
FROM rp_q q JOIN rp_s s ON q.i = s.i
GROUP BY q.{id_col}, s.j"""


def distance_histogram(embs: DataFrame, sample_buckets: int = 4,
                       dim: int = 64, id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """Embedding-space health check: the log2-bucketed histogram of
    pairwise quantized squared-L2 distances over a deterministic hash
    sample of the corpus. A healthy embedding space shows a broad
    distance spread; a collapsed encoder (all vectors near one point —
    the classic silent failure before ANN recall craters) piles every
    pair into a few low buckets, and duplicated shards spike bucket 0.
    The inspect-before-you-index companion to `topk_recall`.

    Sampling is the engine-standard md5 rule (``h60(id) % 256 <
    sample_buckets`` — grows nestedly with the knob), so the O(s²·dim)
    pair cost is capped by a corpus-independent sample size and the
    result is reproducible across engines and partitionings. Elements
    quantize to ``floor(float64(v)·2^10)`` first (power-of-two — exact in
    float32/float64/SQL alike), distances stay integer, buckets come from
    the ``length(bin(d))`` integer-log2 idiom.

    Returns ``(bucket, n_pairs)``; bucket 0 holds exact-duplicate pairs
    (d² = 0), bucket b ≥ 1 holds 2^(b-1) ≤ d² < 2^b.
    """
    from judy_graph_db_spark.operators.sketch import _h60

    if not 0 < sample_buckets <= 256:
        raise ValueError("sample_buckets must be in 1..256")
    sample = embs.filter(
        _h60(F.col(id_col), "dhist") % 256 < int(sample_buckets))
    q = sample.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.slice(F.col(vec_col), 1, dim)).alias("j", "v"),
    ).select(
        "id", "j",
        F.floor(F.col("v").cast("double") * 1024).cast("long").alias("q"))
    a = q.select(F.col("id").alias("i1"), "j", F.col("q").alias("q1"))
    b = q.select(F.col("id").alias("i2"), "j", F.col("q").alias("q2"))
    d2 = (
        a.join(b, "j")
        .filter(F.col("i1") < F.col("i2"))
        .groupBy("i1", "i2")
        .agg(F.sum((F.col("q1") - F.col("q2"))
                   * (F.col("q1") - F.col("q2"))).alias("d2"))
    )
    return (
        d2.select(
            F.when(F.col("d2") == 0, F.lit(0))
            .otherwise(F.length(F.bin(F.col("d2")))).cast("long")
            .alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def dimension_stats(embs: DataFrame, dim: int = 64, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Per-dimension sufficient statistics of an embedding column —
    ``(j, n, sum_q, sum_sq, min_q, max_q)`` over the 2^10-quantized
    values — the normalization/whitening prep and the "dead dimension"
    detector (a dimension with min_q == max_q carries zero information;
    near-constant dimensions are the other classic encoder-failure
    signature alongside the collapse `distance_histogram` catches).
    Callers derive mean/variance with one division; the relation itself
    stays integer-exact and hash-stable.

    One posexplode + one (j)-keyed map-side-combinable aggregation —
    dim-row output regardless of corpus size.
    """
    q = embs.select(
        F.posexplode(F.slice(F.col(vec_col), 1, dim)).alias("j", "v"),
    ).select(
        "j",
        F.floor(F.col("v").cast("double") * 1024).cast("long").alias("q"))
    return q.groupBy("j").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").alias("sum_q"),
        F.sum(F.col("q") * F.col("q")).alias("sum_sq"),
        F.min("q").alias("min_q"),
        F.max("q").alias("max_q"),
    )


def mrr(results: DataFrame, truth: DataFrame,
        query_col: str = "query_id", id_col: str = "id",
        rank_col: str = "rank") -> DataFrame:
    """Mean reciprocal rank — the retrieval-eval companion to
    `topk_recall` and `stats.ranking_auc`: per query, 1e6 div the rank
    of the FIRST relevant result (0 when no relevant result is
    retrieved — misses stay visible via the truth-side outer join), plus
    the corpus-level mean. Integer micro-units end to end.

    Returns one row ``(n_queries, n_hit, mrr_micro)`` where ``mrr_micro``
    averages over ALL truth queries (the standard definition — absent
    queries count as 0). Both inputs are top-k-sized relations; the join
    is (query, id)-keyed.
    """
    firsts = (
        results.join(truth.select(query_col, id_col), [query_col, id_col])
        .groupBy(query_col)
        .agg(F.min(rank_col).alias("__r"))
    )
    per_q = (
        truth.select(query_col).distinct()
        .join(firsts, query_col, "left")
        .select(
            query_col,
            F.coalesce(F.expr("1000000 div __r"), F.lit(0)).alias("__rr"))
    )
    return per_q.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.sum((F.col("__rr") > 0).cast("long")).alias("n_hit"),
        F.expr("sum(__rr) div count(1)").alias("mrr_micro"),
    )


def ndcg(results: DataFrame, truth: DataFrame, k: int = 10,
         query_col: str = "query_id", id_col: str = "id",
         rank_col: str = "rank", rel_col: str | None = None) -> DataFrame:
    """NDCG@k in the engine's integer-log2 currency — the graded-relevance
    retrieval metric completing `topk_recall` / `mrr` / `rrf_fuse`
    (Järvelin & Kekäläinen 2002). Discount at rank r is the whole-bit
    stand-in for 1/log2(r+1): ``1000000 div bits(r+1)`` with
    ``bits(x) = length(bin(x))`` — the same idiom as
    ``analytics.adamic_adar``, exact in both engines where float log2
    discounts would not hash-gate. DCG sums ``rel · discount(rank)`` over
    retrieved relevant results; IDCG applies the same discount to the
    truth set re-ranked by (rel DESC, id ASC); queries with truth but no
    hits score 0 through the truth-side outer join.

    ``truth`` is ``(query, id[, rel])`` — binary relevance 1 when
    ``rel_col`` is None. Both inputs are top-k-sized relations; the only
    shuffles are the (query, id) hit join and two query-keyed partial
    aggs, and the ideal-rank window partitions by query (eval-set-sized,
    never corpus-sized).

    Returns per-query ``(query_col, dcg, idcg, ndcg_micro)``.
    """
    rel = (F.col(rel_col).cast("long") if rel_col is not None
           else F.lit(1).cast("long"))
    tru = truth.select(query_col, id_col, rel.alias("__rel"))

    def _disc(rank_expr: str) -> Column:
        return F.expr(f"1000000 div length(bin({rank_expr} + 1))")

    hits = (
        results.filter(F.col(rank_col) <= k)
        .select(query_col, id_col, F.col(rank_col).alias("__rk"))
        .join(tru, [query_col, id_col])
        .select(query_col, (F.col("__rel") * _disc("__rk")).alias("__g"))
    )
    dcg = hits.groupBy(query_col).agg(F.sum("__g").alias("dcg"))
    ideal = (
        tru.withColumn(
            "__ir",
            F.row_number().over(
                Window.partitionBy(query_col)
                .orderBy(F.col("__rel").desc(), F.col(id_col).asc())),
        )
        .filter(F.col("__ir") <= k)
        .groupBy(query_col)
        .agg(F.sum(F.col("__rel") * _disc("__ir")).alias("idcg"))
    )
    return ideal.join(dcg, query_col, "left").select(
        query_col,
        F.coalesce(F.col("dcg"), F.lit(0)).alias("dcg"),
        F.col("idcg"),
        F.expr("1000000 * coalesce(dcg, 0) div idcg").alias("ndcg_micro"),
    )


def ndcg_oracle_sql(results_sql: str, truth_sql: str, k: int = 10,
                    query_col: str = "query_id", id_col: str = "id",
                    rank_col: str = "rank",
                    rel_col: str | None = None) -> str:
    """DuckDB twin of :func:`ndcg` (same whole-bit discount)."""
    rel = f"CAST({rel_col} AS BIGINT)" if rel_col is not None else "1"
    q, i, r = query_col, id_col, rank_col
    return f"""
WITH ndcg_res AS ({results_sql}),
ndcg_tru AS (SELECT {q}, {i}, {rel} AS rel FROM ({truth_sql})),
ndcg_dcg AS (
  SELECT a.{q}, SUM(t.rel * (1000000 // length(bin(a.{r} + 1)))) AS dcg
  FROM ndcg_res a JOIN ndcg_tru t USING ({q}, {i})
  WHERE a.{r} <= {int(k)}
  GROUP BY a.{q}
),
ndcg_idl AS (
  SELECT {q}, SUM(rel * (1000000 // length(bin(ir + 1)))) AS idcg
  FROM (
    SELECT {q}, rel, ROW_NUMBER() OVER (
      PARTITION BY {q} ORDER BY rel DESC, {i} ASC) AS ir
    FROM ndcg_tru
  ) WHERE ir <= {int(k)}
  GROUP BY {q}
)
SELECT l.{q}, CAST(COALESCE(d.dcg, 0) AS BIGINT) AS dcg,
       CAST(l.idcg AS BIGINT) AS idcg,
       CAST(1000000 * COALESCE(d.dcg, 0) // l.idcg AS BIGINT) AS ndcg_micro
FROM ndcg_idl l LEFT JOIN ndcg_dcg d USING ({q})
"""


def bitext_mine(src: DataFrame, tgt: DataFrame, k: int = 4,
                threshold_milli: int = 1000,
                id_col: str = "vec_id", vec_col: str = "embedding",
                dim: int | None = None,
                n_planes: "int | str | None" = None,
                approx_n: int | None = None) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019, the
    LASER/CCMatrix recipe): mine translation pairs from two embedding
    corpora by the RATIO margin — cos(x,y) divided by the mean of x's
    and y's average top-k neighborhood similarities — which cancels the
    hubness that makes raw cosine thresholds useless across languages.
    For each source vector the single best-margin target is kept
    (forward "max" strategy) when its margin clears ``threshold_milli``
    (1000 = exactly average; published pipelines mine at ~1060).

    Integer margin: ``2000·cos·|Nx|·|Ny| div (ΣNx·|Ny| + ΣNy·|Nx|)``
    over micro-cosines — exact integer arithmetic, hash-stable.
    Negative-cosine candidates are dropped before the division (they are
    never bitext, and clamping keeps both engines in nonnegative
    territory where ``div`` and ``//`` agree).

    Scale shape: ONE shared scoring relation (broadcast the smaller
    source side against one target scan) + two query-keyed top-k
    windows over it + two aggregate-sized neighborhood-average
    relations joined back onto the forward candidate pairs. For
    corpus×corpus scale pass ``n_planes``: both sides bucket on SHARED
    hyperplanes (signs against the ``n_planes`` lowest-id source
    vectors) and the scoring join becomes a bucket EQUI-join — no
    broadcast of either corpus, candidate cost ∝ within-bucket pairs.
    The margin formula is unchanged; neighborhoods (and therefore
    margins) are then within-bucket approximations, the standard
    mining trade (mined pairs are a subset biased toward true pairs,
    which co-bucket by construction).

    ``n_planes``: ``None`` (default) = exact path, no bucketing; an int
    pins the plane count (oracle-twinned gates do this so their DuckDB
    SQL stays in lockstep); the literal string ``"auto"`` sizes planes
    for ~128-occupant buckets from the larger corpus count — pass
    ``approx_n`` (a known/cached row-count upper bound) to skip the
    sizing count job entirely; without it the auto path runs ONE
    combined count job over both sides, never two.

    Source and target id spaces must be disjoint only in the sense that
    rows are matched positionally by value, never by id — same-id rows
    in both corpora are fine and are NOT excluded (unlike
    :func:`knn_join`'s self-pair filter).

    Returns ``(src_id, tgt_id, sim_micro, margin_milli)``.
    """
    # ONE scored relation serves both directions (the matrix is shared;
    # scoring it twice would double the dominant dim-wide dot cost) —
    # each direction is then just its own top-k window over it
    if n_planes == "auto":
        # size buckets to ~128 occupants on the larger side, the same
        # rule cosine_neardup_pairs uses — keeps within-bucket candidate
        # cost ~n·128 as the corpora grow
        import math

        if approx_n is not None:
            n = int(approx_n)
        else:
            # one job: both corpus counts union into a single max agg
            # (two separate .count() calls would be two full jobs)
            n = (union_all([src.select(F.count(F.lit(1)).alias("__n")),
                            tgt.select(F.count(F.lit(1)).alias("__n"))], by_name=True)
                 .agg(F.max("__n")).collect()[0][0])
        n_planes = max(1, math.ceil(math.log2(max(n / 128, 2))))
    if n_planes:
        planes = src.orderBy(id_col).limit(int(n_planes)).select(
            F.col(id_col).alias("_pid"), F.col(vec_col).alias("_pvec"))

        def bucketed(df, out_id):
            tagged = df.join(F.broadcast(planes)).withColumn(
                "_bit", F.when(dot(vec_col, "_pvec") >= 0,
                               F.lit("1")).otherwise(F.lit("0")))
            b = tagged.groupBy(id_col).agg(F.concat_ws("", F.transform(
                F.array_sort(F.collect_list(F.struct("_pid", "_bit"))),
                lambda s: s["_bit"])).alias("_bk"))
            return df.join(b, id_col).select(
                F.col(id_col).alias(out_id),
                F.col(vec_col).alias(f"_{out_id}_v"), "_bk")

        scored = (
            bucketed(src, "src_id").join(bucketed(tgt, "tgt_id"), "_bk")
            .select("src_id", "tgt_id",
                    cosine_sim_micro("_tgt_id_v", "_src_id_v", dim)
                    .alias("sim_micro"))
        )
    else:
        scored = bitext_scored_pairs(src, tgt, id_col, vec_col, dim)
    scored = checkpoint(scored, eager=True)

    def topk(qid, cid):
        w = Window.partitionBy(qid).orderBy(
            F.col("sim_micro").desc(), F.col(cid))
        return (scored.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= int(k)))

    # fwd feeds BOTH the forward neighborhood stats and the margin join —
    # non-eager checkpoint: the fs aggregation materializes it, and the
    # margin join then reads blocks instead of re-running the src-keyed
    # top-k window over `scored` (r15, guide §2.4; the eager form A/B'd
    # 0.93× — the extra materialization job cost more than the window)
    fwd = checkpoint(topk("src_id", "tgt_id"), eager=False)
    bwd = topk("tgt_id", "src_id")
    fs = fwd.groupBy("src_id").agg(
        F.sum("sim_micro").alias("ssum"),
        F.count(F.lit(1)).alias("scnt"))
    bs = bwd.groupBy("tgt_id").agg(
        F.sum("sim_micro").alias("tsum"),
        F.count(F.lit(1)).alias("tcnt"))
    m = (
        fwd.filter(F.col("sim_micro") > 0)
        .join(fs, "src_id").join(bs, "tgt_id")
        .withColumn("__den", F.col("ssum") * F.col("tcnt")
                    + F.col("tsum") * F.col("scnt"))
        .filter(F.col("__den") > 0)
        .withColumn("margin_milli", F.expr(
            "(2000 * sim_micro * scnt * tcnt) div __den"))
    )
    wbest = Window.partitionBy("src_id").orderBy(
        F.col("margin_milli").desc(), F.col("tgt_id"))
    return (
        m.withColumn("__rn", F.row_number().over(wbest))
        .filter((F.col("__rn") == 1)
                & (F.col("margin_milli") >= int(threshold_milli)))
        .select("src_id", "tgt_id", "sim_micro", "margin_milli")
    )


def bitext_scored_pairs(src: DataFrame, tgt: DataFrame,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        dim: int | None = None) -> DataFrame:
    """The cross-corpus cosine relation ``(src_id, tgt_id, sim_micro)``
    both :func:`bitext_mine` directions share: one corpus scan with the
    (smaller) source side broadcast — never a CartesianProduct."""
    q = src.select(F.col(id_col).alias("src_id"),
                   F.col(vec_col).alias("_qvec"))
    t = tgt.select(F.col(id_col).alias("tgt_id"),
                   F.col(vec_col).alias("_tvec"))
    return t.join(F.broadcast(q)).select(
        "src_id", "tgt_id",
        cosine_sim_micro("_tvec", "_qvec", dim).alias("sim_micro"))


def hard_negatives(candidates: DataFrame, positives: DataFrame,
                   k: int = 5, query_col: str = "query_id",
                   id_col: str = "vec_id",
                   sim_col: str = "sim_micro") -> DataFrame:
    """Hard-negative mining for retrieval/embedding training (the DPR /
    contrastive-training recipe: the strongest negatives are the top
    similarity candidates that are NOT known positives). Per query, the
    ``k`` highest-similarity candidates after anti-joining the positive
    set, re-ranked densely — ``(query_col, id_col, neg_rank, sim_col)``.

    Both inputs are top-k-sized relations (mine from :func:`knn_join` or
    an IVF/LSH-bucketed search); the anti-join and the re-rank window
    are query-keyed — nothing corpus-sized shuffles here.
    """
    neg = candidates.join(
        positives.select(query_col, id_col), [query_col, id_col],
        "left_anti")
    w = Window.partitionBy(query_col).orderBy(
        F.col(sim_col).desc(), F.col(id_col))
    return (
        neg.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= int(k))
        .select(query_col, id_col,
                F.col("neg_rank").cast("long").alias("neg_rank"), sim_col)
    )


def hard_negatives_oracle_sql(candidates_sql: str, positives_sql: str,
                              k: int = 5, query_col: str = "query_id",
                              id_col: str = "vec_id",
                              sim_col: str = "sim_micro") -> str:
    """ANSI-SQL twin of :func:`hard_negatives` for DuckDB."""
    return f"""WITH hn_c AS (
  SELECT {query_col}, {id_col}, {sim_col} FROM ({candidates_sql})
),
hn_p AS (SELECT {query_col}, {id_col} FROM ({positives_sql})),
hn_n AS (
  SELECT c.* FROM hn_c c
  WHERE NOT EXISTS (SELECT 1 FROM hn_p p
                    WHERE p.{query_col} = c.{query_col}
                      AND p.{id_col} = c.{id_col})
)
SELECT {query_col}, {id_col},
       CAST(ROW_NUMBER() OVER (PARTITION BY {query_col}
            ORDER BY {sim_col} DESC, {id_col}) AS BIGINT) AS neg_rank,
       {sim_col}
FROM hn_n QUALIFY neg_rank <= {int(k)}"""
