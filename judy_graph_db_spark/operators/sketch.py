"""Mergeable sketches for 100 TB-scale corpus statistics.

The reference keeps whole-corpus state in RAM (judy arrays); at cluster
scale the equivalent "summarize the corpus in something broadcastable" role
is played by sketches. Everything here is *deterministic* (md5-seeded hash
family, integer-exact register arithmetic), so every sketch has an exact
DuckDB SQL twin and a hash-checkable driver gate — unusual for sketch
libraries, whose RNG-seeded hashes are unverifiable across engines.

Scale notes (the point of each design):

- **Bloom filter** (``bloom_build`` / ``bloom_probe``): the filter relation
  is O(m/63) rows regardless of corpus size and is built with one shuffle
  keyed by word index (map-side combine collapses each partition's bits
  first). Probing joins on word index — for the classic "does this new
  batch contain already-seen documents" question the filter side is tiny
  and broadcast, so a 100 TB corpus is summarized once and every subsequent
  ingest batch checks membership without touching the corpus again
  (complements dedup.incremental_exact_dedup, which must re-scan corpus
  hashes).
- **Count-min sketch** (``count_min`` / ``cms_lookup``): depth×width
  integer counters; build is one explode + partial-agg shuffle of
  depth×width rows max. Heavy-hitter token counts over a 100 TB corpus
  compress to a few KB that later stages broadcast-join.
- **HyperLogLog registers** (``hll_registers``): 2^p integer registers,
  rho computed with ``bin()`` string length — bit-exact in both engines,
  no libm. Registers are max-mergeable across shards/days (union + max),
  the property that makes HLL the standard distinct-count structure for
  partitioned pipelines.
- **Gram matrix** (``gram_matrix``): the distributed half of PCA/whitening
  over an embedding column. Per Arrow batch, one int64 ``q.T @ q`` numpy
  product emits dim(dim+1)/2 partial sums; the only shuffle is the final
  O(dim²)-row reduce. Quantization is floor(x · 2^s) on the float64-widened
  value — a power-of-two scale is exact in every precision, so Spark,
  numpy, and DuckDB produce identical integers. The driver-side eigensolve
  (``pca_components``) is O(dim³) on a dim×dim matrix — trivial next to
  the scan.

Reference parity: the reference has no sketch surface at all (its answer
to "have I seen this node" is the in-RAM judy lookup, Graph.hs:1); this
module is the parity-plus replacement for that RAM-residency assumption.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from judy_graph_db_spark.schema import local_df, union_all

__all__ = [
    "bloom_build",
    "bloom_probe",
    "count_min",
    "cms_lookup",
    "hll_registers",
    "hll_registers_grouped",
    "hll_estimate",
    "gram_matrix",
    "pca_components",
    "misra_gries",
    "mg_merge",
]

# 63-bit words keep every set bit out of the BIGINT sign position, so the
# word values compare/hash identically in Spark and DuckDB without
# two's-complement corner cases.
_WORD = 63


def _h60(col: Column, seed: str) -> Column:
    """Deterministic 60-bit integer hash: first 15 hex chars of a seeded
    md5. Twin: ``CAST('0x' || substring(md5(seed || ':' || x), 1, 15) AS
    UBIGINT)`` (probed: both engines return identical values)."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}:"), col.cast("string"))), 1, 15),
        16, 10,
    ).cast("long")


def bloom_build(df: DataFrame, col: str, m_bits: int = 1 << 16,
                k: int = 4) -> DataFrame:
    """Build a Bloom filter over ``df[col]`` as a relation of 63-bit words:
    ``(word, bits)``, only non-zero words present.

    k positions per value from the seeded-md5 family; one explode + one
    groupBy(word) shuffle with map-side combine. The result is O(m_bits/63)
    rows — broadcastable no matter how large ``df`` is.
    """
    c = F.col(col)
    pos = F.array(*[_h60(c, f"bloom{i}") % m_bits for i in range(k)])
    exploded = df.select(F.explode(pos).alias("_pos"))
    return (
        exploded
        .select((F.col("_pos") / _WORD).cast("long").alias("word"),
                (F.col("_pos") % _WORD).cast("int").alias("_bit"))
        .distinct()
        .groupBy("word")
        .agg(F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), _bit)"))
             .alias("bits"))
    )


def bloom_probe(probes: DataFrame, col: str, bloom: DataFrame,
                m_bits: int = 1 << 16, k: int = 4,
                id_col: str = "id") -> DataFrame:
    """Probe ``probes[col]`` against a ``bloom_build`` relation.

    Returns ``(id_col, maybe_member)`` where ``maybe_member=1`` iff all k
    bits are set (Bloom semantics: no false negatives). The filter side
    joins broadcast — the probe batch streams through map-side.
    """
    c = F.col(col)
    pos = F.array(*[_h60(c, f"bloom{i}") % m_bits for i in range(k)])
    probe_bits = (
        probes
        .select(F.col(id_col), F.posexplode(pos).alias("_k", "_pos"))
        .select(id_col, "_k",
                (F.col("_pos") / _WORD).cast("long").alias("word"),
                (F.col("_pos") % _WORD).cast("int").alias("_bit"))
    )
    hit = (
        probe_bits.join(F.broadcast(bloom), "word", "left")
        .select(
            id_col,
            (F.coalesce(
                F.expr("shiftright(bits, _bit)") % 2, F.lit(0)
            ) == 1).alias("_hit"),
        )
    )
    return (
        hit.groupBy(id_col)
        .agg(F.min(F.col("_hit").cast("int")).alias("maybe_member"))
    )


def count_min(df: DataFrame, col: str, width: int = 256,
              depth: int = 4) -> DataFrame:
    """Count-min sketch: ``(d, w, cnt)`` counters, depth rows of ``width``
    columns, counting occurrences of ``df[col]``.

    One explode (depth rows per input row) + one partial-aggregated
    groupBy — the shuffle moves at most depth×width rows per map
    partition. Estimates are an upper bound on true frequency.
    """
    c = F.col(col)
    cells = F.array(*[
        F.struct(F.lit(d).alias("d"), (_h60(c, f"cms{d}") % width).alias("w"))
        for d in range(depth)
    ])
    return (
        df.select(F.explode(cells).alias("_c"))
        .groupBy(F.col("_c.d").alias("d"), F.col("_c.w").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_lookup(cms: DataFrame, items: DataFrame, col: str,
               width: int = 256, depth: int = 4) -> DataFrame:
    """Point-estimate frequencies for ``items[col]`` from a ``count_min``
    relation: ``(col, est)`` with ``est = min over depth counters``.

    The sketch side broadcasts (≤ depth×width rows); missing counters
    count as 0 (value never hashed there).
    """
    c = F.col(col)
    cells = F.array(*[
        F.struct(F.lit(d).alias("d"), (_h60(c, f"cms{d}") % width).alias("w"))
        for d in range(depth)
    ])
    probe = (
        items.select(c.alias(col)).distinct()
        .select(col, F.explode(cells).alias("_c"))
        .select(col, F.col("_c.d").alias("d"), F.col("_c.w").alias("w"))
    )
    return (
        probe.join(F.broadcast(cms), ["d", "w"], "left")
        .groupBy(col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )


# rho is computed over this many low-order bits of the 60-bit hash after
# the bucket bits are removed; 48 keeps it clear of the bucket even at
# p=12 while staying far beyond any realistic register value.
_HLL_W = 48


def hll_registers_grouped(df: DataFrame, col: str, group_cols,
                          p: int = 8) -> DataFrame:
    """Per-group HLL registers: ``(*group_cols, bucket, max_rho)`` —
    distinct-count sketches for every key in one pass (the "distinct users
    per day/domain" question at 100 TB: one shuffle keyed on
    (group, bucket), at most 2^p rows per group out). Merge across
    shards/batches exactly like :func:`hll_registers` (union + max)."""
    h = _h60(F.col(col), "hll")
    bucket = (h % (1 << p)).alias("bucket")
    # shiftright == exact integer // for the non-negative 60-bit hash;
    # double division would round the low bits (h > 2^53) and drift ±1
    # from the DuckDB twin's integer `//` at register boundaries.
    r = F.shiftright(h, p) % (1 << _HLL_W)
    rho = F.when(r == 0, F.lit(_HLL_W + 1)).otherwise(
        F.lit(_HLL_W + 1) - F.length(F.bin(r))
    ).alias("rho")
    return (
        df.select(*group_cols, bucket, rho)
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_registers(df: DataFrame, col: str, p: int = 8) -> DataFrame:
    """HyperLogLog registers over ``df[col]``: ``(bucket, max_rho)``,
    2^p rows max.

    bucket = low p bits of the 60-bit hash; rho = position of the leftmost
    1-bit in the next 48 bits (+1), computed as ``49 - length(bin(r))`` —
    pure integer/string ops, so Spark and DuckDB agree bit-for-bit (no
    floating log2 at register boundaries). Registers merge across shards
    with ``union → groupBy(bucket).max`` — the property that makes this
    the distinct-count structure for partitioned 100 TB pipelines.
    """
    h = _h60(F.col(col), "hll")
    bucket = (h % (1 << p)).alias("bucket")
    # Integer shift, not double division — see hll_registers_grouped.
    r = F.shiftright(h, p) % (1 << _HLL_W)
    rho = F.when(r == 0, F.lit(_HLL_W + 1)).otherwise(
        F.lit(_HLL_W + 1) - F.length(F.bin(r))
    ).alias("rho")
    return (
        df.select(bucket, rho)
        .groupBy("bucket")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_estimate(registers: DataFrame, p: int = 8) -> float:
    """Driver-side HLL cardinality estimate from a ``hll_registers``
    relation (standard bias-corrected harmonic mean; float math, so unit-
    tested for accuracy rather than oracle-hashed)."""
    m = 1 << p
    rows = {r["bucket"]: r["max_rho"] for r in registers.collect()}
    import math

    z = sum(2.0 ** -rows.get(b, 0) for b in range(m))
    alpha = 0.7213 / (1 + 1.079 / m) if m >= 128 else {16: 0.673, 32: 0.697, 64: 0.709}.get(m, 0.7213 / (1 + 1.079 / m))
    est = alpha * m * m / z
    zeros = m - len(rows)
    if est <= 2.5 * m and zeros:
        est = m * math.log(m / zeros)
    return est


def gram_matrix(embs: DataFrame, vec_col: str = "embedding", dim: int = 64,
                scale_pow2: int = 10, id_col: str = "vec_id",
                use_arrow: bool = True) -> DataFrame:
    """Integer-exact Gram matrix of a quantized embedding column: rows
    ``(i, j, s)`` for 0 ≤ i ≤ j < dim with
    ``s = Σ_rows q[i]·q[j]``, ``q = floor(float64(x) · 2^scale_pow2)``.

    The power-of-two scale makes quantization exact in float32, float64,
    and numpy alike, so the Arrow path, the relational path, and the DuckDB
    twin all emit identical integers. Arrow path: one ``q.T @ q`` int64
    matmul per record batch via ``mapInPandas`` emitting dim(dim+1)/2
    partial rows; the only shuffle is the O(dim²)-row final reduce — the
    plan you want when dim² ≪ rows. Relational fallback: double
    posexplode + partial agg (same shape, ~dim× more pre-agg compute).
    """
    scale = 1 << scale_pow2
    if use_arrow:
        import pandas as pd  # noqa: F401  (mapInPandas contract)

        def _part(batches):
            import numpy as np
            iu = np.triu_indices(dim)

            for pdf in batches:
                vecs = pdf[vec_col].to_numpy()
                if len(vecs) == 0:
                    continue
                q = np.floor(
                    np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
                    * scale
                ).astype(np.int64)
                g = q.T @ q
                import pandas as _pd

                yield _pd.DataFrame(
                    {"i": iu[0], "j": iu[1], "s": g[iu]}
                )

        part = embs.select(vec_col).mapInPandas(
            _part, schema="i long, j long, s long"
        )
    else:
        q = F.transform(
            F.col(vec_col),
            lambda x: F.floor(x.cast("double") * scale).cast("long"),
        )
        a = embs.select(F.col(id_col).alias("_id"), F.posexplode(q).alias("i", "_qi"))
        b = embs.select(F.col(id_col).alias("_id"), F.posexplode(q).alias("j", "_qj"))
        part = (
            a.join(b, "_id")
            .filter(F.col("i") <= F.col("j"))
            .select("i", "j", (F.col("_qi") * F.col("_qj")).alias("s"))
        )
    return part.groupBy("i", "j").agg(F.sum("s").alias("s"))


def gram_to_dense(gram: DataFrame, dim: int, n_rows: int):
    """Collect a ``gram_matrix`` relation into the dense symmetric
    second-moment numpy matrix (divided by ``n_rows``) — the single
    reconstruction shared by :func:`pca_components` and the driver gate's
    invariant checks, so the normalization can't drift between them."""
    import numpy as np

    g = np.zeros((dim, dim), dtype=np.float64)
    for r in gram.collect():
        g[r["i"], r["j"]] = r["s"]
        g[r["j"], r["i"]] = r["s"]
    g /= max(n_rows, 1)
    return g


def pca_components(gram: DataFrame, dim: int, n_rows: int,
                   n_components: int = 2) -> "list[list[float]]":
    """Driver-side top eigenvectors of the (centered-free) second-moment
    matrix reconstructed from a ``gram_matrix`` relation. The distributed
    work happened in ``gram_matrix``; this is an O(dim³) numpy eigensolve
    on a dim×dim array — unit-tested against direct numpy PCA rather than
    oracle-hashed (eigensolves are float)."""
    import numpy as np

    g = gram_to_dense(gram, dim, n_rows)
    vals, vecs = np.linalg.eigh(g)
    order = np.argsort(vals)[::-1][:n_components]
    return [vecs[:, k].tolist() for k in order]


def misra_gries(df: DataFrame, col: str, m: int = 64) -> DataFrame:
    """Misra-Gries heavy-hitter summary (Misra & Gries 1982; mergeable
    form of Agarwal et al. 2012, "Mergeable Summaries"): at most ``m``
    counters such that every key's counter is a LOWER bound on its true
    count and the uniform undercount is at most the (m+1)-th largest
    count — so any key with true frequency above ``n/(m+1)`` is
    guaranteed present. The one-shot batch form is exact counting
    followed by ONE compress: subtract the (m+1)-th largest count from
    every counter and drop the non-positive — deterministic with no
    tiebreak (counts strictly above the threshold number at most m).

    Scale shape: one key-keyed partial-agg count (the only corpus-sized
    shuffle), then a window over the COUNTER relation (≤ |distinct keys|
    rows, and the rank threshold is a single scalar pulled from an
    m+1-row slice). Returns ``(key, count, subtracted)`` — ``count`` the
    surviving lower bound, ``subtracted`` the uniform undercount (same
    scalar on every row; true count ∈ [count, count + subtracted]).
    """
    if m < 1:
        raise ValueError("m must be positive")
    counts = df.groupBy(F.col(col).alias("key")).agg(
        F.count(F.lit(1)).alias("cnt"))
    return (
        counts.join(F.broadcast(_mg_threshold(counts, m)), how="cross")
        .filter(F.col("cnt") > F.col("__t"))
        .select("key", (F.col("cnt") - F.col("__t")).alias("count"),
                F.col("__t").alias("subtracted"))
    )


def _mg_threshold(counts: DataFrame, m: int) -> DataFrame:
    """The (m+1)-th largest ``cnt`` as a 1-row ``__t`` relation (0 when
    fewer than m+1 counters exist). Shape: ``orderBy().limit(m+1)`` is a
    TakeOrdered (per-partition heaps + an (m+1)-row driver merge), then a
    scalar agg over those m+1 rows — the value at the boundary row is
    their MIN under the same total ordering, so no global row_number
    window ever ranks the vocabulary-sized counter relation."""
    top = counts.orderBy(F.col("cnt").desc(), F.col("key")).limit(m + 1)
    return top.agg(
        F.when(F.count(F.lit(1)) == m + 1, F.min("cnt"))
        .otherwise(F.lit(0)).cast("long").alias("__t"))


def mg_merge(a: DataFrame, b: DataFrame, m: int = 64) -> DataFrame:
    """Merge two Misra-Gries summaries (``(key, count, subtracted)``)
    into one of size ≤ ``m``: counters ADD per key, the per-summary
    undercounts add, and one compress re-bounds the size — the error
    bound composes additively (Agarwal et al. 2012, Thm 1). Input
    ``subtracted`` scalars are carried via max (each is uniform on its
    rows). Deterministic; used by the streaming fold."""
    both = (union_all([a.select("key", "count"), b.select("key", "count")], by_name=True)
            .groupBy("key").agg(F.sum("count").alias("cnt")))
    prior = (
        union_all([a.select(F.col("subtracted").alias("__s")).limit(1),
                   b.select(F.col("subtracted").alias("__s")).limit(1),
                   local_df(a.sparkSession, [(0,)], "__s long")], by_name=True)
        .agg(F.sum("__s").alias("__prior")))
    return (
        both.join(F.broadcast(_mg_threshold(both, m)), how="cross")
        .join(F.broadcast(prior), how="cross")
        .filter(F.col("cnt") > F.col("__t"))
        .select("key", (F.col("cnt") - F.col("__t")).alias("count"),
                (F.col("__t") + F.col("__prior")).alias("subtracted"))
    )


def log_histogram(df: DataFrame, value_col: str,
                  group_cols=()) -> DataFrame:
    """Mergeable base-2 log histogram of a non-negative integer column —
    the fixed-size quantile sketch that survives 100 TB where exact
    percentile_disc cannot: bin ``b`` holds values in ``[2^b, 2^(b+1))``
    (value 0 gets bin −1), at most 64 bins per group regardless of data
    size, counts ADD across shards/batches/engines. Integer-exact via
    bit length (``length(bin(v)) − 1``), no floating log. NULL and
    negative values are rejected loudly rather than silently mis-binned.

    Returns ``(group_cols…, bin, n)``.
    """
    g = list(group_cols)
    bad = df.filter(F.col(value_col).isNull() | (F.col(value_col) < 0))
    if bad.limit(1).count():
        raise ValueError("log_histogram: NULL or negative values in "
                         f"{value_col}")
    b = (F.when(F.col(value_col) == 0, F.lit(-1))
         .otherwise(F.length(F.bin(F.col(value_col))) - 1)
         .cast("long").alias("bin"))
    return (df.select(*g, b)
            .groupBy(*g, "bin").agg(F.count(F.lit(1)).alias("n")))
