"""Corpus-curation operators for training-data pipelines.

The reference engine stops at graph queries; a corpus engine at 100 TB also
needs the curation layer that sits between raw documents and training
shards: reproducible subsampling, train/val/test splitting, fixed-size
chunking, token-budget sharding, and materializing the post-dedup corpus.
Everything here is deterministic (content-hash or natural-key driven, never
RNG or partition-order dependent) so a re-run over a re-partitioned 100 TB
corpus selects byte-identical rows — and so every operator has an exact
DuckDB SQL twin for the correctness gate (`judy_graph_db_spark.oracle`).

Design notes for scale:

- Sampling/splitting are stateless per-row filters on an md5 prefix — no
  shuffle, fully pushed into the scan stage.
- Chunking is a generate-positions + explode — no shuffle, output is
  partition-local.
- Token-budget sharding needs a global prefix sum; a naive global window
  collapses to ONE task. `shard_by_token_budget` does the scalable
  two-pass version: range-repartition on the key, per-partition subtotals
  to the driver (one row per partition), broadcast offsets back, then a
  partition-local cumulative window.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from judy_graph_db_spark.functions.text import token_count
from judy_graph_db_spark.loopstate import checkpoint
from judy_graph_db_spark.schema import union_all


def hash_bucket(col) -> "F.Column":
    """Deterministic 256-way bucket of any key: the first two hex digits of
    md5(key). Compared as a *string* ('00'..'ff' sorts like 0..255) so Spark
    and DuckDB agree without hex→int conversion."""
    return F.substring(F.md5(col.cast("string")), 1, 2)


def hash_sample(df: DataFrame, keep_buckets: int, id_col: str = "doc_id") -> DataFrame:
    """Reproducible ~``keep_buckets``/256 subsample: keep rows whose
    :func:`hash_bucket` sorts below the cutoff. Unlike ``df.sample()`` this
    is stable across runs, cluster sizes, and engines — the only sane way to
    carve a pilot corpus out of 100 TB and later scale the SAME selection
    up by raising the cutoff (smaller samples are strict subsets)."""
    if not 0 < keep_buckets <= 256:
        raise ValueError("keep_buckets must be in 1..256")
    return df.filter(hash_bucket(F.col(id_col)) < F.lit(format(keep_buckets, "02x")))


def hash_split(df: DataFrame, splits: dict[str, int], id_col: str = "doc_id",
               out: str = "split") -> DataFrame:
    """Deterministic train/val/test assignment: ``splits`` maps name →
    bucket width out of 256 (e.g. ``{"train": 240, "val": 8, "test": 8}``);
    widths must sum to 256 so every row lands somewhere. A document's split
    never changes when the corpus grows — membership depends only on its
    own id."""
    if sum(splits.values()) != 256:
        raise ValueError("split widths must sum to 256")
    if any(w <= 0 for w in splits.values()):
        # same guard as leakage_safe_split: a zero width lets an interior
        # cutoff reach 256 → '100', which string-compares below 'a0'..'ff'
        raise ValueError("split widths must all be positive")
    b = hash_bucket(F.col(id_col))
    expr = None
    hi = 0
    items = list(splits.items())
    for name, width in items[:-1]:
        hi += width
        cond = b < F.lit(format(hi, "02x"))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn(out, expr)


def stratified_sample(df: DataFrame, strata: dict[str, int],
                      strata_col: str = "lang", id_col: str = "doc_id",
                      default_buckets: int = 0) -> DataFrame:
    """Per-stratum deterministic subsample: ``strata`` maps a stratum value
    to its keep-width out of 256 (e.g. ``{"en": 64, "de": 256}`` keeps ~25%
    of English but all German docs — the usual language-rebalancing move
    when curating a multilingual corpus). Rows in unlisted strata keep
    ``default_buckets``/256. Same :func:`hash_bucket` membership rule as
    :func:`hash_sample`, so per-stratum selections are stable under corpus
    growth and nested across cutoff changes. Stateless row filter — no
    shuffle, pushed into the scan."""
    for name, width in strata.items():
        if not 0 <= width <= 256:
            raise ValueError(f"stratum {name!r}: width must be in 0..256")
    b = hash_bucket(F.col(id_col))
    cutoff = None
    for name, width in strata.items():
        cond = F.col(strata_col) == name
        lit = F.lit(format(width, "02x") if width < 256 else "zz")
        cutoff = F.when(cond, lit) if cutoff is None else cutoff.when(cond, lit)
    default_lit = F.lit(
        format(default_buckets, "02x") if default_buckets < 256 else "zz"
    )
    cutoff = default_lit if cutoff is None else cutoff.otherwise(default_lit)
    return df.filter(b < cutoff)


def chunk_documents(df: DataFrame, size: int = 200, stride: int = 150,
                    id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Split documents into fixed-size character windows (``stride`` < size
    → overlapping chunks, the usual context-window prep). Start positions
    are 1, 1+stride, … through the end of the text, so the tail is always
    covered (the last chunk may be shorter than ``size``; every doc yields
    at least one chunk, and with ``stride == size`` the chunks partition
    the text exactly). Pure narrow transformation: positions are generated
    and exploded inside the scan stage, no shuffle.

    Returns ``(id_col, chunk_idx, chunk)`` with ``chunk_idx`` 0-based."""
    t = F.col(text_col)
    starts = F.sequence(F.lit(1), F.greatest(F.length(t), F.lit(1)), F.lit(stride))
    return (
        df.select(F.col(id_col), t.alias("__text"), F.explode(starts).alias("__start"))
        .select(
            F.col(id_col),
            ((F.col("__start") - 1) / stride).cast("long").alias("chunk_idx"),
            F.substring(F.col("__text"), F.col("__start"), F.lit(size)).alias("chunk"),
        )
    )


def shard_by_token_budget(df: DataFrame, budget_tokens: int,
                          id_col: str = "doc_id", text_col: str = "text",
                          num_partitions: int | None = None) -> DataFrame:
    """Assign documents (in ``id_col`` order) to consecutive training shards
    of ~``budget_tokens`` whitespace tokens each: shard k holds the docs
    whose preceding cumulative token count lies in [k·budget, (k+1)·budget).

    The global prefix sum is the scalable two-pass shape, not one giant
    window: range-partition by id (range partition p holds a contiguous id
    span, and partition index follows span order), aggregate each partition
    to one subtotal row, turn the subtotals into starting offsets with a
    cumulative window over that tiny (≤ num_partitions rows) relation, and
    broadcast-join the offsets back on the partition id. Finish with a
    partition-local cumulative window. Wall-clock is one shuffle + one
    narrow pass regardless of corpus size, and — unlike a driver-side
    ``collect`` that bakes offsets into the plan as literals — the whole
    computation is one deterministic plan with no pinned-block dependency.

    Returns ``(id_col, n_tokens, shard)``."""
    pre = _token_prefix(df, id_col, text_col, num_partitions)
    return pre.select(
        F.col(id_col),
        F.col("n_tokens"),
        F.floor(F.col("__start") / budget_tokens).cast("long").alias("shard"),
    )


def _token_prefix(df: DataFrame, id_col: str, text_col: str,
                  num_partitions: int | None,
                  weight: "F.Column | None" = None) -> DataFrame:
    """Global exclusive prefix sum in ``id_col`` order —
    ``(id_col, n_tokens, __start)`` — via the scalable two-pass shape (see
    :func:`shard_by_token_budget`'s docstring). The summed quantity is the
    text token count unless an explicit non-negative integer ``weight``
    column is given (the PPS-sampling path)."""
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    w_expr = token_count(F.col(text_col)) if weight is None else weight
    base = df.select(F.col(id_col), w_expr.alias("n_tokens"))
    parted = (
        base.repartitionByRange(num_partitions, F.col(id_col))
        .withColumn("__pid", F.spark_partition_id())
    )
    # Pin the partitioning so the subtotal branch and the join-back branch
    # observe identical __pid assignments (one materialization, two readers).
    parted = checkpoint(parted, eager=True)
    # Offsets, relationally: the exclusive prefix sum of the per-partition
    # subtotals. The window runs over ≤ num_partitions rows — trivially
    # single-task safe — and the result is broadcast back.
    totals = parted.groupBy("__pid").agg(F.sum("n_tokens").alias("__ptotal"))
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        F.col("__pid"),
        F.coalesce(F.sum("__ptotal").over(w_off), F.lit(0)).alias("__offset"),
    )
    w = (
        Window.partitionBy("__pid").orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.col("__offset") + F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return parted.join(F.broadcast(offsets), "__pid").select(
        F.col(id_col), F.col("n_tokens"), cum_before.alias("__start")
    )


def pack_sequences(df: DataFrame, seq_len: int, id_col: str = "doc_id",
                   text_col: str = "text",
                   num_partitions: int | None = None) -> DataFrame:
    """Concat-and-chunk sequence packing — the GPT-style pretraining
    layout: all documents' tokens are (logically) concatenated in
    ``id_col`` order and cut into fixed ``seq_len``-token training
    sequences, so no sequence has padding and documents may straddle a
    boundary. Per document this yields its placement:
    ``seq_first``/``seq_last`` (the sequence ids it lands in) and
    ``offset_in_first`` (token position where it starts) — exactly what a
    loader needs to materialize example k by slicing the docs with
    ``seq_first ≤ k ≤ seq_last``.

    Same two-pass distributed prefix sum as :func:`shard_by_token_budget`
    (one shuffle + one narrow pass at any corpus size); token-less
    documents are dropped (they occupy no positions). Contrast with
    :func:`shard_by_token_budget`, which bins WHOLE documents and never
    splits one. Returns ``(id_col, n_tokens, seq_first, seq_last,
    offset_in_first)``.
    """
    pre = _token_prefix(df, id_col, text_col, num_partitions).filter(
        F.col("n_tokens") > 0
    )
    start = F.col("__start")
    return pre.select(
        F.col(id_col),
        F.col("n_tokens"),
        F.floor(start / seq_len).cast("long").alias("seq_first"),
        F.floor((start + F.col("n_tokens") - 1) / seq_len).cast("long").alias(
            "seq_last"
        ),
        (start % seq_len).cast("long").alias("offset_in_first"),
    )


def canonical_corpus(df: DataFrame, clusters: DataFrame | None = None,
                     id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """The deduplicated corpus itself: documents that are the canonical
    (min-id) representative of their near-dup family
    (:func:`judy_graph_db_spark.operators.dedup.dedup_clusters` — LSH pairs
    → connected components). Pass ``clusters`` to reuse an already-computed
    clustering; otherwise it is derived here."""
    if clusters is None:
        from judy_graph_db_spark.operators.dedup import dedup_clusters

        clusters = dedup_clusters(df, text_col=text_col, id_col=id_col)
    keep = clusters.filter(F.col("is_canonical")).select(id_col)
    return df.join(keep, id_col, "left_semi")


def quality_percentile_filter(df: DataFrame, keep_permille: int = 500,
                              group_col: str = "lang",
                              id_col: str = "doc_id",
                              text_col: str = "text") -> DataFrame:
    """CDF-based quality filtering: keep the documents whose
    :func:`~judy_graph_db_spark.functions.text.quality_score` reaches their
    group's ``keep_permille`` discrete percentile — the standard
    "keep the top half per language" curation move, with the cutoff
    *derived from the corpus itself* instead of a hand-tuned constant (a
    fixed threshold that is right for English over-filters low-resource
    languages; a per-group percentile self-calibrates).

    Cutoff semantics match :func:`~judy_graph_db_spark.operators.stats.grouped_quantiles`
    (``percentile_disc``: the value at position ``ceil(p·n)``, always an
    actual score), computed with two windows over ONE shuffle on the group
    key — no self-join, no separate aggregate-and-join-back pass.
    Returns ``(id_col, group_col, q_score)`` for the kept rows.
    """
    from judy_graph_db_spark.functions.text import quality_score

    scored = df.select(
        id_col, group_col, quality_score(F.col(text_col)).alias("q_score")
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("q_score").asc(), F.col(id_col).asc()
    )
    wg = Window.partitionBy(group_col)
    ranked = scored.select(
        id_col, group_col, "q_score",
        F.row_number().over(w).alias("__rn"),
        F.count(F.lit(1)).over(wg).alias("__n"),
    )
    pos = F.greatest(
        F.ceil(F.lit(int(keep_permille)) * F.col("__n") / F.lit(1000.0)),
        F.lit(1),
    )
    cutoff = F.max(F.when(F.col("__rn") == pos, F.col("q_score"))).over(wg)
    return (
        ranked.withColumn("__cut", cutoff)
        .filter(F.col("q_score") >= F.col("__cut"))
        .select(id_col, group_col, "q_score")
    )


def cap_per_group(df: DataFrame, group_col: str, n: int,
                  id_col: str = "doc_id") -> DataFrame:
    """Keep at most ``n`` rows per group, chosen deterministically by md5
    rank over the id — the per-source/per-domain cap every large corpus
    applies (C4-style: no single domain may dominate the mix). The
    md5-rank pick is a uniform "random" ``n`` with no RNG state; unlike
    :func:`hash_sample`'s fixed-cutoff membership, the kept SET here
    shifts as a group grows (rank is relative), which is the point — the
    cap is a quota, not a sample. One shuffle on the group key.

    Returns the input columns plus ``rank_in_group``.
    """
    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.col(id_col).cast("string")).asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("rank_in_group", F.row_number().over(w))
        .filter(F.col("rank_in_group") <= int(n))
    )


def plan_mixture(df: DataFrame, targets: dict[str, int],
                 source_col: str = "source", text_col: str = "text") -> DataFrame:
    """Domain-mixture planning: given target token SHARES per source (in
    permille), compute the per-source keep rates that realize the mix at
    the largest achievable scale — the water-filling answer with hard
    caps at 1000‰ (you cannot upsample a source you do not have; the
    scarcest targeted source is the bottleneck, every other source
    downsamples proportionally). Feed the resulting ``keep_permille``
    straight into :func:`stratified_sample`-style per-stratum cutoffs.

    Exact integer arithmetic (``div``, never float division):
    ``K = min_s(1000·tokens_s div target_s)`` over targeted sources is the
    achievable mixed-corpus token size; ``keep_s = min(1000,
    (target_s·K) div (1000·tokens_s) ·1000)``. Untargeted sources get 0.
    One token-count aggregation + a broadcast 1-row scalar attach.
    Returns ``(source_col, n_tokens, target_permille, keep_permille)``.
    """
    if not targets or any(v <= 0 for v in targets.values()):
        raise ValueError("targets must be a non-empty map of positive permille")
    tok = df.select(
        F.col(source_col), token_count(F.col(text_col)).alias("__nt")
    ).groupBy(source_col).agg(F.sum("__nt").alias("n_tokens"))
    pairs = []
    for s, pm in targets.items():
        pairs += [F.lit(s), F.lit(int(pm))]
    tmap = F.create_map(*pairs)
    t = tok.withColumn(
        "target_permille",
        F.coalesce(tmap[F.col(source_col)], F.lit(0)).cast("long"),
    )
    kmax = (
        t.filter(F.col("target_permille") > 0)
        .select(
            F.expr("(n_tokens * 1000) div target_permille").alias("__cap")
        )
        .agg(F.min("__cap").alias("__kmax"))
    )
    return t.join(F.broadcast(kmax)).select(
        source_col, "n_tokens", "target_permille",
        F.when(F.col("target_permille") == 0, F.lit(0).cast("long")).otherwise(
            F.least(
                F.lit(1000).cast("long"),
                F.expr("(target_permille * __kmax) div n_tokens"),
            )
        ).alias("keep_permille"),
    )


def temperature_mixture(df: DataFrame, alpha_pow2: int = 1,
                        source_col: str = "source",
                        text_col: str = "text") -> DataFrame:
    """Temperature-flattened domain mixture (the Gopher §A.3 / mT5 §3.1
    sampling knob): target share per source ∝ (token share)^α with
    α = 2^-alpha_pow2, then :func:`plan_mixture`'s water-filling keep
    rates for those targets. α < 1 up-weights scarce domains (the reason
    multilingual/multi-domain corpora use it); ``alpha_pow2=0`` (α=1) is
    the proportional no-op mix — every keep rate comes out ~1000‰.

    Power-of-two temperatures only, for the same reason
    ``analytics.katz_centrality`` pins damping to 2^-k: α = 2^-k means
    the weight is k NESTED IEEE sqrt calls — each correctly rounded, so
    Spark and DuckDB produce bit-identical doubles — and the floor to
    integer micro (``w = floor(10^6 · n^α)``) plus integer-``div``
    normalization keep every downstream number hash-exact. A free-form
    float ``pow(n, 0.7)`` is NOT guaranteed correctly rounded and can
    diverge between engines in the last ulp, flipping a rounded
    permille. Sources whose flattened share rounds to 0‰ (< 0.1% of
    flattened mass) drop, exactly like untargeted sources in
    :func:`plan_mixture` — at that size they cannot influence the mix.

    Scale shape: one token-count aggregation (|sources| rows), one
    scalar total broadcast back, pure expressions after — the same
    profile as ``plan_mixture``. Returns ``(source_col, n_tokens,
    target_permille, keep_permille)``."""
    k = int(alpha_pow2)
    if k < 0 or k > 6:
        raise ValueError("alpha_pow2 must be in 0..6 (alpha = 2^-k)")
    tok = df.select(
        F.col(source_col), token_count(F.col(text_col)).alias("__nt")
    ).groupBy(source_col).agg(F.sum("__nt").alias("n_tokens"))
    expr = "cast(n_tokens as double)"
    for _ in range(k):
        expr = f"sqrt({expr})"
    w = tok.withColumn(
        "__w", F.expr(f"cast(floor(1000000.0 * {expr}) as bigint)"))
    tot = w.agg(F.sum("__w").cast("long").alias("__tot"))
    t = w.join(F.broadcast(tot)).withColumn(
        "target_permille", F.expr("(__w * 1000) div __tot"))
    kmax = (
        t.filter(F.col("target_permille") > 0)
        .select(F.expr("(n_tokens * 1000) div target_permille")
                .alias("__cap"))
        .agg(F.min("__cap").alias("__kmax"))
    )
    return t.join(F.broadcast(kmax)).select(
        source_col, "n_tokens", "target_permille",
        F.when(F.col("target_permille") == 0, F.lit(0).cast("long"))
        .otherwise(F.least(
            F.lit(1000).cast("long"),
            F.expr("(target_permille * __kmax) div n_tokens"),
        )).alias("keep_permille"),
    )


def snapshot_diff(old: DataFrame, new: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Content-level diff of two corpus snapshots — the dataset-versioning
    primitive behind "what changed between crawl N and N+1": every doc id
    classified ``added`` (new only), ``removed`` (old only), or
    ``changed`` (present in both with different content hash); unchanged
    docs are dropped (at 100 TB the interesting set is the delta, and the
    unchanged majority never leaves the join). One full-outer equi-join
    of two hash projections — the text columns reduce to md5 before the
    shuffle. Returns ``(id_col, status)``.
    """
    o = old.select(F.col(id_col), F.md5(F.col(text_col)).alias("__ho"))
    n = new.select(F.col(id_col), F.md5(F.col(text_col)).alias("__hn"))
    j = o.join(n, id_col, "full_outer")
    status = (
        F.when(F.col("__ho").isNull(), F.lit("added"))
        .when(F.col("__hn").isNull(), F.lit("removed"))
        .when(F.col("__ho") != F.col("__hn"), F.lit("changed"))
    )
    return (
        j.select(F.col(id_col), status.alias("status"))
        .filter(F.col("status").isNotNull())
    )


def leakage_safe_split(df: DataFrame, clusters: DataFrame,
                       splits: dict[str, int], id_col: str = "doc_id",
                       cluster_col: str = "cluster_id",
                       out: str = "split") -> DataFrame:
    """Train/val/test assignment that never separates near-duplicates:
    the split bucket is hashed on the document's *dedup-cluster id*
    (``dedup.dedup_clusters`` output, or any ``(id, cluster)`` map), so
    every member of a near-dup family lands in the same split — the
    standard guard against train→test leakage through paraphrased or
    boilerplate-shared documents. Docs absent from ``clusters`` split on
    their own id (singleton semantics, identical to :func:`hash_split`).

    One broadcast-able join (the cluster map is |corpus|-keyed but thin)
    plus the same stateless md5-bucket CASE as :func:`hash_split` — the
    assignment is stable under corpus growth as long as cluster canonical
    ids are (dedup_clusters keeps min-id canonicals, which only change if
    an even-lower id joins the family).
    """
    if sum(splits.values()) != 256:
        raise ValueError("split widths must sum to 256")
    if any(w <= 0 for w in splits.values()):
        # a zero-width split would push an interior cutoff to 256 →
        # '100', and the 2-char hex bucket string-compares below '100',
        # silently misrouting buckets 'a0'..'ff'
        raise ValueError("split widths must all be positive")
    keyed = (
        df.join(
            clusters.select(F.col(id_col), F.col(cluster_col).alias("__cl")),
            id_col, "left",
        )
        .withColumn("__k", F.coalesce(F.col("__cl"), F.col(id_col)))
    )
    b = hash_bucket(F.col("__k"))
    expr = None
    hi = 0
    items = list(splits.items())
    for name, width in items[:-1]:
        hi += width
        cond = b < F.lit(format(hi, "02x"))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return keyed.withColumn(out, expr).drop("__cl", "__k")


def dedup_lines_col(text: Column) -> Column:
    """Column form of :func:`strip_repeated_lines`: the text with every
    line that exactly repeats an EARLIER line removed (first occurrence
    kept, order preserved) — the Gopher-style intra-document cleanup that
    `functions.text.dup_line_permille` only measures.

    Pure codegen: one ``aggregate`` fold over the split array whose
    accumulator is the kept-lines array (membership check per element —
    O(lines²) per document, zero shuffle, runs in the scan stage of a
    100 TB read; boilerplate-heavy docs have few distinct lines, which is
    exactly when the quadratic term collapses). SQL twin: the identical
    fold via DuckDB ``list_reduce`` over singleton lists
    (``oracle.dedup_lines_sql``)."""
    kept = F.aggregate(
        F.split(text, "\n"),
        F.expr("cast(array() as array<string>)"),
        lambda acc, x: F.when(F.array_contains(acc, x), acc)
        .otherwise(F.concat(acc, F.array(x))),
    )
    return F.array_join(kept, "\n")


def strip_repeated_lines(docs: DataFrame, text_col: str = "text",
                         out_col: str = "clean_text") -> DataFrame:
    """Remove intra-document repeated lines (see :func:`dedup_lines_col`)
    as a table transform: adds ``out_col`` with the cleaned text."""
    return docs.withColumn(out_col, dedup_lines_col(F.col(text_col)))


def remove_boilerplate_lines(docs: DataFrame, min_docs: int = 2,
                             id_col: str = "doc_id", text_col: str = "text",
                             out_col: str = "clean_text") -> DataFrame:
    """Corpus-wide boilerplate line removal (the CCNet / RefinedWeb
    cleanup): a line whose exact text appears in at least ``min_docs``
    DISTINCT documents is boilerplate (nav bars, cookie banners, license
    footers) and every occurrence is dropped; all other lines keep their
    original order. Complements :func:`strip_repeated_lines`, which only
    sees repeats WITHIN one document. Returns ``docs`` plus ``out_col``
    ('' when every line was boilerplate).

    Scale shape: one explode pass, a groupBy on the line text for the
    distinct-doc counts (map-side combined; the surviving "common" relation
    is boilerplate-sized, tiny relative to the corpus), a second shuffle on
    the line key for the anti-join, then one doc-keyed rollup to reassemble
    — never a per-document collect, and no driver round-trip. 100 TB of
    text is ~3 corpus-sized shuffles, each on a compact key.
    """
    if min_docs < 1:
        raise ValueError("min_docs must be positive")
    lines = docs.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("__pos", "__line"),
    )
    common = (
        lines.groupBy("__line")
        .agg(F.count_distinct("__id").alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("__line")
    )
    kept = lines.join(common, "__line", "left_anti")
    clean = kept.groupBy("__id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__line"))),
                lambda s: s["__line"],
            ),
            "\n",
        ).alias(out_col)
    )
    return (
        docs.join(clean, docs[id_col] == clean["__id"], "left")
        .select(*docs.columns,
                F.coalesce(F.col(out_col), F.lit("")).alias(out_col))
    )


def corpus_summary(docs: DataFrame, group_cols=("lang", "source"),
                   text_col: str = "text") -> DataFrame:
    """Dataset-card rollup: per group, document count, character total,
    and word-token total — the summary table every corpus release ships
    (and the sanity diff to run between snapshots before anything
    subtle). One scan, one map-side-combined aggregation; token counts
    ride the shared WORD_TOKEN_RE so they reconcile with every other
    token-based operator here. Returns ``(*group_cols, n_docs,
    sum_chars, sum_tokens)``.
    """
    from judy_graph_db_spark.functions.text import word_token_count

    return (
        docs.groupBy(*group_cols)
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum(F.length(text_col)).cast("long").alias("sum_chars"),
             F.sum(word_token_count(F.col(text_col))).cast("long")
             .alias("sum_tokens"))
    )


def dsir_weights(docs: DataFrame, target: DataFrame,
                 id_col: str = "doc_id", text_col: str = "text",
                 n_features: int = 1024, seed: int = 0) -> DataFrame:
    """DSIR-style importance weights for data selection (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"):
    score every raw document by how much more its hashed n-gram features
    look like a TARGET domain (``target`` = a DataFrame of ``id_col``
    values naming the target subset — e.g. the docs a quality filter
    kept) than like the raw corpus. Per feature bucket ``b``,

        w(b) = floor_log2( (c_t(b)+1)·N_r / ((c_r(b)+1)·N_t) )

    in the engine-wide exact integer-log2 idiom (scaled by 2^10 before
    the floor so ratios down to 2^-10 resolve; 1-bit-resolution weights
    are plenty for resampling ranks). A doc's score is the tf-weighted
    sum over its buckets. Features are hashed unigrams AND bigrams
    (the paper's featurization) over the standard tokenizer. Returns
    ``(id_col, n_feats, score_bits, mean_bits_milli)``; docs with no
    tokens are absent. Feed the scores to
    :func:`quality_percentile_filter` / :func:`hash_sample` for the
    actual resampling step.

    Scale shape: one tokenize scan into (doc, bucket, tf), two
    bucket-keyed aggregations (raw + target-semi-joined), a broadcast of
    the ≤ n_features-row weight table back onto the doc features, one
    per-doc agg. The n-gram LMs are ``n_features``-sized relations — the
    hashing trick means no vocabulary ever materializes. Count products
    ``c·N·2^10`` stay far under int64 below ~2^24 corpus tokens per
    bucket side; at extreme scale split the ratio before scaling.
    """
    if n_features < 1:
        raise ValueError("n_features must be positive")
    from judy_graph_db_spark.functions.text import WORD_TOKEN_RE
    from judy_graph_db_spark.operators.sketch import _h60

    toked = docs.select(
        F.col(id_col),
        F.regexp_extract_all(
            F.lower(F.col(text_col)), F.lit(WORD_TOKEN_RE), F.lit(0)
        ).alias("__toks"))
    grams = toked.select(
        id_col,
        F.explode(F.concat(
            F.col("__toks"),
            F.expr("transform(slice(__toks, 1, greatest(size(__toks) - 1,"
                   " 0)), (x, i) -> concat(x, ' ', __toks[i + 1]))"),
        )).alias("term"))
    feats = checkpoint(  # feeds the LMs AND the doc scores
        grams.select(
            id_col,
            (_h60(F.col("term"), f"dsir{seed}") % int(n_features))
            .alias("bucket"))
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("tf")), eager=True)
    raw_c = feats.groupBy("bucket").agg((F.sum("tf") + 1).alias("c_r"))
    tgt_c = (
        feats.join(target.select(F.col(id_col)).distinct(), id_col,
                   "left_semi")
        .groupBy("bucket").agg(F.sum("tf").alias("__ct"))
    )
    lm = (
        raw_c.join(tgt_c, "bucket", "left")
        .select("bucket", "c_r",
                (F.coalesce(F.col("__ct"), F.lit(0)) + 1).alias("c_t"))
    )
    totals = lm.agg(F.sum("c_r").alias("N_r"), F.sum("c_t").alias("N_t"))
    w = (
        lm.join(F.broadcast(totals))
        .select(
            "bucket",
            # integer `div`, never `/` — PySpark `/` is double division
            # and drifts from the DuckDB twin's exact `//` (see the
            # cross-engine quirks note)
            (F.length(F.bin(F.greatest(
                F.lit(1),
                F.expr("(c_t * N_r * 1024) div (c_r * N_t)")
            ))) - 11).alias("w_bits"))
    )
    return (
        feats.join(F.broadcast(w), "bucket")
        .groupBy(id_col)
        .agg(F.sum("tf").alias("n_feats"),
             F.sum(F.col("tf") * F.col("w_bits")).alias("score_bits"))
        .withColumn("mean_bits_milli",
                    F.expr("1000 * score_bits div n_feats"))
    )


def pps_systematic_sample(df: DataFrame, n: int, weight_col: str,
                          id_col: str = "doc_id",
                          num_partitions: int | None = None) -> DataFrame:
    """Systematic probability-proportional-to-size sampling (Madow 1949;
    the classic πps design survey samplers and data-mixture builders use):
    lay every item's non-negative integer weight end-to-end on a line of
    total length W, then pick the points ``offset + k·stride``
    (``stride = ceil(W/n)``, ``offset = stride div 2`` — at most n draws,
    n−1 when the clipped final stride loses its pick) — an item is drawn
    once per pick landing inside its interval, so inclusion probability is
    ∝ weight, items heavier than the stride are drawn multiple times
    (``n_hits``), and the sample spreads evenly across the ``id_col``
    order instead of clumping the way independent draws do.

    Fully deterministic and integer-exact: the interval layout is the same
    two-pass distributed prefix sum as :func:`shard_by_token_budget`
    (per-partition subtotals → ≤P-row window → broadcast back), and hit
    counts are two floor-divisions per row — no randomness, no floats, so
    the draw reproduces bit-for-bit across engines, partitionings, and
    reruns. At 100 TB: one range partition + one thin broadcast join; no
    global window ever sees the full relation, and no sort of the sampled
    output is needed.

    Returns the selected rows of ``df`` with ``n_hits`` (≥1) attached.

    Reference: judy-graph-db has no sampling surface; parity-plus for
    training-data pipelines (weight = token count ⇒ token-budget-
    proportional document draws; weight = quality score ⇒ quality-tilted
    mixtures).
    """
    pre = _token_prefix(df, id_col, "", num_partitions,
                        weight=F.col(weight_col).cast("long"))
    # total weight = last interval end; ≤P-row agg, broadcast as a scalar
    tot = pre.agg(
        F.max(F.col("__start") + F.col("n_tokens")).alias("__W"))
    sel = (
        pre.crossJoin(F.broadcast(tot))
        # integer div throughout — double `/` would round the low bits of
        # a 100 TB-scale cumulative weight (> 2^53) and shift pick points
        # ceil-stride bounds the draw count at n exactly (n-1 when the
        # clipped last stride loses its pick); floor-stride could overdraw
        .withColumn("__stride", F.when(
            F.col("__W") < 1,
            F.raise_error(F.lit(
                "pps_systematic_sample: total weight is zero — nothing "
                "to draw from"))
        ).otherwise(F.expr(f"(__W + {n - 1}) div {n}")))
        .withColumn("__o", F.expr("__stride div 2"))
        # picks in [c, c+w): floor((c+w-1-o)/s) - floor((c-1-o)/s); both
        # numerators shifted +s to stay non-negative (c≥0, o<s), keeping
        # integer division exact and engine-portable
        .withColumn(
            "__hi", F.col("__start") + F.col("n_tokens") - 1 - F.col("__o")
            + F.col("__stride"))
        .withColumn("__lo",
                    F.col("__start") - 1 - F.col("__o") + F.col("__stride"))
        .withColumn("n_hits", F.expr(
            "(__hi div __stride) - (__lo div __stride)").cast("long"))
        .filter(F.col("n_hits") > 0)
        .select(F.col(id_col), F.col("n_hits"))
    )
    return df.join(sel, id_col)


def dedup_paragraphs(docs: DataFrame, sep: str = "\n\n",
                     id_col: str = "doc_id", text_col: str = "text",
                     out_col: str = "clean_text") -> DataFrame:
    """Corpus-wide paragraph deduplication with keep-first semantics (the
    RefinedWeb / MassiveText cleanup step BETWEEN line-level boilerplate
    removal and whole-document dedup): every repeated paragraph keeps
    exactly its first occurrence — ordered by ``(id_col, position)`` — and
    later occurrences are cut, so shared passages (syndicated articles,
    quoted headers, licence blocks) survive once in the corpus instead of
    once per crawl hit. Unlike :func:`remove_boilerplate_lines` (which
    drops EVERY occurrence of a common line) this preserves one canonical
    copy, the right semantics for content rather than chrome.

    Scale shape: one explode pass, one paragraph-keyed min-(id, pos)
    aggregation (map-side combined; the firsts relation is one row per
    DISTINCT paragraph), a second paragraph-keyed join to tag each
    occurrence, and a doc-keyed ordered rollup to reassemble — no driver
    round-trip, no global window. A mega-duplicated paragraph is a hot
    join key but meets a 1-row build side, so there is no pair blowup.

    Returns ``docs`` plus ``out_col`` ('' when every paragraph was a
    later duplicate).
    """
    paras = docs.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("__pos", "__para"),
    )
    firsts = paras.groupBy("__para").agg(
        F.min(F.struct("__id", "__pos")).alias("__first"))
    kept = (
        paras.join(firsts, "__para")
        .filter(F.struct("__id", "__pos") == F.col("__first"))
        .select("__id", "__pos", "__para")
    )
    clean = kept.groupBy("__id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__para"))),
                lambda s: s["__para"],
            ),
            sep,
        ).alias(out_col)
    )
    return (
        docs.join(clean, docs[id_col] == clean["__id"], "left")
        .select(*docs.columns,
                F.coalesce(F.col(out_col), F.lit("")).alias(out_col))
    )


def paragraph_signals(docs: DataFrame, sep: str = "\n\n",
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Per-paragraph quality signals — the block-classification prep of
    jusText / trafilatura-style extraction (Pomikálek 2011): chrome
    paragraphs (nav bars, button labels, link lists) are short and
    stopword-poor where real prose is long and stopword-rich, so
    paragraph-LEVEL signals separate them where document-level scores
    blur. One posexplode + pure Column expressions in the scan stage —
    the same scalar signal set as ``doc_signals``, one row per (doc,
    paragraph).

    Returns ``(id_col, pos, n_chars, n_words, stopword_permille,
    q_score)``.
    """
    from judy_graph_db_spark.functions.text import (quality_score,
                                                    stopword_permille,
                                                    word_token_count)

    p = F.col("__para")
    return docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "__para"),
    ).select(
        F.col(id_col), "pos",
        F.length(p).cast("long").alias("n_chars"),
        word_token_count(p).alias("n_words"),
        stopword_permille(p).alias("stopword_permille"),
        quality_score(p).alias("q_score"),
    )


def filter_paragraphs(docs: DataFrame, min_words: int = 3,
                      min_stopword_permille: int = 0,
                      sep: str = "\n\n", id_col: str = "doc_id",
                      text_col: str = "text",
                      out_col: str = "clean_text") -> DataFrame:
    """Drop chrome paragraphs by the jusText-style block heuristics and
    reassemble each document from its surviving paragraphs in order:
    keep a paragraph iff it has ≥ ``min_words`` word tokens AND its
    stopword density ≥ ``min_stopword_permille`` (0 disables the
    stopword test — the fixture corpora are synthetic). Unlike the
    corpus-keyed cleanups (`remove_boilerplate_lines`,
    `dedup_paragraphs`) this is PURELY row-local until the one doc-keyed
    reassembly shuffle — no corpus statistics, so it composes as the
    first, cheapest pass of the cleanup chain.

    Returns ``docs`` plus ``out_col`` ('' when nothing survives).
    """
    from judy_graph_db_spark.functions.text import (stopword_permille,
                                                    word_token_count)

    p = F.col("__para")
    kept = docs.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("__pos", "__para"),
    ).filter(
        (word_token_count(p) >= int(min_words))
        & (stopword_permille(p) >= int(min_stopword_permille))
    )
    clean = kept.groupBy("__id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__para"))),
                lambda s: s["__para"],
            ),
            sep,
        ).alias(out_col)
    )
    return (
        docs.join(clean, docs[id_col] == clean["__id"], "left")
        .select(*docs.columns,
                F.coalesce(F.col(out_col), F.lit("")).alias(out_col))
    )


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def _milli(num, den):
    """floor(1000·num/den) as BIGINT, 0 on empty denominators — every
    fraction in the Gopher signal set is emitted in integer milli units
    so the relations hash-gate exactly."""
    return F.when(den > 0, F.floor(num * 1000 / den)) \
        .otherwise(F.lit(0)).cast("long")


def gopher_quality_signals(docs: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text",
                           passthrough: bool = False) -> DataFrame:
    """Per-document MassiveWeb quality signals (Rae et al. 2021,
    "Scaling Language Models: ... Gopher", Appendix A1.1) — the
    published rule-based web filter every large English corpus build
    starts from. Pure Column expressions in the scan stage: no shuffle,
    no UDF, O(|text|) per row.

    Signal definitions (integer, milli = ‰ where fractional):

    - ``n_words``: whitespace-delimited tokens (the A1.1 unit — NOT the
      word-token regex the stats family uses).
    - ``mean_word_len_milli``: 1000·Σlen(word)/n_words.
    - ``symbol_word_milli``: 1000·(#'#' chars + '...'/'…' runs)/n_words
      (the symbol-to-word-ratio rule; '....' counts one run per
      non-overlapping 3 dots).
    - ``bullet_line_milli`` / ``ellipsis_line_milli``: ‰ of non-blank
      trimmed lines starting with a bullet ('•','-','*') / ending with
      an ellipsis.
    - ``alpha_word_milli``: ‰ of words containing ≥1 ASCII letter.
    - ``stop_hits``: how many DISTINCT words of the 8-word A1.1 stop
      list {the, be, to, of, and, that, have, with} appear (exact
      lowercase whitespace-token match).

    Returns one row per input row:
    ``(id, n_words, mean_word_len_milli, symbol_word_milli,
    bullet_line_milli, ellipsis_line_milli, alpha_word_milli,
    stop_hits)`` — or, with ``passthrough=True``, every input column
    plus the signals (the zero-join form compositions like
    ``web_corpus_funnel`` use: the signals are scan-stage expressions,
    so joining this projection back onto ``docs`` by id would pay two
    corpus shuffles for nothing).
    """
    t = F.col(text_col)
    words = F.filter(F.split(t, r"\s+"), lambda w: w != F.lit(""))
    n_words = F.size(words).cast("long")
    wl_sum = F.aggregate(F.transform(words, F.length),
                         F.lit(0).cast("long"),
                         lambda acc, x: acc + x.cast("long"))
    n_hash = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    n_ell = (
        F.floor((F.length(t)
                 - F.length(F.replace(t, F.lit("..."), F.lit("")))) / 3)
        + (F.length(t) - F.length(F.replace(t, F.lit("…"), F.lit(""))))
    )
    # NB: F.trim can't be passed to transform() directly — its optional
    # second parameter makes PySpark treat it as a 2-arg (element, index)
    # lambda, silently trimming index digits instead of whitespace
    lines = F.filter(F.transform(F.split(t, "\n"), lambda x: F.trim(x)),
                     lambda ln: ln != F.lit(""))
    n_lines = F.size(lines).cast("long")
    bullet = F.size(F.filter(
        lines, lambda ln: ln.startswith("•") | ln.startswith("-")
        | ln.startswith("*"))).cast("long")
    ell_end = F.size(F.filter(
        lines, lambda ln: ln.endswith("...") | ln.endswith("…"))) \
        .cast("long")
    alpha = F.size(F.filter(
        words, lambda w: w.rlike("[A-Za-z]"))).cast("long")
    stop_hits = F.size(F.array_intersect(
        F.array_distinct(F.transform(words, F.lower)),
        F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]))).cast("long")
    lead = [F.col(c) for c in docs.columns] if passthrough \
        else [F.col(id_col)]
    return docs.select(
        *lead,
        n_words.alias("n_words"),
        _milli(wl_sum, n_words).alias("mean_word_len_milli"),
        _milli(n_hash + n_ell, n_words).alias("symbol_word_milli"),
        _milli(bullet, n_lines).alias("bullet_line_milli"),
        _milli(ell_end, n_lines).alias("ellipsis_line_milli"),
        _milli(alpha, n_words).alias("alpha_word_milli"),
        stop_hits.alias("stop_hits"),
    )


def gopher_quality_filter(docs: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text",
                          min_words: int = 50, max_words: int = 100_000,
                          min_mean_word_len_milli: int = 3000,
                          max_mean_word_len_milli: int = 10_000,
                          max_symbol_word_milli: int = 100,
                          max_bullet_line_milli: int = 900,
                          max_ellipsis_line_milli: int = 300,
                          min_alpha_word_milli: int = 800,
                          min_stop_hits: int = 2,
                          passthrough: bool = False) -> DataFrame:
    """Apply the published Gopher A1.1 quality thresholds (the defaults
    ARE the paper's numbers: 50–100k words, mean word length 3–10,
    symbol ratio ≤0.1, ≤90% bulleted / ≤30% ellipsis lines, ≥80%
    alphabetic words, ≥2 of the 8 stop words) over
    :func:`gopher_quality_signals`. Returns the signal relation plus a
    ``keep`` boolean — callers filter or route; keeping the flag (not
    pre-filtering) makes the decision auditable and hash-gateable."""
    s = gopher_quality_signals(docs, id_col, text_col,
                               passthrough=passthrough)
    keep = (
        F.col("n_words").between(int(min_words), int(max_words))
        & F.col("mean_word_len_milli").between(
            int(min_mean_word_len_milli), int(max_mean_word_len_milli))
        & (F.col("symbol_word_milli") <= int(max_symbol_word_milli))
        & (F.col("bullet_line_milli") <= int(max_bullet_line_milli))
        & (F.col("ellipsis_line_milli") <= int(max_ellipsis_line_milli))
        & (F.col("alpha_word_milli") >= int(min_alpha_word_milli))
        & (F.col("stop_hits") >= int(min_stop_hits))
    )
    return s.withColumn("keep", keep)


def dup_line_signals(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Gopher A1.2 repetition signals, line level: per document the ‰ of
    non-blank trimmed lines belonging to a duplicated line value
    (``dup_line_milli = 1000·Σ_{line: c>1} c / n_lines``) and the ‰ of
    line characters those lines carry (``dup_line_char_milli``) — the
    two thresholds (0.30 / 0.20 in the paper) that kill
    boilerplate-looped pages exact dedup misses.

    One explode + (doc, line) count + doc rollup — two keyed shuffles on
    the exploded relation, map-side combined; no corpus-global state, so
    it scales with the corpus like every other per-doc signal. Documents
    with zero non-blank lines report all-zero (left join back).

    Returns ``(id, n_lines, dup_line_milli, dup_line_char_milli)``.
    """
    t = F.col(text_col)
    lines = docs.select(
        F.col(id_col).alias("__id"),
        F.explode(F.filter(
            F.transform(F.split(t, "\n"), lambda x: F.trim(x)),
            lambda ln: ln != F.lit(""))).alias("__line"),
    )
    per = lines.groupBy("__id", "__line").agg(
        F.count(F.lit(1)).alias("__c"))
    chars = F.length("__line").cast("long")
    agg = per.groupBy("__id").agg(
        F.sum("__c").cast("long").alias("n_lines"),
        F.sum(F.when(F.col("__c") > 1, F.col("__c")).otherwise(0))
        .cast("long").alias("__dup"),
        F.sum(F.col("__c") * chars).cast("long").alias("__chars"),
        F.sum(F.when(F.col("__c") > 1, F.col("__c") * chars).otherwise(0))
        .cast("long").alias("__dupchars"),
    )
    return (
        docs.select(F.col(id_col))
        .join(agg, F.col(id_col) == F.col("__id"), "left")
        .select(
            id_col,
            F.coalesce("n_lines", F.lit(0)).cast("long").alias("n_lines"),
            F.coalesce(_milli(F.col("__dup"), F.col("n_lines")), F.lit(0))
            .alias("dup_line_milli"),
            F.coalesce(_milli(F.col("__dupchars"), F.col("__chars")),
                       F.lit(0)).alias("dup_line_char_milli"),
        )
    )


def top_ngram_char_fraction(docs: DataFrame, n: int = 2,
                            id_col: str = "doc_id",
                            text_col: str = "text") -> DataFrame:
    """Gopher A1.2 "fraction of characters in the most frequent n-gram"
    (thresholds 0.20/0.18/0.16 for n=2/3/4): per document, the coverage
    ``1000·count·len(gram)/len(text)`` of the modal word n-gram, capped
    at 1000 (the standard occurrence·length approximation of coverage —
    overlaps can overcount, the cap keeps the unit honest). Ties break
    to the lexicographically smallest gram so the relation is
    deterministic and hash-gateable. Tokenization rides the shared
    WORD_TOKEN_RE (lowercased), same as the stats n-gram family.

    Explode + (doc, gram) count + a PARTITIONED top-1 window per doc —
    no global window; documents with no n-gram report (NULL gram, 0).

    Returns ``(id, gram, top_ngram_char_milli)``.
    """
    from judy_graph_db_spark.functions.text import WORD_TOKEN_RE

    t = F.col(text_col)
    toks = F.regexp_extract_all(F.lower(t), F.lit(WORD_TOKEN_RE), F.lit(0))
    grams = F.expr(
        f"CASE WHEN size(__toks) < {int(n)} "
        f"THEN CAST(array() AS array<string>) "
        f"ELSE transform(sequence(1, size(__toks) - {int(n) - 1}), "
        f"i -> concat_ws(' ', slice(__toks, i, {int(n)}))) END"
    )
    ex = docs.select(
        F.col(id_col).alias("__id"),
        F.length(t).cast("long").alias("__nc"),
        toks.alias("__toks"),
    ).select(
        "__id", "__nc", F.explode(grams).alias("gram"),
    )
    counts = ex.groupBy("__id", "__nc", "gram").agg(
        F.count(F.lit(1)).alias("__c"))
    w = Window.partitionBy("__id").orderBy(
        F.col("__c").desc(), F.col("gram").asc())
    top = counts.withColumn("__rn", F.row_number().over(w)) \
        .filter(F.col("__rn") == 1)
    milli = F.least(
        F.lit(1000).cast("long"),
        _milli(F.col("__c") * F.length("gram"), F.col("__nc")))
    return (
        docs.select(F.col(id_col))
        .join(top.select("__id", "gram", milli.alias("top_ngram_char_milli")),
              F.col(id_col) == F.col("__id"), "left")
        .select(id_col, "gram",
                F.coalesce("top_ngram_char_milli", F.lit(0)).cast("long")
                .alias("top_ngram_char_milli"))
    )


def dup_ngram_char_fraction(docs: DataFrame, n: int = 5,
                            id_col: str = "doc_id",
                            text_col: str = "text") -> DataFrame:
    """Gopher A1.2 "fraction of characters in duplicated n-grams"
    (thresholds 0.15…0.10 for n=5…10): per document,
    ``1000·Σ_{gram: c>1} c·len(gram)/len(text)`` capped at 1000 — the
    occurrence·length approximation over every n-gram that appears more
    than once (overlap-naive, as the public implementations compute it;
    the cap bounds the unit). Same tokenization and shuffle shape as
    :func:`top_ngram_char_fraction`, with the top-1 window replaced by a
    doc-keyed sum. Returns ``(id, dup_ngram_char_milli)``.
    """
    from judy_graph_db_spark.functions.text import WORD_TOKEN_RE

    t = F.col(text_col)
    toks = F.regexp_extract_all(F.lower(t), F.lit(WORD_TOKEN_RE), F.lit(0))
    grams = F.expr(
        f"CASE WHEN size(__toks) < {int(n)} "
        f"THEN CAST(array() AS array<string>) "
        f"ELSE transform(sequence(1, size(__toks) - {int(n) - 1}), "
        f"i -> concat_ws(' ', slice(__toks, i, {int(n)}))) END"
    )
    ex = docs.select(
        F.col(id_col).alias("__id"),
        F.length(t).cast("long").alias("__nc"),
        toks.alias("__toks"),
    ).select("__id", "__nc", F.explode(grams).alias("__gram"))
    counts = ex.groupBy("__id", "__nc", "__gram").agg(
        F.count(F.lit(1)).alias("__c"))
    agg = counts.groupBy("__id", "__nc").agg(
        F.sum(F.when(F.col("__c") > 1,
                     F.col("__c") * F.length("__gram")).otherwise(0))
        .cast("long").alias("__dupchars"))
    milli = F.least(F.lit(1000).cast("long"),
                    _milli(F.col("__dupchars"), F.col("__nc")))
    return (
        docs.select(F.col(id_col))
        .join(agg.select("__id", milli.alias("dup_ngram_char_milli")),
              F.col(id_col) == F.col("__id"), "left")
        .select(id_col,
                F.coalesce("dup_ngram_char_milli", F.lit(0)).cast("long")
                .alias("dup_ngram_char_milli"))
    )


def epoch_shuffle(df: DataFrame, seed: int, num_shards: int = 1024,
                  id_col: str = "doc_id") -> DataFrame:
    """Deterministic global training-order shuffle: every epoch's data
    order must be (a) uniformly shuffled, (b) reproducible for
    resume-from-step and for debugging loss spikes, (c) cheap at corpus
    scale. Hash order gives all three — ``shard = md5(seed:id) mod S``
    and a shard-local rank by the full 60-bit hash — with no global sort:
    the only window is per-shard (corpus/S rows), and changing ``seed``
    reshuffles everything while the same seed replays bit-for-bit on any
    partitioning or engine.

    Training readers consume shards in index order, rows in
    ``pos_in_shard`` order — equivalent to one global pass over a
    uniformly-permuted corpus (the hash is uniform; ``id`` tiebreak makes
    rank total). Returns ``df`` plus ``(shard, pos_in_shard)``.

    Reference: no training-order surface exists in judy-graph-db;
    parity-plus for the data-loading edge of the pipeline.
    """
    from judy_graph_db_spark.operators.sketch import _h60

    if num_shards < 1:
        raise ValueError("num_shards must be positive")
    h = _h60(F.col(id_col), f"shuf{int(seed)}")
    w = Window.partitionBy("shard").orderBy("__h", id_col)
    return (
        df.withColumn("__h", h)
        .withColumn("shard", (F.col("__h") % num_shards).cast("long"))
        .withColumn("pos_in_shard",
                    (F.row_number().over(w) - 1).cast("long"))
        .drop("__h")
    )


def shard_by_weight(df: DataFrame, budget: int, weight_col: str,
                    id_col: str = "doc_id",
                    num_partitions: int | None = None) -> DataFrame:
    """Generalized :func:`shard_by_token_budget`: pack rows (in
    ``id_col`` order) into consecutive shards of ~``budget`` total
    integer ``weight_col`` — the compaction planner shape ("bin-pack
    these small files into ~512 MB outputs", weight = file bytes) and
    the generic budgeted-batch builder (weight = token count, row count,
    sample cost). Same scalable two-pass prefix sum; returns
    ``(id_col, n_tokens, shard)`` with ``n_tokens`` carrying the row's
    weight."""
    pre = _token_prefix(df, id_col, "", num_partitions,
                        weight=F.col(weight_col).cast("long"))
    return pre.select(
        F.col(id_col), F.col("n_tokens"),
        F.floor(F.col("__start") / int(budget)).cast("long").alias("shard"),
    )


def chunk_by_tokens(df: DataFrame, size: int = 256, stride: int = 192,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Token-window chunking — the context-window prep in MODEL units:
    split on whitespace, emit windows of ``size`` tokens every ``stride``
    (stride < size ⇒ overlap), rejoined with single spaces (original
    whitespace is normalized — the standard and documented concession of
    token-level chunking). Complements :func:`chunk_documents`'s
    character windows when budgets are counted in tokens, as packing and
    sharding already do. Every doc yields ≥ 1 chunk; the tail window may
    run short. Pure narrow transformation — positions generate and
    explode inside the scan stage, zero shuffle.

    Returns ``(id_col, chunk_idx, n_tokens, chunk)``.
    """
    if size < 1 or stride < 1:
        raise ValueError("size and stride must be positive")
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    toks = F.when(F.trim(F.col(text_col)) == "",
                  F.array().cast("array<string>")).otherwise(toks)
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size("__toks") - 1, F.lit(0)),
        F.lit(stride))
    return (
        df.select(F.col(id_col), toks.alias("__toks"))
        .select(F.col(id_col), "__toks",
                F.explode(starts).alias("__start"))
        .select(
            F.col(id_col),
            F.expr(f"__start div {stride}").alias("chunk_idx"),
            F.least(F.size("__toks") - F.col("__start"),
                    F.lit(size)).cast("long").alias("n_tokens"),
            F.array_join(
                F.slice("__toks", F.col("__start") + 1, F.lit(size)),
                " ").alias("chunk"),
        )
    )


def remove_repeated_spans(docs: DataFrame, window: int = 50,
                          id_col: str = "doc_id", text_col: str = "text",
                          out_col: str = "clean_text") -> DataFrame:
    """Cross-document repeated-SPAN excision (the token-window
    approximation of Lee et al. 2021, "Deduplicating Training Data Makes
    Language Models Better"): any ``window``-token span whose exact token
    sequence occurs more than once in the corpus keeps only its globally
    FIRST occurrence — ordered by ``(doc, start)`` — and every other
    occurrence's tokens are cut from their documents, the step that
    paragraph- and document-level dedup both miss (licence blocks pasted
    mid-file, syndicated boilerplate spliced into otherwise-unique pages,
    templated spans inside distinct documents).

    Matching is exact (md5 over the joined token window, not MinHash) and
    coverage is token-level: overlapping marked windows merge via ONE
    doc-keyed running max over marked start positions — a token survives
    iff no marked window starting in ``(pos-window, pos]`` covers it. A
    degenerate fully-repetitive document therefore collapses to its
    leading tokens — by design, that is the pathology being removed.

    Scale shape: one doc-keyed sort window builds every span hash (w×
    char amplification through that single exchange — the documented
    cost; raise ``window`` stride-free because duplicates at any offset
    must be caught), one span-hash aggregation (one row per DISTINCT
    span), one hash-keyed join back, and one doc-keyed reassembly. No
    pair join ever forms: a span repeated a million times is a hot
    aggregation key, not a million² candidate set.

    Returns ``docs`` plus ``out_col`` and ``n_removed_tokens``.
    """
    if window < 2:
        raise ValueError("window must be >= 2")
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    toks = F.when(F.trim(F.col(text_col)) == "",
                  F.array().cast("array<string>")).otherwise(toks)
    return _excise_repeated_units(
        docs, toks, window, hash_sep=" ", join_sep=" ",
        id_col=id_col, out_col=out_col, removed_col="n_removed_tokens")


def _excise_repeated_units(docs: DataFrame, unit_arr, k: int,
                           hash_sep: str, join_sep: str,
                           id_col: str, out_col: str,
                           removed_col: str) -> DataFrame:
    """Shared engine of :func:`remove_repeated_spans` (token units) and
    :func:`c4_span_dedup` (sentence units): rolling ``k``-unit span
    hashes via one doc-keyed sort window, span-hash aggregation for the
    duplicate set and its global first occurrence, hash-keyed join back
    to mark losing occurrences, overlap merge via a doc-keyed running
    max, ordered reassembly with ``join_sep``. ``unit_arr`` is the
    per-row array Column of units; no pair join ever forms — a span
    repeated a million times is one hot aggregation key."""
    unit = docs.select(
        F.col(id_col).alias("__id"),
        F.posexplode(unit_arr).alias("__pos", "__u"))
    wdoc = Window.partitionBy("__id").orderBy("__pos")
    wspan = wdoc.rowsBetween(0, k - 1)
    spans = unit.select(
        "__id", "__pos",
        F.md5(F.concat_ws(hash_sep, F.collect_list("__u").over(wspan)))
        .alias("__h"),
        F.count(F.lit(1)).over(wspan).alias("__n"),
    ).filter(F.col("__n") == k).select(
        "__id", F.col("__pos").alias("__start"), "__h")
    dups = spans.groupBy("__h").agg(
        F.count(F.lit(1)).alias("__c"),
        F.min(F.struct("__id", "__start")).alias("__first"),
    ).filter(F.col("__c") > 1)
    marked = (
        spans.join(dups, "__h")
        .filter(F.struct(F.col("__id"), F.col("__start"))
                != F.col("__first"))
        .select("__id", F.col("__start").alias("__pos"),
                F.lit(1).alias("__mk"))
    )
    lastmk = F.max(F.when(F.col("__mk") == 1, F.col("__pos"))) \
        .over(wdoc.rowsBetween(Window.unboundedPreceding, 0))
    surv = (
        unit.join(marked, ["__id", "__pos"], "left")
        .select("__id", "__pos", "__u", lastmk.alias("__lastmk"))
        .filter(F.col("__lastmk").isNull()
                | (F.col("__lastmk") <= F.col("__pos") - k))
    )
    clean = surv.groupBy("__id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__u"))),
                lambda s: s["__u"]),
            join_sep).alias(out_col),
        F.count(F.lit(1)).alias("__kept"),
    )
    totals = unit.groupBy("__id").agg(F.count(F.lit(1)).alias("__tot"))
    # totals LEFT JOIN clean: a doc whose every unit was excised has a
    # totals row but no clean row — it must still report its removals
    merged = totals.join(clean, "__id", "left")
    return (
        docs.join(merged, docs[id_col] == merged["__id"], "left")
        .select(*docs.columns,
                F.coalesce(F.col(out_col), F.lit("")).alias(out_col),
                (F.coalesce(F.col("__tot"), F.lit(0))
                 - F.coalesce(F.col("__kept"), F.lit(0)))
                .cast("long").alias(removed_col))
    )


# --- C4 rule set (Raffel et al. 2020, arXiv:1910.10683 SS2.2) ----------------
#
# The OTHER canonical published web filter next to Gopher A1: the heuristics
# that produced the Colossal Clean Crawled Corpus. Same contract as the
# Gopher family above -- pure Column expressions in the scan stage wherever
# the rule is per-document, integer/boolean signals so every relation
# hash-gates exactly against its DuckDB twin, and the one cross-document
# rule (the three-sentence-span dedup) as a keyed aggregation that never
# forms a pair join.

C4_MIN_WORDS_PER_LINE = 3
C4_MIN_SENTENCES = 5


def _c4_kept_lines(text_col: str, min_words_per_line: int):
    """Array of trimmed lines surviving C4's line-level rules: ends in a
    terminal punctuation mark ('.', '!', '?', closing quote), has at
    least ``min_words_per_line`` whitespace words, and does not contain
    the word "javascript" (case-insensitive)."""
    t = F.col(text_col)
    lines = F.filter(F.transform(F.split(t, "\n"), lambda x: F.trim(x)),
                     lambda ln: ln != F.lit(""))
    return F.filter(
        lines,
        lambda ln: (ln.endswith(".") | ln.endswith("!") | ln.endswith("?")
                    | ln.endswith('"') | ln.endswith("”"))
        & (F.size(F.split(ln, r"\s+")) >= int(min_words_per_line))
        & ~F.lower(ln).contains("javascript"))


def c4_line_filter(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text",
                   min_words_per_line: int = C4_MIN_WORDS_PER_LINE,
                   out_col: str = "clean_text") -> DataFrame:
    """C4's line-level cleanup (Raffel et al. 2020 SS2.2): retain only
    lines that end in a terminal punctuation mark (period, exclamation
    mark, question mark, or end quotation mark), contain at least
    ``min_words_per_line`` words (the paper uses 3), and do not contain
    the word "javascript" (the boilerplate-warning rule). Blank lines
    are dropped by trimming.

    Pure Column expressions -- no shuffle, no UDF, O(|text|) per row;
    the whole operator lives in the scan stage at any corpus size.

    Returns one row per input row:
    ``(id, out_col, n_lines, n_kept_lines)`` where ``out_col`` is the
    surviving lines re-joined with newlines.
    """
    t = F.col(text_col)
    lines = F.filter(F.transform(F.split(t, "\n"), lambda x: F.trim(x)),
                     lambda ln: ln != F.lit(""))
    kept = _c4_kept_lines(text_col, min_words_per_line)
    return docs.select(
        F.col(id_col),
        F.array_join(kept, "\n").alias(out_col),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept_lines"),
    )


def c4_quality_filter(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text",
                      min_words_per_line: int = C4_MIN_WORDS_PER_LINE,
                      min_sentences: int = C4_MIN_SENTENCES,
                      bad_words: tuple = (),
                      out_col: str = "clean_text") -> DataFrame:
    """The composed C4 document filter: line-level rules first
    (:func:`c4_line_filter`), then the page-level rules -- the sentence
    minimum evaluated over the SURVIVING lines (the paper's order: a
    page is kept iff its retained lines still form ``min_sentences``
    sentences), while the kill rules (lorem ipsum / curly bracket /
    blocklist) are evaluated on the full original text, since a hit in
    a dropped line still marks the page. Returns the line-filter
    relation plus the page signals and a ``keep`` boolean -- the
    decision stays auditable and hash-gateable; callers filter on it.

    Zero shuffles: both stages are scan-stage Column expressions over
    the same row, composed as expressions (no self-join), so Catalyst
    fuses the whole filter into the parquet scan at any corpus size.
    """
    kept = _c4_kept_lines(text_col, min_words_per_line)
    clean = F.array_join(kept, "\n")
    from judy_graph_db_spark.functions.text import sentence_count
    t = F.col(text_col)
    lines = F.filter(F.transform(F.split(t, "\n"), lambda x: F.trim(x)),
                     lambda ln: ln != F.lit(""))
    words = F.filter(F.split(t, r"\s+"), lambda w: w != F.lit(""))
    if bad_words:
        bw = F.size(F.array_intersect(
            F.array_distinct(F.transform(words, F.lower)),
            F.array(*[F.lit(str(w).lower()) for w in bad_words]))) \
            .cast("long")
    else:
        bw = F.lit(0).cast("long")
    sig = docs.select(
        F.col(id_col),
        clean.alias(out_col),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept_lines"),
        sentence_count(clean).alias("n_sentences"),
        F.lower(t).contains("lorem ipsum").cast("long").alias("has_lorem"),
        t.contains("{").cast("long").alias("has_curly"),
        bw.alias("bad_word_hits"),
    )
    keep = (
        (F.col("n_sentences") >= int(min_sentences))
        & (F.col("has_lorem") == 0)
        & (F.col("has_curly") == 0)
        & (F.col("bad_word_hits") == 0)
    )
    return sig.withColumn("keep", keep)


def c4_span_dedup(docs: DataFrame, span_sentences: int = 3,
                  id_col: str = "doc_id", text_col: str = "text",
                  out_col: str = "clean_text") -> DataFrame:
    """C4's cross-document deduplication rule (Raffel et al. 2020 SS2.2):
    of any ``span_sentences``-sentence span (rolling, stride 1) that
    occurs more than once in the corpus, keep only the globally FIRST
    occurrence -- ordered by ``(doc, start)`` -- and remove every other
    occurrence's sentences from their documents. This is the sentence-
    unit sibling of :func:`remove_repeated_spans` (token windows, Lee et
    al. 2021); C4 is where the three-sentence form was published.

    Sentences are ``[.!?]+``-delimited trimmed segments containing at
    least one alphanumeric; the surviving sentences are re-joined with
    ``". "`` (the reassembly is sentence-normalized -- terminal
    punctuation variety is not preserved, which is the standard
    trade-off of sentence-unit dedup).

    Scale shape -- identical to ``remove_repeated_spans`` and the reason
    neither ever forms a pair join: one doc-keyed sort window builds the
    rolling span hashes, one span-hash aggregation finds duplicated
    hashes and their global first occurrence (a span repeated a million
    times is one hot aggregation key, not a million-squared candidate
    set), one hash-keyed join back marks losing occurrences, and one
    doc-keyed running max merges overlapping marked spans before
    reassembly.

    Returns ``docs`` plus ``out_col`` and ``n_removed_sentences``.
    """
    if span_sentences < 2:
        raise ValueError("span_sentences must be >= 2")
    sarr = F.filter(
        F.transform(F.split(F.col(text_col), "[.!?]+"),
                    lambda x: F.trim(x)),
        lambda s: s.rlike("[A-Za-z0-9]"))
    return _excise_repeated_units(
        docs, sarr, int(span_sentences), hash_sep="|", join_sep=". ",
        id_col=id_col, out_col=out_col,
        removed_col="n_removed_sentences")


# --- URL-level curation (RefinedWeb / C4 front-of-pipeline rules) -----------


def url_blocklist_filter(docs: DataFrame, blocked_domains,
                         url_col: str = "url",
                         id_col: str = "doc_id") -> DataFrame:
    """URL blocklist filtering (the RefinedWeb / CCNet front-of-pipeline
    rule: drop documents whose REGISTERED domain is on a blocklist —
    the published pipelines use the UT1 list, a user-supplied asset).

    ``blocked_domains`` is either a small tuple/list (inlined into the
    scan as an ``isin`` — zero shuffle, the whole filter is a scan-stage
    projection) or a one-column DataFrame for UT1-scale lists (a
    broadcast LEFT join on the registered domain — the list is a few
    million rows at most, always broadcastable).

    Returns ``(id, host, reg_domain, blocked)`` — the decision stays a
    column, auditable and hash-gateable; callers filter on it.
    """
    from judy_graph_db_spark.functions.text import (registered_domain,
                                                    url_host)
    host = url_host(F.col(url_col))
    dom = registered_domain(host)
    base = docs.select(
        F.col(id_col), host.alias("host"), dom.alias("reg_domain"))
    if isinstance(blocked_domains, DataFrame):
        bl = blocked_domains.toDF("reg_domain") \
            .select(F.lower("reg_domain").alias("reg_domain")) \
            .distinct().withColumn("__bl", F.lit(1))
        return (
            base.join(F.broadcast(bl), "reg_domain", "left")
            .select(id_col, "host", "reg_domain",
                    (F.col("__bl") == 1).alias("blocked"))
            .na.fill({"blocked": False})
        )
    blocked = tuple(str(d).lower() for d in blocked_domains)
    flag = F.col("reg_domain").isin(*blocked) if blocked else F.lit(False)
    return base.withColumn("blocked", flag)


def url_dedup(docs: DataFrame, url_col: str = "url",
              id_col: str = "doc_id") -> DataFrame:
    """URL-exact dedup after canonicalization (lowercase, fragment and
    tracking-parameter strip — ``text.canonicalize_url``): one groupBy
    on the canonical URL, keeper = min id. The cheapest dedup pass of a
    web pipeline, run before any content hashing; one shuffle on the
    canonical-URL key. Returns ``(canon_url, keep_id, n_copies)``."""
    from judy_graph_db_spark.functions.text import canonicalize_url
    return (
        docs.select(F.col(id_col),
                    canonicalize_url(F.col(url_col)).alias("canon_url"))
        .groupBy("canon_url")
        .agg(F.min(id_col).alias("keep_id"),
             F.count(F.lit(1)).alias("n_copies"))
    )


def web_corpus_funnel(docs: DataFrame, blocked_domains=(),
                      keep_langs=("en",), neardup: bool = True,
                      id_col: str = "doc_id", text_col: str = "text",
                      url_col: str | None = None,
                      gopher_kwargs: dict | None = None,
                      robots_rules: DataFrame | None = None,
                      robots_agent: str = "*") -> DataFrame:
    """The RefinedWeb/FineWeb-style front-of-pipeline FUNNEL in one
    call — the composition a crawl-to-corpus user actually runs:

    1. ``url_ok``     — registered domain not on the blocklist
       (skipped/true when ``url_col`` is None);
    2. ``lang_ok``    — n-gram ``lang_id`` in ``keep_langs``;
    3. ``gopher_ok``  — the published Gopher A1.1 thresholds;
    4. ``exact_keep`` — keep-first (min id) per normalized text hash,
       decided among rows surviving stages 1–3 only (a filtered
       duplicate must never own the canonical slot);
    5. ``neardup_keep`` — MinHash-LSH cluster canonical (min id) among
       stage-4 survivors (skipped/true when ``neardup=False``).

    Every stage decision stays a BOOLEAN COLUMN on the full input —
    auditable, hash-gateable, and recountable (`keep` is their
    conjunction); nothing is silently discarded. One pass of scan-stage
    expressions for stages 1–3 (the Gopher relation joins back on id),
    one md5 aggregation for stage 4, one banded LSH join + CC for
    stage 5 — the same scale shapes as the individual operators this
    composes (each separately driver-gated).
    """
    from judy_graph_db_spark.functions.text import (lang_id,
                                                    registered_domain,
                                                    url_host)

    # stages 1-3 as COLUMN EXPRESSIONS on one relation — the earlier
    # join-back-by-id shape paid two corpus-text shuffles for signals
    # that are all scan-stage (measured: the no-dedup funnel dropped
    # 5.0→1.3s at sf0.1 when the joins went away)
    sigcols = ("n_words", "mean_word_len_milli", "symbol_word_milli",
               "bullet_line_milli", "ellipsis_line_milli",
               "alpha_word_milli", "stop_hits")
    out = gopher_quality_filter(
        docs, id_col=id_col, text_col=text_col, passthrough=True,
        **(gopher_kwargs or {})
    ).withColumnRenamed("keep", "gopher_ok").drop(*sigcols)
    if url_col is not None:
        dom = registered_domain(url_host(F.col(url_col)))
        if isinstance(blocked_domains, DataFrame):
            bl = (blocked_domains.toDF("__bl_rd")
                  .select(F.lower("__bl_rd").alias("__bl_rd")).distinct()
                  .withColumn("__blk", F.lit(True)))
            out = (out.withColumn("__rd", dom)
                   .join(F.broadcast(bl),
                         F.col("__rd") == F.col("__bl_rd"), "left")
                   .withColumn("url_ok", F.col("__blk").isNull())
                   .drop("__rd", "__bl_rd", "__blk"))
        else:
            blocked = tuple(str(d).lower() for d in blocked_domains)
            out = out.withColumn(
                "url_ok",
                ~dom.isin(*blocked) if blocked else F.lit(True))
        if robots_rules is not None:
            # optional stage 0: drop URLs the host's robots.txt
            # disallowed for this agent (RFC 9309 longest-match)
            from judy_graph_db_spark.sources.robots import robots_url_policy

            pol = robots_url_policy(
                docs.select(id_col, url_col), robots_rules,
                agent=robots_agent, url_col=url_col)
            # LEFT join + missing-policy-is-allowed: a NULL url (or a url
            # the policy relation lacks) must keep its row with
            # allowed=true — an inner equi-join would silently DROP
            # NULL-url docs (NULL != NULL), violating the every-stage-
            # stays-a-boolean-column contract
            out = out.join(
                pol.select(url_col, "allowed").distinct(), url_col, "left"
            ).withColumn(
                "url_ok",
                F.col("url_ok") & F.coalesce(F.col("allowed"), F.lit(True))
            ).drop("allowed")
    else:
        out = out.withColumn("url_ok", F.lit(True))
    out = out.withColumn(
        "lang", lang_id(F.col(text_col))).withColumn(
        "lang_ok", F.col("lang").isin(*[str(x) for x in keep_langs]))
    surv = F.col("url_ok") & F.col("lang_ok") & F.col("gopher_ok")
    norm = F.md5(F.lower(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    out = out.withColumn("__h", norm)
    # the winner aggregation, the near-dup branch, and the final output
    # all re-derive this relation — checkpoint the NARROW flags (no
    # text) once so the Gopher/lang-id regex signals are computed in
    # ONE corpus pass instead of once per branch
    # non-eager: the first consumer's action (winners aggregation / the
    # near-dup branch / the caller's own action) materializes it — one
    # corpus pass, no separate checkpoint job (r14)
    flags = checkpoint(out.drop(text_col), eager=False)
    winners = (flags.filter(surv).groupBy("__h")
               .agg(F.min(id_col).alias("__win")))
    flags = flags.join(winners, "__h", "left").withColumn(
        "exact_keep", surv & (F.col(id_col) == F.col("__win"))
    ).drop("__h", "__win")
    if neardup:
        from judy_graph_db_spark.operators.dedup import dedup_clusters

        s4 = docs.select(id_col, text_col).join(
            flags.filter(F.col("exact_keep")).select(id_col),
            id_col, "left_semi")
        cl = dedup_clusters(s4, text_col=text_col, id_col=id_col)
        losers = (cl.filter(~F.col("is_canonical"))
                  .select(id_col).withColumn("__lose", F.lit(True)))
        flags = flags.join(losers, id_col, "left").withColumn(
            "neardup_keep",
            F.col("exact_keep") & F.col("__lose").isNull()).drop("__lose")
    else:
        flags = flags.withColumn("neardup_keep", F.col("exact_keep"))
    # join the computed flags back onto the full docs: flag columns
    # REPLACE any same-named doc column (e.g. a fixture `lang`), and the
    # url column rides on docs, never duplicated
    payload = [c for c in flags.columns if c not in (id_col, url_col)]
    base = docs.drop(*[c for c in payload if c in docs.columns])
    return (base.join(flags.select(id_col, *payload), id_col)
            .withColumn("keep", F.col("neardup_keep")))


def funnel_counts(flagged: DataFrame) -> DataFrame:
    """One-row survivor counts down the :func:`web_corpus_funnel`
    stages (cumulative conjunctions — the numbers a pipeline report
    quotes). Single map-side-combinable aggregation."""
    b = F.col("url_ok")
    stages = [
        ("n_total", F.lit(True)),
        ("n_url", b),
        ("n_lang", b & F.col("lang_ok")),
        ("n_gopher", b & F.col("lang_ok") & F.col("gopher_ok")),
        ("n_exact", F.col("exact_keep")),
        ("n_neardup", F.col("neardup_keep")),
    ]
    return flagged.agg(*[
        F.sum(c.cast("long")).cast("long").alias(n) for n, c in stages])


def compression_ratio_signals(docs: DataFrame, level: int = 6,
                              id_col: str = "doc_id",
                              text_col: str = "text") -> DataFrame:
    """zlib compression ratio per document — the "perplexity without a
    model" quality signal (highly repetitive/boilerplate text compresses
    far below prose; random gibberish barely compresses; both tails are
    filter targets in published web-pipeline ablations). DEFLATE at a
    fixed ``level`` is deterministic for a given input, so the integer
    permille ratio is reproducible — but there is no SQL twin (DuckDB
    has no zlib), so this operator is unit-tested rather than
    driver-gated, like the other Arrow-stage-only ops.

    One shuffle-free Arrow ``mapInPandas`` pass (zlib is C-speed; the
    batch transfer dominates). Returns ``docs`` plus
    ``(raw_bytes, zip_bytes, ratio_permille)`` where ratio =
    compressed/raw — LOW means repetitive, ~1000 means incompressible.
    """
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        list(docs.schema.fields)
        + [StructField("raw_bytes", LongType()),
           StructField("zip_bytes", LongType()),
           StructField("ratio_permille", LongType())]
    )
    lv = int(level)

    def run(batches):
        import zlib

        import pandas as pd

        for pdf in batches:
            raw = [t.encode("utf-8") if t is not None else b""
                   for t in pdf[text_col]]
            zb = [len(zlib.compress(b, lv)) for b in raw]
            rb = [len(b) for b in raw]
            pdf = pdf.copy()
            pdf["raw_bytes"] = pd.Series(rb, index=pdf.index)
            pdf["zip_bytes"] = pd.Series(zb, index=pdf.index)
            pdf["ratio_permille"] = pd.Series(
                [1000 * z // r if r else 0 for z, r in zip(zb, rb)],
                index=pdf.index)
            yield pdf

    return docs.mapInPandas(run, schema=out_schema)


def emit_training_sequences(pieces: DataFrame, vocab: DataFrame,
                            seq_len: int, eod_id: int = 0,
                            unk_id: int | None = None,
                            id_col: str = "doc_id",
                            drop_partial: bool = True) -> DataFrame:
    """The TERMINAL pipeline step — materialize fixed-length token-ID
    training sequences (the Megatron/GPT .bin layout, as a relation):
    documents' subword ids concatenate in ``id_col`` order, each doc
    followed by ``eod_id``, the stream cut every ``seq_len`` tokens,
    the trailing partial sequence dropped (``drop_partial=False`` keeps
    it). This is what :func:`pack_sequences` computes PLACEMENT for;
    here the actual ids are emitted, ready to write as parquet shards.

    ``pieces`` is the output shape of any of the three encoders
    (``bpe_encode`` / ``unigram_encode`` / ``wordpiece_encode``:
    ``(id_col, word_pos, piece_pos, piece)``); ``vocab`` maps
    ``(piece, token_id)`` and is broadcast. Pieces missing from the
    vocab raise unless ``unk_id`` is given (silent OOV would corrupt
    training data).

    Scale shape: one broadcast vocab join; per-doc local positions are
    one doc-keyed window; the doc→global offset is the same two-pass
    distributed prefix sum as :func:`shard_by_token_budget` (never a
    global window over tokens); sequences assemble with one
    ``seq_id``-keyed aggregation. Returns ``(seq_id, tokens
    array<bigint>, n_tokens)`` with ``n_tokens = seq_len`` for every
    complete sequence.
    """
    v = vocab.select("piece", F.col("token_id").cast("long"))
    ids = pieces.join(F.broadcast(v), "piece", "left")
    if unk_id is None:
        ids = ids.withColumn(
            "token_id",
            F.when(F.col("token_id").isNull(),
                   F.raise_error(F.concat(F.lit("piece not in vocab: "),
                                          F.col("piece"))))
            .otherwise(F.col("token_id")))
    else:
        ids = ids.na.fill({"token_id": int(unk_id)})
    wdoc = Window.partitionBy(id_col).orderBy("word_pos", "piece_pos")
    # checkpoint the positioned token stream: THREE consumers read it (the
    # per-doc counts feeding the prefix sum, the drop_partial total, and
    # the placement join), and without the checkpoint each consumer
    # re-ran the upstream encoder + window from scratch (guide §2.4 —
    # don't recompute; the encode is the pipeline's dominant cost at
    # scale). Non-eager: the prefix sum's internal materialization job
    # computes it as a side effect.
    local = checkpoint(ids.select(
        F.col(id_col), F.col("token_id"),
        (F.row_number().over(wdoc) - 1).alias("__li")
    ), eager=False)
    counts = local.groupBy(id_col).agg(
        (F.count(F.lit(1)) + 1).alias("__n"))  # +1 for the EOD token
    pre = _token_prefix(counts, id_col, id_col, None,
                        weight=F.col("__n"))
    placed = local.join(pre.select(id_col, "__start"), id_col).select(
        (F.col("__start") + F.col("__li")).alias("gpos"), "token_id")
    eods = pre.select(
        (F.col("__start") + F.col("n_tokens") - 1).alias("gpos"),
        F.lit(int(eod_id)).cast("long").alias("token_id"))
    stream = union_all([placed, eods], by_name=True)
    out = stream.select(
        F.expr(f"gpos div {int(seq_len)}").alias("seq_id"),
        (F.col("gpos") % int(seq_len)).alias("__pos"), "token_id")
    if drop_partial:
        total = pre.agg(F.sum("n_tokens")).first()[0] or 0
        out = out.filter(F.col("seq_id") < int(total) // int(seq_len))
    return (
        out.groupBy("seq_id")
        .agg(F.transform(
            F.array_sort(F.collect_list(F.struct("__pos", "token_id"))),
            lambda s: s["token_id"]).alias("tokens"))
        .select("seq_id", "tokens", F.size("tokens").cast("long")
                .alias("n_tokens"))
    )


def emit_sft_sequences(pairs: DataFrame, seq_len: int, eod_id: int = 0,
                       train_on_eod: bool = True,
                       id_col: str = "example_id",
                       prompt_col: str = "prompt_ids",
                       response_col: str = "response_ids",
                       drop_partial: bool = True) -> DataFrame:
    """Pack supervised fine-tuning examples into fixed-length training
    sequences WITH loss masks — the SFT counterpart of
    :func:`emit_training_sequences`: each example's token stream is
    ``prompt_ids ++ response_ids ++ [eod_id]``, examples concatenate in
    ``id_col`` order, the stream cuts every ``seq_len`` tokens; the
    parallel ``loss_mask`` is 0 over prompt tokens (no gradient on the
    instruction) and 1 over response tokens (and over the EOD separator
    when ``train_on_eod``, the usual convention so the model learns to
    stop). Inputs are ALREADY-ENCODED id arrays, so any of the three
    encoders (or an external tokenizer) feeds it.

    Scale shape: identical to :func:`emit_training_sequences` — ONE
    posexplode over the per-example ``(token_id, mask)`` stream (the
    r14 form exploded the base relation three times, once per side +
    once for the EOD row, tripling the scan-stage input), the two-pass
    distributed prefix sum for example→global offsets (never a
    token-cardinality global window), one ``seq_id``-keyed assembly agg
    whose sorted struct array is collected ONCE and projected twice
    (tokens / loss_mask). Returns ``(seq_id, tokens, loss_mask,
    n_tokens)`` with aligned equal-length arrays.
    """
    plen = F.size(prompt_col)
    rlen = F.size(response_col)
    counts = pairs.select(
        F.col(id_col), (plen + rlen + 1).cast("long").alias("__n"))
    pre = _token_prefix(counts, id_col, id_col, None, weight=F.col("__n"))
    base = pairs.join(pre.select(id_col, "__start"), id_col)
    # one (token_id, mask) array per example: prompt tokens mask 0,
    # response tokens mask 1, the EOD separator per convention — a
    # single posexplode then yields the exact same (gpos, token, mask)
    # stream the three-branch union produced
    lng = F.lit(0).cast("long")

    def _tm(tok, mask):
        return F.struct(tok.cast("long").alias("token_id"),
                        mask.cast("long").alias("mask"))

    combined = F.concat(
        F.transform(F.col(prompt_col), lambda t: _tm(t, lng)),
        F.transform(F.col(response_col), lambda t: _tm(t, F.lit(1))),
        F.array(_tm(F.lit(int(eod_id)), F.lit(1 if train_on_eod else 0))),
    )
    stream = base.select(
        F.col("__start"), F.posexplode(combined).alias("__i", "__tm")
    ).select((F.col("__start") + F.col("__i")).alias("gpos"),
             F.col("__tm.token_id").alias("token_id"),
             F.col("__tm.mask").alias("mask"))
    out = stream.select(
        F.expr(f"gpos div {int(seq_len)}").alias("seq_id"),
        (F.col("gpos") % int(seq_len)).alias("__pos"),
        "token_id", "mask")
    if drop_partial:
        total = pre.agg(F.sum("n_tokens")).first()[0] or 0
        out = out.filter(F.col("seq_id") < int(total) // int(seq_len))
    return (
        out.groupBy("seq_id")
        .agg(
            F.array_sort(F.collect_list(
                F.struct("__pos", "token_id", "mask"))).alias("__sorted"))
        .select("seq_id",
                F.transform(F.col("__sorted"),
                            lambda s: s["token_id"]).alias("tokens"),
                F.transform(F.col("__sorted"),
                            lambda s: s["mask"]).alias("loss_mask"))
        .select("seq_id", "tokens", "loss_mask",
                F.size("tokens").cast("long").alias("n_tokens"))
    )


def emit_fim_sequences(seqs: DataFrame, fim_permille: int = 500,
                       prefix_id: int = 32100, middle_id: int = 32101,
                       suffix_id: int = 32102,
                       id_col: str = "seq_id",
                       tokens_col: str = "tokens") -> DataFrame:
    """Fill-in-the-middle transformation (Bavarian et al. 2022, "FIM")
    over token-id sequences: a deterministic ``fim_permille``/1000
    fraction of sequences is reordered into the PSM layout
    ``[PRE] prefix [SUF] suffix [MID] middle`` (the model learns to
    infill after seeing both sides); the rest pass through unchanged.
    Selection and the two split points are seeded-md5 functions of the
    id, so both engines emit identical bits and re-runs are stable.

    Split points: ``p1 = h1 % (n+1)``, ``p2 = p1 + h2 % (n - p1 + 1)``
    — uniform over ordered pairs 0 ≤ p1 ≤ p2 ≤ n; empty segments are
    legal (as in the paper's character-level splits). Sequences shorter
    than 2 tokens pass through.

    Scale shape: pure per-row slice/concat expressions — scan-stage,
    zero shuffles. Returns ``(id_col, tokens, is_fim)`` where
    transformed rows carry n+3 tokens (three sentinels added).
    """
    rate = int(fim_permille)
    if not 0 <= rate <= 1000:
        raise ValueError("fim_permille must be in [0, 1000]")
    toks = F.col(tokens_col)
    n = F.size(toks)

    def h(seed):
        return F.conv(F.substring(F.md5(F.concat(
            F.lit(f"{seed}:"), F.col(id_col).cast("string"))), 1, 15),
            16, 10).cast("long")

    pick = (h("fimsel") % 1000) < rate
    p1 = h("fimp1") % (n.cast("long") + 1)
    p2 = p1 + h("fimp2") % (n.cast("long") - p1 + 1)
    is_fim = pick & (n >= 2)
    lng = lambda v: F.lit(int(v)).cast("long")  # noqa: E731
    fim = F.concat(
        F.array(lng(prefix_id)),
        F.slice(toks, 1, p1.cast("int")),
        F.array(lng(suffix_id)),
        F.slice(toks, (p2 + 1).cast("int"),
                F.greatest(n.cast("long") - p2, F.lit(0)).cast("int")),
        F.array(lng(middle_id)),
        F.slice(toks, (p1 + 1).cast("int"),
                (p2 - p1).cast("int")),
    )
    return seqs.select(
        id_col,
        F.when(is_fim, fim).otherwise(
            F.transform(toks, lambda x: x.cast("long"))).alias("tokens"),
        is_fim.alias("is_fim"))


def emit_span_corruption(seqs: DataFrame, mean_span_len: int = 3,
                         noise_permille: int = 150,
                         sentinel_base: int = 32000, eos_id: int = 1,
                         id_col: str = "seq_id",
                         tokens_col: str = "tokens") -> DataFrame:
    """T5-style span corruption (Raffel et al. 2020 §3.1.4) over token-id
    sequences (the :func:`emit_training_sequences` output shape, or any
    ``(id, tokens array<bigint>)`` relation): mask spans of
    ``mean_span_len`` tokens at ``noise_permille``/1000 density, emit
    encoder ``inputs`` (each masked span replaced by one sentinel) and
    decoder ``targets`` (sentinel + span tokens per span, then
    ``eos_id``).

    Deterministic blocked placement instead of T5's RNG: positions
    partition into blocks of ``B = max(L, round(L·1000/noise))`` tokens;
    each FULL block masks exactly one L-token span at offset
    ``h(id, block) % (B − L + 1)`` (seeded md5 — the engine-wide _h60
    idiom, so the DuckDB twin reproduces every mask bit). Density is
    exactly L/B on full blocks; the partial tail block never masks, so
    spans never cross sequence ends. Sentinel for span ordinal ``b`` is
    ``sentinel_base + b``.

    Scale shape: pure per-row array expressions (sequence/transform/
    flatten/slice) — scan-stage, zero shuffles, whole-stage codegen.
    Returns ``(id_col, inputs, targets, n_spans)``.
    """
    L = int(mean_span_len)
    noise = int(noise_permille)
    if L < 1:
        raise ValueError("mean_span_len must be >= 1")
    if not 0 < noise <= 1000:
        raise ValueError("noise_permille must be in (0, 1000]")
    B = max(L, round(L * 1000 / noise))
    rng = B - L + 1
    toks = F.col(tokens_col)
    n_blocks = F.expr(f"size({tokens_col}) div {B}")

    def h_off(b):
        return (F.conv(F.substring(F.md5(F.concat(
            F.lit("spanc:"), F.col(id_col).cast("string"),
            F.lit(":"), b.cast("string"))), 1, 15), 16, 10)
            .cast("long") % rng)

    offs = F.when(n_blocks > 0, F.transform(
        F.sequence(F.lit(0), n_blocks - 1), h_off)).otherwise(
        F.expr("CAST(array() AS array<bigint>)"))
    out = seqs.withColumn("__offs", offs)

    def masked(p):
        # p is the 1-based position; blk the 0-based block index. F.get
        # (0-based, NULL past the end — never an ANSI index error) makes
        # the tail-block predicate NULL, which the when() treats as false
        blk = F.floor((p - 1).cast("long") / F.lit(B)).cast("int")
        inb = (p - 1) % B
        off = F.get(F.col("__offs"), blk)
        return off.isNotNull() & (inb >= off) & (inb < off + L)

    def span_start(p):
        blk = F.floor(((p - 1).cast("long")) / F.lit(B)).cast("int")
        inb = (p - 1) % B
        off = F.get(F.col("__offs"), blk)
        return off.isNotNull() & (inb == off)

    def sentinel(p):
        blk = F.floor(((p - 1).cast("long")) / F.lit(B)).cast("long")
        return F.lit(int(sentinel_base)) + blk

    inputs = F.flatten(F.transform(
        F.sequence(F.lit(1), F.size(toks)),
        lambda p: F.when(span_start(p), F.array(sentinel(p)))
        .when(masked(p), F.expr("CAST(array() AS array<bigint>)"))
        .otherwise(F.array(F.element_at(toks, p).cast("long")))))
    targets = F.concat(
        F.flatten(F.transform(
            F.sequence(F.lit(1), F.size("__offs")),
            lambda b: F.concat(
                F.array((F.lit(int(sentinel_base)) + b - 1).cast("long")),
                F.transform(
                    F.slice(toks,
                            ((b - 1) * B
                             + F.get(F.col("__offs"), b - 1) + 1
                             ).cast("int"),
                            L),
                    lambda x: x.cast("long"))))),
        F.array(F.lit(int(eos_id)).cast("long")))
    empty = F.expr("CAST(array() AS array<bigint>)")
    return out.select(
        id_col,
        F.when(F.size(toks) > 0, inputs).otherwise(empty).alias("inputs"),
        F.when(F.size("__offs") > 0, targets)
        .otherwise(F.array(F.lit(int(eos_id)).cast("long")))
        .alias("targets"),
        F.size("__offs").cast("long").alias("n_spans"))
