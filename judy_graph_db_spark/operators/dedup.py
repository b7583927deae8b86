"""Deduplication operators for training-data pipelines.

Exact, MinHash+LSH, n-gram Jaccard, and SimHash dedup over a ``documents``
table. Scale design (100 TB corpora):

- Signatures (shingles → minhash → bands) are **pure per-row Column
  expressions** — whole-stage codegen, zero shuffles, embarrassingly
  parallel. md5 is the hash everywhere so the DuckDB oracle can reproduce
  results bit-for-bit.
- The only shuffles are the final groupBy/self-join on band buckets —
  exactly the LSH contract: candidate generation cost ∝ bucket sizes, never
  O(n²) over the corpus.
- Verification (exact Jaccard) runs only on LSH candidates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from judy_graph_db_spark.loopstate import checkpoint, scoped
from judy_graph_db_spark.schema import union_all

SHINGLE_LEN = 8
SHINGLE_STRIDE = 4

#: corpus rows above which simhash_neardup_pairs materializes the
#: signature relation once instead of letting the band self-join's two
#: sides recompute the corpus-wide signature pass (see the dispatch
#: comment there; the unconditional checkpoint measured 0.87× at sf0.1)
_SIMHASH_CKPT_MIN_ROWS = 5_000_000
NUM_HASHES = 8
BAND_ROWS = 4  # 8 hashes / 4 rows = 2 bands


def normalized(text: Column) -> Column:
    """Canonical text form for near-dup hashing: lowercase, collapse
    whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups: hash-groupBy on md5(text); keeper = min id.
    One shuffle on the 32-char digest — the cheapest possible key."""
    return (
        docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def exact_dedup_normalized(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup after whitespace/case normalization."""
    return (
        docs.select(F.col(id_col), F.md5(normalized(F.col(text_col))).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def _shingles_expr(norm_col: str, length: int = SHINGLE_LEN, stride: int = SHINGLE_STRIDE) -> str:
    """Distinct strided character n-gram shingle set as a SQL expression over
    an ALREADY-NORMALIZED column (F.substring can't take a column start, so
    this stays in expr form). Takes a plain column reference, not the
    normalization expression: a non-trivial expression inlined here would be
    re-evaluated per sequence element (length/stride times per row)."""
    return (
        f"array_distinct(transform("
        f"sequence(1, greatest(length({norm_col})-{length-1}, 1), {stride}),"
        f" i -> substring({norm_col}, i, {length})))"
    )


def with_shingles(docs: DataFrame, text_col: str = "text", out: str = "shingles") -> DataFrame:
    """Adds the shingle-set column. The normalized text is materialized as
    its own projected column first — referenced twice (length + lambda) so
    CollapseProject keeps it, and the regex runs once per row instead of
    once per shingle."""
    return (
        docs.withColumn("_norm", normalized(F.col(text_col)))
        .withColumn(out, F.expr(_shingles_expr("_norm")))
        .drop("_norm")
    )


def minhash_signature(shingle_col: str = "shingles", num_hashes: int = NUM_HASHES) -> Column:
    """MinHash signature as an array of ``num_hashes`` md5-min values —
    hash family = md5 seeded by index: ``md5(seed || ':' || shingle)``.
    Pure per-row expression form — fine for one-shot use, but do NOT layer
    further array expressions on top of it (CollapseProject re-inlines the
    whole tree per reference); the pipeline uses :func:`minhash_signatures`
    instead."""
    return F.expr(
        f"transform(sequence(0, {num_hashes - 1}), "
        f"s -> array_min(transform({shingle_col}, x -> md5(concat(cast(s as string), ':', x)))))"
    )


def band_hashes(sig_col: str = "minhash", band_rows: int = BAND_ROWS,
                num_hashes: int = NUM_HASHES) -> Column:
    """LSH banding: hash each r-row slice of the signature."""
    n_bands = num_hashes // band_rows
    return F.expr(
        f"transform(sequence(0, {n_bands - 1}), "
        f"b -> md5(concat_ws(',', slice({sig_col}, b*{band_rows}+1, {band_rows}))))"
    )


def minhash_signatures(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       num_hashes: int = NUM_HASHES) -> DataFrame:
    """MinHash signatures as (id, minhash ARRAY<STRING>) via the relational
    plan: explode shingles once, compute the ``num_hashes`` seed-md5s as
    plain columns, aggregate per-doc minima (map-side partial combine).

    Why not a pure per-row array expression (``minhash_signature``)? Nested
    ``transform`` lambdas referencing an aliased array column get re-inlined
    by CollapseProject, so the normalization + md5 work multiplies by every
    downstream reference — measured 100×+ slowdown at sf0.1. The explode +
    groupBy shape computes each md5 exactly once, partial-aggregates before
    the shuffle, and has no skew (keys = doc ids)."""
    rows = with_shingles(docs.select(id_col, text_col), text_col).select(
        id_col, F.explode("shingles").alias("_shingle")
    )
    hash_cols = [
        F.md5(F.concat(F.lit(str(s)), F.lit(":"), F.col("_shingle"))).alias(f"_h{s}")
        for s in range(num_hashes)
    ]
    mins = (
        rows.select(id_col, *hash_cols)
        .groupBy(id_col)
        .agg(*[F.min(f"_h{s}").alias(f"_h{s}") for s in range(num_hashes)])
    )
    return mins.select(
        id_col, F.array(*[F.col(f"_h{s}") for s in range(num_hashes)]).alias("minhash")
    )


def minhash_lsh_candidates(docs: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id",
                           num_hashes: int = NUM_HASHES,
                           band_rows: int = BAND_ROWS,
                           max_bucket_size: int | None = None) -> DataFrame:
    """Near-duplicate candidate pairs: docs sharing any LSH band bucket.
    Returns (doc_a, doc_b) with doc_a < doc_b, distinct.

    Plan shape: explode shingles → per-doc min-aggregation (signatures) →
    explode bands (rows = n·B) → shuffle once on (band_idx, band_hash) →
    within-bucket self-join.

    ``max_bucket_size`` is the skew guard for full-scale corpora: a bucket
    of boilerplate docs (cookie banners, licenses) produces |bucket|²/2
    candidate pairs and one straggler task. Capping drops buckets larger
    than the threshold BEFORE the self-join (they are near-exact dup
    families better handled by exact_dedup first); leave None to keep
    recall-complete semantics."""
    sigs = (
        minhash_signatures(docs, text_col, id_col, num_hashes)
        .withColumn("bands", band_hashes("minhash", band_rows, num_hashes))
        .select(id_col, F.posexplode("bands").alias("band_idx", "band_hash"))
    )
    if max_bucket_size is not None:
        sizes = sigs.groupBy("band_idx", "band_hash").agg(
            F.count(F.lit(1)).alias("_bs")
        ).filter(F.col("_bs") <= int(max_bucket_size))
        sigs = sigs.join(sizes.select("band_idx", "band_hash"),
                         ["band_idx", "band_hash"], "left_semi")
    a = sigs.select(F.col(id_col).alias("doc_a"), "band_idx", "band_hash")
    b = sigs.select(F.col(id_col).alias("doc_b"), "band_idx", "band_hash")
    return (
        a.join(b, ["band_idx", "band_hash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


@scoped
def dedup_clusters(docs: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id",
                   num_hashes: int = NUM_HASHES, band_rows: int = BAND_ROWS,
                   max_bucket_size: int | None = None,
                   candidates: DataFrame | None = None) -> DataFrame:
    """Near-duplicate FAMILIES, not just pairs: connected components of the
    LSH candidate-pair graph, with the minimum doc id as the canonical
    representative. Returns ``(doc_id, cluster_id, is_canonical)`` — filter
    ``is_canonical`` to materialize the deduplicated corpus.

    This is the full shape of corpus dedup at scale: pair emission alone
    under-deletes (A~B, B~C but A≁C must still collapse to one family), so
    the pairs feed ``analytics.connected_components`` — a driver-side
    union-find on the sparse pair graph of a healthy corpus, the
    large-star/small-star contraction (O(log n) rounds) on a
    boilerplate-heavy one. Singleton docs (no candidate pair) are their
    own cluster. Oracle:
    ``oracle.dedup_clusters_sql`` — an independent recursive-CTE transitive
    closure."""
    from judy_graph_db_spark.operators.analytics import connected_components

    if candidates is None:
        # parallelism guard: AQE rightly coalesces a small upstream join
        # to few partitions, but the signature stage EXPANDS each doc by
        # |shingles|·num_hashes — a 1-partition input then runs the
        # whole corpus single-threaded (measured 6.6s vs 0.5s at sf0.1
        # inside web_corpus_funnel). Re-spread only when the input
        # arrives under-partitioned; a well-partitioned 100 TB scan is
        # left untouched.
        want = docs.sparkSession.sparkContext.defaultParallelism
        if docs.rdd.getNumPartitions() * 2 < want:
            docs = docs.repartition(want)
    pairs = candidates if candidates is not None else minhash_lsh_candidates(
        docs, text_col, id_col, num_hashes, band_rows, max_bucket_size
    )
    comp = connected_components(pairs.select(F.col("doc_a").alias("src"),
                                             F.col("doc_b").alias("dst")))
    return (
        docs.select(F.col(id_col))
        .join(comp.withColumnRenamed("id", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("component", F.col(id_col)).alias("cluster_id"),
        )
        .withColumn("is_canonical", F.col(id_col) == F.col("cluster_id"))
    )


def ngram_jaccard_pairs(docs: DataFrame, candidates: DataFrame | None = None,
                        text_col: str = "text", id_col: str = "doc_id",
                        threshold_permille: int = 0) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs (or LSH candidates when
    none given): ``|A∩B| · 1000 / |A∪B|`` as integer permille.
    Returns (doc_a, doc_b, jaccard_permille)."""
    if candidates is None:
        candidates = minhash_lsh_candidates(docs, text_col, id_col)
    sh = with_shingles(docs.select(id_col, text_col), text_col).select(id_col, "shingles")
    j = (
        candidates
        .join(sh.select(F.col(id_col).alias("doc_a"), F.col("shingles").alias("sh_a")), "doc_a")
        .join(sh.select(F.col(id_col).alias("doc_b"), F.col("shingles").alias("sh_b")), "doc_b")
        .withColumn(
            "jaccard_permille",
            F.floor(
                F.size(F.array_intersect("sh_a", "sh_b")) * 1000
                / F.size(F.array_union("sh_a", "sh_b"))
            ).cast("long"),
        )
        .select("doc_a", "doc_b", "jaccard_permille")
    )
    if threshold_permille:
        j = j.filter(F.col("jaccard_permille") >= threshold_permille)
    return j


def simhash(text: Column, bits: int = 16) -> Column:
    """SimHash over whitespace tokens as a ``bits``-char '0'/'1' string.
    Bit k = majority vote of hex-digit-k high bit across token md5 hashes —
    string-only arithmetic so DuckDB reproduces it exactly."""
    toks = F.split(F.trim(F.lower(text)), r"\s+")
    hashes = F.transform(toks, lambda t: F.md5(t))
    n = F.size(hashes)
    bit_cols = []
    for k in range(1, bits + 1):
        votes = F.size(
            F.filter(hashes, lambda h: F.substring(h, k, 1).isin("8", "9", "a", "b", "c", "d", "e", "f"))
        )
        bit_cols.append(F.when(votes * 2 >= n, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bit_cols)


HIGH_HEX = ("8", "9", "a", "b", "c", "d", "e", "f")


def simhash_signatures(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", bits: int = 16) -> DataFrame:
    """SimHash signatures (id, sig) via the relational plan: explode tokens,
    md5 once per token, then ``bits`` conditional sums in one partial-agg
    groupBy — same values as :func:`simhash`, but the signature column can be
    referenced downstream without CollapseProject re-inlining the whole
    voting expression."""
    toks = docs.select(
        id_col, F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("_t")
    )
    h = toks.select(id_col, F.md5("_t").alias("_h"))
    aggs = [
        F.sum(F.when(F.substring("_h", k, 1).isin(*HIGH_HEX), 1).otherwise(0)).alias(f"_v{k}")
        for k in range(1, bits + 1)
    ]
    g = h.groupBy(id_col).agg(*aggs, F.count(F.lit(1)).alias("_n"))
    bit_cols = [
        F.when(F.col(f"_v{k}") * 2 >= F.col("_n"), F.lit("1")).otherwise(F.lit("0"))
        for k in range(1, bits + 1)
    ]
    return g.select(id_col, F.concat(*bit_cols).alias("sig"))


def simhash_neardup_pairs(docs: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", bits: int = 32,
                          band_bits: int = 8, max_hamming: int = 2) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance ≤ ``max_hamming``,
    found via **lossless banding**: with B = bits/band_bits bands, ≤h
    differing bits touch ≤h bands, so when B > h every true pair shares at
    least one intact band — the band equi-join is a candidate filter with
    zero false negatives, and the exact hamming check prunes the rest.
    Returns (doc_a, doc_b, hamming).

    Defaults are 32-bit signatures with 8-bit bands: shorter signatures
    (e.g. 16 bits in 4-bit bands) have only 16 values per band, so buckets
    over a homogeneous corpus grow to n/16 and the verify join degenerates
    toward O(n²) — measured 20× slower at sf0.1.

    Scale shape: signatures are one partial-agg groupBy; the only self-join
    is within band buckets (16-char signatures → bounded bucket count)."""
    n_bands = bits // band_bits
    if n_bands <= max_hamming:
        raise ValueError("need bits/band_bits > max_hamming for lossless banding")
    # RUNTIME-STATS DISPATCH (r15): the static plan carries the signature
    # aggregation (token explode + per-bit agg over the corpus) under
    # BOTH self-join sides. At sf0.1 an unconditional eager checkpoint
    # A/B'd 0.87× — the pass is cheap there and the checkpoint round-trip
    # dominates — so the materialization only happens above a corpus-size
    # bound, where the duplicated pass is two full corpus
    # scans. One count job on the (typically cached) input decides.
    sigs = simhash_signatures(docs, text_col, id_col, bits)
    if docs.count() >= _SIMHASH_CKPT_MIN_ROWS:
        sigs = checkpoint(sigs, eager=True)
    band_arr = F.array(
        *[F.substring("sig", b * band_bits + 1, band_bits) for b in range(n_bands)]
    )
    # band rows carry the NUMERIC signature (8 bytes): the self-join output
    # then has both operands in-row, so hamming is a single codegen'd
    # xor+popcount per candidate — no per-bit lambda (20×+ slower measured),
    # no signature re-join, and the distinct runs on the hamming survivors
    # instead of the raw candidate set (a correlated-bits bucket can cover
    # most of a homogeneous corpus: measured 65% of docs in one bucket)
    bands = sigs.select(
        id_col,
        F.conv("sig", 2, 10).cast("long").alias("_n"),
        F.posexplode(band_arr).alias("band_idx", "band_val"),
    )
    a = bands.select(F.col(id_col).alias("doc_a"), F.col("_n").alias("_na"),
                     "band_idx", "band_val")
    b = bands.select(F.col(id_col).alias("doc_b"), F.col("_n").alias("_nb"),
                     "band_idx", "band_val")
    hamming = F.bit_count(F.col("_na").bitwiseXOR(F.col("_nb"))).cast("long")
    return (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= int(max_hamming))
        .select("doc_a", "doc_b", "hamming")
        .distinct()
    )


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    length: int = SHINGLE_LEN,
    stride: int = SHINGLE_STRIDE,
) -> DataFrame:
    """Benchmark decontamination: per corpus document, how many of its
    distinct character n-gram shingles appear in ANY benchmark/eval
    document. The standard pre-training hygiene pass — drop or downweight
    docs whose ``contam_permille`` is high before the eval set leaks into
    the training corpus. Returns
    ``(doc_id, n_shingles, n_hits, contam_permille)`` with one row per
    corpus document (0 hits kept, so the pass is auditable).

    Scale shape (100 TB corpus, benchmark ≪ corpus — the realistic
    asymmetry): the benchmark side collapses to its DISTINCT shingle set
    and is broadcast, so the corpus is scanned ONCE, exploded, and
    partially aggregated per doc — no shuffle of corpus text, no join of
    two big relations. If the benchmark set ever outgrows broadcast range,
    swap the hint for a bloom-filter pushdown; the join key (the shingle
    itself) already supports it.
    """
    c = with_shingles(corpus, text_col).select(
        F.col(id_col), F.explode("shingles").alias("sh")
    )
    b = (
        with_shingles(benchmark, text_col)
        .select(F.explode("shingles").alias("sh"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    agg = (
        c.join(F.broadcast(b), "sh", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_hits"),
        )
    )
    return agg.select(
        id_col,
        "n_shingles",
        "n_hits",
        F.floor(F.col("n_hits") * 1000 / F.col("n_shingles"))
        .cast("long")
        .alias("contam_permille"),
    )


def dedup_keep_first(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Materialized exact-dedup: keep one row per distinct text (min id)."""
    keep = exact_dedup(docs, text_col, id_col).select(F.col("keep_id").alias(id_col))
    return docs.join(keep, id_col, "left_semi")


def cluster_representatives(docs: DataFrame, clusters: DataFrame,
                            score_col="__len", id_col: str = "doc_id"
                            ) -> DataFrame:
    """Quality-aware canonical selection per near-dup family: where
    :func:`dedup_clusters` keeps the MIN-ID member, production corpus
    dedup keeps the BEST member — longest (RefinedWeb, Penedo et al.
    2023 keep-by-length) or highest quality score. ``score_col`` is an
    integer column name or Column expression over ``docs`` (default:
    character length of ``text``); the representative is the max-score
    member, ties broken by min id, so the pick is deterministic and
    hash-stable. ``clusters`` is any ``(id_col, cluster_id)`` relation
    (:func:`dedup_clusters` output, or exact-hash groups). Returns
    ``(id_col, cluster_id, score, is_best)``.

    Scale shape: one id-keyed join to attach scores and ONE
    cluster-keyed max-struct aggregation with map-side combine — no
    window, no per-cluster sort; the struct max over ``(score, -id)``
    computes argmax and tiebreak in the same pass.
    """
    if isinstance(score_col, str) and score_col == "__len":
        sc = F.length(F.col("text"))
    else:
        sc = F.col(score_col) if isinstance(score_col, str) else score_col
    scored = (
        docs.select(F.col(id_col), sc.cast("long").alias("score"))
        .join(clusters.select(id_col, "cluster_id"), id_col)
    )
    best = (
        scored.groupBy("cluster_id")
        .agg(F.max(F.struct(
            F.col("score"), (-F.col(id_col)).alias("__nid"))).alias("__b"))
        .select("cluster_id", (-F.col("__b.__nid")).alias("__best"))
    )
    return scored.join(best, "cluster_id").select(
        id_col, "cluster_id", "score",
        (F.col(id_col) == F.col("__best")).alias("is_best"))


#: position packing for the exact-substring keeper tiebreak: the keeper of
#: a duplicated window is min(doc_id * ESD_POS_PACK + pos) — exact while
#: every doc has fewer than 2^20 tokens (loudly guarded)
ESD_POS_PACK = 1 << 20


def exact_substring_spans(docs: DataFrame, k: int = 8,
                          text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Duplicated exact k-TOKEN windows across (and within) documents —
    the span-discovery half of Lee et al. 2021's "Deduplicating Training
    Data Makes Language Models Better" exact-substring recipe, at token
    granularity (the paper's suffix array finds maximal repeats ≥ 50
    tokens; fixed-k windows with union-of-overlaps remove the same mass
    for k ≤ the threshold, expressed relationally).

    Tokens are the lowercased ``WORD_TOKEN_RE`` stream (the house
    tokenization every text operator shares). Every occurrence of a
    window whose k tokens appear elsewhere is returned with its
    first-occurrence keeper: ``(doc_id, pos, h, n_occurrences,
    is_keeper)`` — ``pos`` 1-based in the token stream, keeper = min
    ``(doc_id, pos)``.

    Scale shape: windows come from ``slice`` over the per-row token
    array — SCAN-stage, no explode-then-window shuffle; the only
    corpus-sized shuffle is the groupBy on the window hash (md5, 32
    chars), and the occurrence join back is the same key. Window count =
    token count — the same linear blowup any tokenize pays."""
    from judy_graph_db_spark.functions.text import WORD_TOKEN_RE

    k = int(k)
    if k < 2:
        raise ValueError("k must be >= 2")
    toks = docs.select(
        F.col(id_col),
        F.regexp_extract_all(
            F.lower(F.col(text_col)), F.lit(WORD_TOKEN_RE), F.lit(0)
        ).alias("__toks"))
    occ = (
        toks.select(
            id_col,
            F.posexplode(F.expr(
                f"transform(sequence(1, greatest(size(__toks) - {k - 1},"
                f" 0)), i -> array_join(slice(__toks, i, {k}), ' '))"
            )).alias("__p0", "__gram"))
        .select(id_col, (F.col("__p0") + 1).alias("pos"),
                F.md5("__gram").alias("h"))
    )
    keep = occ.groupBy("h").agg(
        F.min(F.col(id_col) * ESD_POS_PACK + F.col("pos")).alias("__keep"),
        F.count(F.lit(1)).alias("n_occurrences"),
        F.max("pos").alias("__maxpos"))
    # in-plan guard (no extra job): a doc with >= 2^20 tokens would make
    # the packed keeper tiebreak collide — fail the task loudly instead
    guarded = F.when(
        F.col("__maxpos") >= ESD_POS_PACK,
        F.raise_error(F.lit(
            f"exact_substring_spans: a document has >= {ESD_POS_PACK} "
            "tokens; the packed keeper tiebreak would collide — split "
            "the document or raise ESD_POS_PACK"))
    ).otherwise(F.col("__keep"))
    return (
        occ.join(keep.withColumn("__keep", guarded), "h")
        .filter(F.col("n_occurrences") > 1)
        .select(
            id_col, "pos", "h", "n_occurrences",
            (F.col(id_col) * ESD_POS_PACK + F.col("pos")
             == F.col("__keep")).alias("is_keeper"))
    )


def exact_substring_dedup(docs: DataFrame, k: int = 8,
                          text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Remove every NON-FIRST occurrence of a duplicated k-token window
    (overlapping duplicate windows union, so runs of duplicated text
    excise in one piece) and rebuild each document from its surviving
    tokens. Returns ``(id_col, n_tokens, n_removed_tokens, clean_text)``
    — ``clean_text`` is the surviving lowercased token stream joined by
    single spaces (the same normalized-stream concession
    ``c4_span_dedup`` makes at sentence granularity: byte-exact source
    formatting does not survive token-level surgery).

    Shuffle profile: :func:`exact_substring_spans`' hash agg + join,
    one (doc, pos)-keyed anti-join of removed positions, one per-doc
    rebuild agg — all linear in token count."""
    from judy_graph_db_spark.functions.text import WORD_TOKEN_RE

    k = int(k)
    spans = exact_substring_spans(docs, k, text_col, id_col)
    removed = (
        spans.filter(~F.col("is_keeper"))
        .select(id_col,
                F.explode(F.expr(
                    f"sequence(pos, pos + {k - 1})")).alias("pos"))
        .distinct()
    )
    toks = docs.select(
        F.col(id_col),
        F.posexplode(F.regexp_extract_all(
            F.lower(F.col(text_col)), F.lit(WORD_TOKEN_RE), F.lit(0)
        )).alias("__p0", "tok")
    ).select(id_col, (F.col("__p0") + 1).alias("pos"), "tok")
    kept = toks.join(removed, [id_col, "pos"], "left_anti")
    totals = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_tokens"))
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"]),
            " ").alias("clean_text"))
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            id_col, "n_tokens",
            (F.col("n_tokens")
             - F.coalesce(F.col("__n_kept"), F.lit(0)))
            .alias("n_removed_tokens"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"))
    )


def incremental_exact_dedup(new_docs: DataFrame, existing_docs: DataFrame,
                            text_col: str = "text",
                            id_col: str = "doc_id") -> DataFrame:
    """Dedup a NEW batch against an already-deduped corpus without
    reprocessing the corpus — the shape every continuously-ingesting
    pipeline needs (the batch is small; the corpus is 100 TB).

    A new doc is kept iff (a) its content hash matches nothing in the
    existing corpus — one hash equi-join, in which the huge side is only
    scanned for its hash column, never re-tokenized — and (b) it is the
    min-id holder of its hash within the batch. Returns the new rows plus
    ``(text_hash, dup_of_existing BOOLEAN, keep BOOLEAN)``.

    In production the corpus side is the stored hash column of the sink
    table, so the join probes a (possibly bucketed) 16-byte key — the
    batch never touches corpus text.
    """
    h = F.md5(F.col(text_col))
    new_h = new_docs.withColumn("text_hash", h)
    seen = existing_docs.select(F.md5(F.col(text_col)).alias("text_hash")).distinct()
    w = Window.partitionBy("text_hash").orderBy(F.col(id_col).asc())
    flagged = (
        new_h.join(
            seen.withColumn("__seen", F.lit(True)), "text_hash", "left"
        )
        .withColumn("dup_of_existing", F.coalesce(F.col("__seen"), F.lit(False)))
        .withColumn("__rn", F.row_number().over(w))
        .withColumn(
            "keep", ~F.col("dup_of_existing") & (F.col("__rn") == 1)
        )
        .drop("__seen", "__rn")
    )
    return flagged


def incremental_lsh_candidates(new_docs: DataFrame, existing_docs: DataFrame,
                               text_col: str = "text",
                               id_col: str = "doc_id",
                               num_hashes: int = NUM_HASHES,
                               band_rows: int = BAND_ROWS) -> DataFrame:
    """Near-dup candidates of a NEW batch against the existing corpus:
    (new_id, existing_id) pairs sharing an LSH band bucket, plus
    within-batch pairs (new_id < new_id'). The corpus side's band hashes
    are recomputed here for self-containment; in production they are the
    stored ``band_hashes`` column of the sink table, so the incremental
    cost is O(|batch| + matching buckets), independent of corpus size.
    Returns ``(doc_a, doc_b, vs_existing BOOLEAN)`` with doc_a = new id.
    """

    def bands_of(docs):
        return (
            minhash_signatures(docs, text_col, id_col, num_hashes)
            .withColumn("bands", band_hashes("minhash", band_rows, num_hashes))
            .select(id_col, F.posexplode("bands").alias("band_idx", "band_hash"))
        )

    nb = bands_of(new_docs)
    eb = bands_of(existing_docs)
    vs_old = (
        nb.select(F.col(id_col).alias("doc_a"), "band_idx", "band_hash")
        .join(
            eb.select(F.col(id_col).alias("doc_b"), "band_idx", "band_hash"),
            ["band_idx", "band_hash"],
        )
        .select("doc_a", "doc_b")
        .distinct()
        .withColumn("vs_existing", F.lit(True))
    )
    within = (
        nb.select(F.col(id_col).alias("doc_a"), "band_idx", "band_hash")
        .join(
            nb.select(F.col(id_col).alias("doc_b"), "band_idx", "band_hash"),
            ["band_idx", "band_hash"],
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
        .withColumn("vs_existing", F.lit(False))
    )
    return union_all([vs_old, within], by_name=True)


def winnow_fingerprints(docs: DataFrame, k: int = 8, w: int = 16,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
    2003 — the MOSS scheme): hash every character ``k``-gram, slide a
    ``w``-hash window, and keep each window's minimum hash (rightmost on
    ties, via min over ``(hash, -pos)``). Guarantee: two documents
    sharing any substring of length ≥ ``k + w − 1`` share a fingerprint,
    with ~2/(w+1) of the grams kept — the principled density/recall
    trade the strided :func:`judy_graph_db_spark.functions.text.
    fingerprint` only approximates. Returns distinct
    ``(id_col, pos, fp)`` with ``pos`` the 0-based gram offset.

    Scale shape: gram hashes explode inside the scan stage; selection is
    ONE doc-partitioned ordered window (a sliding min + an unbounded
    count over the same key — one exchange total) plus the distinct.
    Documents stream through the frame; per-doc state is w rows.
    """
    if k < 1 or w < 1:
        raise ValueError("k and w must be positive")
    hs = F.expr(
        f"CASE WHEN length({text_col}) < {k} "
        f"THEN CAST(array() AS array<string>) "
        f"ELSE transform(sequence(1, length({text_col}) - {k - 1}), "
        f"i -> md5(substring({text_col}, i, {k}))) END"
    )
    g = docs.select(F.col(id_col).alias("__id"),
                    F.posexplode(hs).alias("__j", "__h"))
    wp = Window.partitionBy("__id")
    ws = Window.partitionBy("__id").orderBy("__j").rowsBetween(0, w - 1)
    sel = (
        g.select(
            "__id", "__j",
            F.count(F.lit(1)).over(wp).alias("__n"),
            F.min(F.struct(F.col("__h").alias("h"),
                           (-F.col("__j")).alias("nj"))).over(ws).alias("__m"),
        )
        # only full windows select (trailing short frames would add
        # spurious minima); a doc with fewer than w grams is one window
        .filter(F.col("__j") <= F.greatest(F.col("__n") - w, F.lit(0)))
        .select(F.col("__id").alias(id_col),
                (-F.col("__m.nj")).cast("long").alias("pos"),
                F.col("__m.h").alias("fp"))
        .distinct()
    )
    return sel


def winnow_matches(fps: DataFrame, min_shared: int = 2,
                   max_bucket: int | None = 64,
                   id_col: str = "doc_id") -> DataFrame:
    """Cross-document match detection over :func:`winnow_fingerprints`
    output — the second half of the MOSS scheme (Schleimer et al. 2003):
    ``(doc_a, doc_b, n_shared)`` for every pair sharing at least
    ``min_shared`` distinct fingerprints. By the winnowing guarantee, any
    two documents sharing a substring of length ≥ k+w−1 surface here —
    quote/containment/plagiarism detection at corpus scale, the
    substring-sensitive complement to MinHash (which sees bags of
    shingles, not contiguity).

    Candidates come ONLY from the fingerprint-keyed equi-join (pairs with
    no shared fingerprint never materialize — the same no-all-pairs shape
    as the LSH band join), and ``max_bucket`` drops fingerprints shared
    by more than that many documents before pairing (boilerplate
    substrings are the quadratic blowup; a fingerprint in B docs emits
    B² pairs). The cap is the standard precision/cost knob: matches
    carried only by ultra-common substrings are noise anyway.
    """
    d = fps.select(F.col(id_col).alias("id"), "fp").distinct()
    if max_bucket is not None:
        wb = Window.partitionBy("fp")
        d = (d.withColumn("__bn", F.count(F.lit(1)).over(wb))
             .filter(F.col("__bn") <= max_bucket).drop("__bn"))
    return (
        d.select(F.col("id").alias("doc_a"), "fp")
        .join(d.select(F.col("id").alias("doc_b"), "fp"), "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count_distinct(F.col("fp")).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def fuzzy_match_pairs(records: DataFrame, block_col: str, text_col: str,
                      max_dist: int = 2, id_col: str = "doc_id",
                      max_block: int | None = None) -> DataFrame:
    """Blocked entity-resolution matching (the classic blocking+compare
    record-linkage shape, Fellegi–Sunter framing): records sharing a
    blocking key pair up and score with Levenshtein edit distance (JVM
    built-in on both engines — integer-exact, no UDF); pairs with
    ``dist ≤ max_dist`` survive. Returns ``(id_a, id_b, dist)``.

    The quadratic lives ONLY inside blocks — the point of blocking; pick
    keys so blocks stay small (brand+zip, soundex, shingle bucket).
    ``max_block`` skips blocks larger than that many records outright
    (the skew guard: a degenerate key would otherwise emit B² pairs —
    same knob as the LSH bucket cap, and standard in linkage systems
    because giant blocks are near-useless keys anyway).
    """
    d = records.select(F.col(id_col).alias("id"),
                       F.col(block_col).alias("blk"),
                       F.col(text_col).alias("t"))
    if max_block is not None:
        wb = Window.partitionBy("blk")
        d = (d.withColumn("__bn", F.count(F.lit(1)).over(wb))
             .filter(F.col("__bn") <= max_block).drop("__bn"))
    a = d.select(F.col("id").alias("id_a"), "blk", F.col("t").alias("ta"))
    b = d.select(F.col("id").alias("id_b"), "blk", F.col("t").alias("tb"))
    return (
        a.join(b, "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b",
                F.levenshtein("ta", "tb").cast("long").alias("dist"))
        .filter(F.col("dist") <= max_dist)
    )


def hex_hamming_pairs(hashes: DataFrame, hash_col: str = "ahash",
                      id_col: str = "doc_id", hash_len: int = 16,
                      n_bands: int = 4, max_hamming: int = 3,
                      max_bucket: int | None = 10000) -> DataFrame:
    """Near-duplicate pairs over fixed-width HEX fingerprints (perceptual
    image hashes from ``multimodal.image_ahash``, or any externally
    computed 4·``hash_len``-bit signature) by Hamming distance ≤
    ``max_hamming``, via the same **lossless banding** argument as
    ``simhash_neardup_pairs``: ≤h differing bits touch ≤h of the B hex
    bands, so with B > h every true pair shares one intact band — the
    band equi-join has zero false negatives and the exact nibble-popcount
    check prunes the rest. Returns ``(id_a, id_b, hamming)``.

    ``max_bucket`` drops degenerate bands (a constant-hash corpus —
    e.g. thousands of blank images — would otherwise square inside one
    bucket; same precision/cost knob as the MinHash bucket cap).
    Hamming is exact integer: per-nibble ``bit_count(xor)`` summed with
    one ``aggregate`` fold — no UDF, engine-portable.
    """
    if hash_len % n_bands:
        raise ValueError("hash_len must divide into n_bands")
    if n_bands <= max_hamming:
        raise ValueError("need n_bands > max_hamming for lossless banding")
    bw = hash_len // n_bands
    sigs = hashes.select(F.col(id_col).alias("id"),
                         F.col(hash_col).alias("h"))
    bands = sigs.select(
        "id", "h",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.substring("h", 1 + b * bw, bw).alias("val"))
            for b in range(n_bands)
        ])).alias("bv"),
    ).select("id", "h", "bv.band", "bv.val")
    if max_bucket is not None:
        sizes = bands.groupBy("band", "val").agg(
            F.count(F.lit(1)).alias("__n"))
        bands = bands.join(
            sizes.filter(F.col("__n") <= int(max_bucket))
            .select("band", "val"), ["band", "val"], "left_semi")
    a = bands.select(F.col("id").alias("id_a"), F.col("h").alias("ha"),
                     "band", "val")
    b = bands.select(F.col("id").alias("id_b"), F.col("h").alias("hb"),
                     "band", "val")
    ham = F.expr(
        f"aggregate(sequence(1, {hash_len}), 0L, (acc, i) -> acc + "
        "bit_count(CAST(conv(substring(ha, i, 1), 16, 10) AS BIGINT) ^ "
        "CAST(conv(substring(hb, i, 1), 16, 10) AS BIGINT)))"
    )
    return (
        a.join(b, ["band", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "ha", "hb").distinct()
        .select("id_a", "id_b", ham.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= int(max_hamming))
    )


def _ppjoin_candidates(ranked: DataFrame, t: int,
                       positional: bool = True) -> DataFrame:
    """Candidate pairs for :func:`jaccard_similarity_join` from the
    ``(id, tok, pos, sz)`` rare-first-ranked relation: prefix×prefix
    equi-join, lossless AllPairs size filter, and (``positional``)
    Xiao et al. 2008's positional filter — for the FIRST shared prefix
    token ``w`` at positions ``(p_a, p_b)``, every common token sorts at
    or after ``w`` in the shared global (df, tok) order (anything
    earlier would itself be a shared prefix token), so overlap ≤ 1 +
    min(|A|−p_a, |B|−p_b); pairs whose bound cannot reach the minimum
    overlap ``t·(|A|+|B|)/(1000+t)`` are pruned before the expensive
    counting join, exactly (integer cross-multiplication, no rounding).
    """
    prefix = ranked.filter(
        F.col("pos") <= F.col("sz")
        - F.expr(f"({t} * sz + 999) div 1000") + 1)
    a = prefix.select(F.col("id").alias("doc_a"), "tok",
                      F.col("sz").alias("__sza"), F.col("pos").alias("__pa"))
    b = prefix.select(F.col("id").alias("doc_b"), "tok",
                      F.col("sz").alias("__szb"), F.col("pos").alias("__pb"))
    # lossless SIZE filter (AllPairs): J ≥ t forces t·|A| ≤ 1000·|B| and
    # t·|B| ≤ 1000·|A| — prunes the candidate set before the pair agg,
    # which is where duplicate-heavy corpora otherwise square
    j = (
        a.join(b, "tok")
        .filter((F.col("doc_a") < F.col("doc_b"))
                & (F.lit(t) * F.col("__sza") <= 1000 * F.col("__szb"))
                & (F.lit(t) * F.col("__szb") <= 1000 * F.col("__sza")))
    )
    if not positional:
        return j.select("doc_a", "doc_b").distinct()
    return (
        j.groupBy("doc_a", "doc_b", "__sza", "__szb")
        .agg(F.min(F.struct("__pa", "__pb")).alias("__m"))
        .filter(
            (F.lit(1) + F.least(F.col("__sza") - F.col("__m.__pa"),
                                F.col("__szb") - F.col("__m.__pb")))
            * (1000 + t)
            >= t * (F.col("__sza") + F.col("__szb")))
        .select("doc_a", "doc_b")
    )


def jaccard_similarity_join(docs: DataFrame, threshold_permille: int = 500,
                            text_col: str = "text",
                            id_col: str = "doc_id") -> DataFrame:
    """EXACT shingle-set Jaccard similarity self-join by prefix filtering
    (AllPairs, Bayardo et al. 2007 / PPJoin, Xiao et al. 2008) — the
    zero-false-negative complement to the MinHash-LSH path: every pair
    with Jaccard ≥ t is returned, no probabilistic misses, at the cost of
    a candidate set that grows as t falls (use LSH below ~0.3).

    Prefix principle: order every doc's shingles by GLOBAL rarity
    (document frequency asc, shingle asc — rare first); J(A,B) ≥ t
    forces ≥ ``ceil(t·|A|)`` common shingles, and the rarest common
    shingle must sit inside the first ``|A| − ceil(t·|A|) + 1`` of A's
    order (ditto B), so joining PREFIX×PREFIX on the shingle key loses
    nothing — and prefixes of rare-first orders hit tiny buckets, which
    is the entire performance story. Verification is one counting join
    over candidate pairs with the exact integer cross-multiplied
    threshold (``common·(1000+t) ≥ t·(|A|+|B|)``).

    Scale shape: one shingle explode; df via a shingle-keyed count
    window; the rank windows are doc-local; the only global window runs
    over the |distinct shingles| aggregate (the ``build_vocab`` caveat).
    Candidates additionally pass the positional filter (see
    :func:`_ppjoin_candidates`) before the counting join.
    Returns ``(doc_a, doc_b, common, jaccard_permille)``.
    """
    t = int(threshold_permille)
    if not 0 < t <= 1000:
        raise ValueError("threshold_permille must be in 1..1000")
    toks = checkpoint(
        with_shingles(docs.select(id_col, text_col), text_col)
        .select(F.col(id_col).alias("id"),
                F.explode("shingles").alias("tok"))
        .distinct(), eager=True)
    wdf = Window.partitionBy("tok")
    wdoc = Window.partitionBy("id").orderBy("df", "tok")
    wsz = Window.partitionBy("id")
    # checkpointed: the prefix filter AND the size relation both read it —
    # without the pin the df/rank windows run once per reader
    ranked = checkpoint(toks.select(
        "id", "tok",
        F.count(F.lit(1)).over(wdf).alias("df"),
    ).select(
        "id", "tok",
        F.row_number().over(wdoc).alias("pos"),
        F.count(F.lit(1)).over(wsz).alias("sz"),
    ), eager=True)
    cand = _ppjoin_candidates(ranked, t)
    sizes = ranked.groupBy("id").agg(F.max("sz").alias("sz"))
    ta = toks.select(F.col("id").alias("doc_a"), "tok")
    tb = toks.select(F.col("id").alias("doc_b"), "tok")
    common = (
        cand.join(ta, "doc_a").join(tb, ["doc_b", "tok"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        common
        .join(sizes.select(F.col("id").alias("doc_a"),
                           F.col("sz").alias("sza")), "doc_a")
        .join(sizes.select(F.col("id").alias("doc_b"),
                           F.col("sz").alias("szb")), "doc_b")
        .filter(F.col("common") * (1000 + t)
                >= t * (F.col("sza") + F.col("szb")))
        .select(
            "doc_a", "doc_b", "common",
            F.expr("(1000 * common) div (sza + szb - common)")
            .alias("jaccard_permille"))
    )


def corpus_containment(docs: DataFrame, group_col: str = "corpus",
                       text_col: str = "text",
                       num_hashes: int = NUM_HASHES) -> DataFrame:
    """Corpus-pair overlap estimation — "how much of corpus A is inside
    corpus B" (dataset-overlap audits, dedup-before-mixing; Broder 1997
    resemblance/containment): each corpus's shingle UNION gets one MinHash
    signature (the min over every member doc's shingle hashes, per seed —
    computed relationally, never by materializing the union), plus its
    EXACT distinct-shingle count; per corpus pair, the matched-seed
    fraction estimates Jaccard, and the inclusion–exclusion identity
    ``|A∩B| = J/(1+J)·(|A|+|B|)`` converts it to integer containment.

    Shuffle profile at 100 TB: one (group, shingle) distinct shuffle over
    the exploded shingles (this also feeds the exact counts), one
    group-keyed partial agg to corpus-count-sized signatures, then a
    corpus² self-join over a relation with one row per CORPUS — broadcast
    territory regardless of corpus size.

    All integer, md5 hash family shared with :func:`minhash_signatures`
    so the DuckDB twin (:func:`corpus_containment_sql`) reproduces it
    bit-for-bit. Returns per pair (corpus_a < corpus_b):
    ``(corpus_a, corpus_b, n_a, n_b, n_match, jaccard_micro, inter_est,
    contain_a_micro, contain_b_micro)`` — contain_a = est. fraction of
    A's shingles also in B.
    """
    rows = (
        with_shingles(docs.select(group_col, text_col), text_col)
        .select(group_col, F.explode("shingles").alias("_shingle"))
        .distinct()
    )
    sig = rows.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        *[F.min(F.md5(F.concat(F.lit(f"{s}:"), F.col("_shingle"))))
          .alias(f"_h{s}") for s in range(num_hashes)],
    )
    a = sig.select(F.col(group_col).alias("corpus_a"), F.col("n").alias("n_a"),
                   *[F.col(f"_h{s}").alias(f"_a{s}") for s in range(num_hashes)])
    b = sig.select(F.col(group_col).alias("corpus_b"), F.col("n").alias("n_b"),
                   *[F.col(f"_h{s}").alias(f"_b{s}") for s in range(num_hashes)])
    m = sum((F.col(f"_a{s}") == F.col(f"_b{s}")).cast("long")
            for s in range(num_hashes))
    pairs = (
        a.join(b, F.col("corpus_a") < F.col("corpus_b"))
        .select("corpus_a", "corpus_b", "n_a", "n_b", m.alias("n_match"))
        .withColumn("jaccard_micro",
                    F.expr(f"1000000 * n_match div {num_hashes}"))
        .withColumn("inter_est",
                    F.expr("jaccard_micro * (n_a + n_b) "
                           "div (1000000 + jaccard_micro)"))
    )
    return pairs.select(
        "corpus_a", "corpus_b", "n_a", "n_b", "n_match", "jaccard_micro",
        "inter_est",
        F.expr("1000000 * inter_est div n_a").alias("contain_a_micro"),
        F.expr("1000000 * inter_est div n_b").alias("contain_b_micro"),
    )


def cross_corpus_neardup_pairs(corpus: DataFrame, benchmark: DataFrame,
                               text_col: str = "text",
                               id_col: str = "doc_id",
                               num_hashes: int = NUM_HASHES,
                               band_rows: int = BAND_ROWS,
                               max_bucket_size: int | None = None) -> DataFrame:
    """FUZZY decontamination — the near-dup complement of
    :func:`ngram_contamination` (which counts exact shingle hits): corpus
    documents whose MinHash signature shares any LSH band bucket with a
    benchmark/eval document. This is the whole-document analogue of the
    GPT-3-style fuzzy eval-set dedup: a lightly paraphrased or truncated
    eval item still collides in a band where exact shingle containment
    has already decayed.

    Returns distinct ``(doc_id, bench_id)`` candidate pairs (verify with
    :func:`ngram_jaccard_pairs` machinery if precision matters more than
    the banding guarantee).

    Scale shape: both sides pay one signature pass (explode + per-doc min
    agg — the corpus side is the same relation any LSH pass over it
    builds); the join is an equi-join on (band_idx, band_hash) where the
    benchmark side is eval-sized, so every corpus bucket row either
    broadcasts against it or hashes into a bucket-keyed shuffle of the
    SIGNATURE relation — never the corpus text, never all-pairs.
    ``max_bucket_size`` drops boilerplate CORPUS buckets before the join
    (same skew guard as :func:`minhash_lsh_candidates`).
    """
    def _bucket_rows(docs: DataFrame, out_id: str) -> DataFrame:
        return (
            minhash_signatures(docs, text_col, id_col, num_hashes)
            .withColumn("bands", band_hashes("minhash", band_rows,
                                             num_hashes))
            .select(F.col(id_col).alias(out_id),
                    F.posexplode("bands").alias("band_idx", "band_hash"))
        )

    c = _bucket_rows(corpus, "doc_id")
    if max_bucket_size is not None:
        sizes = c.groupBy("band_idx", "band_hash").agg(
            F.count(F.lit(1)).alias("_bs")
        ).filter(F.col("_bs") <= int(max_bucket_size))
        c = c.join(sizes.select("band_idx", "band_hash"),
                   ["band_idx", "band_hash"], "left_semi")
    b = _bucket_rows(benchmark, "bench_id")
    return (
        c.join(F.broadcast(b), ["band_idx", "band_hash"])
        .select("doc_id", "bench_id")
        .distinct()
    )
