"""Corpus / relational statistics — exact grouped quantiles and TF-IDF.

Parity-plus (SURVEY.md §2.7): the reference computes no statistics beyond
per-(node,label) edge counts. A curation pipeline constantly needs grouped
distribution summaries (quantiles of doc length, price, score per stratum)
and term statistics (TF-IDF for keyword extraction / quality filtering), so
both are first-class here — formulated deterministically (discrete
quantiles, integer sufficient statistics) so each has an exact DuckDB twin
in the correctness gate.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# lowercase word tokens — kept in sync with the oracle twin via import
from judy_graph_db_spark.functions.text import WORD_TOKEN_RE
from judy_graph_db_spark.loopstate import cache, checkpoint, free, scoped
from judy_graph_db_spark.schema import local_df, union_all


def grouped_quantiles(df: DataFrame, group_cols: Sequence[str],
                      value_col: str, qs: Sequence[float]) -> DataFrame:
    """Exact *discrete* quantiles per group (``percentile_disc``
    semantics: the smallest value whose cumulative rank reaches q — always
    an actual data value, never an interpolation, so the result is
    engine-portable and hash-stable).

    One shuffle on the group key: a rank window + count window, then the
    per-q positional picks fall out of a single filtered aggregation.
    Returns one row per group with a ``q_<permille>`` column per quantile.
    """
    w = Window.partitionBy(*group_cols).orderBy(F.col(value_col).asc())
    wg = Window.partitionBy(*group_cols)
    ranked = df.select(
        *group_cols,
        F.col(value_col).alias("__v"),
        F.row_number().over(w).alias("__rn"),
        F.count(F.lit(1)).over(wg).alias("__n"),
    )
    aggs = []
    for q in qs:
        pos = F.greatest(F.ceil(F.lit(q) * F.col("__n")), F.lit(1))
        aggs.append(
            F.max(F.when(F.col("__rn") == pos, F.col("__v"))).alias(
                f"q_{int(round(q * 1000))}"
            )
        )
    return ranked.groupBy(*group_cols).agg(*aggs)


def term_stats(docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Per-(doc, term) frequency plus per-term document frequency — the
    exact sufficient statistics of TF-IDF (``tfidf`` derives the float
    scores; the gate hashes these integers).

    Scale shape: tokenize + explode inside the scan stage, one shuffle on
    (doc, term) for tf, then ``df`` as a COUNT window over the term key —
    one pipeline, ONE corpus scan. (The tempting ``tf.join(tf.groupBy(...))``
    formulation re-scans and re-tokenizes the whole corpus: Catalyst does
    not share common subplans across a self-join.) Returns
    ``(id_col, term, tf BIGINT, df BIGINT)``.
    """
    toks = docs.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit(WORD_TOKEN_RE), F.lit(0)
            )
        ).alias("term"),
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    wdf = Window.partitionBy("term")
    return tf.select(
        id_col, "term", "tf", F.count(F.lit(1)).over(wdf).alias("df")
    )


def tfidf(docs: DataFrame, id_col: str = "doc_id",
          text_col: str = "text") -> DataFrame:
    """TF-IDF scores: ``tf * ln(n_docs / df)`` per (doc, term). Floats —
    for ranking/filtering use; the oracle gate checks :func:`term_stats`'s
    integer sufficient statistics instead (cross-engine float logs are not
    hash-stable)."""
    stats = term_stats(docs, id_col, text_col)
    n_docs = docs.select(id_col).distinct().count()
    return stats.select(
        id_col,
        "term",
        (F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))).alias("tfidf"),
    )


def top_terms_per_doc(docs: DataFrame, k: int = 5, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """The ``k`` most frequent terms per document (ties broken
    alphabetically) with their document frequency — deterministic keyword
    extraction. Returns ``(id_col, term, tf, df, rank_in_doc)``."""
    stats = term_stats(docs, id_col, text_col)
    w = Window.partitionBy(id_col).orderBy(
        F.col("tf").desc(), F.col("term").asc()
    )
    return (
        stats.withColumn("rank_in_doc", F.row_number().over(w))
        .filter(F.col("rank_in_doc") <= k)
    )


def inverted_index(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", min_df: int = 1,
                   max_df: int | None = None) -> DataFrame:
    """Term → sorted posting list over the corpus — the retrieval-side twin
    of :func:`term_stats`. ``min_df``/``max_df`` drop rare/stopword-ish
    terms *before* the postings are assembled (the df filter runs on the
    tiny (term, df) relation, so a 100 TB corpus never aggregates postings
    it will throw away). Returns ``(term, df BIGINT, postings ARRAY<LONG>)``
    with postings ascending; ``posting_hash`` (md5 of the comma-joined
    list) gives an engine-portable fingerprint for gating.
    """
    pairs = (
        docs.select(
            F.col(id_col),
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.col(text_col)), F.lit(WORD_TOKEN_RE), F.lit(0)
                )
            ).alias("term"),
        )
        .distinct()
    )
    # df as a window over the term key — one pipeline, one corpus scan
    # (a pairs⋈pairs.groupBy join would tokenize the corpus twice), and the
    # df filter still runs BEFORE the postings assemble
    wdf = Window.partitionBy("term")
    with_df = pairs.select(
        id_col, "term", F.count(F.lit(1)).over(wdf).alias("df")
    ).filter(F.col("df") >= min_df)
    if max_df is not None:
        with_df = with_df.filter(F.col("df") <= max_df)
    postings = with_df.groupBy("term", "df").agg(
        F.sort_array(F.collect_list(id_col)).alias("postings")
    )
    return postings.select(
        "term",
        "df",
        "postings",
        F.md5(F.concat_ws(",", F.col("postings").cast("array<string>"))).alias(
            "posting_hash"
        ),
    )


def token_commonness(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Per-document corpus-frequency score: the average relative corpus
    frequency of the document's tokens, in integer micro-units —
    ``floor(1e6 · Σ tf(t)·c(t) / (n_tokens · T))`` where ``c(t)`` is the
    term's total corpus count and ``T`` the corpus token count.

    This is the integer-exact stand-in for unigram-LM perplexity scoring
    (the CCNet-style filter): LOW commonness = rare-token-heavy documents
    (jargon, noise, other-language leakage), HIGH = stopword soup. It is
    kept log-free on purpose — ln/log2 are not bit-identical across
    engines, so a log-based score could not be hash-gated; the ordering a
    filter consumes is preserved.

    One corpus scan: tokenize+explode → (doc, term) tf, corpus counts as a
    SUM window over the term key, one per-doc aggregation, and the corpus
    total attached as a broadcast 1-row join (the scalar-attach house
    pattern). At extreme corpus sizes the ``·1e6`` product should move to
    DECIMAL before the divide; the double form here is deterministic but
    rounds above 2^53. Returns ``(id_col, n_tokens, commonness_micro)``.
    """
    toks = docs.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit(WORD_TOKEN_RE), F.lit(0)
            )
        ).alias("term"),
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    wterm = Window.partitionBy("term")
    per_doc = (
        tf.withColumn("c", F.sum("tf").over(wterm))
        .groupBy(id_col)
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("c")).alias("_wsum"),
        )
    )
    total = per_doc.agg(F.sum("n_tokens").alias("_T"))
    return per_doc.join(F.broadcast(total)).select(
        id_col,
        "n_tokens",
        F.floor(
            F.col("_wsum") * 1e6 / (F.col("n_tokens") * F.col("_T"))
        ).cast("long").alias("commonness_micro"),
    )


def grouped_outliers(df: DataFrame, group_col: str, value_col: str,
                     id_col: str, k: int = 3) -> DataFrame:
    """Rows whose value deviates from their GROUP mean by more than ``k``
    population standard deviations — the cheap per-entity anomaly flag
    (fraud-ish spend spikes, corrupted metric rows) a curation pass runs
    before aggregating.

    Exact integer arithmetic throughout: values are taken in cents
    (``round(value·100)``) and the test is the cross-multiplied form
    ``(n·x − S)² > k²·(n·SS − S²)`` (with S = Σx, SS = Σx² per group),
    which is ``(x − μ)² > k²σ²`` cleared of divisions — so there is no
    float variance to disagree across engines and the result hash-gates
    exactly. Two window passes over ONE shuffle on the group key; no
    join-back. Singleton and constant groups flag nothing (both sides 0).

    Magnitude bound: ``(n·x)²`` must fit a BIGINT — fine to ~3·10⁹ in
    n·cents (e.g. 10⁵ rows of $300k); at genuinely larger group-scales
    move S/SS to DECIMAL(38,0). Returns flagged rows only:
    ``(group_col, id_col, value_cents)``.
    """
    cents = F.round(F.col(value_col) * 100).cast("long")
    wg = Window.partitionBy(group_col)
    base = df.select(
        F.col(group_col), F.col(id_col), cents.alias("value_cents")
    ).select(
        group_col, id_col, "value_cents",
        F.count(F.lit(1)).over(wg).alias("__n"),
        F.sum("value_cents").over(wg).alias("__s"),
        F.sum(F.col("value_cents") * F.col("value_cents")).over(wg).alias("__ss"),
    )
    dev = F.col("__n") * F.col("value_cents") - F.col("__s")
    var_n2 = F.col("__n") * F.col("__ss") - F.col("__s") * F.col("__s")
    return base.filter(dev * dev > F.lit(int(k) * int(k)) * var_n2).select(
        group_col, id_col, "value_cents"
    )


def build_vocab(docs: DataFrame, min_count: int = 1,
                max_size: int | None = None, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Tokenizer-prep vocabulary: ``(token, token_id, count)`` with dense
    ids assigned by ``(count DESC, token ASC)`` rank — the deterministic
    frequency order every tokenizer build step wants, so id 0 is always
    the corpus's most common token and re-runs (or a DuckDB twin) emit
    byte-identical tables. ``min_count`` drops the long tail *before* the
    rank window; ``max_size`` caps the vocabulary after it.

    Scale shape: tokenize + explode in the scan stage, one (token) shuffle
    for counts, then a TWO-LEVEL rank with no global unpartitioned window
    anywhere: tokens bucket by ``(count, 2-char token prefix)``; ranks
    within a bucket come from a PARTITIONED row_number (lexicographic
    substring order is compatible with full-token order, so bucket-local
    order + bucket offsets reproduce the global ``(count DESC, token
    ASC)`` rank exactly); bucket start offsets come from a running sum
    over the bucket-stats relation — |distinct (count, prefix)| rows,
    ≤ O(√total_tokens · |alphabet|²) and overwhelmingly smaller than
    |vocab| (at 10⁹ web-scale tokens: millions of skinny rows vs 10⁹),
    the aggregate-sized place a single-partition window is acceptable.
    The big windows are all partitioned; the hapax ``count=min_count``
    bucket — half the vocabulary under Zipf — splits across prefixes
    instead of landing in one task.
    """
    toks = docs.select(
        F.explode(
            F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit(WORD_TOKEN_RE), F.lit(0)
            )
        ).alias("token")
    )
    counts = (
        toks.groupBy("token").agg(F.count(F.lit(1)).alias("count"))
        .filter(F.col("count") >= int(min_count))
    )
    bucketed = counts.withColumn("__b", F.substring("token", 1, 2))
    bstat = bucketed.groupBy("count", "__b").agg(
        F.count(F.lit(1)).alias("__n"))
    w_off = (
        Window.orderBy(F.col("count").desc(), F.col("__b").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = bstat.select(
        "count", "__b",
        F.coalesce(F.sum("__n").over(w_off), F.lit(0)).alias("__off"),
    )
    w_in = Window.partitionBy("count", "__b").orderBy(F.col("token").asc())
    vocab = (
        bucketed.join(F.broadcast(offs), ["count", "__b"])
        .select(
            "token",
            (F.col("__off") + F.row_number().over(w_in) - 1)
            .cast("long").alias("token_id"),
            "count",
        )
    )
    if max_size is not None:
        vocab = vocab.filter(F.col("token_id") < int(max_size))
    return vocab


def encode_tokens(docs: DataFrame, vocab: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text",
                  unk_id: int = -1) -> DataFrame:
    """Encode each document against a :func:`build_vocab` table:
    ``(doc_id, pos, token_id)`` with out-of-vocabulary tokens mapped to
    ``unk_id``. The vocab side broadcasts (it is capped by construction);
    the corpus streams through one scan-stage tokenize + posexplode."""
    toks = docs.select(
        F.col(id_col),
        F.posexplode(
            F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit(WORD_TOKEN_RE), F.lit(0)
            )
        ).alias("pos", "token"),
    )
    return (
        toks.join(F.broadcast(vocab.select("token", "token_id")), "token",
                  "left")
        .select(
            id_col, F.col("pos").cast("long"),
            F.coalesce("token_id", F.lit(int(unk_id)).cast("long"))
            .alias("token_id"),
        )
    )


def ngram_counts(docs: DataFrame, n: int = 2, min_count: int = 1,
                 text_col: str = "text") -> DataFrame:
    """Corpus n-gram frequencies over word tokens: ``(gram, count)`` with
    the gram space-joined — the sufficient statistics of an n-gram
    language model (and the standard decontamination / novelty unit).

    Grams materialize inside the scan stage (a ``transform`` over token
    positions + explode); the single shuffle is the (gram) count, map-side
    combined. ``min_count`` trims the long tail after aggregation.
    """
    toks = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit(WORD_TOKEN_RE), F.lit(0)
    )
    # sequence(1, 0) in Spark yields [1, 0] (descending auto-step), so the
    # too-short case needs an explicit empty-array branch
    grams = F.expr(
        f"CASE WHEN size(__toks) < {int(n)} THEN CAST(array() AS array<string>) "
        f"ELSE transform(sequence(1, size(__toks) - {int(n) - 1}), "
        f"i -> concat_ws(' ', slice(__toks, i, {int(n)}))) END"
    )
    return (
        docs.select(toks.alias("__toks"))
        .select(F.explode(grams).alias("gram"))
        .groupBy("gram").agg(F.count(F.lit(1)).alias("count"))
        .filter(F.col("count") >= int(min_count))
    )


def bm25_scores(docs: DataFrame, query_terms: Sequence[str],
                k1: float = 1.2, b: float = 0.75, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Okapi BM25 retrieval scores for a term query: ``(doc_id, score)``
    over documents containing at least one query term (Robertson/Sparck
    Jones; the Lucene ``idf = ln(1 + (N−df+0.5)/(df+0.5))`` variant, always
    positive). Float-valued — unit-tested against a hand-computed oracle
    rather than hash-gated (the house float rule).

    Scale shape: one tokenize pass builds (doc, term) tfs and doc lengths;
    document frequencies come from the tf relation (never re-scanning
    text); the query-term filter is a literal IN pushed into the scan; the
    corpus-level scalars (N, avgdl) attach via a 1-row broadcast
    cross join, not a driver round trip.
    """
    import math

    toks = docs.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit(WORD_TOKEN_RE), F.lit(0)
            )
        ).alias("term"),
    )
    dl = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    # avgdl as exact-long-sum / count (ONE float division): Spark's
    # avg(long) sums doubles in partition order, which drifts a ulp from
    # the SQL twin's exact-integer mean; this form is order-free in both
    stats_ = dl.agg(
        F.count(F.lit(1)).alias("N"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"))
    qt = [t.lower() for t in query_terms]
    tf = (
        toks.filter(F.col("term").isin(qt))
        .groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(dfreq, "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats_))
        .select(
            id_col,
            (
                F.log(
                    F.lit(1.0)
                    + (F.col("N") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (k1 + 1))
                / (F.col("tf")
                   + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
            ).alias("_s"),
        )
    )
    return scored.groupBy(id_col).agg(F.sum("_s").alias("score"))


def repetition_signals(docs: DataFrame, ns: Sequence[int] = (2, 3, 4),
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Per-document n-gram repetition measures — the Gopher repetition
    filters (Rae et al. 2021, Table A1) in occurrence form: for each
    ``n`` in ``ns``,

    - ``top_gram_permille``  = 1000 · max-count ÷ #grams — the share of
      n-gram slots taken by the single most frequent n-gram;
    - ``dup_gram_permille``  = 1000 · Σ count>1 ÷ #grams — the share of
      n-gram slots whose gram occurs more than once in the document.

    (Gopher weights by characters; the occurrence form is the same
    monotone signal with exact integer arithmetic, so it hash-gates.
    The paper's char-weighted unit lives in
    ``curation.top_ngram_char_fraction`` /
    ``curation.dup_ngram_char_fraction`` — also integer-exact.)
    Returns ``(id, n, n_grams, top_gram_permille, dup_gram_permille)``;
    documents with fewer than ``n`` tokens emit no row for that ``n``.

    Scale shape: tokenize ONCE per document (``posexplode`` — never an
    array lambda over the token array, which CollapseProject would
    re-inline per element), then every requested n-gram length falls out
    of ONE doc-partitioned window pass via ``lead``; the only further
    shuffles are the (doc, n, gram) count and the (doc, n) rollup.
    Per-document state is never materialized as a whole — a 1 GB document
    streams through the window like any other rows.
    """
    ns = sorted(set(int(n) for n in ns))
    if not ns or ns[0] < 2:
        raise ValueError("ns must be >= 2")
    w = Window.partitionBy("__id").orderBy("__pos")
    toks = docs.select(
        F.col(id_col).alias("__id"),
        F.posexplode(
            F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit(WORD_TOKEN_RE), F.lit(0)
            )
        ).alias("__pos", "__w"),
    )
    led = toks.select(
        "__id", "__w",
        *[F.lead("__w", k).over(w).alias(f"__w{k}")
          for k in range(1, ns[-1])],
    )
    # stack the n-gram columns into (n, gram) rows; a NULL last word means
    # the window ran off the document end → no gram of that length there
    per_n = []
    for n in ns:
        gram = F.concat_ws(
            " ", F.col("__w"), *[F.col(f"__w{k}") for k in range(1, n)])
        per_n.append(
            led.filter(F.col(f"__w{n - 1}").isNotNull())
            .select("__id", F.lit(n).cast("long").alias("n"),
                    gram.alias("gram")))
    gc = union_all(per_n, by_name=True).groupBy("__id", "n", "gram").agg(
        F.count(F.lit(1)).alias("__c"))
    return (
        gc.groupBy("__id", "n")
        .agg(
            F.sum("__c").alias("n_grams"),
            F.max("__c").alias("__mx"),
            F.sum(F.when(F.col("__c") > 1, F.col("__c"))
                  .otherwise(F.lit(0))).alias("__dup"),
        )
        .select(
            F.col("__id").alias(id_col), "n", "n_grams",
            F.expr("1000 * __mx div n_grams").alias("top_gram_permille"),
            F.expr("1000 * __dup div n_grams").alias("dup_gram_permille"),
        )
    )


def token_surprisal(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Per-document unigram surprisal in floor-log2 bits — the log-domain
    sibling of :func:`token_commonness` (and the closer analogue of the
    CCNet/KenLM perplexity filter, which thresholds a log-probability):
    each token instance contributes ``bits(t) = floor(log2(T / c(t)))``
    computed as ``length(bin(T div c(t))) - 1`` — the engine-wide
    integer-log2 idiom, exact in both engines where a float ``log`` would
    not hash-gate. Returns ``(id_col, n_tokens, surprisal_bits,
    mean_bits_milli)`` with ``mean_bits_milli = 1000·Σbits div n_tokens``.

    HIGH mean surprisal = rare-token-heavy text (gibberish, wrong
    language, OCR noise); LOW = stopword soup — threshold both tails,
    exactly like a perplexity filter. Plan shape is identical to
    token_commonness: one tokenize+explode scan, a term-keyed count
    window, one per-doc aggregation, corpus total as a broadcast 1-row
    join.
    """
    toks = docs.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit(WORD_TOKEN_RE), F.lit(0)
            )
        ).alias("term"),
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    wterm = Window.partitionBy("term")
    per_doc = (
        tf.withColumn("c", F.sum("tf").over(wterm))
        .groupBy(id_col)
        .agg(F.sum("tf").alias("n_tokens"),
             F.collect_list(F.struct("tf", "c")).alias("_tc"))
    )
    total = per_doc.agg(F.sum("n_tokens").alias("_T"))
    return (
        per_doc.join(F.broadcast(total))
        .select(
            id_col, "n_tokens",
            F.expr("aggregate(_tc, CAST(0 AS BIGINT), (acc, x) -> "
                   "acc + x.tf * (length(bin(_T div x.c)) - 1))")
            .alias("surprisal_bits"),
        )
        .withColumn("mean_bits_milli",
                    F.expr("1000 * surprisal_bits div n_tokens"))
    )


def hashed_tf(docs: DataFrame, n_features: int = 1024,
              id_col: str = "doc_id", text_col: str = "text",
              seed: int = 0) -> DataFrame:
    """Feature hashing (the "hashing trick", Weinberger et al. 2009 —
    Spark ML's HashingTF, re-expressed relationally and engine-portably):
    every token maps to bucket ``md5-hash mod n_features`` and the doc's
    sparse term-frequency vector is the per-(doc, bucket) count.
    Returns ``(id_col, bucket, tf)`` — the fixed-width featurization for
    linear quality classifiers at corpus scale: no vocabulary to build,
    broadcast, or keep consistent across snapshots, which is the whole
    point against ``build_vocab``/``encode_tokens``.

    One tokenize+explode scan + one (doc, bucket) map-side-combined
    count; collisions are the accepted trade (bound error by raising
    ``n_features``).
    """
    from judy_graph_db_spark.operators.sketch import _h60

    if n_features < 1:
        raise ValueError("n_features must be positive")
    toks = docs.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit(WORD_TOKEN_RE), F.lit(0)
            )
        ).alias("term"),
    )
    return (
        toks.select(
            id_col,
            (_h60(F.col("term"), f"htf{seed}") % int(n_features))
            .alias("bucket"))
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def collocation_scores(docs: DataFrame, min_count: int = 2,
                       delta: int = 0,
                       text_col: str = "text") -> DataFrame:
    """word2phrase collocation scoring (Mikolov et al. 2013's phrase
    detector): for every adjacent word pair, ``score = (c_ab − δ)·N /
    (c_a·c_b)`` in integer milli — pairs that co-occur far more than
    their unigram frequencies predict are phrases ("new york",
    "machine learning"); δ discounts rare-pair noise. Returns
    ``(w_a, w_b, n_pair, score_milli)`` for pairs with
    ``c_ab ≥ min_count``.

    One tokenize scan feeds both the unigram and the adjacent-pair
    counts; unigram counts attach by two broadcast-friendly equi-joins
    (the unigram relation is |vocab|-sized) and the corpus total N rides
    as a 1-row cross join. At extreme N move the ``·N`` product to
    DECIMAL — at 10⁹ tokens and c_ab ≤ N the int64 headroom is
    1000·N·c_ab ≤ ~10²¹ only for degenerate single-word corpora; real
    vocabularies keep c well below overflow.
    """
    toks = docs.select(
        F.explode(
            F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit(WORD_TOKEN_RE), F.lit(0)
            )
        ).alias("term"))
    uni = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    total = uni.agg(F.sum("c").alias("N"))
    bi = (
        ngram_counts(docs, n=2, min_count=int(min_count), text_col=text_col)
        .select(F.split("gram", " ").getItem(0).alias("w_a"),
                F.split("gram", " ").getItem(1).alias("w_b"),
                F.col("count").alias("n_pair"))
    )
    return (
        bi.join(uni.select(F.col("term").alias("w_a"),
                           F.col("c").alias("_ca")), "w_a")
        .join(uni.select(F.col("term").alias("w_b"),
                         F.col("c").alias("_cb")), "w_b")
        .crossJoin(F.broadcast(total))
        .select(
            "w_a", "w_b", "n_pair",
            F.expr(f"1000 * (n_pair - {int(delta)}) * N div (_ca * _cb)")
            .cast("long").alias("score_milli"))
    )


def char_entropy_bits(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Per-document character-distribution entropy in floor-log2 bits:
    ``Σ_c n_c · floor(log2(len div n_c))`` — the scaled-entropy gibberish
    detector (near 0 = one repeated character / run-amok markup; high =
    diverse text), using the same ``length(bin(x))-1`` integer-log2 idiom
    as :func:`token_surprisal` so it hash-gates where Shannon's float
    form would not. Returns ``(id_col, n_chars, entropy_bits,
    mean_milli_bits = 1000·entropy_bits div n_chars)``.

    One char explode + (doc, char) partial-agg histogram + a doc-keyed
    length join — the histogram is ≤ |alphabet| rows per doc, so the
    second join is narrow.
    """
    chars = docs.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), "")).alias("ch"),
    ).filter(F.col("ch") != "")
    hist = chars.groupBy(id_col, "ch").agg(F.count(F.lit(1)).alias("n"))
    lens = hist.groupBy(id_col).agg(F.sum("n").alias("__L"))
    return (
        hist.join(lens, id_col)
        .select(id_col, "__L",
                (F.col("n") * (F.length(F.expr("bin(__L div n)")) - 1))
                .alias("__p"))
        .groupBy(id_col)
        .agg(F.max("__L").cast("long").alias("n_chars"),
             F.sum("__p").cast("long").alias("entropy_bits"))
        .withColumn("mean_milli_bits",
                    F.expr("1000 * entropy_bits div n_chars").cast("long"))
    )


def zipf_bits_stats(docs: DataFrame, min_count: int = 1,
                    text_col: str = "text") -> DataFrame:
    """Zipf-law sufficient statistics over the vocabulary in floor-log2
    space: one row ``(n, sx, sy, sxy, sxx)`` with ``x = bits(rank+1)``,
    ``y = bits(count)`` per vocabulary entry — the caller regresses once
    for the Zipf slope (healthy natural text ≈ −1; a flat or kinked
    curve flags template/boilerplate corpora before training). The
    integer-log2 idiom keeps the relation hash-stable; the |vocab|-row
    relation comes from :func:`build_vocab` (its one acceptable global
    window), and the five sums partial-aggregate map-side.
    """
    v = build_vocab(docs, min_count=min_count, text_col=text_col)
    xy = v.select(
        (F.length(F.expr("bin(token_id + 1)")) - 1).cast("long").alias("x"),
        (F.length(F.expr("bin(count)")) - 1).cast("long").alias("y"))
    return xy.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"))


def ngram_novelty(docs: DataFrame, n: int = 3, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Per-document n-gram novelty: the permille of the doc's word
    n-grams that occur in NO other document — the inverse-boilerplate
    signal (low novelty = the doc is assembled from corpus-common
    phrasing; high = original text). Returns ``(id_col, n_grams,
    novel_permille)`` for docs with ≥ 1 gram; novelty counts each gram
    occurrence (a phrase repeated inside one doc but nowhere else is
    still novel to the corpus).

    One tokenize+gram scan feeds a per-(doc, gram) count and a gram-keyed
    distinct-doc count (window over the gram key, same shape as
    token_commonness's corpus counts); novelty = grams whose doc
    frequency is 1. Two shuffles total, both map-side combinable.
    """
    toks = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit(WORD_TOKEN_RE), F.lit(0))
    grams = F.expr(
        f"CASE WHEN size(__toks) < {int(n)} THEN CAST(array() AS array<string>) "
        f"ELSE transform(sequence(1, size(__toks) - {int(n) - 1}), "
        f"i -> concat_ws(' ', slice(__toks, i, {int(n)}))) END")
    dg = (
        docs.select(F.col(id_col), toks.alias("__toks"))
        .select(id_col, F.explode(grams).alias("gram"))
        .groupBy(id_col, "gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wg = Window.partitionBy("gram")
    return (
        dg.withColumn("df", F.count(F.lit(1)).over(wg))
        .groupBy(id_col)
        .agg(F.sum("c").alias("n_grams"),
             F.sum(F.when(F.col("df") == 1, F.col("c"))
                   .otherwise(F.lit(0))).alias("__novel"))
        .select(id_col, F.col("n_grams").cast("long"),
                F.expr("1000 * __novel div n_grams").cast("long")
                .alias("novel_permille"))
    )


def linear_score(features: DataFrame, weights: DataFrame,
                 bias: int = 0, id_col: str = "doc_id") -> DataFrame:
    """Linear-classifier inference over sparse hashed features — the
    fastText-style quality/domain classifier applied at corpus scale
    (Joulin et al. 2017; the CCNet / DCLM / FineWeb filtering recipe:
    train a small linear model offline, score every document with it).

    ``features`` is the :func:`hashed_tf` relation ``(id, bucket, tf)``;
    ``weights`` maps ``(bucket, w)`` with INTEGER weights (train in
    floats, then quantize to integer milli-units — exact integer dot
    products hash-gate across engines where float sums would not).
    Returns ``(id_col, score)`` with ``score = bias + Σ tf·w`` — callers
    threshold or bucket it; keeping the logit integer end-to-end means
    the score is reproducible bit-for-bit on any partitioning.

    Scale shape: the weight table is ≤ n_features rows → broadcast join
    against the feature relation (no shuffle of the big side beyond the
    (id, bucket) aggregation `hashed_tf` already paid), then one id-keyed
    map-side-combinable sum. Unmatched buckets weigh 0 (left join).

    Reference: no classifier surface exists in judy-graph-db;
    parity-plus for the model-based filtering stage of a data pipeline.
    """
    w = weights.select(F.col("bucket"), F.col("w").cast("long"))
    return (
        features.join(F.broadcast(w), "bucket", "left")
        .groupBy(id_col)
        .agg((F.lit(int(bias))
              + F.coalesce(F.sum(F.col("tf") * F.col("w")), F.lit(0)))
             .cast("long").alias("score"))
    )


def ranking_auc(df: DataFrame, score_col: str = "score",
                label_col: str = "label") -> DataFrame:
    """Exact ROC-AUC by the Mann-Whitney rank-sum identity (Hanley &
    McNeil 1982): AUC = P(score_pos > score_neg) + ½·P(tie) — the
    evaluation number for link-prediction scores (`resource_allocation`,
    `jaccard_similarity` vs `sample_non_edges` negatives) and quality
    classifiers (`linear_score`), computed over EVERY pair without
    materializing any pair.

    Relational shape: one map-side-combinable groupBy collapses the
    relation to (score, n_pos, n_neg) — pair counting then runs on the
    |distinct scores| aggregate via one cumulative window (the same
    "acceptable global window over an aggregate" as ``build_vocab``;
    integer scores from this module's operators keep that relation small
    — re-quantize first if scores are near-unique). Ties contribute ½ via
    the doubled statistic ``u2 = 2·Σ wins + ties``, keeping everything
    integer; the final ratio is one decimal(38) division, exact in both
    engines.

    Returns one row ``(n_pos, n_neg, u2, auc_micro)``; ``auc_micro`` is
    NULL when either class is empty (AUC undefined).
    """
    lab = F.col(label_col).cast("long")
    per = df.groupBy(F.col(score_col).alias("s")).agg(
        F.sum(lab).alias("np_s"),
        F.sum(F.lit(1) - lab).alias("nn_s"))
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    cum = per.select(
        "np_s", "nn_s",
        F.coalesce(F.sum("nn_s").over(w), F.lit(0)).alias("cumn"))
    out = cum.agg(
        F.sum("np_s").alias("n_pos"),
        F.sum("nn_s").alias("n_neg"),
        F.sum(2 * F.col("np_s") * F.col("cumn")
              + F.col("np_s") * F.col("nn_s")).alias("u2"))
    return out.select(
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
        F.col("u2").cast("long").alias("u2"),
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.floor(F.col("u2").cast("decimal(38,0)") * 500000
                    / (F.col("n_pos").cast("decimal(38,0)")
                       * F.col("n_neg"))).cast("long")
        ).alias("auc_micro"))


def quantile_bins(df: DataFrame, value_col: str, nbins: int,
                  group_cols: Sequence[str] = (),
                  out_col: str = "bin") -> DataFrame:
    """Equal-frequency (quantile) binning — curriculum/difficulty buckets
    over a score column, per group when ``group_cols`` is given. The bin
    is the NTILE of the value's FIRST occurrence, in closed form:
    ``bin(v) = min(nbins−1, excl(v)·nbins div n)`` with ``excl(v)`` the
    count of strictly smaller rows — provably the number of
    ``percentile_disc`` cutoffs strictly below v, so no cutoff table is
    ever materialized and bins stay balanced up to tie groups. Ties share
    a bin by construction (the bin is a function of the VALUE), which is
    what makes the assignment hash-stable across engines.

    Scale shape: one map-side-combinable groupBy collapses the relation
    to (group, value, count); the cumulative window runs over that
    aggregate (distinct-value-sized — the ``build_vocab`` caveat:
    re-quantize near-unique float scores first), and the value→bin map
    joins back on (group, value) — broadcast-sized in practice. Exact
    integer arithmetic end to end.

    Returns ``df`` plus ``out_col`` (0-based bin index). Rows whose value
    is NULL keep a NULL bin (an unknown score has no quantile — they are
    deliberately surfaced, not silently dropped); NULL *group* keys bin
    within their own NULL group, matching groupBy semantics.
    """
    if nbins < 1:
        raise ValueError("nbins must be positive")
    g = list(group_cols)
    per = df.filter(F.col(value_col).isNotNull()).groupBy(
        *g, F.col(value_col)).agg(
        F.count(F.lit(1)).alias("__c"))
    wc = (Window.partitionBy(*g).orderBy(value_col)
          .rowsBetween(Window.unboundedPreceding, 0)) if g else (
        Window.orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, 0))
    wn = Window.partitionBy(*g) if g else Window.partitionBy(F.lit(1))
    mapping = per.select(
        *g, value_col,
        (F.sum("__c").over(wc) - F.col("__c")).alias("__excl"),
        F.sum("__c").over(wn).alias("__n"),
    ).select(
        *g, value_col,
        F.least(F.lit(nbins - 1),
                F.expr(f"(__excl * {nbins}) div __n")).alias(out_col))
    keyed = mapping.select(
        *[F.col(c).alias(f"__k{i}") for i, c in enumerate(g)],
        F.col(value_col).alias("__kv"), out_col)
    cond = F.col(value_col) == F.col("__kv")
    for i, c in enumerate(g):
        cond = cond & F.col(c).eqNullSafe(F.col(f"__k{i}"))
    return (df.join(keyed, cond, "left")
            .drop("__kv", *[f"__k{i}" for i in range(len(g))]))


def token_dist_divergence(corpus_a: DataFrame, corpus_b: DataFrame,
                          text_col: str = "text") -> DataFrame:
    """Cross-entropy drift between two corpus snapshots' unigram
    distributions, in the engine-wide floor-log2 integer idiom — the
    "did this month's crawl shift?" health check run before mixing a new
    snapshot into training data (the same statistic CCNet-style pipelines
    eyeball as a perplexity delta, made hash-stable).

    Both directions of the add-one-smoothed cross entropy:
    ``xab_bits = Σ_t cA(t) · bits((TB + V) div (cB(t) + 1))`` (how
    surprising A's tokens are under B's distribution, in whole bits) and
    the mirrored ``xba_bits``; ``bits(x) = length(bin(x)) − 1``.
    Identical corpora give xab ≈ xba ≈ the corpus self-entropy; a drifted
    snapshot inflates the cross terms. Laplace (+1 over the union
    vocabulary V) keeps out-of-vocabulary tokens finite and the
    arithmetic integer-exact in both engines.

    Returns one row ``(ta, tb, v_union, xab_bits, xba_bits,
    xab_mean_milli, xba_mean_milli)`` (means = 1000·Σ div T).

    Scale shape: one tokenize scan per corpus, each collapsed to its
    |vocab|-row count relation; a full-outer join on the token key; the
    three scalars ride one broadcast 1-row join. Never a per-document or
    per-pair state.
    """
    def counts(df, name):
        toks = df.select(F.explode(F.regexp_extract_all(
            F.lower(F.col(text_col)), F.lit(WORD_TOKEN_RE), F.lit(0)
        )).alias("term"))
        return toks.groupBy("term").agg(F.count(F.lit(1)).alias(name))

    ca = counts(corpus_a, "ca")
    cb = counts(corpus_b, "cb")
    joined = (
        ca.join(cb, "term", "full_outer")
        .select(F.coalesce("ca", F.lit(0)).alias("ca"),
                F.coalesce("cb", F.lit(0)).alias("cb"))
    )
    scal = joined.agg(F.sum("ca").alias("ta"), F.sum("cb").alias("tb"),
                      F.count(F.lit(1)).alias("v_union"))
    bits = joined.join(F.broadcast(scal)).agg(
        F.max("ta").alias("ta"), F.max("tb").alias("tb"),
        F.max("v_union").alias("v_union"),
        F.sum(F.col("ca") * (F.length(F.bin(
            F.expr("(tb + v_union) div (cb + 1)"))) - 1)).alias("xab_bits"),
        F.sum(F.col("cb") * (F.length(F.bin(
            F.expr("(ta + v_union) div (ca + 1)"))) - 1)).alias("xba_bits"),
    )
    return bits.select(
        "ta", "tb", F.col("v_union").cast("long").alias("v_union"),
        F.col("xab_bits").cast("long").alias("xab_bits"),
        F.col("xba_bits").cast("long").alias("xba_bits"),
        F.expr("(1000 * xab_bits) div ta").alias("xab_mean_milli"),
        F.expr("(1000 * xba_bits) div tb").alias("xba_mean_milli"),
    )


def bigram_surprisal(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Per-document bigram Stupid-Backoff surprisal in floor-log2 bits
    (Brants et al. 2007, with backoff factor α = ½ so the penalty is
    EXACTLY one bit and the score stays integer) — the closest
    hash-stable analogue of the KenLM perplexity filter, one order up
    from :func:`token_surprisal`: implausible token SEQUENCES (shuffled
    text, keyword stuffing, wrong-language runs) score high where
    unigram statistics look normal. Self-scoring form — every bigram is
    by construction present in its own corpus, so this is
    ``score_bigrams(docs, docs)`` and backoffs never fire; use
    :func:`score_bigrams` to score a new crawl against a trusted
    reference corpus (the actual filter deployment).

    Returns ``(id_col, n_bigrams, n_backoffs, sb_bits,
    mean_bits_milli)``; docs with < 2 tokens are absent."""
    return score_bigrams(docs, docs, id_col=id_col, text_col=text_col)


def score_bigrams(docs: DataFrame, ref_docs: DataFrame,
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Stupid-Backoff bigram scoring of ``docs`` against a REFERENCE
    corpus's counts (α = ½ ⇒ exactly +1 bit per backoff — see
    :func:`bigram_surprisal`): unseen reference bigrams back off to the
    reference unigram, unseen unigrams to the uniform 1/(T+V) floor.
    This is the held-out form (the actual filter: score the new crawl
    against the trusted corpus). Same plan shape; the reference relations
    are |vocab|- and |bigram-vocab|-sized."""
    rtoks = ref_docs.select(
        F.posexplode(
            F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit(WORD_TOKEN_RE), F.lit(0)
            )
        ).alias("pos", "term"),
        F.col(id_col).alias("__rid"),
    )
    wr = Window.partitionBy("__rid").orderBy("pos")
    runi = rtoks.groupBy(F.col("term")).agg(F.count(F.lit(1)).alias("cu"))
    rbi = (rtoks.select(F.col("term").alias("w1"),
                        F.lead("term").over(wr).alias("w2"))
           .filter(F.col("w2").isNotNull())
           .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb")))
    rtot = runi.agg(F.sum("cu").alias("__T"),
                    F.count(F.lit(1)).alias("__V"))
    toks = docs.select(
        F.col(id_col),
        F.posexplode(
            F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit(WORD_TOKEN_RE), F.lit(0)
            )
        ).alias("pos", "term"),
    )
    wdoc = Window.partitionBy(id_col).orderBy("pos")
    pairs = toks.select(
        F.col(id_col), F.col("term").alias("w1"),
        F.lead("term").over(wdoc).alias("w2"),
    ).filter(F.col("w2").isNotNull())
    scored = (
        pairs.join(rbi, ["w1", "w2"], "left")
        .join(runi.select(F.col("term").alias("w1"),
                          F.col("cu").alias("c1")), "w1", "left")
        .join(runi.select(F.col("term").alias("w2"),
                          F.col("cu").alias("c2")), "w2", "left")
        .join(F.broadcast(rtot))
        .select(
            F.col(id_col),
            F.when(
                F.col("cb").isNotNull(),
                F.length(F.bin(F.expr("c1 div cb"))) - 1
            ).when(
                F.col("c2").isNotNull(),
                F.lit(1) + F.length(F.bin(F.expr("(__T + __V) div c2"))) - 1
            ).otherwise(
                F.lit(1) + F.length(F.bin(F.expr("__T + __V"))) - 1
            ).alias("__bits"),
            F.when(F.col("cb").isNotNull(), F.lit(0)).otherwise(F.lit(1))
            .alias("__backoff"),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_bigrams"),
             F.sum("__backoff").cast("long").alias("n_backoffs"),
             F.sum("__bits").cast("long").alias("sb_bits"))
        .select(id_col, "n_bigrams", "n_backoffs", "sb_bits",
                F.expr("(1000 * sb_bits) div n_bigrams")
                .alias("mean_bits_milli"))
    )


def grouped_median_mad(df: DataFrame, group_cols: Sequence[str],
                       value_col: str) -> DataFrame:
    """Median and MAD (median absolute deviation) per group — the robust
    location/scale pair for outlier rules (`|x − med| > k·MAD`) where
    mean/variance get dragged by the very outliers being hunted. Both
    medians use ``percentile_disc`` semantics (an actual data value —
    engine-portable, hash-stable; see :func:`grouped_quantiles`).

    Two passes by necessity (MAD is a median OF deviations from the
    group median): each is one group-keyed shuffle — pass 1 reuses
    ``grouped_quantiles``, pass 2 joins the ≤|groups|-row median
    relation back (broadcast-sized) and ranks |x − med|. Returns
    ``(group_cols…, median, mad)``.
    """
    g = list(group_cols)
    med = grouped_quantiles(df, g, value_col, [0.5]).select(
        *g, F.col("q_500").alias("median"))
    dev = df.join(F.broadcast(med), g).select(
        *g, "median",
        F.abs(F.col(value_col) - F.col("median")).alias("__dev"))
    mad = grouped_quantiles(dev, g, "__dev", [0.5]).select(
        *g, F.col("q_500").alias("mad"))
    return med.join(mad, g)


@scoped
def perceptron_train(features: DataFrame, labels: DataFrame,
                     iters: int = 3, lr: int = 1,
                     id_col: str = "doc_id"):
    """Distributed training of the linear quality classifier that
    :func:`linear_score` applies — the missing half of the fastText-style
    filtering recipe (Joulin et al. 2017; CCNet / DCLM / FineWeb train a
    small linear model, then score the corpus). Batch perceptron: per
    iteration, every currently-misclassified document contributes
    ``y·tf`` to its buckets' weight deltas (Minsky & Papert's perceptron
    in its order-independent batch form — updates are SUMS, so the pass
    is one aggregation and the result is bit-identical on any
    partitioning, unlike sequential SGD).

    All arithmetic is INTEGER (``lr`` included), so trained weights are
    engine-portable and hash-stable — the same property
    :func:`linear_score` demands of its input weights.

    ``features`` is the :func:`hashed_tf` relation ``(id, bucket, tf)``;
    ``labels`` maps ``(id, label)`` with label in {0,1}. Returns
    ``(weights DataFrame (bucket, w), bias: int, errors: list[int])``
    where ``errors[i]`` counts misclassified docs entering iteration i
    (training stops early at 0).

    Scale shape per iteration: score = broadcast-join current weights
    (≤ n_features rows) + one id-keyed sum; delta = one semi-join of the
    feature relation against misclassified ids + one bucket-keyed sum
    collected to the driver (≤ n_features rows — aggregate-sized, the
    same driver-state budget as k-means centroids). The feature relation
    is cached once; nothing doc-cardinality ever reaches the driver.
    """
    spark = features.sparkSession
    y = (F.col("label").cast("long") * 2 - 1).alias("y")
    lab = labels.select(F.col(id_col), y)
    f = cache(features.join(lab, id_col).select(
        id_col, "bucket", F.col("tf").cast("long"), "y"))
    f.count()
    wt: dict = {}
    bias = 0
    errors = []
    for _ in range(int(iters)):
        wdf = local_df(spark, list(wt.items()), "bucket long, w long")
        scores = (
            f.join(F.broadcast(wdf), "bucket", "left")
            .groupBy(id_col, "y")
            .agg(F.coalesce(F.sum(F.col("tf") * F.col("w")),
                            F.lit(0)).alias("s"))
        )
        # checkpoint the misclassified set: the error-count collect
        # materializes it, and the delta pass then SEMI-JOINS against
        # the materialized ids instead of re-running the whole
        # score-join+aggregation a second time (the r13 shape computed
        # scores twice per iteration — guide §2.4, don't recompute)
        mis = checkpoint(scores.filter(
            F.col("y") * (F.lit(bias) + F.col("s")) <= 0
        ).select(id_col, "y"), eager=False)
        st = mis.agg(F.count(F.lit(1)).alias("n"),
                     F.coalesce(F.sum("y"), F.lit(0)).alias("sy")
                     ).collect()[0]
        errors.append(st.n)
        if st.n == 0:
            break
        # the measured error count drives the join strategy: a small
        # misclassified set broadcasts (no shuffle of the feature
        # relation at all); a large one falls back to the shuffled
        # semi-join (guide §3.1 — decide from real counts, not
        # estimates)
        mis_ids = mis.select(id_col)
        if st.n <= 1_000_000:
            mis_ids = F.broadcast(mis_ids)
        delta = (
            f.join(mis_ids, id_col, "left_semi")
            .groupBy("bucket")
            .agg(F.sum(F.col("y") * F.col("tf")).alias("d"))
            .collect()
        )
        free(mis)
        for r in delta:
            wt[r.bucket] = wt.get(r.bucket, 0) + int(lr) * r.d
        bias += int(lr) * st.sy
    wout = local_df(spark, sorted(wt.items()), "bucket long, w long").filter(F.col("w") != 0)
    return wout, bias, errors


def kneser_ney_score_bigrams(docs: DataFrame, ref_docs: DataFrame,
                             discount_milli: int = 750,
                             id_col: str = "doc_id",
                             text_col: str = "text") -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring in fixed point — the
    classic LM (Kneser & Ney 1995; Chen & Goodman 1999's interpolated
    form) that :func:`score_bigrams`'s Stupid Backoff approximates:

        P(w2|w1) = max(c(w1w2) − D, 0)/c(w1·) + λ(w1)·Pcont(w2)
        λ(w1)   = D·N1+(w1·)/c(w1·)
        Pcont(w2) = N1+(·w2) / |bigram types|

    with everything in integer micro-probabilities (the discount ``D``
    is ``discount_milli``/1000, the published default 0.75) and the
    per-bigram cost the whole-bit ``len(bin(10⁶ div max(p,1)))−1`` —
    the engine-wide hash-stable floor-log2 idiom. An unseen history
    backs off fully to the continuation probability; a pair whose
    probability floors to 0 micro pays the ~20-bit cap.

    Scale shape identical to :func:`score_bigrams`: the reference
    relations are |bigram-vocab|-sized aggregations joined onto the
    scored corpus pairs; one doc-keyed sum. Returns ``(id_col,
    n_bigrams, n_unseen, kn_bits, mean_bits_milli)``."""
    D = int(discount_milli)
    rtoks = ref_docs.select(
        F.posexplode(
            F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit(WORD_TOKEN_RE), F.lit(0)
            )
        ).alias("pos", "term"),
        F.col(id_col).alias("__rid"),
    )
    wr = Window.partitionBy("__rid").orderBy("pos")
    rbi = (rtoks.select(F.col("term").alias("w1"),
                        F.lead("term").over(wr).alias("w2"))
           .filter(F.col("w2").isNotNull())
           .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb")))
    hist = rbi.groupBy("w1").agg(F.sum("cb").alias("c1b"),
                                 F.count(F.lit(1)).alias("n1f"))
    cont = rbi.groupBy("w2").agg(F.count(F.lit(1)).alias("n1b"))
    btypes = rbi.agg(F.count(F.lit(1)).alias("__BT"))
    toks = docs.select(
        F.col(id_col),
        F.posexplode(
            F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit(WORD_TOKEN_RE), F.lit(0)
            )
        ).alias("pos", "term"),
    )
    wd = Window.partitionBy(id_col).orderBy("pos")
    pairs = toks.select(
        F.col(id_col), F.col("term").alias("w1"),
        F.lead("term").over(wd).alias("w2"),
    ).filter(F.col("w2").isNotNull())
    scored = (
        pairs.join(rbi, ["w1", "w2"], "left")
        .join(hist, "w1", "left")
        .join(cont, "w2", "left")
        .join(F.broadcast(btypes))
        .withColumn("__pc", F.expr("(1000000 * coalesce(n1b, 0)) div __BT"))
        .withColumn("__p", F.when(
            F.col("c1b").isNotNull(),
            F.expr(f"(greatest(1000 * coalesce(cb, 0) - {D}, 0) * 1000000)"
                   f" div (1000 * c1b)")
            + F.expr(f"({D} * n1f * __pc) div (1000 * c1b)"))
         .otherwise(F.col("__pc")))
        .select(
            F.col(id_col),
            (F.length(F.bin(F.expr("1000000 div greatest(__p, 1)"))) - 1)
            .alias("__bits"),
            F.col("cb").isNull().cast("long").alias("__unseen"),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_bigrams"),
             F.sum("__unseen").cast("long").alias("n_unseen"),
             F.sum("__bits").cast("long").alias("kn_bits"))
        .select(id_col, "n_bigrams", "n_unseen", "kn_bits",
                F.expr("(1000 * kn_bits) div n_bigrams")
                .alias("mean_bits_milli"))
    )
