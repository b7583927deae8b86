"""Unigram-LM subword tokenizer (Kudo 2018, arXiv:1804.10959) as
relational operators — the SentencePiece-family counterpart of
``operators.bpe``: instead of learning a merge sequence, learn a PIECE
VOCABULARY with per-piece costs and segment each word by minimum-cost
(Viterbi) decomposition.

Spark-first shape, mirroring the BPE module's scale analysis: the corpus
is scanned exactly once into the |distinct words| frequency table; seeding
is one substring explode + one keyed aggregation over that table; each
training round is one Arrow-batched segmentation pass over the word table
plus one piece-count aggregation — all vocabulary-sized relations, never
corpus-sized.  The only driver-side movement is the piece-cost table (a
few thousand rows) broadcast to the Viterbi workers.

Determinism / oracle story (the house integer-exactness rule): piece
costs are WHOLE BITS — ``cost(p) = len(bin(total div cnt_p))`` =
``floor(log2(total/cnt_p)) + 1`` — the engine-wide integer-log2 idiom, so
Spark, the Python Viterbi, and the DuckDB twin agree exactly where float
log-probs would not hash-gate.  A segmentation is scored by the packed
integer ``total_cost * PACK + n_pieces`` (additive per piece:
``cost*PACK + 1``), making "minimum cost, then fewest pieces" a single
MIN both engines compute.  The no-carry invariant is ``n_pieces ≤ word
length < PACK``: with ``PACK = 2**20`` any word under ~1M characters
packs exactly (WORD_TOKEN_RE admits arbitrarily long alphanumeric runs
— base64 blobs, URLs — so the old PACK=64 bound was violable);
segmentation raises loudly on longer words rather than silently
mis-ranking them.
Training is the deterministic hard-EM (Viterbi-EM) variant: the E-step
takes each word's single best segmentation instead of expected counts
over all segmentations — coarser than Kudo's full EM + ~20%-prune
schedule, but a deterministic function of its input, which is what lets
the driver gate hash it.  (Whole-bit costs are the gate currency; at
production scale swap ``cost_expr`` for milli-bit floats if finer scores
matter more than hashability.)

Reference parity note: judy-graph-db has no tokenizer surface at all
(parity-plus, like the rest of the LLM-pipeline operators); the
vocabulary/cost tables here feed the same downstream shard/pack operators
the BPE path does.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, functions as F

from judy_graph_db_spark.functions.text import WORD_TOKEN_RE
from judy_graph_db_spark.loopstate import checkpoint, free, scoped
from judy_graph_db_spark.schema import union_all

__all__ = [
    "unigram_seed_vocab", "with_piece_costs", "unigram_segment_words",
    "unigram_train", "unigram_encode", "unigram_seed_oracle_sql",
    "unigram_segment_oracle_sql",
]

#: packed segmentation score = cost_bits * PACK + n_pieces (see module
#: doc); n_pieces ≤ word length must stay < PACK for the fields not to
#: carry — 2**20 covers any non-pathological token, and _viterbi raises
#: on longer words instead of silently mis-ranking
PACK = 1 << 20

#: per-character cost for characters outside the vocabulary (only possible
#: when segmenting text the vocab was not trained on)
UNK_COST_BITS = 64


def _word_table(docs: DataFrame, text_col: str,
                min_word_freq: int) -> DataFrame:
    """(word, freq) over the same lower+WORD_TOKEN_RE tokenization BPE
    uses — one corpus scan, |distinct words| rows."""
    return (
        docs.select(
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.col(text_col)), F.lit(WORD_TOKEN_RE), F.lit(0)
                )
            ).alias("word")
        )
        .groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") >= F.lit(int(min_word_freq)))
    )


def unigram_seed_vocab(docs: DataFrame, max_piece_len: int = 4,
                       seed_size: int = 512, text_col: str = "text",
                       min_word_freq: int = 1) -> DataFrame:
    """Seed piece vocabulary: every single character, plus the
    ``seed_size`` most frequent multi-character substrings of length
    ≤ ``max_piece_len`` (count = occurrences weighted by word frequency,
    tiebreak piece ASC).  Kudo seeds from frequent substrings the same
    way (§3.2 "a reasonably big seed vocabulary"); the substring explode
    runs over the |distinct words| table, not the corpus, and the top-N
    is one aggregate-sized sort.  Returns ``(piece, cnt)``.
    """
    words = _word_table(docs, text_col, min_word_freq)
    k = int(max_piece_len)
    subs = (
        words.select(
            "freq",
            F.explode(F.expr(
                f"flatten(transform(sequence(1, length(word)), "
                f"i -> transform(sequence(i, least(length(word), i + {k} - 1)), "
                f"j -> substring(word, i, j - i + 1))))"
            )).alias("piece"),
        )
        .groupBy("piece").agg(F.sum("freq").alias("cnt"))
    )
    chars = subs.filter(F.length("piece") == 1)
    multi = (
        subs.filter(F.length("piece") >= 2)
        .orderBy(F.col("cnt").desc(), F.col("piece").asc())
        .limit(int(seed_size))
    )
    return union_all([chars, multi], by_name=True)


def with_piece_costs(vocab: DataFrame) -> DataFrame:
    """Attach the whole-bit cost ``len(bin(total div cnt))`` =
    ``floor(log2(total/cnt)) + 1`` (≥ 1 so no piece is free) to a
    ``(piece, cnt)`` vocabulary; ``total`` joins in as a broadcast 1-row
    aggregate.  Returns ``(piece, cnt, cost_bits)``."""
    total = vocab.agg(F.sum("cnt").alias("_T"))
    return (
        vocab.join(F.broadcast(total))
        .select(
            "piece", "cnt",
            F.expr("CAST(length(bin(_T div cnt)) AS BIGINT)")
            .alias("cost_bits"),
        )
    )


def _viterbi(word: str, costs: dict, max_piece_len: int,
             unk_cost: int) -> tuple:
    """Min-packed-cost segmentation: dp over end positions, candidates =
    vocabulary pieces ending there (longest candidate considered first, so
    equal-cost ties resolve to the longer last piece — deterministic).
    Returns (pieces, packed). Raises on words of PACK (2**20) or more
    characters — the packed score's n_pieces field would carry into the
    cost field and the min would silently mis-rank."""
    n = len(word)
    if n >= PACK:
        raise ValueError(
            f"unigram segmentation word length {n} >= PACK ({PACK}); "
            "pre-filter pathological tokens (base64 blobs, data URLs) "
            "before segmenting")
    dp = [None] * (n + 1)
    back = [0] * (n + 1)
    dp[0] = 0
    for i in range(1, n + 1):
        best, bj = None, None
        for j in range(max(0, i - max_piece_len), i):
            if dp[j] is None:
                continue
            c = costs.get(word[j:i])
            if c is None:
                if i - j == 1:
                    c = unk_cost  # unseen character
                else:
                    continue
            v = dp[j] + c * PACK + 1
            if best is None or v < best:
                best, bj = v, j
        dp[i], back[i] = best, bj
    pieces, i = [], n
    while i > 0:
        pieces.append(word[back[i]:i])
        i = back[i]
    pieces.reverse()
    return pieces, dp[n]


def unigram_segment_words(words: DataFrame, costed_vocab: DataFrame,
                          max_piece_len: int = 4,
                          unk_cost_bits: int = UNK_COST_BITS) -> DataFrame:
    """Viterbi-segment each row of ``words`` (any DataFrame with a
    ``word`` column; other columns pass through) against
    ``(piece, cost_bits)``.  The cost table is vocabulary-sized — it
    collects once and broadcasts to an Arrow ``mapInPandas`` stage, so
    the pass over the word table is embarrassingly parallel with no
    shuffle.  Adds ``pieces array<string>, n_pieces, cost_bits, packed``
    (``packed = cost_bits*64 + n_pieces``, the gate-hashed score)."""
    from pyspark.sql.types import (ArrayType, LongType, StringType,
                                   StructField, StructType)

    cost_map = {r["piece"]: int(r["cost_bits"])
                for r in costed_vocab.select("piece", "cost_bits").collect()}
    spark = words.sparkSession
    bc = spark.sparkContext.broadcast(cost_map)
    k, unk = int(max_piece_len), int(unk_cost_bits)
    out_schema = StructType(
        list(words.schema.fields)
        + [StructField("pieces", ArrayType(StringType())),
           StructField("n_pieces", LongType()),
           StructField("cost_bits", LongType()),
           StructField("packed", LongType())]
    )

    def run(batches: Iterator) -> Iterator:
        import pandas as pd  # noqa: PLC0415

        costs = bc.value
        for pdf in batches:
            segs = [_viterbi(w, costs, k, unk) for w in pdf["word"]]
            pdf = pdf.copy()
            pdf["pieces"] = pd.Series([p for p, _ in segs], index=pdf.index)
            pdf["n_pieces"] = pd.Series([len(p) for p, _ in segs],
                                        index=pdf.index)
            pdf["cost_bits"] = pd.Series([v // PACK for _, v in segs],
                                         index=pdf.index)
            pdf["packed"] = pd.Series([v for _, v in segs], index=pdf.index)
            yield pdf

    return words.mapInPandas(run, schema=out_schema)


@scoped
def unigram_train(docs: DataFrame, rounds: int = 2,
                  max_piece_len: int = 4, seed_size: int = 512,
                  vocab_size: int | None = None, text_col: str = "text",
                  min_word_freq: int = 1) -> DataFrame:
    """Hard-EM unigram-LM training: seed vocabulary → repeat ``rounds``
    times (Viterbi-segment the word table with current costs → re-count
    pieces from the winning segmentations, weighted by word frequency →
    prune to ``vocab_size`` → recompute costs).  Single characters are
    never pruned (Kudo §3.2 — keeps every word segmentable); unused
    single characters keep a floor count of 1.  Multi-character pieces
    that win no segmentation drop out; the survivors are the top
    ``vocab_size - |chars|`` by (count DESC, piece ASC).

    Returns the final ``(piece, cnt, cost_bits)`` table — feed it to
    :func:`unigram_segment_words` / :func:`unigram_encode`.

    Each round's shuffle profile: one piece explode + keyed aggregation
    over the |distinct words| relation; the segmentation itself is a
    shuffle-free broadcast mapInPandas pass.
    """
    words = checkpoint(_word_table(docs, text_col, min_word_freq), eager=True)
    vocab = unigram_seed_vocab(docs, max_piece_len, seed_size,
                               text_col, min_word_freq)
    costed = checkpoint(with_piece_costs(vocab), eager=True)
    chars = vocab.filter(F.length("piece") == 1).select("piece")
    for _ in range(int(rounds)):
        seg = unigram_segment_words(words, costed, max_piece_len)
        counts = (
            seg.select("freq", F.explode("pieces").alias("piece"))
            .groupBy("piece").agg(F.sum("freq").alias("cnt"))
        )
        kept_chars = (
            chars.join(counts, "piece", "left")
            .select("piece",
                    F.greatest(F.coalesce(F.col("cnt"), F.lit(0)),
                               F.lit(1)).alias("cnt"))
        )
        multi = counts.filter(F.length("piece") >= 2)
        if vocab_size is not None:
            n_chars = kept_chars.count()
            multi = (multi.orderBy(F.col("cnt").desc(), F.col("piece").asc())
                     .limit(max(0, int(vocab_size) - n_chars)))
        prev = costed
        costed = checkpoint(with_piece_costs(
            union_all([kept_chars, multi], by_name=True)), eager=True)
        free(prev)
    return costed


def unigram_encode(docs: DataFrame, costed_vocab: DataFrame,
                   id_col: str = "doc_id", text_col: str = "text",
                   max_piece_len: int = 4) -> DataFrame:
    """Tokenize documents into pieces with a trained unigram vocabulary:
    per document word position, the Viterbi pieces in order —
    ``(id_col, word_pos, piece_pos, piece)``, the same output shape as
    ``bpe_encode``.  Segments each DISTINCT word once and joins back, so
    the Viterbi cost is |vocabulary of the batch|, not |tokens|."""
    toks = docs.select(
        F.col(id_col),
        F.posexplode(
            F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit(WORD_TOKEN_RE), F.lit(0)
            )
        ).alias("word_pos", "word"),
    )
    seg = unigram_segment_words(
        toks.select("word").distinct(), costed_vocab, max_piece_len)
    return (
        toks.join(seg.select("word", "pieces"), "word")
        .select(
            id_col, F.col("word_pos").cast("long").alias("word_pos"),
            F.posexplode("pieces").alias("piece_pos", "piece"),
        )
        .withColumn("piece_pos", F.col("piece_pos").cast("long"))
    )


# --- DuckDB twins ------------------------------------------------------------

def _seed_cte_sql(max_piece_len: int, seed_size: int, text_col: str,
                  table: str, wre: str, min_word_freq: int) -> str:
    """Shared WITH-chain: word table ``uw``, substring counts ``us``,
    seed vocabulary ``uv`` (chars ∪ top-N multi), costs ``uc`` with the
    same whole-bit ``len(bin(total // cnt))`` cost."""
    k = int(max_piece_len)
    return f"""WITH uw AS MATERIALIZED (
  SELECT word, COUNT(*) AS freq FROM (
    SELECT unnest(regexp_extract_all(lower({text_col}), {wre})) AS word
    FROM {table}
  ) GROUP BY word HAVING COUNT(*) >= {int(min_word_freq)}
), us AS (
  SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
    SELECT freq,
           unnest(flatten(list_transform(generate_series(1, len(word)),
             i -> list_transform(
                    generate_series(i, least(len(word), i + {k} - 1)),
                    j -> word[i:j])))) AS piece
    FROM uw
  ) GROUP BY piece
), uv AS (
  SELECT piece, cnt FROM us WHERE len(piece) = 1
  UNION ALL
  SELECT piece, cnt FROM (
    SELECT piece, cnt FROM us WHERE len(piece) >= 2
    ORDER BY cnt DESC, piece ASC LIMIT {int(seed_size)}
  )
), uc AS MATERIALIZED (
  SELECT piece, cnt,
         CAST(length(bin(CAST(t.T // cnt AS BIGINT))) AS BIGINT) AS cost_bits
  FROM uv, (SELECT SUM(cnt) AS T FROM uv) t
)"""


def unigram_seed_oracle_sql(max_piece_len: int = 4, seed_size: int = 512,
                            text_col: str = "text",
                            table: str = "documents",
                            min_word_freq: int = 1,
                            word_token_re_sql: str | None = None) -> str:
    """Twin of :func:`unigram_seed_vocab` + :func:`with_piece_costs`:
    ``(piece, cnt, cost_bits)``."""
    from judy_graph_db_spark.oracle import WORD_TOKEN_RE_SQL

    wre = word_token_re_sql or WORD_TOKEN_RE_SQL
    chain = _seed_cte_sql(max_piece_len, seed_size, text_col, table, wre,
                          min_word_freq)
    return f"{chain}\nSELECT piece, cnt, cost_bits FROM uc"


def unigram_segment_oracle_sql(max_piece_len: int = 4, seed_size: int = 512,
                               max_word_len: int = 12,
                               where_word: str = "TRUE",
                               text_col: str = "text",
                               table: str = "documents",
                               min_word_freq: int = 1,
                               word_token_re_sql: str | None = None) -> str:
    """Twin of :func:`unigram_segment_words` over the seed vocabulary:
    for every distinct corpus word matching ``where_word`` with length ≤
    ``max_word_len``, the minimum packed segmentation score — the Viterbi
    DP unrolled position by position (``dp{i}`` = best packed cost of the
    first ``i`` characters, candidates = vocabulary pieces ending at
    ``i``), exactly the recurrence the Python worker runs.  Every single
    character of the corpus is in the seed by construction, so the DP
    always completes and the UNK branch can't fire.  Returns
    ``(word, packed, n_pieces)``."""
    from judy_graph_db_spark.oracle import WORD_TOKEN_RE_SQL

    wre = word_token_re_sql or WORD_TOKEN_RE_SQL
    k, maxw = int(max_piece_len), int(max_word_len)
    chain = _seed_cte_sql(max_piece_len, seed_size, text_col, table, wre,
                          min_word_freq)
    parts = [chain, f""", sw AS MATERIALIZED (
  SELECT word FROM uw
  WHERE len(word) <= {maxw} AND ({where_word})
), dp0 AS (
  SELECT word, CAST(0 AS BIGINT) AS v FROM sw
)"""]
    for i in range(1, maxw + 1):
        cands = []
        for plen in range(1, min(k, i) + 1):
            j = i - plen
            cands.append(
                f"SELECT d.word, d.v + c.cost_bits * {PACK} + 1 AS v\n"
                f"    FROM dp{j} d JOIN uc c ON c.piece = d.word[{j + 1}:{i}]\n"
                f"    WHERE len(d.word) >= {i}"
            )
        union = "\n    UNION ALL\n    ".join(cands)
        parts.append(f""", dp{i} AS (
  SELECT word, MIN(v) AS v FROM (
    {union}
  ) GROUP BY word
)""")
    finals = "\n  UNION ALL\n  ".join(
        f"SELECT word, v FROM dp{i} WHERE len(word) = {i}"
        for i in range(1, maxw + 1)
    )
    parts.append(f"""
SELECT word, CAST(v AS BIGINT) AS packed,
       CAST(v % {PACK} AS BIGINT) AS n_pieces
FROM (
  {finals}
)""")
    return "\n".join(parts)
