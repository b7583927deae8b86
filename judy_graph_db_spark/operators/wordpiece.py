"""WordPiece tokenization (Wu et al. 2016, the BERT tokenizer family) —
greedy longest-match-first segmentation with ``##`` continuation pieces.
Third subword family beside :mod:`~judy_graph_db_spark.operators.bpe`
(merge-rule encoding) and :mod:`~judy_graph_db_spark.operators.unigram`
(Viterbi min-cost): same corpus-side shape (segment each DISTINCT word
once in an Arrow ``mapInPandas`` stage against a broadcast vocabulary,
join back), different selection rule — greedy longest prefix, whole word
collapsing to ``[UNK]`` when any position fails to match (the published
WordPiece behavior, unlike BPE's partial fallback).

Reference: judy-graph-db has no tokenizer surface (parity-plus); the
greedy algorithm is the public one from the BERT repo / HF tokenizers.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from judy_graph_db_spark.schema import union_all

UNK = "[UNK]"


def wordpiece_vocab_from_pieces(pieces: DataFrame,
                                piece_col: str = "piece") -> DataFrame:
    """Expand a bare piece inventory (e.g. the unigram seed vocabulary)
    into a WordPiece vocabulary: every piece in word-initial form AND in
    ``##`` continuation form. |vocab|-sized relation — broadcastable by
    construction."""
    p = pieces.select(F.col(piece_col).alias("piece")).distinct()
    return union_all(
        [p, p.select(F.concat(F.lit("##"), "piece").alias("piece"))], by_name=True)


def _greedy(word: str, vocab: set, k: int, max_pieces: int) -> list:
    out = []
    pos, n = 0, len(word)
    while pos < n:
        best = None
        for ln in range(min(k, n - pos), 0, -1):
            cand = word[pos:pos + ln]
            if pos:
                cand = "##" + cand
            if cand in vocab:
                best = (ln, cand)
                break
        if best is None or len(out) >= max_pieces:
            return [UNK]
        out.append(best[1])
        pos += best[0]
    return out


def wordpiece_segment_words(words: DataFrame, vocab: DataFrame,
                            max_piece_len: int = 4,
                            max_pieces: int = 64,
                            piece_col: str = "piece") -> DataFrame:
    """Greedy-segment each row of ``words`` (a ``word`` column; other
    columns pass through) against the WordPiece vocabulary. The vocab is
    |pieces|-sized — it collects once and broadcasts into an Arrow
    ``mapInPandas`` stage, so the pass is shuffle-free exactly like
    :func:`unigram.unigram_segment_words`. Adds ``pieces
    array<string>, n_pieces, is_unk``; a word that fails at any position
    (or exceeds ``max_pieces``) becomes the single piece ``[UNK]`` with
    ``is_unk = true``."""
    from pyspark.sql.types import (ArrayType, BooleanType, LongType,
                                   StringType, StructField, StructType)

    vset = {r["piece"] for r in
            vocab.select(F.col(piece_col).alias("piece")).collect()}
    bc = words.sparkSession.sparkContext.broadcast(vset)
    k, mp = int(max_piece_len), int(max_pieces)
    out_schema = StructType(
        list(words.schema.fields)
        + [StructField("pieces", ArrayType(StringType())),
           StructField("n_pieces", LongType()),
           StructField("is_unk", BooleanType())]
    )

    def run(batches: Iterator) -> Iterator:
        import pandas as pd  # noqa: PLC0415

        v = bc.value
        for pdf in batches:
            segs = [_greedy(w, v, k, mp) for w in pdf["word"]]
            pdf = pdf.copy()
            pdf["pieces"] = pd.Series(segs, index=pdf.index)
            pdf["n_pieces"] = pd.Series([len(s) for s in segs],
                                        index=pdf.index)
            pdf["is_unk"] = pd.Series([s == [UNK] for s in segs],
                                      index=pdf.index)
            yield pdf

    return words.mapInPandas(run, schema=out_schema)


def wordpiece_encode(docs: DataFrame, vocab: DataFrame,
                     id_col: str = "doc_id", text_col: str = "text",
                     max_piece_len: int = 4,
                     max_pieces: int = 64) -> DataFrame:
    """Tokenize documents with a WordPiece vocabulary:
    ``(id_col, word_pos, piece_pos, piece)`` — the same output shape as
    ``bpe_encode`` / ``unigram_encode``. Each DISTINCT word segments
    once; the per-token cost is one hash join back."""
    from judy_graph_db_spark.operators.unigram import WORD_TOKEN_RE

    toks = docs.select(
        F.col(id_col),
        F.posexplode(
            F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit(WORD_TOKEN_RE), F.lit(0)
            )
        ).alias("word_pos", "word"),
    )
    seg = wordpiece_segment_words(
        toks.select("word").distinct(), vocab, max_piece_len, max_pieces)
    return (
        toks.join(seg.select("word", "pieces"), "word")
        .select(
            id_col, F.col("word_pos").cast("long").alias("word_pos"),
            F.posexplode("pieces").alias("piece_pos", "piece"),
        )
        .withColumn("piece_pos", F.col("piece_pos").cast("long"))
    )


# --- DuckDB twin -------------------------------------------------------------


def wordpiece_segment_oracle_sql(max_piece_len: int = 4,
                                 seed_size: int = 512,
                                 max_word_len: int = 12,
                                 where_word: str = "TRUE",
                                 text_col: str = "text",
                                 table: str = "documents",
                                 min_word_freq: int = 1) -> str:
    """Twin of :func:`wordpiece_segment_words` over
    :func:`wordpiece_vocab_from_pieces` of the unigram seed vocabulary:
    the greedy longest-match loop UNROLLED step by step (each step
    consumes ≥1 character, so ``max_word_len`` steps always terminate).
    Step state ``(word, pos, toks, failed)``; the best match at a
    position is the MAX matching core length via a correlated subquery
    over the |vocab| relation — the piece text is then derivable as
    ``word[pos : pos+len-1]`` (with the ``##`` mark when pos>1), so no
    second join. Returns ``(word, toks, n_pieces, is_unk)`` with toks =
    '|'-joined pieces ('[UNK]' on failure), exactly the Python worker's
    output."""
    from judy_graph_db_spark.operators.unigram import _seed_cte_sql
    from judy_graph_db_spark.oracle import WORD_TOKEN_RE_SQL

    maxw = int(max_word_len)
    chain = _seed_cte_sql(max_piece_len, seed_size, text_col, table,
                          WORD_TOKEN_RE_SQL, min_word_freq)
    parts = [chain, f""", wpv AS MATERIALIZED (
  SELECT piece AS core, FALSE AS is_cont FROM uv
  UNION ALL
  SELECT piece, TRUE FROM uv
), wpw AS MATERIALIZED (
  SELECT word FROM uw WHERE len(word) <= {maxw} AND ({where_word})
), g0 AS (
  SELECT word, 1 AS pos, '' AS toks, 0 AS np, FALSE AS failed FROM wpw
)"""]
    for i in range(maxw):
        parts.append(f""", s{i} AS (
  SELECT g.word, g.pos, g.toks, g.np, g.failed,
         (SELECT MAX(len(v.core)) FROM wpv v
          WHERE v.is_cont = (g.pos > 1)
            AND v.core = g.word[g.pos : g.pos + len(v.core) - 1]) AS bl
  FROM g{i} g
), g{i + 1} AS (
  SELECT word,
         CASE WHEN failed OR pos > len(word) THEN pos
              WHEN bl IS NULL THEN pos ELSE pos + bl END AS pos,
         CASE WHEN failed OR pos > len(word) OR bl IS NULL THEN toks
              WHEN pos > 1 THEN toks || '|##' || word[pos : pos + bl - 1]
              WHEN toks = '' THEN word[pos : pos + bl - 1]
              ELSE toks || '|' || word[pos : pos + bl - 1] END AS toks,
         CASE WHEN failed OR pos > len(word) OR bl IS NULL THEN np
              ELSE np + 1 END AS np,
         failed OR (pos <= len(word) AND bl IS NULL) AS failed
  FROM s{i}
)""")
    parts.append(f"""
SELECT word,
       CASE WHEN failed THEN '[UNK]' ELSE toks END AS toks,
       CAST(CASE WHEN failed THEN 1 ELSE np END AS BIGINT) AS n_pieces,
       failed AS is_unk
FROM g{maxw}""")
    return "\n".join(parts)


def wordpiece_emit_oracle_sql(seq_len: int = 64, max_piece_len: int = 4,
                              seed_size: int = 512,
                              max_word_len: int = 12,
                              text_col: str = "text",
                              table: str = "documents",
                              min_word_freq: int = 1) -> str:
    """Twin of the full tokenize-and-pack path:
    ``wordpiece_encode`` over :func:`wordpiece_vocab_from_pieces` of the
    unigram seed (ids = dense rank over piece text, EOD id 0) fed into
    ``curation.emit_training_sequences`` — complete ``seq_len``
    sequences only. Returns ``(seq_id, toks, n_tokens)`` with toks =
    '|'-joined token ids in order. The global prefix sum is one
    corpus-sized window here (oracle scale); Spark uses the two-pass
    partition-subtotal shape."""
    from judy_graph_db_spark.oracle import WORD_TOKEN_RE_SQL

    seg = wordpiece_segment_oracle_sql(
        max_piece_len, seed_size, max_word_len, "TRUE",
        text_col, table, min_word_freq)
    from judy_graph_db_spark.operators.unigram import \
        unigram_seed_oracle_sql
    seed = unigram_seed_oracle_sql(max_piece_len, seed_size, text_col,
                                   table, min_word_freq)
    return f"""
WITH em_seg AS (SELECT word, toks FROM ({seg})),
em_vocab AS (
  SELECT piece,
         CAST(ROW_NUMBER() OVER (ORDER BY piece) AS BIGINT) AS token_id
  FROM (SELECT piece FROM ({seed})
        UNION ALL SELECT '##' || piece FROM ({seed}))
),
em_words AS (
  SELECT doc_id, i - 1 AS word_pos, ts[i] AS word
  FROM (SELECT doc_id,
               regexp_extract_all(lower({text_col}), {WORD_TOKEN_RE_SQL})
                 AS ts
        FROM {table}),
       unnest(generate_series(1, len(ts))) AS u(i)
),
em_p AS (
  SELECT w.doc_id, w.word_pos, p.piece_pos - 1 AS piece_pos, p.piece
  FROM em_words w
  JOIN em_seg s ON s.word = w.word,
  LATERAL (SELECT UNNEST(string_split(s.toks, '|')) AS piece,
                  generate_subscripts(string_split(s.toks, '|'), 1)
                    AS piece_pos) p
),
em_i AS (
  SELECT e.doc_id,
         ROW_NUMBER() OVER (PARTITION BY e.doc_id
           ORDER BY e.word_pos, e.piece_pos) - 1 AS li,
         v.token_id
  FROM em_p e JOIN em_vocab v ON v.piece = e.piece
),
em_n AS (
  SELECT doc_id, CAST(COUNT(*) + 1 AS BIGINT) AS n FROM em_i GROUP BY 1
),
em_s AS (
  SELECT doc_id, n,
         CAST(SUM(n) OVER (ORDER BY doc_id
              ROWS UNBOUNDED PRECEDING) - n AS BIGINT) AS st
  FROM em_n
),
em_stream AS (
  SELECT s.st + i.li AS gpos, i.token_id
  FROM em_i i JOIN em_s s USING (doc_id)
  UNION ALL
  SELECT st + n - 1, CAST(0 AS BIGINT) FROM em_s
),
em_t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM em_n)
SELECT CAST(gpos // {int(seq_len)} AS BIGINT) AS seq_id,
       string_agg(token_id, '|' ORDER BY gpos) AS toks,
       CAST(COUNT(*) AS BIGINT) AS n_tokens
FROM em_stream, em_t
WHERE gpos // {int(seq_len)} < total // {int(seq_len)}
GROUP BY 1"""
