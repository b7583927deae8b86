"""Byte-pair-encoding merge training as relational operators.

The classic BPE trainer (Sennrich et al. 2016) is usually presented as an
in-memory loop over a Python dict; the scale-relevant observation is that
every merge round only needs the WORD-FREQUENCY table (|vocab| rows), not
the corpus — so the corpus is scanned exactly once (tokenize → word
counts), and each of the ``n_merges`` rounds is one adjacent-pair
aggregation + one narrow fold over that small relation. At 100 TB the
corpus scan dominates and parallelizes; the merge loop's shuffles are
vocabulary-sized.

Determinism: the best pair each round maximizes ``(count, a ASC, b ASC)``
(lexicographic tiebreak), and the in-word merge is the standard
left-to-right greedy pass, expressed as a fold (``F.aggregate`` here,
``list_reduce`` in the DuckDB twin) — so Spark and SQL produce identical
merge tables and identical final symbolizations, and the driver gate can
hash them.

The only driver-side data movement is the one-row best-pair scalar per
round (house rule: scalar collects only).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from judy_graph_db_spark.functions.text import WORD_TOKEN_RE
from judy_graph_db_spark.loopstate import checkpoint, scoped
from judy_graph_db_spark.schema import local_df

__all__ = ["bpe_train", "bpe_train_oracle_sql", "bpe_encode",
           "bpe_encode_oracle_sql"]


def _merge_fold(syms: Column, a: str, b: str) -> Column:
    """Left-to-right greedy merge of adjacent (a, b) into a||b — a fold
    whose accumulator is the merged prefix; a freshly-merged symbol can't
    merge again in the same pass because its value is ``a||b``, not ``a``
    (unless a==b, where the standard greedy skip falls out the same way).
    """
    al, bl = F.lit(a), F.lit(b)
    return F.aggregate(
        syms,
        F.expr("CAST(array() AS array<string>)"),
        lambda acc, x: F.when(
            (F.size(acc) > 0) & (F.element_at(acc, -1) == al) & (x == bl),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1),
                F.array(F.concat(F.element_at(acc, -1), x)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _apply_merge_local(syms: list, a: str, b: str) -> list:
    """Python twin of :func:`_merge_fold` — identical greedy semantics."""
    out: list = []
    for x in syms:
        if out and out[-1] == a and x == b:
            out[-1] = a + b
        else:
            out.append(x)
    return out


#: Fixed-point scale of the WordPiece likelihood score: the best pair
#: maximizes ``cnt(ab) / (cnt(a) * cnt(b))`` (Schuster & Nakajima 2012;
#: Wu et al. 2016 §3.1 — the merge that most increases corpus likelihood
#: under a unigram model).  Both engines compare the EXACT integer
#: ``cnt_ab * SCALE // (c_a * c_b)`` (Python bigint / Spark DECIMAL(38)
#: DIV / DuckDB HUGEINT ``//``), so Spark, the local loop, and the DuckDB
#: twin stay in lockstep with no float in the ordering.
WP_SCORE_SCALE = 10**12


def _wp_score(cnt_ab: int, c_a: int, c_b: int) -> int:
    return cnt_ab * WP_SCORE_SCALE // (c_a * c_b)


def _train_merges_local_likelihood(words: list, n_merges: int) -> list:
    """WordPiece-scored merge loop (see :data:`WP_SCORE_SCALE`): like
    :func:`_train_merges_local` but the per-round winner maximizes the
    likelihood score, whose denominator uses the CURRENT total count of
    each unit symbol.  Because every merge changes two unit counts (and
    thereby the score of every pair touching those units), lazy heap
    invalidation doesn't apply — selection is a full scan over the live
    pair table each round, O(|pairs|); fine for the 10k–30k merges a
    WordPiece vocab needs because |pairs| is alphabet²-bounded, not
    corpus-bounded.  Tiebreak: (score DESC, cnt DESC, a ASC, b ASC).
    ``words`` is mutated in place; returns ``[(rank, a, b, score), ...]``.
    """
    from collections import defaultdict  # noqa: PLC0415

    pair_counts: dict = defaultdict(int)
    pair_words: dict = defaultdict(set)
    sym_counts: dict = defaultdict(int)
    for idx, (syms, freq) in enumerate(words):
        for s in syms:
            sym_counts[s] += freq
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            pair_counts[p] += freq
            pair_words[p].add(idx)
    merges = []
    for rank in range(n_merges):
        best, best_key = None, None
        for p, c in pair_counts.items():
            if c <= 0:
                continue
            score = _wp_score(c, sym_counts[p[0]], sym_counts[p[1]])
            # maximize (score, cnt), minimize (a, b): negate the strings'
            # natural order by comparing in two stages
            key = (score, c)
            if best is None or key > best_key or (
                    key == best_key and (p[0], p[1]) < (best[0], best[1])):
                best, best_key = p, key
        if best is None:
            break
        a, b = best
        merges.append((rank, a, b, best_key[0]))
        for idx in list(pair_words.pop(best, ())):
            syms, freq = words[idx]
            for i in range(len(syms) - 1):
                pair_counts[(syms[i], syms[i + 1])] -= freq
            for s in syms:
                sym_counts[s] -= freq
            new = _apply_merge_local(syms, a, b)
            words[idx] = [new, freq]
            for s in new:
                sym_counts[s] += freq
            for i in range(len(new) - 1):
                p = (new[i], new[i + 1])
                pair_counts[p] += freq
                pair_words[p].add(idx)
        pair_counts.pop(best, None)
    return merges


def _train_merges_local(words: list, n_merges: int) -> list:
    """Classic in-memory BPE merge loop (Sennrich et al. 2016 `learn_bpe`)
    with incremental pair-count maintenance: each merge touches only the
    words that contain the merged pair (inverted index), not the whole
    table. Best-pair selection is a lazy-invalidation max-heap (the
    HF-tokenizers structure): every count change pushes a fresh
    ``(-count, a, b)`` entry, and pops discard entries whose count no
    longer matches — O(log |pairs|) selection per round instead of a full
    dict scan, which is what makes 30k-50k production merges tractable.
    The heap key reproduces the relational ``(count DESC, a ASC, b ASC)``
    order exactly. ``words`` is a list of ``[syms, freq]`` mutated in
    place; returns ``[(rank, a, b, count), ...]``.
    """
    import heapq  # noqa: PLC0415
    from collections import defaultdict  # noqa: PLC0415

    pair_counts: dict = defaultdict(int)
    pair_words: dict = defaultdict(set)
    heap: list = []

    def bump(p: tuple, delta: int) -> None:
        c = pair_counts[p] + delta
        pair_counts[p] = c
        if c > 0:
            heapq.heappush(heap, (-c, p))

    for idx, (syms, freq) in enumerate(words):
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            pair_counts[p] += freq
            pair_words[p].add(idx)
    for p, c in pair_counts.items():
        if c > 0:
            heapq.heappush(heap, (-c, p))
    merges = []
    for rank in range(n_merges):
        best, maxc = None, 0
        while heap:
            negc, p = heapq.heappop(heap)
            if pair_counts.get(p, 0) == -negc:  # live entry
                best, maxc = p, -negc
                break
        if best is None:
            break
        a, b = best
        merges.append((rank, a, b, maxc))
        # stale indices (word no longer contains the pair) are harmless:
        # the decrement/apply/increment below nets to zero for them
        for idx in list(pair_words.pop(best, ())):
            syms, freq = words[idx]
            for i in range(len(syms) - 1):
                bump((syms[i], syms[i + 1]), -freq)
            new = _apply_merge_local(syms, a, b)
            words[idx] = [new, freq]
            for i in range(len(new) - 1):
                p = (new[i], new[i + 1])
                bump(p, freq)
                pair_words[p].add(idx)
        pair_counts.pop(best, None)
    return merges


def _select_disjoint_merges(rows, max_batch: int, window_full: bool):
    """Greedy prefix of the ranked pair list that sequential BPE would
    provably pick in the same order — the per-round batch of the
    distributed trainer.

    ``rows`` is ``[(a, b, cnt), …]`` in ``(cnt DESC, a ASC, b ASC)``
    order (the ranked top of the pair table; ``window_full`` says the
    list was truncated at a limit, i.e. unseen pairs with
    ``cnt ≤ rows[-1].cnt`` exist). Acceptance rule: walk in rank order,
    accept pairs sharing no symbol (nor concatenated product) with any
    earlier acceptance, then keep only the prefix whose counts STRICTLY
    exceed every conflicting count — any pair a merge of an earlier
    acceptance can create has count bounded by some existing pair that
    conflicts with it, so a later acceptance that beats all conflicts
    also beats every pair the earlier merges can create, and the
    sequential greedy (same tiebreak) must select it next. The first
    pair is exempt (sequential picks it unconditionally).
    """
    tentative, used = [], set()
    for a, b, cnt in rows:
        syms = {a, b, a + b}
        if tentative and (syms & used):
            continue
        tentative.append((a, b, cnt))
        used |= syms
        if len(tentative) >= max_batch:
            break
    if len(tentative) <= 1:
        return tentative
    # the strict bound every non-first acceptance must clear: the best
    # conflicting count in the window, and the truncation boundary when
    # pairs below the window exist (they conflict unseen)
    bound = max((cnt for a, b, cnt in rows
                 if ({a, b, a + b} & used) and (a, b, cnt) not in tentative),
                default=-1)
    if window_full:
        bound = max(bound, rows[-1][2])
    out = [tentative[0]]
    for a, b, cnt in tentative[1:]:
        if cnt <= bound:
            break
        out.append((a, b, cnt))
    return out


@scoped
def bpe_train(docs: DataFrame, n_merges: int, text_col: str = "text",
              end_of_word: str = "</w>",
              strategy: str = "auto", min_word_freq: int = 1,
              max_collect_rows: int = 50_000_000,
              score: str = "freq",
              merges_per_round: int = 8) -> tuple[DataFrame, DataFrame]:
    """Learn ``n_merges`` BPE merges. Returns ``(merges, symbol_vocab)``:
    ``merges(rank, a, b, count)`` in learned order and
    ``symbol_vocab(symbol, freq)`` — the corpus frequency of every symbol
    after all merges (the subword vocabulary the merges induce).

    Words carry an ``end_of_word`` marker symbol so merges can learn
    suffix units, per the original formulation.

    ``strategy``: after the one distributed corpus scan into the
    word-frequency table, the merge loop itself runs either

    - ``"relational"`` — one adjacent-pair aggregation + fold per round
      over the |vocab|-row relation (the SQL-twinned path; right for
      small ``n_merges``), or
    - ``"local"`` — collect the word-frequency table ONCE and train the
      merge sequence in memory with incremental pair counts (how
      HF-tokenizers/YouTokenToMe train). A production tokenizer is
      30k–50k merges: that would be tens of thousands of sequential Spark
      jobs relationally, while the collected table is |distinct words|-
      sized (~10-50M rows for a 100 TB natural-language corpus — a
      driver-memory-bounded collect, NOT corpus-sized), so local is the
      scale path. Byte-identical merges to the relational loop by
      construction (same tiebreak, same greedy fold).
    - ``"auto"`` (default): local above 32 merges.

    ``min_word_freq`` prunes the word-frequency table (BEFORE the local
    collect and before the relational loop alike, so both strategies see
    the same corpus): standard practice — a word seen fewer than
    ``min_word_freq`` times contributes that little to every pair count,
    and hapax legomena can't win a merge on a real corpus. At 100 TB of
    noisy web text "distinct words" includes unbounded junk (base64,
    URLs, typos); ``min_word_freq=2`` typically cuts the table by ~half
    (Zipf) with no effect on the learned merges.

    ``max_collect_rows`` is the loud guard on the ``"local"`` collect:
    if the (pruned) word table exceeds this many rows the collect is
    refused with a ``ValueError`` naming both remedies (raise
    ``min_word_freq`` or use ``strategy="relational"``) instead of
    silently OOM-ing the driver.

    ``score`` selects the merge objective:

    - ``"freq"`` (default) — classic BPE: the most frequent adjacent
      pair wins (Sennrich et al. 2016); the ``count`` column of the
      returned merge table is the pair's corpus count.
    - ``"likelihood"`` — WordPiece: the pair maximizing
      ``cnt(ab) / (cnt(a) · cnt(b))`` wins (Schuster & Nakajima 2012;
      Wu et al. 2016 §3.1 — the merge that most increases corpus
      likelihood under a unigram LM).  Compared as the exact integer
      ``cnt·10^12 DIV (c_a·c_b)`` in every engine
      (:data:`WP_SCORE_SCALE`), so the driver gate can hash the merge
      table against the DuckDB twin; the ``count`` column carries this
      scaled score.  Tiebreak (score DESC, cnt DESC, a ASC, b ASC).
      The learned merges feed :func:`bpe_encode` unchanged — only the
      selection rule differs.

    ``merges_per_round`` batches the RELATIONAL ``score="freq"`` loop:
    each round ranks the pair table once, then accepts up to this many
    symbol-disjoint merges whose counts strictly beat every conflicting
    count (:func:`_select_disjoint_merges` — a sufficient condition for
    the batch to be BYTE-IDENTICAL to one-merge-at-a-time greedy, since
    a merge can only create pairs bounded by counts it conflicts with),
    and applies them in ONE fold pass. A 50k-merge production vocab
    drops from 50k sequential latency-bound Spark jobs to ~50k/N rounds
    with no semantic change; conflicts simply re-enter the next round's
    count. ``score="likelihood"`` always runs one merge per round (a
    merge changes its symbols' unit counts, so the bound argument does
    not transfer) — as does ``strategy="local"``, which is already
    in-memory.
    """
    if strategy not in ("auto", "relational", "local"):
        raise ValueError(f"unknown strategy {strategy!r}")
    if score not in ("freq", "likelihood"):
        raise ValueError(f"unknown score {score!r}")
    if strategy == "auto":
        strategy = "local" if n_merges > 32 else "relational"
    spark = docs.sparkSession
    words = checkpoint(
        docs.select(
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.col(text_col)), F.lit(WORD_TOKEN_RE), F.lit(0)
                )
            ).alias("word")
        )
        .groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") >= F.lit(int(min_word_freq)))
        .withColumn(
            "syms",
            F.concat(
                F.expr("regexp_extract_all(word, '.', 0)"),
                F.array(F.lit(end_of_word)),
            ),
        ), eager=True)
    if strategy == "local":
        n_words = words.count()
        if n_words > max_collect_rows:
            raise ValueError(
                f"bpe_train(strategy='local'): word-frequency table has "
                f"{n_words} rows > max_collect_rows={max_collect_rows}; "
                f"raise min_word_freq (currently {min_word_freq}) to "
                f"prune rare words, raise max_collect_rows if the driver "
                f"has the memory, or use strategy='relational'")
        local_words = [[list(r["syms"]), int(r["freq"])]
                       for r in words.select("syms", "freq").collect()]
        if score == "likelihood":
            merges = _train_merges_local_likelihood(local_words, n_merges)
        else:
            merges = _train_merges_local(local_words, n_merges)
        merges_df = local_df(
            spark, merges or [], "rank long, a string, b string, count long"
        )
        sym_freq: dict = {}
        for syms, freq in local_words:
            for s in syms:
                sym_freq[s] = sym_freq.get(s, 0) + freq
        vocab = local_df(
            spark, sorted(sym_freq.items()), "symbol string, freq long"
        )
        return merges_df, vocab
    merges = []
    mpr = max(1, int(merges_per_round)) if score == "freq" else 1
    while len(merges) < n_merges:
        # size guard: a fully-merged word has ONE symbol left and
        # sequence(1, 0) is DESCENDING in Spark — the unguarded
        # transform then probes element_at(syms, 2) and throws (found
        # by the sf1.0 scale probe, whose mutated replicas drive more
        # words to a single symbol within 16 merges)
        pairs = (
            words.filter(F.size("syms") >= 2).select(
                "freq",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1), "
                        "i -> struct(element_at(syms, i) AS a, "
                        "element_at(syms, i + 1) AS b))"
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").alias("cnt"))
        )
        if score == "likelihood":
            units = (
                words.select("freq", F.explode("syms").alias("u"))
                .groupBy("u").agg(F.sum("freq").alias("uc"))
            )
            ua = units.select(F.col("u").alias("a"), F.col("uc").alias("ca"))
            ub = units.select(F.col("u").alias("b"), F.col("uc").alias("cb"))
            scored = pairs.join(ua, "a").join(ub, "b").withColumn(
                "wp_score",
                F.expr(f"CAST(CAST(cnt AS DECIMAL(38,0)) * {WP_SCORE_SCALE} "
                       f"DIV (CAST(ca AS DECIMAL(38,0)) * cb) AS BIGINT)"),
            )
            best = scored.orderBy(
                F.col("wp_score").desc(), F.col("cnt").desc(),
                F.col("a").asc(), F.col("b").asc(),
            ).limit(1).collect()
            batch = [(r["a"], r["b"], int(r["wp_score"])) for r in best]
        else:
            remaining = n_merges - len(merges)
            k = min(mpr, remaining)
            # the window must expose enough conflicts to bound the batch;
            # 4x the batch is plenty and stays a driver-sized collect
            win = max(4 * k, 8)
            top = pairs.orderBy(
                F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc()
            ).limit(win).collect()
            batch = _select_disjoint_merges(
                [(r["a"], r["b"], int(r["cnt"])) for r in top],
                k, window_full=len(top) == win)
        if not batch:
            break
        folded = F.col("syms")
        for a, b, cnt in batch:
            merges.append((len(merges), a, b, cnt))
            # disjoint symbols ⇒ the chained folds commute and equal
            # sequential application; one projection, one job per round
            folded = _merge_fold(folded, a, b)
        words = checkpoint(words.withColumn("syms", folded), eager=True)
    merges_df = local_df(
        spark, merges or [], "rank long, a string, b string, count long"
    )
    vocab = (
        words.select("freq", F.explode("syms").alias("symbol"))
        .groupBy("symbol").agg(F.sum("freq").alias("freq"))
    )
    return merges_df, vocab


def _bpe_cte_chain_sql(n_merges: int, text_col: str, table: str,
                       end_of_word: str, wre: str,
                       score: str = "freq") -> str:
    """The shared WITH-chain of the BPE twins: word-freq table ``w0``,
    then per round a pair count ``p{r}``, best pick ``b{r}``, and folded
    words ``w{r}`` — ending at ``w{n_merges}`` (every word's final
    segmentation), which both the train and the encode twins read.
    ``score="likelihood"`` adds a unit-count CTE ``u{r}`` per round and
    picks ``b{r}`` by the same exact-integer WordPiece score Spark and
    the local loop compute (:data:`WP_SCORE_SCALE`), the ``cnt`` column
    carrying the scaled score."""
    parts = [f"""WITH w0 AS MATERIALIZED (
  SELECT word, COUNT(*) AS freq,
         list_concat(regexp_extract_all(word, '.'), ['{end_of_word}']) AS syms
  FROM (
    SELECT unnest(regexp_extract_all(lower({text_col}), {wre})) AS word
    FROM {table}
  ) GROUP BY word
)"""]
    for r in range(1, n_merges + 1):
        if score == "likelihood":
            pick = f""", u{r} AS (
  SELECT u, CAST(SUM(freq) AS BIGINT) AS uc FROM (
    SELECT freq, unnest(syms) AS u FROM w{r - 1}
  ) GROUP BY u
), b{r} AS (
  SELECT a, b,
         CAST(CAST(p.cnt AS HUGEINT) * {WP_SCORE_SCALE}
              // (CAST(ua.uc AS HUGEINT) * ub.uc) AS BIGINT) AS cnt
  FROM p{r} p JOIN u{r} ua ON p.a = ua.u JOIN u{r} ub ON p.b = ub.u
  ORDER BY cnt DESC, p.cnt DESC, a ASC, b ASC LIMIT 1
)"""
        else:
            pick = f""", b{r} AS (
  SELECT a, b, cnt FROM p{r} ORDER BY cnt DESC, a ASC, b ASC LIMIT 1
)"""
        parts.append(f""", p{r} AS (
  SELECT p.a AS a, p.b AS b, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
    SELECT freq,
           unnest(list_transform(generate_series(1, len(syms) - 1),
             i -> struct_pack(a := syms[i], b := syms[i + 1]))) AS p
    FROM w{r - 1}
  ) GROUP BY p.a, p.b
){pick}, w{r} AS MATERIALIZED (
  SELECT word, freq,
         CASE WHEN b.a IS NULL THEN syms ELSE
           list_reduce(list_transform(syms, s -> [s]),
             (acc, x) -> CASE
               WHEN acc[-1] = b.a AND x[1] = b.b
               THEN list_concat(acc[1:len(acc) - 1], [acc[-1] || x[1]])
               ELSE list_concat(acc, x) END)
         END AS syms
  FROM w{r - 1} LEFT JOIN b{r} b ON TRUE
)""")
    return "\n".join(parts)


def bpe_train_oracle_sql(n_merges: int, text_col: str = "text",
                         table: str = "documents",
                         end_of_word: str = "</w>",
                         word_token_re_sql: str | None = None,
                         score: str = "freq") -> str:
    """DuckDB twin of :func:`bpe_train`: the merge loop unrolled as CTE
    rounds — per round an adjacent-pair count, a 1-row best pick with the
    same (count, a, b) order (or the WordPiece integer score when
    ``score="likelihood"``), and the same greedy fold via ``list_reduce``
    over singleton-list symbols. Emits ``op='merge'`` rows (the learned
    table) and ``op='vocab'`` rows (the induced subword vocabulary)."""
    from judy_graph_db_spark.oracle import WORD_TOKEN_RE_SQL

    wre = word_token_re_sql or WORD_TOKEN_RE_SQL
    chain = _bpe_cte_chain_sql(n_merges, text_col, table, end_of_word, wre,
                               score=score)
    merge_rows = " UNION ALL ".join(
        f"SELECT 'merge' AS op, CAST({r - 1} AS BIGINT) AS rank, a, b, cnt "
        f"FROM b{r}"
        for r in range(1, n_merges + 1)
    )
    return f"""{chain}
SELECT * FROM ({merge_rows})
UNION ALL
SELECT 'vocab', NULL, symbol, NULL, CAST(SUM(freq) AS BIGINT)
FROM (SELECT freq, unnest(syms) AS symbol FROM w{n_merges})
GROUP BY symbol"""


def bpe_encode_oracle_sql(n_merges: int, where: str = "TRUE",
                          id_col: str = "doc_id", text_col: str = "text",
                          table: str = "documents",
                          end_of_word: str = "</w>",
                          word_token_re_sql: str | None = None) -> str:
    """DuckDB twin of :func:`bpe_encode` with merges trained by the same
    unrolled loop: the chain's final ``w{n}`` relation IS each word's
    post-merge segmentation, so encoding = tokenize the target docs and
    join word → syms (parallel unnests align word/sym positions)."""
    from judy_graph_db_spark.oracle import WORD_TOKEN_RE_SQL

    wre = word_token_re_sql or WORD_TOKEN_RE_SQL
    chain = _bpe_cte_chain_sql(n_merges, text_col, table, end_of_word, wre)
    return f"""{chain}
, subdocs AS (
  SELECT {id_col},
         unnest(regexp_extract_all(lower({text_col}), {wre})) AS word,
         unnest(generate_series(
           1, len(regexp_extract_all(lower({text_col}), {wre})))) - 1
           AS word_pos
  FROM {table} WHERE {where}
)
SELECT s.{id_col} AS {id_col}, CAST(s.word_pos AS BIGINT) AS word_pos,
       CAST(unnest(generate_series(1, len(w.syms))) - 1 AS BIGINT)
         AS sym_pos,
       unnest(w.syms) AS symbol
FROM subdocs s JOIN w{n_merges} w ON s.word = w.word"""


def bpe_encode(docs: DataFrame, merges: "list[tuple[str, str]] | DataFrame",
               id_col: str = "doc_id", text_col: str = "text",
               end_of_word: str = "</w>") -> DataFrame:
    """Apply a learned merge table to text: ``(doc_id, word_pos, sym_pos,
    symbol)`` — each word segmented by replaying the merges in rank order.

    The merge table is tiny by construction (``n_merges`` rows), so it
    rides into the plan as literals: the whole encode is ONE narrow pass —
    tokenize, char-split, then ``n_merges`` chained folds, all inside the
    scan stage with zero shuffles (verified: the plan has no Exchange).
    That is the property a 100 TB tokenization pass needs — embarrassingly
    parallel, no driver round-trips per row.
    """
    if isinstance(merges, DataFrame):
        rules = [(r["a"], r["b"]) for r in
                 sorted(merges.collect(), key=lambda r: r["rank"])]
    else:
        rules = list(merges)
    toks = docs.select(
        F.col(id_col),
        F.posexplode(
            F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit(WORD_TOKEN_RE), F.lit(0)
            )
        ).alias("word_pos", "word"),
    )
    syms = F.concat(
        F.expr("regexp_extract_all(word, '.', 0)"),
        F.array(F.lit(end_of_word)),
    )
    for a, b in rules:
        syms = _merge_fold(syms, a, b)
    return toks.select(
        id_col, F.col("word_pos").cast("long"),
        F.posexplode(syms).alias("sym_pos", "symbol"),
    ).select(id_col, "word_pos", F.col("sym_pos").cast("long"), "symbol")


def bpe_compression(docs: DataFrame, merges: "list[tuple[str, str]] | DataFrame",
                    id_col: str = "doc_id", text_col: str = "text",
                    end_of_word: str = "</w>") -> DataFrame:
    """Tokenizer fertility / compression metric: per document, the char
    count, the token count under the learned merges, and chars-per-token
    in integer milli (``1000·n_chars div n_tokens``; NULL for token-less
    docs) — the standard way to evaluate a tokenizer on a held-out
    corpus (higher chars/token = better compression; track it per
    language to catch fertility collapse on under-represented scripts).
    Inherits :func:`bpe_encode`'s shuffle-free scan: the only exchange
    is the per-doc count."""
    enc = bpe_encode(docs, merges, id_col=id_col, text_col=text_col,
                     end_of_word=end_of_word)
    toks = enc.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_tokens"))
    lens = docs.select(F.col(id_col), F.length(text_col).alias("n_chars"))
    return (
        lens.join(toks, id_col, "left")
        .select(
            id_col, F.col("n_chars").cast("long"),
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.expr("CASE WHEN coalesce(n_tokens, 0) > 0 "
                   "THEN 1000 * n_chars div n_tokens ELSE NULL END")
            .cast("long").alias("cpt_milli"))
    )


def bpe_compression_oracle_sql(n_merges: int, where: str = "TRUE",
                               id_col: str = "doc_id",
                               text_col: str = "text",
                               table: str = "documents",
                               end_of_word: str = "</w>") -> str:
    """DuckDB twin of :func:`bpe_compression`."""
    enc = bpe_encode_oracle_sql(n_merges, where=where, id_col=id_col,
                                text_col=text_col, table=table,
                                end_of_word=end_of_word)
    return f"""WITH bc_t AS (
  SELECT {id_col}, COUNT(*) AS n_tokens FROM ({enc}) GROUP BY {id_col}
)
SELECT d.{id_col}, CAST(length(d.{text_col}) AS BIGINT) AS n_chars,
       CAST(COALESCE(t.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(CASE WHEN COALESCE(t.n_tokens, 0) > 0
            THEN 1000 * length(d.{text_col}) // t.n_tokens
            ELSE NULL END AS BIGINT) AS cpt_milli
FROM {table} d LEFT JOIN bc_t t USING ({id_col})
WHERE {where}"""
