"""Streaming crawl-to-corpus — the INCREMENTAL form of
``curation.web_corpus_funnel``: a landing directory of WET shards
(:func:`~judy_graph_db_spark.sources.warc.read_warc_stream`) folds
micro-batch by micro-batch into a versioned curated-corpus store.

Per micro-batch:

1. the STATELESS funnel stages (URL blocklist → lang-id → Gopher →
   batch-local exact keep-first) run as the same scan-stage expressions
   the batch funnel uses (``web_corpus_funnel(neardup=False)``);
2. survivors fold into the near-dup LSH store
   (:func:`~judy_graph_db_spark.streaming.neardup.fold_neardup_batch`)
   — first-arrival canonical against EVERYTHING ingested so far, which
   subsumes both cross-batch exact dedup (identical text ⇒ identical
   signature ⇒ same buckets) and near dedup;
3. survivors NOT flagged by the store append as the corpus slice
   ``corpus/b=N`` (same slice + ``_batch_meta.json`` protocol, same
   version number as the fold — crash between fold and corpus write is
   repaired on the replayed batch because acceptance is recomputable
   from the content-idempotent flag store).

Batch-equivalence contract: draining the same shards in ANY ordered
split must accept exactly the docs the batch funnel keeps over the
union — tested in ``tests/test_streaming.py`` style in
``tests/test_warc.py``.

At 100 TB: stages 1 is scan-fused per batch; stage 2's IO is O(batch
signatures) (the near-dup store's append-only contract); stage 3 writes
only accepted docs. Nothing corpus-sized is rewritten per batch.
"""

from __future__ import annotations

import json
from typing import Optional

from pyspark.sql import DataFrame, functions as F

from judy_graph_db_spark import loopstate
from judy_graph_db_spark.streaming.neardup import (_complete_slices,
                                                   _latest_meta,
                                                   fold_neardup_batch,
                                                   read_flags)
from judy_graph_db_spark.streaming.pathio import (fs_exists, fs_write_text,
                                                  pjoin)


def read_corpus(spark, store: str) -> Optional[DataFrame]:
    """The accepted corpus: union of complete ``corpus/b=N`` slices."""
    dirs = _complete_slices(store, "corpus")
    return spark.read.parquet(*dirs) if dirs else None


def foreach_batch_web_corpus(stream: DataFrame, store: str,
                             blocked_domains=(), keep_langs=("en",),
                             id_col: str = "doc_id",
                             text_col: str = "text",
                             url_col: str = "url",
                             checkpoint: Optional[str] = None,
                             available_now: bool = True,
                             replay_id: Optional[str] = None,
                             compact_every: Optional[int] = None):
    """Start the incremental funnel over a documents-shaped stream
    (``id_col`` monotone across batches — the stream ingest contract).
    ``compact_every=K`` compacts ALL THREE sub-stores (corpus first,
    then flags, then buckets — the version key compacts last) every K
    folds so none of them accumulates unbounded ``b=N`` directories
    under continuous ingest. Returns the started StreamingQuery."""
    from judy_graph_db_spark.operators.curation import web_corpus_funnel
    from judy_graph_db_spark.streaming.neardup import compact_store

    @loopstate.scoped  # frees the batch's checkpoints once it is folded
    def handle(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        ck_id = replay_id if replay_id is not None else (checkpoint or "")
        wf = web_corpus_funnel(
            batch, blocked_domains=blocked_domains, keep_langs=keep_langs,
            neardup=False, id_col=id_col, text_col=text_col,
            url_col=url_col)
        surv = loopstate.checkpoint(
            wf.filter(F.col("keep")).select(id_col, url_col, text_col),
            eager=True)
        version = fold_neardup_batch(surv, batch_id, store, ck_id,
                                     id_col=id_col, text_col=text_col)
        if version is None:
            # replayed fold — but repair a corpus slice lost to a crash
            # between the fold and the corpus write: acceptance is
            # recomputable (flags are content-idempotent)
            version, meta = _latest_meta(store)
            if version is None or fs_exists(pjoin(
                    store, "corpus", f"b={version}", "_batch_meta.json")):
                return
            if not (meta and meta.get("checkpoint") == ck_id
                    and meta.get("batch_id") == batch_id):
                return
        flags = read_flags(spark, store)
        accepted = surv
        if flags is not None:
            accepted = surv.join(
                flags.select(F.col("doc_id").alias(id_col)),
                id_col, "left_anti")
        cdir = pjoin(store, "corpus", f"b={version}")
        accepted.write.mode("overwrite").parquet(cdir)
        fs_write_text(pjoin(cdir, "_batch_meta.json"), json.dumps(
            {"checkpoint": ck_id, "batch_id": batch_id}))
        if compact_every and (version + 1) % int(compact_every) == 0:
            compact_store(spark, store,
                          subs=("corpus", "flags", "buckets"))

    writer = stream.writeStream.foreachBatch(handle)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
