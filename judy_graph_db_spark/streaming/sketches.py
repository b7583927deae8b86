"""Streaming maintenance of mergeable corpus sketches.

The batch sketches (``operators/sketch.py``) are built to MERGE: count-min
counters add, HLL registers max, Bloom words OR. That is exactly the
property a continuously-ingesting corpus needs — each micro-batch folds its
batch-local sketch into a tiny versioned store, and the running sketch is
always byte-identical to the batch sketch over everything ingested so far
(asserted by the batch-equivalence tests, the same contract the windowed
aggregation and interval-join streams are held to).

The OPTIONAL Misra-Gries fold (``mg_m=``) is the one deliberate exception
to byte-equality: MG summaries merge with ADDITIVE error bounds (Agarwal
et al. 2012, Thm 1) — the folded counter is a lower bound on the true
count within the summed ``subtracted`` undercount, but is generally NOT
identical to the one-shot batch summary. The property test asserts the
bound instead of equality; use the CMS rows when byte-stable estimates
matter more than a guaranteed top-m candidate set.

Store layout mirrors ``streaming/ingest.py``'s counter table: one
``v=N`` directory per fold with ``_batch_meta.json`` carrying
(checkpoint, batch_id) for replay idempotence — a replayed micro-batch is
detected and skipped, never double-counted (CMS sums would silently drift
otherwise; this is the sketch analogue of the ingest counter's
exactly-once fold).

At 100 TB: per batch the stream writes O(width·depth + 2^p + m/63) rows —
independent of corpus size — so the store stays broadcastable forever; the
expensive relation (the corpus) is touched only by the incoming batch scan.
"""

from __future__ import annotations

import json
from typing import Optional

from pyspark.sql import DataFrame, functions as F

from judy_graph_db_spark.operators.sketch import (bloom_build, count_min,
                                                  hll_registers, mg_merge,
                                                  misra_gries)
from judy_graph_db_spark.schema import union_all
from judy_graph_db_spark.streaming.pathio import (fs_exists, fs_isdir,
                                                  fs_listdir, fs_read_text,
                                                  fs_write_text, pjoin)


def _store_versions(store: str) -> Optional[int]:
    """Latest COMPLETE version. A fold is complete only once
    ``_batch_meta.json`` lands (it is written after the parquet), so a
    crash between the parquet write and the meta write leaves an
    incomplete ``v=N`` that is skipped here: replay then reads prev from
    ``v=N-1`` and overwrites ``v=N`` instead of folding the half-written
    version a second time (which would double CMS counts)."""
    if not fs_isdir(store):
        return None
    vs = [int(d[2:]) for d in fs_listdir(store)
          if d.startswith("v=") and d[2:].isdigit()
          and fs_exists(pjoin(store, d, "_batch_meta.json"))]
    return max(vs) if vs else None


def read_sketches(spark, store: str) -> Optional[dict[str, DataFrame]]:
    """Load the latest folded sketch relations, or None before any fold."""
    latest = _store_versions(store)
    if latest is None:
        return None
    vdir = pjoin(store, f"v={latest}")
    names = ["cms", "hll", "bloom"]
    if fs_isdir(pjoin(vdir, "mg")):
        names.append("mg")
    return {name: spark.read.parquet(pjoin(vdir, name)) for name in names}


def foreach_batch_sketches(stream: DataFrame, store: str, col: str,
                           checkpoint: Optional[str] = None,
                           width: int = 256, depth: int = 4, p: int = 8,
                           m_bits: int = 1 << 16, k: int = 4,
                           available_now: bool = True,
                           replay_id: Optional[str] = None,
                           mg_m: Optional[int] = None):
    """Fold a document stream into the mergeable sketches over ``col``:
    CMS (frequency, counters ADD), HLL (distinct, registers MAX), Bloom
    (membership, words OR), and — when ``mg_m`` is set — a Misra-Gries
    heavy-hitter summary of at most ``mg_m`` counters (summaries MERGE
    with additive error bounds; see the module docstring for why this one
    is bound-equivalent, not byte-equivalent, to the batch form).
    Returns the started StreamingQuery."""

    def handle(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        latest = _store_versions(store)
        # the replay identity defaults to the checkpoint path; pass an
        # explicit replay_id when the checkpoint location may change while
        # the logical stream stays the same (e.g. checkpoint migration)
        ck_id = replay_id if replay_id is not None else (checkpoint or "")
        prev = None
        if latest is not None:
            vdir = pjoin(store, f"v={latest}")
            meta_file = pjoin(vdir, "_batch_meta.json")
            if fs_exists(meta_file):
                meta = json.loads(fs_read_text(meta_file))
                if (meta.get("checkpoint") == ck_id
                        and meta.get("batch_id") == batch_id):
                    return  # replayed micro-batch — already folded
            prev_names = ["cms", "hll", "bloom"] + (
                ["mg"] if mg_m and fs_isdir(pjoin(vdir, "mg")) else [])
            prev = {
                name: spark.read.parquet(pjoin(vdir, name))
                for name in prev_names
            }

        cms_b = count_min(batch, col, width=width, depth=depth)
        hll_b = hll_registers(batch, col, p=p)
        bloom_b = bloom_build(batch, col, m_bits=m_bits, k=k)
        mg_b = misra_gries(batch, col, m=int(mg_m)) if mg_m else None
        if prev is not None:
            cms_b = (union_all([prev["cms"], cms_b], by_name=True)
                     .groupBy("d", "w").agg(F.sum("cnt").alias("cnt")))
            hll_b = (union_all([prev["hll"], hll_b], by_name=True)
                     .groupBy("bucket").agg(F.max("max_rho").alias("max_rho")))
            bloom_b = (union_all([prev["bloom"], bloom_b], by_name=True)
                       .groupBy("word")
                       .agg(F.bit_or("bits").alias("bits")))
            if mg_b is not None and "mg" in prev:
                mg_b = mg_merge(prev["mg"], mg_b, m=int(mg_m))

        new_version = 0 if latest is None else latest + 1
        new_vdir = pjoin(store, f"v={new_version}")
        outs = [("cms", cms_b), ("hll", hll_b), ("bloom", bloom_b)]
        if mg_b is not None:
            outs.append(("mg", mg_b))
        for name, df in outs:
            df.write.mode("overwrite").parquet(pjoin(new_vdir, name))
        fs_write_text(pjoin(new_vdir, "_batch_meta.json"), json.dumps(
            {"checkpoint": ck_id, "batch_id": batch_id}))

    writer = stream.writeStream.foreachBatch(handle)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
