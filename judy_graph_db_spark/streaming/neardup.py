"""Streaming NEAR-duplicate detection — the ingest-path twin of the batch
MinHash-LSH operators (``operators/dedup.py``), completing the streaming
dedup story: ``streaming/dedup.py`` drops EXACT duplicates inside a
watermark horizon; this module flags near-duplicates against EVERYTHING
ingested so far, by maintaining the LSH band-bucket table as a versioned
store.

Semantics — first-arrival canonical: every (band_idx, band_hash) bucket
remembers the first document that produced it; a later document sharing
any bucket is flagged ``(doc_id, dup_of)`` with ``dup_of`` = the smallest
first-arrival id among its matched buckets (with monotone doc ids the
standard stream contract, "first ingested wins" — the same keeper rule as
batch ``exact_dedup``). The batch twin (:func:`neardup_batch_equivalent`,
and ``oracle.neardup_flags_sql`` for DuckDB) restates this as one
relational query, so the fold result over ANY ordered batch split must
equal the batch answer over the union — the batch-equivalence contract
every stream operator here is held to.

Store layout (the append-only lesson of ``streaming/dimensions.py``):
a bucket's keeper NEVER changes once written (later ids are larger), so
each fold appends exactly its NEW buckets as ``buckets/b=N`` and its new
flags as ``flags/b=N`` — per-fold write IO is O(|batch signatures|),
never O(|store|); nothing is ever rewritten. ``_batch_meta.json`` lands
after the parquet (crash leftovers are overwritten by the re-fold;
replayed micro-batches are detected by (checkpoint, batch_id) and
skipped). Read = union of complete slices.

At 100 TB: per-batch cost is the batch's signature computation (one
shingle explode + per-doc min agg, the batch plan) plus one equi-join of
batch bucket rows against the store on the bucket key — candidate cost ∝
matched buckets, the LSH contract; the stored relation is
O(corpus · n_bands) NARROW rows (three columns), the same relation any
batch LSH pass over the corpus would materialize once.
"""

from __future__ import annotations

import json
import os
from typing import Optional

from judy_graph_db_spark.streaming.pathio import (fs_delete, fs_exists,
                                                  fs_isdir, fs_listdir,
                                                  fs_read_text, fs_rename,
                                                  fs_write_text, pjoin)

from pyspark.sql import DataFrame, functions as F

from judy_graph_db_spark import loopstate
from judy_graph_db_spark.operators.dedup import (BAND_ROWS, NUM_HASHES,
                                                 band_hashes,
                                                 minhash_signatures)


def band_rows_of(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", num_hashes: int = NUM_HASHES,
                 band_rows: int = BAND_ROWS) -> DataFrame:
    """(id, band_idx, band_hash) LSH bucket rows — the relation both the
    fold and the batch twin are built from."""
    return (
        minhash_signatures(docs, text_col, id_col, num_hashes)
        .withColumn("bands", band_hashes("minhash", band_rows, num_hashes))
        .select(F.col(id_col).alias("doc_id"),
                F.posexplode("bands").alias("band_idx", "band_hash"))
    )


def _best_compact(root: str) -> tuple[int, Optional[str]]:
    """Highest COMPLETE ``compact=H`` dir (meta present), or (-1, None).
    When a crash between a new compact's meta and the old one's deletion
    leaves two, the higher wins — it is a superset by construction."""
    best, best_path = -1, None
    if fs_isdir(root):
        for d in fs_listdir(root):
            if (d.startswith("compact=") and d[8:].isdigit()
                    and fs_exists(pjoin(root, d, "_compact_meta.json"))):
                hi = int(d[8:])
                if hi > best:
                    best, best_path = hi, pjoin(root, d)
    return best, best_path


def _complete_slices(store: str, sub: str) -> list:
    """Readable slice paths: the best compacted dir (standing in for
    every ``b=N`` it covers) plus complete ``b=N`` dirs above it."""
    root = pjoin(store, sub)
    if not fs_isdir(root):
        return []
    hi, compact = _best_compact(root)
    out = [compact] if compact else []
    for d in fs_listdir(root):
        if (d.startswith("b=") and d[2:].isdigit() and int(d[2:]) > hi
                and fs_exists(pjoin(root, d, "_batch_meta.json"))):
            out.append(pjoin(root, d))
    return sorted(out, key=lambda p: (
        0 if os.path.basename(p).startswith("compact=")
        else 1 + int(os.path.basename(p)[2:])))


def _latest_meta(store: str) -> tuple[Optional[int], Optional[dict]]:
    """Latest fold version and its replay meta — from the newest ``b=N``
    slice, or from the compact marker when compaction consumed them (the
    compact meta carries the covered top slice's replay identity so the
    guard survives compaction)."""
    slices = _complete_slices(store, "buckets")
    if not slices:
        return None, None
    last = slices[-1]
    name = os.path.basename(last)
    if name.startswith("compact="):
        meta = json.loads(fs_read_text(pjoin(last, "_compact_meta.json")))
        return int(name[8:]), meta
    return int(name[2:]), json.loads(
        fs_read_text(pjoin(last, "_batch_meta.json")))


def read_buckets(spark, store: str) -> Optional[DataFrame]:
    """The folded bucket table (band_idx, band_hash, keep_id), or None
    before any fold."""
    slices = _complete_slices(store, "buckets")
    if not slices:
        return None
    return spark.read.parquet(*slices)


def read_flags(spark, store: str) -> Optional[DataFrame]:
    """Every near-dup flag emitted so far: (doc_id, dup_of)."""
    slices = _complete_slices(store, "flags")
    if not slices:
        return None
    return spark.read.parquet(*slices)


def compact_store(spark, store: str,
                  subs: tuple = ("flags", "buckets")) -> int:
    """Opt-in small-files compaction (the ``dimensions.compact_closed``
    pattern — after 10⁴ folds the append-only layout leaves 10⁴ tiny
    directories per sub-store): coalesce the best compact + every
    complete ``b=N`` of each sub-store into one ``compact=<latest>``
    directory, meta marker after the parquet, source deletes last.
    The compact meta carries the top slice's replay identity so the
    replayed-batch guard survives. ``flags`` compacts before ``buckets``
    — the version/replay state keys on ``buckets``, so a crash between
    the two leaves a store the next fold (or compaction) handles.
    The composed crawl-corpus store passes ``subs`` including its
    ``corpus`` slices (list ``buckets`` LAST there too — the version
    key). Returns the number of source dirs coalesced."""
    latest, meta = _latest_meta(store)
    if latest is None:
        return 0
    n = 0
    for sub in subs:
        root = pjoin(store, sub)
        sources = _complete_slices(store, sub)
        if len(sources) <= 1 and (not sources or
                                  "compact=" in os.path.basename(sources[0])):
            continue  # nothing new to fold in
        out = pjoin(root, f"compact={latest}")
        tmp = out + "._tmp"
        spark.read.parquet(*sources).write.mode("overwrite").parquet(tmp)
        fs_delete(out)  # crashed earlier attempt
        fs_rename(tmp, out)
        fs_write_text(pjoin(out, "_compact_meta.json"), json.dumps(
            {"hi": latest,
             "checkpoint": (meta or {}).get("checkpoint"),
             "batch_id": (meta or {}).get("batch_id")}))
        for d in fs_listdir(root):
            full = pjoin(root, d)
            if full == out:
                continue
            if d.startswith("b=") and d[2:].isdigit() \
                    and int(d[2:]) <= latest:
                fs_delete(full)
            elif d.startswith("compact=") and d[8:].isdigit() \
                    and int(d[8:]) < latest:
                fs_delete(full)
        n += len(sources)
    return n


@loopstate.scoped
def fold_neardup_batch(batch: DataFrame, batch_id: int, store: str,
                       ck_id: str = "",
                       id_col: str = "doc_id", text_col: str = "text",
                       num_hashes: int = NUM_HASHES,
                       band_rows: int = BAND_ROWS,
                       compact_every: Optional[int] = None) -> Optional[int]:
    """One near-dup fold (the body :func:`foreach_batch_neardup` runs per
    micro-batch, callable directly — e.g. by the composed
    ``streaming/web_corpus.py`` funnel). Returns the new store version,
    or None when (ck_id, batch_id) was already folded (replay skip)."""
    spark = batch.sparkSession
    latest, meta = _latest_meta(store)
    if (meta is not None and meta.get("checkpoint") == ck_id
            and meta.get("batch_id") == batch_id):
        return None  # replayed micro-batch — already folded
    prev = read_buckets(spark, store)

    rows = loopstate.checkpoint(
        band_rows_of(batch, id_col, text_col, num_hashes, band_rows),
        eager=True)
    batch_min = rows.groupBy("band_idx", "band_hash") \
        .agg(F.min("doc_id").alias("batch_keep"))
    if prev is not None:
        merged = batch_min.join(prev, ["band_idx", "band_hash"], "left")
    else:
        merged = batch_min.withColumn("keep_id",
                                      F.lit(None).cast("long"))
    # effective keeper per touched bucket: stored first-arrival if the
    # bucket exists, else this batch's min (ids are monotone, so a
    # stored keeper is always smaller)
    eff = merged.select(
        "band_idx", "band_hash", "batch_keep",
        F.coalesce("keep_id", "batch_keep").alias("eff_keep"),
        F.col("keep_id").isNull().alias("is_new"))
    flags = (
        rows.join(eff, ["band_idx", "band_hash"])
        .filter(F.col("eff_keep") < F.col("doc_id"))
        .groupBy("doc_id")
        .agg(F.min("eff_keep").alias("dup_of"))
    )
    # content idempotence under FULL re-delivery (a fresh-checkpoint
    # replay arrives as batch 0 and defeats the batch-id guard): a
    # doc already flagged never re-appends — the anti-join is
    # batch-keyed, and with monotone ids a re-delivered doc's
    # recomputed dup_of equals its stored one, so dropping it is
    # lossless
    prev_flags = read_flags(spark, store)
    if prev_flags is not None:
        flags = flags.join(prev_flags.select("doc_id"),
                           "doc_id", "left_anti")
    new_buckets = eff.filter("is_new").select(
        "band_idx", "band_hash", F.col("batch_keep").alias("keep_id"))

    new_version = 0 if latest is None else latest + 1
    fdir = pjoin(store, "flags", f"b={new_version}")
    bdir = pjoin(store, "buckets", f"b={new_version}")
    flags.write.mode("overwrite").parquet(fdir)
    new_buckets.write.mode("overwrite").parquet(bdir)
    # meta lands last, flags before buckets: the version is complete
    # only when the BUCKETS meta exists (the reader keys on it), so a
    # crash anywhere earlier leaves a slice the re-fold overwrites
    for d in (fdir, bdir):
        fs_write_text(pjoin(d, "_batch_meta.json"), json.dumps(
            {"checkpoint": ck_id, "batch_id": batch_id}))
    if compact_every and (new_version + 1) % int(compact_every) == 0:
        compact_store(spark, store)
    return new_version


def foreach_batch_neardup(stream: DataFrame, store: str,
                          id_col: str = "doc_id", text_col: str = "text",
                          checkpoint: Optional[str] = None,
                          num_hashes: int = NUM_HASHES,
                          band_rows: int = BAND_ROWS,
                          available_now: bool = True,
                          replay_id: Optional[str] = None,
                          compact_every: Optional[int] = None):
    """Fold a document stream into the near-dup store. Returns the
    started StreamingQuery. ``compact_every=K`` runs
    :func:`compact_store` after every K-th fold."""

    def handle(batch: DataFrame, batch_id: int) -> None:
        ck_id = replay_id if replay_id is not None else (checkpoint or "")
        fold_neardup_batch(batch, batch_id, store, ck_id, id_col, text_col,
                           num_hashes, band_rows, compact_every)

    writer = stream.writeStream.foreachBatch(handle)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def neardup_batch_equivalent(docs: DataFrame, id_col: str = "doc_id",
                             text_col: str = "text",
                             num_hashes: int = NUM_HASHES,
                             band_rows: int = BAND_ROWS) -> DataFrame:
    """The batch semantics the fold converges to under ordered arrival:
    per doc, ``dup_of`` = min over its buckets of the bucket's
    first-arrival (= min) doc id, kept only when smaller than the doc's
    own id. One bucket-keyed agg + one equi-join — no pair join."""
    rows = band_rows_of(docs, id_col, text_col, num_hashes, band_rows)
    keep = rows.groupBy("band_idx", "band_hash") \
        .agg(F.min("doc_id").alias("keep_id"))
    return (
        rows.join(keep, ["band_idx", "band_hash"])
        .filter(F.col("keep_id") < F.col("doc_id"))
        .groupBy("doc_id")
        .agg(F.min("keep_id").alias("dup_of"))
    )
