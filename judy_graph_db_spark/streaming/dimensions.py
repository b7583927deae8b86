"""Streaming SCD2 dimension maintenance.

The batch operator ``temporal.scd2_merge`` folds one updates relation into
a full-history type-2 dimension; a CDC/snapshot stream is exactly a
sequence of such folds — each micro-batch collapses to its latest state
per key and merges into the versioned store.

Store layout — two slices, because SCD2 history is append-only by
construction (a closed row never changes again):

* ``closed/b=N/`` — ONLY the rows fold N newly closed, appended once and
  never rewritten. The full closed history is the union of every
  ``b=*`` directory at or below the latest complete version.
* ``open/v=N/`` — the current open slice (one row per live key),
  rewritten per fold, with ``_batch_meta.json`` written AFTER the
  parquet so crash leftovers are skipped and replayed micro-batches are
  detected, never double-applied (re-merging an identical update is
  additionally a semantic no-op — the merge is idempotent on unchanged
  values — so the guard and the semantics back each other up). Old open
  versions past ``retain_versions`` are garbage-collected.

Per-fold write IO is therefore O(|open| + |batch|) — the closed history
never re-enters either the join (``scd2_merge`` only ever sees the open
slice here) or the write path — and storage grows as
O(|history| + retain·|open|) instead of O(batches·|dim|). A fold that
crashed between the closed append and the open meta is safe: the re-fold
reuses the same version number and overwrites ``closed/b=N`` with the
identical deterministic content, and readers ignore closed directories
above the latest COMPLETE open version.
"""

from __future__ import annotations

import json
from typing import Optional

from judy_graph_db_spark.streaming.pathio import (fs_delete, fs_exists,
                                                  fs_isdir, fs_listdir,
                                                  fs_read_text,
                                                  fs_write_text, pjoin)

from pyspark.sql import DataFrame, functions as F

from judy_graph_db_spark import loopstate
from judy_graph_db_spark.operators.temporal import scd2_merge


def _latest_version(store: str) -> Optional[int]:
    """Latest COMPLETE version (open dirs without meta = crash
    leftovers)."""
    root = pjoin(store, "open")
    if not fs_isdir(root):
        return None
    vs = [int(d[2:]) for d in fs_listdir(root)
          if d.startswith("v=") and d[2:].isdigit()
          and fs_exists(pjoin(root, d, "_batch_meta.json"))]
    return max(vs) if vs else None


def _latest_compact(store: str, latest: int):
    """Highest COMPLETE compacted slice at or below ``latest``:
    ``(hi, path)`` or ``(-1, None)``. A ``compact=H`` directory without
    its ``_compact_meta.json`` is a crash leftover and is ignored; when
    two complete compacts coexist (crash between the new compact's meta
    write and the old one's deletion) the higher one wins — it is a
    superset of the lower by construction."""
    root = pjoin(store, "closed")
    best, best_path = -1, None
    if fs_isdir(root):
        for d in fs_listdir(root):
            if (d.startswith("compact=") and d[8:].isdigit()
                    and int(d[8:]) <= latest
                    and fs_exists(pjoin(root, d, "_compact_meta.json"))):
                hi = int(d[8:])
                if hi > best:
                    best, best_path = hi, pjoin(root, d)
    return best, best_path


def _closed_paths(store: str, latest: int) -> list:
    """Closed-slice directories at or below the latest complete version
    (a ``b=N`` above it is a crash leftover the re-fold will overwrite).
    If a compacted slice exists, it stands in for every ``b=N`` it
    covers; only the folds after it are read as individual dirs."""
    root = pjoin(store, "closed")
    if not fs_isdir(root):
        return []
    base_hi, base_path = _latest_compact(store, latest)
    paths = [base_path] if base_path else []
    paths += [pjoin(root, d) for d in sorted(fs_listdir(root))
              if d.startswith("b=") and d[2:].isdigit()
              and base_hi < int(d[2:]) <= latest]
    return paths


def compact_closed(spark, store: str) -> int:
    """Opt-in small-files compaction of the closed slice: coalesce every
    ``closed/b=N`` at or below the latest complete open version (plus
    any previous compact) into ONE ``closed/compact=<latest>`` directory,
    then drop the sources. After 10⁴ folds the append-only layout leaves
    10⁴ tiny directories per dimension — the classic streaming
    small-files problem; this rewrites the closed history once, sized by
    ``spark.sql.files.maxPartitionBytes``-normal parquet files.

    Crash-safe in the same style as the fold itself: the compacted
    parquet is written first, its ``_compact_meta.json`` marker after,
    and the covered sources are deleted last — a crash at any point
    leaves either the old layout (no meta → compact dir ignored) or a
    recoverable double (two complete compacts / leftover ``b=N`` below
    the compact, both resolved by readers preferring the highest
    complete compact and by the next compaction's retry cleanup). The
    replay guard lives in ``open/``'s meta and is untouched.

    Returns the number of source directories coalesced (0 = no-op).
    """
    latest = _latest_version(store)
    if latest is None:
        return 0
    root = pjoin(store, "closed")
    if not fs_isdir(root):
        return 0
    base_hi, base_path = _latest_compact(store, latest)
    b_dirs = [(int(d[2:]), pjoin(root, d))
              for d in sorted(fs_listdir(root))
              if d.startswith("b=") and d[2:].isdigit()
              and int(d[2:]) <= latest]
    fresh = [(n, p) for n, p in b_dirs if n > base_hi]
    stale = [(n, p) for n, p in b_dirs if n <= base_hi]  # crashed deletes
    if not fresh:
        for _, p in stale:
            fs_delete(p)
        return 0
    sources = ([base_path] if base_path else []) + [p for _, p in fresh]
    out = pjoin(root, f"compact={latest}")
    spark.read.parquet(*sources).write.mode("overwrite").parquet(out)
    fs_write_text(pjoin(out, "_compact_meta.json"),
                  json.dumps({"hi": latest}))
    # sources are now redundant: old compacts (incl. incomplete
    # leftovers), covered b=N dirs, and any stale pre-compact b dirs
    for d in fs_listdir(root):
        full = pjoin(root, d)
        if full == out:
            continue
        if d.startswith("compact=") and d[8:].isdigit() \
                and int(d[8:]) <= latest:
            fs_delete(full)
    for _, p in fresh + stale:
        fs_delete(p)
    return len(sources)


def read_dimension(spark, store: str) -> Optional[DataFrame]:
    """Latest folded dimension table (closed history ∪ open slice), or
    None before any fold."""
    latest = _latest_version(store)
    if latest is None:
        return None
    paths = _closed_paths(store, latest) + [
        pjoin(store, "open", f"v={latest}", "dim")]
    return spark.read.parquet(*paths)


def foreach_batch_scd2(stream: DataFrame, store: str,
                       key_col: str = "key", value_cols=("value",),
                       ts_col: str = "ts",
                       checkpoint: Optional[str] = None,
                       available_now: bool = True,
                       replay_id: Optional[str] = None,
                       retain_versions: int = 2,
                       delete_col: Optional[str] = None,
                       compact_every: Optional[int] = None):
    """Fold a change stream ``(key, values…, ts)`` into a continuously
    maintained SCD2 history. Each micro-batch keeps its LATEST state per
    key (intra-batch intermediate states collapse — the standard
    snapshot-CDC concession; feed smaller batches when every transition
    matters) and merges via :func:`temporal.scd2_merge` against the OPEN
    slice only; newly closed rows are appended to the immutable closed
    slice (see module docstring for the layout). Open versions older
    than ``retain_versions`` behind the latest are deleted.
    ``delete_col`` names a boolean CDC-tombstone column in the stream —
    a key whose LATEST intra-batch state is a tombstone closes its open
    row and leaves the live slice (scd2_merge's delete semantics).
    ``compact_every=K`` opts into :func:`compact_closed` every K folds so
    the closed slice's directory count stays bounded under continuous
    ingest. Returns the started StreamingQuery."""
    vals = list(value_cols)
    if retain_versions < 1:
        raise ValueError("retain_versions must be >= 1")

    @loopstate.scoped  # frees the batch's checkpoints once it is folded
    def handle(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        latest = _latest_version(store)
        ck_id = replay_id if replay_id is not None else (checkpoint or "")
        prev_open = None
        if latest is not None:
            vdir = pjoin(store, "open", f"v={latest}")
            meta = json.loads(
                fs_read_text(pjoin(vdir, "_batch_meta.json")))
            if (meta.get("checkpoint") == ck_id
                    and meta.get("batch_id") == batch_id):
                return  # replayed micro-batch — already folded
            prev_open = spark.read.parquet(pjoin(vdir, "dim"))
        if prev_open is None:
            # bootstrap schema FROM the batch (key/value dtypes are
            # whatever the stream carries; the validity columns take the
            # timestamp column's type) instead of hardcoding types
            prev_open = (
                batch.limit(0)
                .select(key_col, *vals,
                        F.col(ts_col).alias("valid_from"),
                        F.col(ts_col).alias("valid_to")))
        extra = [delete_col] if delete_col else []
        updates = (
            batch.groupBy(key_col)
            .agg(F.max(F.struct(ts_col, *vals, *extra)).alias("__s"))
            .select(key_col,
                    *[F.col(f"__s.{c}").alias(c) for c in vals + extra],
                    F.col(f"__s.{ts_col}").alias(ts_col))
        )
        # current = open slice only, so every valid_to IS NOT NULL row in
        # the merge output is NEWLY closed by this fold
        merged = loopstate.checkpoint(
            scd2_merge(prev_open, updates, key_col=key_col, value_cols=vals,
                       ts_col=ts_col, delete_col=delete_col), eager=True)
        new_version = 0 if latest is None else latest + 1
        merged.filter(F.col("valid_to").isNotNull()).write.mode(
            "overwrite").parquet(
            pjoin(store, "closed", f"b={new_version}"))
        vdir = pjoin(store, "open", f"v={new_version}")
        merged.filter(F.col("valid_to").isNull()).write.mode(
            "overwrite").parquet(pjoin(vdir, "dim"))
        fs_write_text(pjoin(vdir, "_batch_meta.json"), json.dumps(
            {"checkpoint": ck_id, "batch_id": batch_id}))
        # GC open versions past the retention window (closed dirs are the
        # history itself — never collected)
        root = pjoin(store, "open")
        for d in fs_listdir(root):
            if (d.startswith("v=") and d[2:].isdigit()
                    and int(d[2:]) <= new_version - retain_versions):
                fs_delete(pjoin(root, d))
        if compact_every and (new_version + 1) % compact_every == 0:
            compact_closed(spark, store)

    writer = stream.writeStream.foreachBatch(handle)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
