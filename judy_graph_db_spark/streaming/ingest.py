"""Structured Streaming ingest — the streaming upgrade of the reference's
Streamly file fold (``insertCSVEdgeStream``, ``FastAccess.hs:323-334``;
``Enum.hs:192-203``; ``JudyGraph.hs:248-268``).

The reference streams ONE file line-by-line in constant memory. Spark's file
stream source gives the same property distributed: files land in a directory,
each micro-batch parses new files executor-side, and ``foreach_batch_insert``
folds them into the persisted graph — the user "edge-adding function"
(``AddCSVLine``, ``FastAccess.hs:230-235``) becomes a DataFrame→DataFrame
``transform`` hook.

Scale notes: the per-batch edge_seq assignment shuffles only the batch (keyed
by (src,label,is_back)); the current per-key max comes from a compact counter
table (``<sink>_counters``) that is updated incrementally each micro-batch —
per-batch work is O(batch + touched keys), independent of the accumulated sink
size. Counter versions are immutable (write-new-then-prune) and carry a
(checkpoint, batch_id) marker so a replayed micro-batch after a failure is a
no-op instead of a double bump. On an object store you would swap the counter
table for a Delta table and let MERGE handle concurrency; the versioned-dir
scheme here is the same idea expressed with plain parquet.
"""

from __future__ import annotations

import json
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from judy_graph_db_spark.schema import union_all
from judy_graph_db_spark.streaming.pathio import (fs_delete, fs_exists,
                                                  fs_isdir, fs_listdir,
                                                  fs_read_text,
                                                  fs_write_text, pjoin)

EDGE_CSV_SCHEMA = "src LONG, dst LONG, label STRING"


def read_edge_csv_stream(
    spark: SparkSession,
    path: str,
    schema: str = EDGE_CSV_SCHEMA,
    sep: str = ",",
    label: Optional[str] = None,
    transform: Optional[Callable[[DataFrame], DataFrame]] = None,
) -> DataFrame:
    """Streaming CSV edge source. Malformed lines are dropped
    (``insertCSVEdge`` skip-on-parse-error, ``FastAccess.hs:342-343``).
    ``transform`` is the ``addCsvLine`` analog applied to each batch's rows."""
    raw = (
        spark.readStream.schema(schema)
        .option("sep", sep)
        .option("mode", "DROPMALFORMED")
        .csv(path)
    )
    if transform is not None:
        raw = transform(raw)
    if label is not None and "label" not in raw.columns:
        raw = raw.withColumn("label", F.lit(label))
    elif "label" in raw.columns:
        raw = raw.withColumn("label", F.coalesce(F.col("label"), F.lit(label or "EDGE")))
    df = raw.filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
    if "labels" not in df.columns:
        df = df.withColumn("labels", F.array(F.col("label")))
    if "is_back" not in df.columns:
        df = df.withColumn("is_back", F.lit(False))
    return df


def _counters_dir(edges_sink: str) -> str:
    return edges_sink.rstrip("/") + "_counters"


def _latest_counter_version(cdir: str) -> Optional[int]:
    if not fs_isdir(cdir):
        return None
    versions = [
        int(d[2:]) for d in fs_listdir(cdir)
        if d.startswith("v=") and d[2:].isdigit()
    ]
    return max(versions) if versions else None


def foreach_batch_insert(stream: DataFrame, edges_sink: str,
                         checkpoint: Optional[str] = None,
                         available_now: bool = True):
    """Fold the edge stream into a parquet edges sink with the reference's
    counter semantics: each micro-batch continues every (src,label,is_back)
    enumeration past that key's current max ``edge_seq`` (SURVEY.md §1.5) —
    the streaming analog of ``insertNodeEdgeAttr``'s read-counter/bump/write.

    The per-key maxima live in an incrementally-maintained counter table
    (``<sink>_counters/v=N``), NOT in a rescan of the sink: per-batch cost is
    O(batch), not O(accumulated sink). The sink is scanned exactly once, as a
    bootstrap, when it was primed before any counter version existed.
    Within-batch enumeration order is the explicit (dst, row-hash) sort — a
    deterministic function of the batch contents, stable across replays
    (unlike ``monotonically_increasing_id``, which depends on task placement).

    Returns the started StreamingQuery; with ``available_now`` it drains all
    currently-visible files then stops (the batch-file use case the reference
    serves); without it it runs continuously."""
    from pyspark.sql import Window

    def handle(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        key = ["src", "label", "is_back"]
        cdir = _counters_dir(edges_sink)
        latest = _latest_counter_version(cdir)
        ck_id = checkpoint or ""

        if latest is not None:
            vdir = pjoin(cdir, f"v={latest}")
            meta_file = pjoin(vdir, "_batch_meta.json")
            if fs_exists(meta_file):
                meta = json.loads(fs_read_text(meta_file))
                if meta.get("checkpoint") == ck_id and meta.get("batch_id") == batch_id:
                    return  # replayed micro-batch — already folded, stay idempotent
            base = spark.read.parquet(vdir).select(
                *key, F.col("max_seq").alias("_base")
            )
        elif fs_exists(edges_sink) and any(
            f.endswith(".parquet") for f in fs_listdir(edges_sink)
        ):
            # one-time bootstrap: sink primed before counters existed
            base = (
                spark.read.parquet(edges_sink)
                .groupBy(*key)
                .agg(F.max("edge_seq").alias("_base"))
            )
        else:
            base = None

        order_hash = F.xxhash64(*[F.col(c) for c in batch.columns])
        w = Window.partitionBy(*key).orderBy(F.col("dst"), order_hash)
        b = batch.withColumn("_rn", F.row_number().over(w))
        if base is not None:
            b = b.join(base, key, "left").withColumn(
                "_base", F.coalesce(F.col("_base"), F.lit(0))
            )
        else:
            b = b.withColumn("_base", F.lit(0))
        out = b.withColumn("edge_seq", (F.col("_base") + F.col("_rn")).cast("long")).select(
            "src", "dst", "label", "labels", "is_back", "edge_seq"
        )
        out.write.mode("append").parquet(edges_sink)

        # fold the batch maxima into a NEW counter version (old one stays
        # readable until the write completes — no overwrite-while-reading)
        batch_max = out.groupBy(*key).agg(F.max("edge_seq").alias("max_seq"))
        if base is not None:
            merged = (
                union_all([base.select(*key, F.col("_base").alias("max_seq")), batch_max],
                          by_name=True)
                .groupBy(*key)
                .agg(F.max("max_seq").alias("max_seq"))
            )
        else:
            merged = batch_max
        new_version = 0 if latest is None else latest + 1
        new_vdir = pjoin(cdir, f"v={new_version}")
        # the counter relation is O(distinct (src,label,is_back)) — node
        # scale on a big graph — so write it hash-partitioned on the key
        # (a coalesce(1) single file would serialize every micro-batch
        # through one task); the partition count tracks the session's
        # shuffle parallelism with a floor of 4 files. The micro-batch
        # session's AQE coalesces even an explicit repartition(n, cols)
        # down to one partition on small batches (observed on pyspark 4.1:
        # foreachBatch plans coalesce where identical batch plans don't),
        # so partition coalescing is scoped off around this one write —
        # the explicit n then sticks.
        n_files = max(
            4, int(spark.conf.get("spark.sql.shuffle.partitions", "32")) // 4
        )
        coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
        prev_coalesce = spark.conf.get(coalesce_key, "true")
        spark.conf.set(coalesce_key, "false")
        try:
            merged.repartition(n_files, *key).write.mode("overwrite").parquet(
                new_vdir
            )
        finally:
            spark.conf.set(coalesce_key, prev_coalesce)
        fs_write_text(pjoin(new_vdir, "_batch_meta.json"), json.dumps(
            {"checkpoint": ck_id, "batch_id": batch_id}))
        # keep the previous version as a fallback; prune anything older
        for d in fs_listdir(cdir):
            if d.startswith("v=") and d[2:].isdigit() and int(d[2:]) < new_version - 1:
                fs_delete(pjoin(cdir, d))

    writer = stream.writeStream.foreachBatch(handle)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
