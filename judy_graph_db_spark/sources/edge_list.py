"""Edge-list and CSV ingest — SURVEY.md §2.1.

The reference streams files line-by-line through Streamly so dense graphs
never materialize as a list (``insertCSVEdgeStream``, ``FastAccess.hs:323-334``;
``insertNodeLines``, ``Enum.hs:387-407``). Spark's distributed readers give
the same constant-driver-memory property: the file is split and parsed by
executors; malformed lines are dropped by the reader
(``insertCSVEdge`` skip-on-parse-error, ``FastAccess.hs:342-343`` ≙
``mode=DROPMALFORMED``).
"""

from __future__ import annotations

import itertools
import os
import random
import tempfile
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from judy_graph_db_spark.graph import Graph, Ranges
from judy_graph_db_spark.schema import union_all

# F4 (FIXTURES.md): the reference checkout's own benchmark edge list
REFERENCE_DATA_TXT = "/root/reference/benchmark/data.txt"
F4_SEED = 4
F4_EDGES = 367_662
F4_NODES = 10_000
# Zipf exponent of the endpoint draw: the heaviest source gets ~1.3k of
# the 367,662 edges, the reference's skew (max out-degree ~1,383)
_F4_ZIPF_S = 0.46


def _f4_bytes() -> bytes:
    """The F4-shaped edge list: F4_EDGES CRLF lines of ``src<TAB>dst``
    over ids 0..F4_NODES-1, both endpoints Zipf-drawn through an
    independent shuffle of the ids (so hubs are spread over the id space,
    not piled on id 0), all from ``random.Random(F4_SEED)``."""
    rng = random.Random(F4_SEED)
    cum = list(itertools.accumulate(
        (r + 1) ** -_F4_ZIPF_S for r in range(F4_NODES)))
    src_ids = rng.sample(range(F4_NODES), F4_NODES)
    dst_ids = rng.sample(range(F4_NODES), F4_NODES)
    src = rng.choices(src_ids, cum_weights=cum, k=F4_EDGES)
    dst = rng.choices(dst_ids, cum_weights=cum, k=F4_EDGES)
    return "".join(
        f"{s}\t{d}\r\n" for s, d in zip(src, dst)).encode("ascii")


def write_f4_edge_list(directory: str | None = None) -> str:
    """Write the deterministic F4-format edge list (see :func:`_f4_bytes`)
    to ``<directory>/judy_f4_data_seed<F4_SEED>.txt`` (default: the
    system temp directory) and return its path. A file already there is
    reused only if its size matches what the generator produces;
    otherwise the bytes go to a temp file in the same directory that is
    then renamed over the target, so a reader never sees a partial file.
    Raises if the file cannot be produced — callers never get an empty
    input."""
    directory = directory or tempfile.gettempdir()
    path = os.path.join(directory, f"judy_f4_data_seed{F4_SEED}.txt")
    data = _f4_bytes()
    if os.path.isfile(path) and os.path.getsize(path) == len(data):
        return path
    fd, tmp = tempfile.mkstemp(dir=directory, prefix=".judy_f4_")
    try:
        with os.fdopen(fd, "wb") as f:
            f.write(data)
        os.replace(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise
    return path


def f4_data_path() -> str:
    """The F4 edge-list file (``insertNodeLines`` input): the reference's
    own ``benchmark/data.txt`` when the reference checkout is present,
    else the in-repo generated file of the same format
    (:func:`write_f4_edge_list`). Every consumer that must read the same
    bytes — an ingest gate and its DuckDB twin — resolves through here."""
    if os.path.exists(REFERENCE_DATA_TXT):
        return REFERENCE_DATA_TXT
    return write_f4_edge_list()


def read_edge_list(
    spark: SparkSession,
    path: str,
    label: str = "EDGE",
    sep: str = r"\s+",
    ranges: Ranges | None = None,
    add_back_edges: bool = False,
) -> Graph:
    """Whitespace-separated int-pair edge list (the benchmark format,
    ``insertNodeLines``, ``Enum.hs:387-407``): every edge gets one fixed
    label. Scale: the text source splits by HDFS block, so a 100 TB edge
    list parses fully in parallel."""
    lines = spark.read.text(path)
    parts = F.split(F.trim(F.col("value")), sep)
    edges = (
        lines.filter(F.trim(F.col("value")) != "")
        .select(
            parts.getItem(0).cast("long").alias("src"),
            parts.getItem(1).cast("long").alias("dst"),
        )
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .withColumn("label", F.lit(label))
    )
    g = Graph.from_edges(spark, edges, ranges=ranges)
    if add_back_edges:
        back = g.edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"),
            "label", "labels", F.lit(True).alias("is_back"), "edge_seq",
        )
        g.edges = union_all([g.edges, back], by_name=True)
    return g


def read_csv_edges(
    spark: SparkSession,
    path: str,
    src_col: str = "_c0",
    dst_col: str = "_c1",
    label: str | None = None,
    label_col: str | None = None,
    header: bool = False,
    transform: Optional[Callable[[DataFrame], DataFrame]] = None,
    ranges: Ranges | None = None,
) -> Graph:
    """CSV edge ingest (``insertCSVEdgeStream``, ``FastAccess.hs:323-334``).

    ``transform`` is the user hook that replaces ``AddCSVLine``/``addCsvLine``
    (``FastAccess.hs:230-235``): it receives the raw parsed DataFrame and
    returns one with at least (src, dst[, label]) columns — e.g. a dictionary
    join mapping names → dense ids (see :func:`assign_dense_ids`)."""
    raw = spark.read.csv(path, header=header, mode="DROPMALFORMED")
    if transform is not None:
        df = transform(raw)
    else:
        df = raw.select(
            F.col(src_col).cast("long").alias("src"),
            F.col(dst_col).cast("long").alias("dst"),
            *( [F.col(label_col).alias("label")] if label_col else [] ),
        )
        if label is not None and label_col is None:
            df = df.withColumn("label", F.lit(label))
    return Graph.from_edges(spark, df, ranges=ranges)


def assign_dense_ids(df: DataFrame, name_col: str, label_col: str | None = None) -> DataFrame:
    """Name → dense-id dictionary (the ``Map String Word32`` the reference
    threads through ``addCsvLine``). Ids are contiguous per label when
    ``label_col`` is given — reproducing the reference's range model where
    node-id spans encode the label (``README.md:57-59``, SURVEY.md §3.4).

    Returns ``(name, label?, id)`` with ids assigned by the deterministic
    ``(label, name)`` lexicographic order (non-string names order by their
    string form) — never ``monotonically_increasing_id``, so re-runs and
    twins emit identical tables.

    Scale shape (same two-level rank as ``stats.build_vocab``): the
    name→id map of a 100 TB graph is billions of rows, so no global
    unpartitioned window may rank it. Names bucket by ``(label, 2-char
    name prefix)``; ranks within a bucket come from a PARTITIONED
    row_number (prefix order is compatible with full-name order, so
    bucket-local order + bucket start offsets reproduce the global rank
    exactly); offsets come from a running sum over the bucket-stats
    relation — |distinct (label, prefix)| rows, ≤ |labels|·|alphabet|²,
    the aggregate-sized place a single-partition window is acceptable."""
    from pyspark.sql import Window

    keys = [label_col] if label_col else []
    names = (
        df.select(F.col(name_col).cast("string").alias(name_col), *keys)
        .distinct()
        .withColumn("__b", F.substring(F.col(name_col), 1, 2))
    )
    bstat = names.groupBy(*keys, "__b").agg(F.count(F.lit(1)).alias("__n"))
    w_off = (
        Window.orderBy(*[F.col(c).asc() for c in keys + ["__b"]])
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = bstat.select(
        *keys, "__b",
        F.coalesce(F.sum("__n").over(w_off), F.lit(0)).alias("__off"),
    )
    w_in = Window.partitionBy(*keys, "__b").orderBy(F.col(name_col).asc())
    return (
        names.join(F.broadcast(offs), keys + ["__b"])
        .select(
            name_col, *keys,
            (F.col("__off") + F.row_number().over(w_in) - 1)
            .cast("long").alias("id"),
        )
    )


def read_json_edges(
    spark: SparkSession,
    path: str,
    src_col: str = "src",
    dst_col: str = "dst",
    label_col: str | None = "label",
    transform: Optional[Callable[[DataFrame], DataFrame]] = None,
    ranges: Ranges | None = None,
) -> Graph:
    """JSON-lines edge ingest — same contract as :func:`read_csv_edges`
    for corpora shipped as JSONL (one edge object per line). Malformed
    lines are dropped (``mode=DROPMALFORMED``, the ``insertCSVEdge``
    skip-on-parse-error rule); ``transform`` is the ``AddCSVLine``-style
    user hook. Schema is inferred from the data unless ``transform``
    handles the raw frame itself."""
    raw = spark.read.json(path, mode="DROPMALFORMED")
    if transform is not None:
        df = transform(raw)
    else:
        df = raw.select(
            F.col(src_col).cast("long").alias("src"),
            F.col(dst_col).cast("long").alias("dst"),
            *([F.col(label_col).alias("label")] if label_col and label_col in raw.columns else []),
        )
    return Graph.from_edges(spark, df, ranges=ranges)


def write_edge_list(g: Graph, path: str, sep: str = "\t",
                    mode: str = "overwrite") -> None:
    """Export forward edges as the reference's benchmark text format
    (``benchmark/data.txt``: one ``src<sep>dst`` int pair per line) — the
    round-trip sink for :func:`read_edge_list`. Distributed text write, one
    shard per partition."""
    (
        g.edges.filter(~F.col("is_back"))
        .select(F.concat_ws(sep, F.col("src"), F.col("dst")).alias("value"))
        .write.mode(mode).text(path)
    )
