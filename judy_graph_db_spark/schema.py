"""Canonical graph schema.

The reference packs everything into 32-bit words (nodes: Node32,
``FastAccess.hs:129``; edges: 64-bit judy keys src‖attr → dst,
``FastAccess.hs:19-25``). We replace bit-packing with typed columns — a strict
superset (see SURVEY.md §1.3):

    nodes(id, label, props)
    edges(src, dst, label, labels, is_back, edge_seq)
    ranges(range_start, range_len, label, valid_edge_labels)

``edge_seq`` is the 1-based per-(src,label) insertion index that replaces the
reference's parallel-edge counter (``FastAccess.hs:293-315``); ``is_back``
replaces the back-bit ``edgeBackward=0x80000000`` (``FastAccess.hs:149-150``);
``labels`` (array) replaces the summed orthogonal attr bits
(``FastAccess.hs:271-278``).

:func:`local_df` (and its column form :func:`local_columns_df`) is the
one place Python rows become a DataFrame, and
:func:`union_all` the one place DataFrames are unioned.
"""

from __future__ import annotations

from typing import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

NODES_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("label", T.StringType(), True),
        T.StructField("props", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

EDGES_SCHEMA = T.StructType(
    [
        T.StructField("src", T.LongType(), False),
        T.StructField("dst", T.LongType(), False),
        T.StructField("label", T.StringType(), False),
        T.StructField("labels", T.ArrayType(T.StringType()), True),
        T.StructField("is_back", T.BooleanType(), False),
        T.StructField("edge_seq", T.LongType(), False),
    ]
)

RANGES_SCHEMA = T.StructType(
    [
        T.StructField("range_start", T.LongType(), False),
        T.StructField("range_len", T.LongType(), False),
        T.StructField("label", T.StringType(), False),
        T.StructField("valid_edge_labels", T.ArrayType(T.StringType()), True),
    ]
)

EDGE_COLS = [f.name for f in EDGES_SCHEMA.fields]
NODE_COLS = [f.name for f in NODES_SCHEMA.fields]


def local_df(spark: SparkSession, rows: Iterable[tuple], schema: T.StructType | str) -> DataFrame:
    """A DataFrame over driver-side ``rows`` (tuples in ``schema`` order;
    ``schema`` is a StructType or a DDL string).

    The rows go in as a ``pyarrow.Table``, which Spark plans as a JVM
    ``LocalRelation`` whatever the session's Arrow setting. A plain
    ``createDataFrame(<list>)`` plans a ``LogicalRDD`` instead: every
    execution starts Python workers, and its size estimate is
    ``Long.MaxValue``, so a join can never broadcast it. A local relation
    carries its exact size, so an id anchor or an edit batch joins the
    edge table as the broadcast side and the edge table is not shuffled.
    """
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    return local_columns_df(spark, list(zip(*rows)) or [()] * len(schema), schema)


def local_columns_df(spark: SparkSession, columns: Sequence,
                     schema: T.StructType | str) -> DataFrame:
    """:func:`local_df` over driver-side ``columns``, one per ``schema``
    field: Arrow arrays, numpy arrays or sequences. A result computed on
    the driver goes in column by column, with no Python row tuples."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [c.cast(f.type) if isinstance(c, (pa.Array, pa.ChunkedArray))
         else pa.array(c, type=f.type) for c, f in zip(columns, arrow)],
        schema=arrow)
    return spark.createDataFrame(table, schema)


def union_all(dfs: Sequence[DataFrame], by_name: bool = False) -> DataFrame:
    """UNION ALL of ``dfs`` (positional, or by column name when
    ``by_name``) as ONE n-ary logical ``Union`` over the inputs' plans.

    ``DataFrame.union``/``unionByName`` run ``CombineUnions`` over the
    whole new plan, which also flattens nested unions *inside* the inputs.
    A cached input whose plan holds a UNION ALL (the tpch edge SQL, a
    ``fwd ∪ back`` edge table) then no longer matches its own cached plan,
    so the CacheManager misses and the query recomputes the input from
    its sources. Here the inputs' plans stay as they are, so a cached
    input is still read from the cache; the optimizer flattens the unions
    after cache substitution, so executed plans are otherwise unchanged.
    An input's top-level ``Union`` is never spliced either: the input may
    itself be the cached plan.

    Every union in the package goes through here; loops collect their
    parts in a list and call this once."""
    dfs = list(dfs)
    if not dfs:
        raise ValueError("union_all needs at least one DataFrame")
    if len(dfs) == 1:
        return dfs[0]
    first = dfs[0]
    jvm, jspark = first.sparkSession._jvm, first.sparkSession._jsparkSession
    plans = jvm.PythonUtils.toSeq([df._jdf.logicalPlan() for df in dfs])
    union = jvm.org.apache.spark.sql.catalyst.plans.logical.Union(plans, by_name, False)
    return DataFrame(jvm.org.apache.spark.sql.classic.Dataset.ofRows(jspark, union),
                     first.sparkSession)
