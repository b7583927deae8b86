"""``schema.local_df`` is the one way Python rows become a DataFrame: it
must give what ``createDataFrame`` gives (schema and rows) for every
schema the package builds literals with, and plan as a JVM
``LocalRelation`` whatever the session's Arrow setting."""

import inspect
from pathlib import Path

import pytest

from judy_graph_db_spark import schema as S
from judy_graph_db_spark.schema import (EDGES_SCHEMA, NODES_SCHEMA, RANGES_SCHEMA,
                                        local_columns_df, local_df)

PACKAGE = Path(S.__file__).resolve().parent

# (schema, non-empty rows) — one case per schema a package call site uses;
# None sits in every nullable column type that a site can leave empty
CASES = [
    ("n0 long", [(3,), (1,), (None,)]),
    ("id BIGINT", [(7,)]),
    ("src long, dst long", [(1, 2), (2, 1)]),
    ("src long, label string, edge_seq long", [(1, "A", 1), (2, None, 3)]),
    ("src long, label string, edge_seq long, new_dst long", [(1, "A", 1, 9)]),
    ("src long, dst long, label string, labels array<string>, is_back boolean, ins_order long",
     [(1, 2, "A", ["A", "B"], False, 0), (2, 1, "A", ["A"], True, 1), (3, 4, "C", None, None, 2)]),
    ("src long, dst long, label string, labels array<string>, is_back boolean",
     [(1, 2, "A", ["A", None], False)]),
    (NODES_SCHEMA, [(1, "P", {"k": "v", "e": None}), (2, None, None), (3, "Q", {})]),
    (EDGES_SCHEMA, [(1, 2, "A", ["A"], False, 1), (2, 1, "A", None, True, 1)]),
    (RANGES_SCHEMA, [(0, 10, "P", ["A", "B"]), (10, 5, "Q", None)]),
    ("id long, component long", [(5, 1), (1, 1)]),
    ("root BIGINT, id BIGINT, depth BIGINT, parent BIGINT", [(1, 2, 1, None)]),
    ("round long, src long, dst long, betweenness double", [(1, 2, 3, 0.5), (2, 3, 4, None)]),
    ("src BIGINT, dst BIGINT, betweenness DOUBLE", [(1, 2, 1e-300)]),
    ("bucket long, w long", [(4, -2), (0, 0)]),
    ("rank long, a string, b string, count long", [(1, "a", "b", 7), (2, "", None, 1)]),
    ("symbol string, freq long", [("ü", 3)]),
]


@pytest.mark.parametrize("schema,rows", CASES, ids=[str(c[0])[:40] for c in CASES])
def test_local_columns_df_matches_row_form(spark, schema, rows):
    """The column form gives the row form's schema and rows, from Python
    lists and from Arrow arrays alike."""
    import pyarrow as pa

    want = local_df(spark, rows, schema)
    cols = [list(c) for c in zip(*rows)]
    arrow = [pa.array(c, type=f.type) for c, f in
             zip(cols, S.to_arrow_schema(want.schema))]
    for columns in (cols, arrow):
        got = local_columns_df(spark, columns, schema)
        assert got.schema == want.schema
        assert got.collect() == want.collect()
        assert _plan_node(got) == "LocalRelation"


def _plan_node(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().nodeName()


@pytest.mark.parametrize("schema,rows", CASES, ids=[str(c[0])[:40] for c in CASES])
def test_local_df_matches_create_dataframe(spark, schema, rows):
    for r in (rows, []):
        got, want = local_df(spark, r, schema), spark.createDataFrame(r, schema)
        assert got.schema == want.schema
        assert got.collect() == want.collect()


@pytest.mark.parametrize("arrow", ["true", "false"])
def test_local_df_plans_local_relation(spark, arrow):
    key = "spark.sql.execution.arrow.pyspark.enabled"
    saved = spark.conf.get(key)
    spark.conf.set(key, arrow)
    try:
        for schema, rows in CASES:
            df = local_df(spark, rows, schema)
            assert _plan_node(df) == "LocalRelation", schema
            assert df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes() < 1024
    finally:
        spark.conf.set(key, saved)


def test_no_create_dataframe_outside_local_df():
    """The Python-worker path (``createDataFrame`` over a list) must not
    come back: every literal goes through ``local_df`` or its column
    form ``local_columns_df``."""
    helpers = [inspect.getsource(f) for f in (local_df, local_columns_df)]
    hits = []
    for path in sorted(PACKAGE.rglob("*.py")):
        text = path.read_text()
        if path.name == "schema.py" and path.parent == PACKAGE:
            for helper in helpers:
                text = text.replace(helper, "")
        hits += [f"{path.relative_to(PACKAGE.parent)}:{i}"
                 for i, line in enumerate(text.splitlines(), 1) if "createDataFrame(" in line]
    assert not hits, hits
