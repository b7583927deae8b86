"""``schema.union_all`` is the one way the package unions DataFrames: it
must give what ``DataFrame.union``/``unionByName`` give (schema and rows),
and, unlike them, leave a cached input visible to the CacheManager."""

import re
from pathlib import Path

import pytest

from judy_graph_db_spark import schema as S
from judy_graph_db_spark.schema import local_df, union_all

PACKAGE = Path(S.__file__).resolve().parent


def _same(got, want):
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())


def test_positional_matches_union(spark):
    a = local_df(spark, [(1, "x"), (2, None)], "k long, v string")
    b = local_df(spark, [(3, "y")], "key long, val string")  # names differ
    c = local_df(spark, [(1, "x")], "k long, v string")
    _same(union_all([a, b]), a.union(b))
    _same(union_all([a, b, c]), a.union(b).union(c))


def test_positional_widens_types_like_union(spark):
    a = local_df(spark, [(1,)], "n int")
    b = local_df(spark, [(2 ** 40,)], "n long")
    _same(union_all([a, b]), a.union(b))


def test_by_name_reorders_columns_like_union_by_name(spark):
    a = local_df(spark, [(1, "x", True)], "k long, v string, f boolean")
    b = local_df(spark, [(False, "y", 2)], "f boolean, v string, k long")
    c = local_df(spark, [("z", 3, None)], "v string, k long, f boolean")
    _same(union_all([a, b], by_name=True), a.unionByName(b))
    _same(union_all([a, b, c], by_name=True), a.unionByName(b).unionByName(c))


def test_single_input_is_returned_as_is(spark):
    a = local_df(spark, [(1,)], "k long")
    assert union_all([a]) is a
    assert union_all([a], by_name=True) is a


def test_empty_inputs(spark):
    a = local_df(spark, [], "k long, v string")
    b = local_df(spark, [], "k long, v string")
    full = local_df(spark, [(5, "z")], "k long, v string")
    _same(union_all([a, b]), a.union(b))
    _same(union_all([a, full, b], by_name=True), a.unionByName(full).unionByName(b))
    with pytest.raises(ValueError):
        union_all([])


def test_cached_union_input_stays_cached(spark):
    """A cached input whose own plan is a union (a ``fwd ∪ back`` edge
    table) is kept whole, not spliced into the new union, so a union
    over it is read from the cache."""
    fwd = local_df(spark, [(1, 2), (2, 3)], "src long, dst long")
    rev = fwd.selectExpr("dst AS src", "src AS dst")
    both = union_all([fwd, rev]).cache()
    try:
        both.count()
        extra = local_df(spark, [(9, 9)], "src long, dst long")
        out = union_all([both, extra])
        plan = out._jdf.queryExecution().withCachedData().toString()
        assert "InMemoryRelation" in plan
        assert sorted(out.collect()) == sorted(both.collect() + extra.collect())
    finally:
        both.unpersist(blocking=True)


UNION_CALL = re.compile(r"\.union\(|\.unionByName\(|unionAll\(")


def test_no_union_outside_union_all():
    """``DataFrame.union``/``unionByName`` flatten nested unions inside
    their inputs, which hides a cached input from the CacheManager; every
    union in the package goes through ``union_all``."""
    hits = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path.name == "schema.py" and path.parent == PACKAGE:
            continue
        hits += [f"{path.relative_to(PACKAGE.parent)}:{i}"
                 for i, line in enumerate(path.read_text().splitlines(), 1)
                 if UNION_CALL.search(line)]
    assert not hits, hits
