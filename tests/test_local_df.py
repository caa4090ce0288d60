"""local_df (tables.py): the LocalRelation fast path for driver-local
row lists must be value- and schema-identical to the plain
``createDataFrame(list, schema)`` path it replaces, and must actually
plan as a LocalRelation (no Python-RDD stage on every action — the
r15 ~0.3 s/action constant)."""
import datetime

import pytest

from cube_builder_spark.tables import local_df


def _plan_class(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().getClass().getName()


CASES = [
    ([(1, 2, 0.5), (2, None, None)], "a long, b long, c double"),
    ([("x", 1.0), ("y", 2.0)], "s string, v double"),
    ([(datetime.date(2020, 1, 1), 5)], "d date, n long"),
    ([(datetime.datetime(2020, 1, 1, 12, 30), 5)], "ts timestamp, n long"),
    ([(1, [1, 2, 3])], "i long, xs array<long>"),
    ([(None, "q")], "i long, s string"),
    ([(True, 2)], "b boolean, n int"),
]


@pytest.mark.parametrize("rows,schema", CASES)
def test_local_df_matches_list_path(spark, rows, schema):
    a = spark.createDataFrame(rows, schema)
    b = local_df(spark, rows, schema)
    assert a.schema == b.schema
    assert a.collect() == b.collect()
    assert "LocalRelation" in _plan_class(b)


def test_local_df_nan_falls_back_exactly(spark):
    """A real float NaN must survive (the pandas path would flatten it
    to NULL) — the helper detects it and uses the exact list path."""
    rows = [(float("nan"), 1), (2.5, 2)]
    got = local_df(spark, rows, "x double, n long").collect()
    assert got[0].x != got[0].x  # NaN, not None
    assert got[1].x == 2.5


def test_local_df_nested_nan_falls_back(spark):
    rows = [(1, [1.0, float("nan")])]
    got = local_df(spark, rows, "i long, xs array<double>").collect()
    assert got[0].xs[1] != got[0].xs[1]


def test_local_df_empty(spark):
    df = local_df(spark, [], "a long, b string")
    assert df.collect() == []
    assert [f.name for f in df.schema.fields] == ["a", "b"]


def test_local_df_dict_rows_map_by_name(spark):
    """Dict rows bind to schema fields by key, not by key order."""
    rows = [{"b": 2.0, "a": 1.0}, {"a": 3.0, "b": 4.0}]
    schema = "a double, b double"
    got = local_df(spark, rows, schema)
    assert got.collect() == spark.createDataFrame(rows, schema).collect()
    assert [(r.a, r.b) for r in got.collect()] == [(1.0, 2.0), (3.0, 4.0)]


def test_local_df_dict_nan_falls_back(spark):
    got = local_df(spark, [{"a": float("nan")}], "a double").collect()
    assert got[0].a is not None and got[0].a != got[0].a
