"""Golden-fixture tests for the fixpoint flatten (SURVEY §5.1, FIXTURES §5):
struct-only, array-only, nesting, empty/null arrays (outer vs reference
mode), name collisions, map columns."""

import pyspark.sql.functions as F  # noqa: F401
import pytest

from etl_ipl_data_analysis_pipeline_spark.operators.flatten import (
    flatten,
    flatten_once,
    nested_columns,
)


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_struct_only(spark):
    df = spark.createDataFrame(
        [(1, {"a": 10, "b": "x"})], "id long, s struct<a: long, b: string>"
    )
    out = flatten(df)
    assert out.columns == ["id", "s_a", "s_b"]
    assert rows(out) == [(1, 10, "x")]


def test_array_only_explodes_rows(spark):
    df = spark.createDataFrame([(1, [10, 20, 30])], "id long, a array<long>")
    out = flatten(df)
    assert out.columns == ["id", "a"]
    assert rows(out) == [(1, 10), (1, 20), (1, 30)]


def test_nested_struct_array_fixpoint(spark):
    df = spark.createDataFrame(
        [(1, {"inner": [{"v": 1}, {"v": 2}]})],
        "id long, s struct<inner: array<struct<v: long>>>",
    )
    out = flatten(df)
    assert nested_columns(out) == []
    assert out.columns == ["id", "s_inner_v"]
    assert rows(out) == [(1, 1), (1, 2)]


def test_empty_and_null_arrays_outer_mode_keeps_rows(spark):
    df = spark.createDataFrame(
        [(1, [7]), (2, []), (3, None)], "id long, a array<long>"
    )
    assert rows(flatten(df, mode="outer")) == [(1, 7), (2, None), (3, None)]


def test_empty_and_null_arrays_reference_mode_drops_rows(spark):
    df = spark.createDataFrame(
        [(1, [7]), (2, []), (3, None)], "id long, a array<long>"
    )
    # reference-faithful inner explode: rows 2 and 3 vanish
    assert rows(flatten(df, mode="reference")) == [(1, 7)]


def test_name_collision_gets_suffixed(spark):
    df = spark.createDataFrame(
        [(1, 5, {"b": 6})], "id long, s_b long, s struct<b: long>"
    )
    out = flatten(df)
    assert out.columns == ["id", "s_b", "s_b_2"]
    assert rows(out) == [(1, 5, 6)]


def test_map_column_explodes_to_key_value(spark):
    df = spark.createDataFrame(
        [(1, {"p1": "alice", "p2": "bob"})], "id long, m map<string,string>"
    )
    out = flatten(df)
    assert out.columns == ["id", "m_key", "m_value"]
    assert rows(out) == [(1, "p1", "alice"), (1, "p2", "bob")]


def test_multiple_arrays_explode_one_per_pass(spark):
    df = spark.createDataFrame(
        [(1, [1, 2], ["x", "y"])], "id long, a array<long>, b array<string>"
    )
    one = flatten_once(df)
    # first pass explodes only the first array
    assert [f.name for f in one.schema.fields if f.dataType.typeName() == "array"] == ["b"]
    # fixpoint yields the cartesian of the two arrays
    assert len(flatten(df).collect()) == 4
