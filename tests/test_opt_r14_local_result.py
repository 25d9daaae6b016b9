"""Round-14 optimization locks: VALUES-backed result frames.

Change 11 replaced Python-RDD ``createDataFrame`` local frames with JVM
``VALUES`` LocalRelations in three places: gate RETURN frames
(``plans/registry.local_result``), the greedy-selection operator returns
(``operators/similarity``), and the Engine's DML result frames +
TRUNCATE's empty overwrite frame (``table._empty_typed_df``).  These
tests lock row-identity against the old formulation, including the
negative-zero sign bit the SQL numeric literal parser would otherwise
normalize away."""

import math

from pyspark.sql import types as T

from icebergsql_spark.plans.registry import local_result
from icebergsql_spark.table import _empty_typed_df, _values_local_df


def test_local_result_scalar_rows_identical(spark):
    schema = T.StructType(
        [
            T.StructField("a", T.LongType()),
            T.StructField("b", T.StringType()),
            T.StructField("c", T.DoubleType()),
        ]
    )
    rows = [(1, "x", 2.5), (2, "y' z", -1.25), (3, None, None)]
    got = local_result(spark, rows, schema).collect()
    want = spark.createDataFrame(rows, schema).collect()
    assert sorted(got) == sorted(want)
    # the whole point: a LocalTableScan, not a Python-RDD scan
    plan = (
        local_result(spark, rows, schema)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "LocalTableScan" in plan


def test_local_result_negative_zero_sign_preserved(spark):
    rows = [("z", -0.0), ("p", 0.0)]
    got = {
        r["k"]: r["v"]
        for r in local_result(spark, rows, "k string, v double").collect()
    }
    assert math.copysign(1.0, got["z"]) < 0
    assert math.copysign(1.0, got["p"]) > 0


def test_local_result_exotic_schema_falls_back(spark):
    schema = T.StructType([T.StructField("a", T.ArrayType(T.LongType()))])
    got = local_result(spark, [([1, 2],)], schema).collect()
    assert got[0]["a"] == [1, 2]


def test_local_result_empty_rows(spark):
    df = local_result(spark, [], "k string, v bigint")
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["k", "v"]


def test_values_local_df_infinity_falls_back(spark):
    rows = [("a", float("inf"))]
    got = _values_local_df(spark, rows, "k string, v double").collect()
    assert math.isinf(got[0]["v"])


def test_empty_typed_df_zero_rows_and_types(spark):
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("s", T.StringType()),
            T.StructField("d", T.DecimalType(12, 2)),
        ]
    )
    df = _empty_typed_df(spark, schema)
    assert df.count() == 0
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "bigint",
        "string",
        "decimal(12,2)",
    ]
    # folds to an empty LocalRelation (0 partitions), never
    # defaultParallelism empty Python-RDD slices
    assert df.rdd.getNumPartitions() <= 1


def test_values_local_df_strings_exact_under_both_parser_modes(spark):
    """Strings are rendered as hex bytes, so neither parser mode's escape
    rules nor ``${...}`` substitution can change them."""
    vals = ["it's", "a\\b", "x\ny", "${x}", "", "Ünï", "\\'", "'"]
    key = "spark.sql.parser.escapedStringLiterals"
    prev = spark.conf.get(key)
    try:
        for mode in ("false", "true"):
            spark.conf.set(key, mode)
            df = _values_local_df(spark, [(v, i) for i, v in enumerate(vals)],
                                  "s string, i int")
            assert [r["s"] for r in sorted(df.collect(), key=lambda r: r["i"])] == vals
            assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, prev)


def test_values_local_df_above_row_cap_and_unknown_type(spark):
    """Above ``_VALUES_MAX_ROWS`` rows the parser's cost outgrows the
    Python-RDD frame, which then carries the same rows and schema; a
    type the renderer has no literal form for is refused, not guessed."""
    import pytest

    from icebergsql_spark.table import _VALUES_MAX_ROWS

    schema = "p string, n long"
    rows = [(f"/t/data/part-{i}.parquet", i) for i in range(_VALUES_MAX_ROWS + 1)]
    df = _values_local_df(spark, rows, schema)
    assert df.schema.simpleString() == "struct<p:string,n:bigint>"
    assert sorted(tuple(r) for r in df.collect()) == sorted(rows)
    assert "LocalTableScan" not in df._jdf.queryExecution().executedPlan().toString()
    at_cap = _values_local_df(spark, rows[:_VALUES_MAX_ROWS], schema)
    assert "LocalTableScan" in at_cap._jdf.queryExecution().executedPlan().toString()
    with pytest.raises(ValueError, match="timestamp"):
        _values_local_df(spark, [(None,)], "t timestamp")
