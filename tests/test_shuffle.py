"""Unit tests for the skew-aware shuffle utilities."""

from pyspark.sql import functions as F

from doccrawler_spark.shuffle import global_sequence, local_relation, topk_per_group


def test_global_sequence_dense_and_ordered(spark):
    rows = [(f"k{i:04d}", i % 7) for i in range(500)]
    df = spark.createDataFrame(rows, "key string, grp int")
    out = global_sequence(df, ["key"], "seq", start=100).collect()
    by_key = sorted(out, key=lambda r: r["key"])
    seqs = [r["seq"] for r in by_key]
    assert seqs == list(range(100, 600))


def test_global_sequence_empty(spark):
    df = spark.createDataFrame([], "key string")
    assert global_sequence(df, ["key"], "seq").count() == 0


def test_topk_per_group_exact_split(spark):
    rows = [(g, i, f"u{g}-{i}") for g in ["a", "b", "hot"] for i in range(
        50 if g == "hot" else 5)]
    df = spark.createDataFrame(rows, "host string, priority int, url string")
    top, rest = topk_per_group(
        df, "host", ["priority"], F.lit(3), salt=4, unique_col="url"
    )
    t = top.collect()
    r = rest.collect()
    assert len(t) + len(r) == len(rows)
    for g, n in [("a", 3), ("b", 3), ("hot", 3)]:
        got = sorted(x["priority"] for x in t if x["host"] == g)
        assert got == [0, 1, 2], (g, got)
    # rest holds everything else, no dupes across halves
    assert {(x["host"], x["priority"]) for x in t}.isdisjoint(
        {(x["host"], x["priority"]) for x in r}
    )


def test_topk_per_group_variable_k(spark):
    rows = [("a", i, 2) for i in range(10)] + [("b", i, 5) for i in range(10)]
    df = spark.createDataFrame(rows, "host string, priority int, quota int")
    top, rest = topk_per_group(df, "host", ["priority"], F.col("quota"), salt=3)
    per = {g: sorted(x["priority"] for x in top.collect() if x["host"] == g)
           for g in ["a", "b"]}
    assert per == {"a": [0, 1], "b": [0, 1, 2, 3, 4]}


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_local_relation_types_nulls_and_plan(spark):
    """Driver rows keep their exact Spark types through the Arrow hop
    — binary, a long past 2**31, and NULLs in string/int/double/boolean
    cells (a pandas hop would turn the NULL int into float NaN) — and
    plan as a LocalTableScan, not a pickled-RDD scan."""
    ddl = ("url string, html binary, depth int, priority long, "
           "delay double, is_new boolean")
    rows = [
        ("https://a.test/", bytearray(b"<p>x</p>"), 1, 2**40, 0.5, True),
        (None, None, None, None, None, None),
        ("https://a.test/b", b"", 3, -1, None, False),
    ]
    df = local_relation(spark, rows, ddl)
    assert df.schema.simpleString() == (
        "struct<url:string,html:binary,depth:int,priority:bigint,"
        "delay:double,is_new:boolean>")
    got = [tuple(r) for r in df.collect()]
    assert got == [
        ("https://a.test/", bytearray(b"<p>x</p>"), 1, 2**40, 0.5, True),
        (None, None, None, None, None, None),
        ("https://a.test/b", bytearray(b""), 3, -1, None, False),
    ]
    plan = _physical_plan(df)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan

    # the same rows through a StructType schema give the same frame
    assert local_relation(spark, rows, df.schema).collect() == df.collect()


def test_local_relation_zero_rows(spark):
    df = local_relation(spark, [], "url string, priority long")
    assert df.schema.simpleString() == "struct<url:string,priority:bigint>"
    assert df.collect() == []
    plan = _physical_plan(df)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
