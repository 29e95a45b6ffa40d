"""operators/arrow_rows.map_rows: the one row-at-a-time Python crossing."""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from html_parser_spark.operators.arrow_rows import map_rows

OUT = StructType(
    [
        StructField("key", StringType()),
        StructField("i", IntegerType()),
        StructField("n", LongType()),
    ]
)


def _fan_out(key, k):
    """k output rows per input row (k = 0, 1 or 3 below)."""
    return [(key, i, 10 * k + i) for i in range(k)]


def test_zero_one_and_many_rows_per_input(spark):
    df = spark.createDataFrame(
        [("a", 0), ("b", 1), ("c", 3), ("d", 0), ("e", 1)], "key string, k int"
    )
    got = sorted(tuple(r) for r in map_rows(df, _fan_out, OUT).collect())
    assert got == [("b", 0, 10), ("c", 0, 30), ("c", 1, 31), ("c", 2, 32), ("e", 0, 10)]


def test_empty_partitions_and_empty_input(spark):
    # 8 partitions over 2 rows: most partitions reach the kernel empty
    df = spark.createDataFrame([("a", 1), ("b", 3)], "key string, k int").repartition(8)
    assert map_rows(df, _fan_out, OUT).count() == 4
    empty = spark.createDataFrame([], "key string, k int")
    assert map_rows(empty, _fan_out, OUT).collect() == []


def test_null_string_and_binary_inputs(spark):
    schema = StructType(
        [
            StructField("s", StringType()),
            StructField("b", BinaryType()),
            StructField("s_is_null", IntegerType()),
            StructField("b_len", IntegerType()),
        ]
    )
    df = spark.createDataFrame(
        [(None, None), ("x", b""), ("", b"\x00\xff")], "s string, b binary"
    )
    rows = map_rows(
        df,
        lambda s, b: [(s, b, int(s is None), -1 if b is None else len(b))],
        schema,
    ).collect()
    got = sorted((tuple(r) for r in rows), key=repr)
    assert got == sorted(
        [(None, None, 1, -1), ("x", bytearray(b""), 0, 0), ("", bytearray(b"\x00\xff"), 0, 2)],
        key=repr,
    )


def test_list_of_struct_output(spark):
    """Struct values may be dicts or tuples in field order, and may nest a
    list<struct> (parse's node shape: attrs inside each node); a null list
    and an empty list stay distinct at every level."""
    item = StructType([StructField("word", StringType()), StructField("pos", IntegerType())])
    attr = StructType([StructField("name", StringType()), StructField("value", StringType())])
    node = StructType(
        [
            StructField("id", IntegerType()),
            StructField("attrs", ArrayType(attr)),
            StructField("unary", BooleanType()),
        ]
    )
    schema = StructType(
        [
            StructField("doc", StringType()),
            StructField("words", ArrayType(item)),
            StructField("tuples", ArrayType(item)),
            StructField("nodes", ArrayType(node)),
        ]
    )
    df = spark.createDataFrame([("d1", "a b"), ("d2", ""), ("d3", None)], "doc string, text string")
    d1_nodes = [(2, [("href", "u"), ("title", None)], False), (3, None, None), (4, [], True)]

    def words(doc, text):
        if text is None:
            return [(doc, None, None, None)]
        ws = text.split()
        return [
            (
                doc,
                [{"word": w, "pos": i} for i, w in enumerate(ws)],
                [(w, i) for i, w in enumerate(ws)],
                d1_nodes if ws else [],
            )
        ]

    out = map_rows(df, words, schema)
    assert out.schema == schema
    got = {r["doc"]: r for r in out.collect()}
    for col in ("words", "tuples"):
        assert [(w["word"], w["pos"]) for w in got["d1"][col]] == [("a", 0), ("b", 1)]
    assert [
        (n["id"], None if n["attrs"] is None else [tuple(a) for a in n["attrs"]], n["unary"])
        for n in got["d1"]["nodes"]
    ] == d1_nodes
    for col in ("words", "tuples", "nodes"):
        assert got["d2"][col] == [] and got["d3"][col] is None


def test_result_schema_is_the_struct_type_passed_in(spark):
    item = StructType([StructField("word", StringType()), StructField("pos", IntegerType())])
    schema = StructType(
        [
            StructField("doc", StringType()),
            StructField("payload", BinaryType()),
            StructField("n", LongType()),
            StructField("words", ArrayType(item)),
        ]
    )
    df = spark.createDataFrame([("d1",)], "doc string")
    out = map_rows(df, lambda doc: [(doc, b"x", 1, [])], schema)
    assert out.schema == schema
    assert out.collect()[0]["payload"] == bytearray(b"x")
