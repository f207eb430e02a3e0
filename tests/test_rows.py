"""rows.map_rows: the per-row boundary every per-document UDF runs through."""

import pytest

SCHEMA = "url string, n long, data binary"


def _input(spark):
    return spark.createDataFrame(
        [("a", bytearray(b"\x00\x01")), ("b", bytearray(b"xyz")),
         ("c", None)],
        "url string, html binary")


def test_empty_input_keeps_typed_schema(spark):
    from pyspark.sql.types import DataType

    from scribe_js_spark.rows import map_rows

    empty = _input(spark).filter("url = 'none'")
    res = map_rows(empty, ["url", "html"],
                   lambda url, html: [(url, 1, html)], SCHEMA)
    assert res.schema == DataType.fromDDL(SCHEMA)
    assert res.collect() == []


def test_rows_yielding_nothing_emit_typed_empty_batches(spark):
    from pyspark.sql.types import DataType

    from scribe_js_spark.rows import map_rows

    res = map_rows(_input(spark).coalesce(1), ["url", "html"],
                   lambda url, html: iter(()), SCHEMA)
    assert res.schema == DataType.fromDDL(SCHEMA)
    pdf = res.toPandas()
    assert list(pdf.columns) == ["url", "n", "data"] and len(pdf) == 0


def test_binary_values_arrive_as_bytes(spark):
    from scribe_js_spark.rows import map_rows

    def row(url, html):
        n = None if html is None else len(html)
        yield url, n, html, type(html).__name__

    res = map_rows(_input(spark), ["url", "html"], row,
                   "url string, n long, data binary, kind string")
    got = {r["url"]: r for r in res.collect()}
    assert got["a"]["kind"] == "bytes" and got["b"]["kind"] == "bytes"
    assert got["c"]["kind"] == "NoneType" and got["c"]["n"] is None
    assert bytes(got["b"]["data"]) == b"xyz" and got["a"]["n"] == 2


def test_one_row_yields_many_or_none(spark):
    from scribe_js_spark.rows import map_rows

    def row(url, html):
        for i in range(len(html or b"")):
            yield url, i, html[i:i + 1]

    res = map_rows(_input(spark), ["url", "html"], row, SCHEMA)
    got = sorted((r["url"], r["n"], bytes(r["data"])) for r in res.collect())
    assert got == [("a", 0, b"\x00"), ("a", 1, b"\x01"),
                   ("b", 0, b"x"), ("b", 1, b"y"), ("b", 2, b"z")]


def test_nullable_longs_keep_all_64_bits(spark):
    from scribe_js_spark.rows import map_rows

    big = (1 << 62) + 1

    def row(url, html):
        yield url, None if html is None else big, html

    res = map_rows(_input(spark), ["url", "html"], row, SCHEMA)
    got = {r["url"]: r["n"] for r in res.collect()}
    assert got == {"a": big, "b": big, "c": None}


def test_exception_in_fn_propagates(spark):
    from scribe_js_spark.rows import map_rows

    def row(url, html):
        raise RuntimeError("row-fn-boom")

    res = map_rows(_input(spark), ["url", "html"], row, SCHEMA)
    with pytest.raises(Exception, match="row-fn-boom"):
        res.collect()
