"""Pure-SQL access to the engine (register_sql_functions)."""


def test_sql_extraction_matches_dataframe_api(spark, tmp_path):
    from scribe_js_spark.fixtures import write_corpus_parquet
    from scribe_js_spark.pipeline import (
        extract_text, register_sql_functions)

    write_corpus_parquet(str(tmp_path), n_docs=10)
    # plus one NULL-html row: an error row from both APIs, NULL format
    df = spark.read.parquet(str(tmp_path / "corpus.parquet")).select(
        "url", "html").unionByName(spark.sql(
            "SELECT 'null-html' AS url, CAST(NULL AS BINARY) AS html"))
    df.createOrReplaceTempView("corpus")
    register_sql_functions(spark)
    sql_rows = {r["url"]: r for r in spark.sql(
        "SELECT url, x.text, x.format, x.error, x.page_count,"
        "       x.word_count, scribe_detect_format(html) AS fmt"
        " FROM (SELECT url, html, scribe_extract(html) AS x FROM corpus)"
    ).collect()}
    api_rows = {r["url"]: r for r in
                extract_text(df, salt=False).collect()}
    assert sql_rows.keys() == api_rows.keys()
    for url, a in api_rows.items():
        s = sql_rows[url]
        for field in ("text", "format", "error", "page_count",
                      "word_count"):
            assert s[field] == a[field], (url, field)
        assert s["fmt"] == a["format"]
    assert api_rows["null-html"]["error"]
    assert sql_rows["null-html"]["fmt"] is None


def test_cli_tables_verb(spark, tmp_path):
    """The `tables` CLI verb: detected tables land as one .xlsx and
    one .md per document."""
    import pandas as pd

    from scribe_js_spark.__main__ import main

    df = pd.read_parquet("fixtures/t2/pdf_table_docs.parquet").head(2)
    inp = str(tmp_path / "in.parquet")
    df.to_parquet(inp, index=False)
    out = str(tmp_path / "tables")
    assert main(["tables", inp, out]) == 0
    names = sorted(p.name for p in (tmp_path / "tables").iterdir())
    assert "00000000.md" in names and "00000000.xlsx" in names
    md = (tmp_path / "tables" / "00000000.md").read_text()
    assert "|" in md and "100" in md
    import zipfile
    with zipfile.ZipFile(tmp_path / "tables" / "00000000.xlsx") as zf:
        assert "xl/worksheets/sheet1.xml" in zf.namelist()
