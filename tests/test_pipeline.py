"""Spark pipeline tests: byte-identity at the DataFrame level,
determinism across runs, resume semantics, metrics."""

import pyspark.sql.functions as F
import pytest

from scribe_js_spark.fixtures import make_corpus_pandas
from scribe_js_spark.pipeline import (
    extract_spans,
    extract_text,
    extraction_metrics,
    run_extraction_job,
)

N_DOCS = 40


@pytest.fixture(scope="module")
def corpus_df(spark):
    pdf = make_corpus_pandas(N_DOCS, formats=("hocr", "abbyy", "alto", "text"))
    return spark.createDataFrame(
        pdf[["url", "warc_ts", "html", "text", "lang"]]).cache()


def test_extract_text_byte_identical(spark, corpus_df):
    for with_spans in (False, True):
        result = extract_text(corpus_df, with_spans=with_spans, salt=True,
                              num_partitions=4)
        joined = (
            result.alias("r")
            .join(corpus_df.select("url", F.col("text").alias("expected")),
                  on="url")
        )
        rows = joined.collect()
        assert len(rows) == N_DOCS
        for row in rows:
            assert row["error"] is None, f"{row['url']}: {row['error']}"
            assert row["text"] == row["expected"], row["url"]


def test_extract_spans_schema_and_order(spark, corpus_df):
    spans = extract_spans(corpus_df, salt=False)
    one_url = corpus_df.select("url").orderBy("url").first()["url"]
    rows = (
        spans.filter(F.col("url") == one_url)
        .orderBy("page_n", "line_n", "word_n")
        .collect()
    )
    assert rows
    assert rows[0]["word_id"] == "word_1_1_1"
    # word_n dense within each line
    by_line = {}
    for r in rows:
        by_line.setdefault((r["page_n"], r["line_n"]), []).append(r["word_n"])
    for key, word_ns in by_line.items():
        assert word_ns == list(range(len(word_ns))), key


def test_determinism_two_runs(spark, corpus_df):
    r1 = extract_text(corpus_df, salt=True).orderBy("url").collect()
    r2 = extract_text(corpus_df, salt=True).orderBy("url").collect()
    assert [(r["url"], r["text"]) for r in r1] == [(r["url"], r["text"]) for r in r2]


def test_metrics(spark, corpus_df):
    result = extract_text(corpus_df, salt=False)
    m = extraction_metrics(result).collect()[0]
    assert m["docs_total"] == N_DOCS
    assert m["docs_failed"] == 0
    assert m["parse_failure_rate"] == 0.0
    assert m["spans_total"] > 0


def test_resume_job(spark, corpus_df, tmp_path):
    inp = str(tmp_path / "input")
    outp = str(tmp_path / "output")
    corpus_df.write.parquet(inp)

    m1 = run_extraction_job(spark, inp, outp, run_id="r1")
    assert m1["docs_total"] == N_DOCS

    # Second run: everything already committed -> zero new docs.
    m2 = run_extraction_job(spark, inp, outp, run_id="r2")
    assert m2["docs_total"] == 0

    committed = spark.read.parquet(outp)
    assert committed.count() == N_DOCS
    metrics = spark.read.parquet(outp + "_metrics")
    assert metrics.count() == 2


def test_page_split_path_byte_identical(spark, corpus_df):
    # Force every document through the page-level fan-out path and
    # compare with the zero-shuffle whole-document path.
    whole = extract_text(corpus_df, salt=False, page_split_bytes=None)
    paged = extract_text(corpus_df, salt=False, page_split_bytes=1)
    w = {r["url"]: r for r in whole.collect()}
    p = {r["url"]: r for r in paged.collect()}
    assert set(w) == set(p)
    for url in w:
        assert p[url]["error"] is None, f"{url}: {p[url]['error']}"
        assert p[url]["text"] == w[url]["text"], url
        assert p[url]["page_count"] == w[url]["page_count"], url
        assert p[url]["word_count"] == w[url]["word_count"], url


def test_page_split_spans_identical(spark, corpus_df):
    whole = extract_spans(corpus_df, salt=False, page_split_bytes=None)
    paged = extract_spans(corpus_df, salt=False, page_split_bytes=1)
    cols = whole.columns
    w = sorted(map(tuple, whole.collect()))
    p = sorted(map(tuple, paged.collect()))
    assert len(w) == len(p)
    assert w == p


def test_ann_ivf_recall(spark):
    import pyspark.sql.functions as F

    from scribe_js_spark.textops.similarity import (
        ann_topk_bruteforce,
        ann_topk_ivf,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    bf = {(r["query_id"], r["neighbor_id"])
          for r in ann_topk_bruteforce(emb, q, k=5).collect()}
    # Probing every cell must be exact (the rerank is exact cosine).
    full = {(r["query_id"], r["neighbor_id"])
            for r in ann_topk_ivf(emb, q, k=5, nprobe=8).collect()}
    assert full == bf
    # Partial probe trades recall for touched cells.
    part = {(r["query_id"], r["neighbor_id"])
            for r in ann_topk_ivf(emb, q, k=5, nprobe=2).collect()}
    assert len(bf & part) / len(bf) >= 0.4
