"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import corpora  # noqa: E402
import eventlog  # noqa: E402
import host  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402


def test_crawl_corpus_is_deterministic_per_seed():
    a, golden, prior = corpora.crawl_corpus(5)
    b, _, _ = corpora.crawl_corpus(5)
    c, _, _ = corpora.crawl_corpus(6)
    assert corpora.digest(a) == corpora.digest(b)
    assert corpora.digest(a) != corpora.digest(c)
    # goldens stay out of the program's input
    assert all(r["text"] == "" for r in a)
    assert set(golden) == {r["url"] for r in a}
    # the prior output holds half of the urls, none of the huge documents
    assert 2 * len(prior) == len(a) and set(prior) < set(golden)
    web = [r["url"] for r in a if spans.family(r["url"]) == "webhtml"]
    assert 2 * len(set(prior) & set(web)) == len(web)
    assert not {"https://fixtures.test/abbyy/00000059",
                "https://fixtures.test/alto/00000159"} & set(prior)


def test_textops_documents_are_deterministic_per_seed():
    a = corpora.textops_documents(5, n_docs=300)
    assert corpora.digest(a) == corpora.digest(
        corpora.textops_documents(5, n_docs=300))
    assert corpora.digest(a) != corpora.digest(
        corpora.textops_documents(6, n_docs=300))
    assert all(r["n_chars"] == len(r["text"]) for r in a)


def test_crawl_mix_keeps_the_gzip_wrapped_bodies():
    rows, _, _ = corpora.crawl_corpus(1)
    gz = [int(r["url"].rsplit("/", 1)[1]) for r in rows
          if r["html"][:2] == b"\x1f\x8b"]
    assert gz and all(i % corpora.GZIP_EVERY == corpora.GZIP_AT for i in gz)
    assert all(spans.family(r["url"]) != "webhtml" for r in rows
               if r["html"][:2] == b"\x1f\x8b")


def test_span_self_times_add_up_to_extract_busy():
    rows, golden, _ = corpora.crawl_corpus(2)
    rows = rows[:60]  # mix ids 0-19 and web pages, not the huge documents
    tracer, results = spans.run_pass(rows)
    m = spans.layer_metrics(tracer, results)
    assert [r.text for r in results] == [golden[r["url"]] for r in rows]
    assert m["extract.docs"] == 60 and m["extract.errors"] == 0
    layers = m["extract.self_s"] + sum(m[k] for k in spans.SELF_TIME_KEYS)
    assert math.isclose(layers, m["extract.busy_s"], rel_tol=1e-9)
    assert m["pdf.busy_s"] > 0 and m["pdf.group_s"] > 0
    assert m["convert.pages"] > 0 and m["paragraphs.pages"] > 0
    assert m["convert.webhtml_s"] > 0
    families = {spans.family(r["url"]) for r in rows}
    assert math.isclose(
        sum(m[f"extract.busy_s.{f}"] for f in families), m["extract.busy_s"],
        rel_tol=1e-9)


def test_span_pass_restores_the_wrapped_functions():
    from scribe_js_spark import extract
    from scribe_js_spark.operators.pdf.document import PdfDocument

    before = (extract.convert_page_hocr, PdfDocument.__dict__["get_pages"])
    spans.run_pass(corpora.crawl_corpus(1)[0][:3])
    assert (extract.convert_page_hocr,
            PdfDocument.__dict__["get_pages"]) == before


def test_rss_sampler_sees_child_and_grandchild_processes():
    import subprocess
    import time

    sleeper = "import time; time.sleep(30)"
    child = subprocess.Popen([sys.executable, "-c", (
        "import subprocess, sys; "
        f"subprocess.run([sys.executable, '-c', {sleeper!r}])")])
    try:
        found = []
        for _ in range(100):
            found = host.descendants(os.getpid())
            if len(found) == 2:
                break
            time.sleep(0.05)
        assert child.pid in found and len(found) == 2
        sampler = host.RssSampler(os.getpid())  # not started: one sample
        sampler.begin()
        _, total_mb = sampler.end()
        sampler.close()
        assert total_mb > 1
    finally:
        for pid in host.descendants(child.pid):
            os.kill(pid, 9)
        child.kill()
        child.wait()


def test_eventlog_parser_reads_task_and_python_metrics(tmp_path):
    from pyspark.sql import SparkSession

    ev = tmp_path / "ev"
    ev.mkdir()
    spark = (SparkSession.builder.master("local[2]")
             .appName("perfbench-eventlog-test")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.shuffle.partitions", "2")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", str(ev))
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false")
             .getOrCreate())
    try:
        app = spark.sparkContext.applicationId

        def double(batches):
            for pdf in batches:
                yield pdf * 2

        spark.range(200).repartition(2).mapInPandas(double, "id long") \
            .collect()
    finally:
        spark.stop()
    m = eventlog.pipeline_metrics(str(ev / app), 0, 2 ** 62, cores=2)
    assert m["pipeline.tasks"] >= 2
    assert m["pipeline.task_failures"] == 0
    assert m["pipeline.task_run_max_s"] >= m["pipeline.task_run_p50_s"] > 0
    assert m["pipeline.shuffle_mb"] > 0
    assert m["pipeline.py_run_s"] > 0
    assert m["pipeline.py_in_mb"] > 0 and m["pipeline.py_out_mb"] > 0
    assert 0 <= m["pipeline.core_idle_frac"] < 1
    # nothing in an empty window
    assert eventlog.pipeline_metrics(str(ev / app), 0, 1, 2)[
        "pipeline.tasks"] == 0


def test_benchmark_json_lists_what_run_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    per_layer = run._per_layer()
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == per_layer
    # every workload run.py accepts is listed, and nothing else
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
