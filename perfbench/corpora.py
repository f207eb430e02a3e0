"""Seeded inputs and goldens for the two benchmark workloads.

The program under test sees only ``(url, warc_ts, html, text, lang)``
rows (or, for ``textops_dedup``, the ``documents`` table the registry
queries read). Golden text is written to a separate file next to the
input and never passed to the program; the ``text`` input column is
left empty so nothing the pipeline reads carries the answer.

The crawl corpus comes from the public builders in
``scribe_js_spark.fixtures``; the seed changes every word of every
document while the format mix and page-count skew (keyed by document
id, FIXTURES.md section 5) stay fixed, so runs with different seeds do
the same amount of work on different bytes.
"""

from __future__ import annotations

import gzip
import hashlib
import random
from datetime import datetime, timedelta

#: Documents per corpus. The crawl_mix window of the skewed mix (doc ids
#: 0-199) holds two documents of the 1%-huge (200-500 page) tail, ids 59
#: (abbyy, 402 pages) and 159 (alto, 498 pages), among 198 small ones;
#: two Common-Crawl-style web pages follow each of them. The two huge
#: documents sit at odd rows, which are left for the benchmarked job.
N_CRAWL = 200
N_WEB = 2 * N_CRAWL
N_TEXTOPS = 2000

#: Every 13th body (doc_id % 13 == 11) is gzip-wrapped, as in
#: ``fixtures.make_corpus_rows``: crawl archives store bodies compressed.
GZIP_EVERY, GZIP_AT = 13, 11

_TS0 = datetime(2026, 1, 1)


def crawl_corpus(seed: int) -> tuple[list, dict, list]:
    """(input rows, {url: golden text}, prior urls) of ``crawl_mix``.

    The rows are the skewed fixture mix with every 13th body gzipped, each
    document followed by two ``build_webhtml_models`` pages. The prior
    urls, every other row (half of each kind, none of the huge
    documents), are the ones an earlier, interrupted run already
    committed; the benchmarked job resumes over them.
    """
    from scribe_js_spark import fixtures

    mix, web, golden = [], [], {}
    for doc_id, r in enumerate(fixtures.make_bench_rows(N_CRAWL, seed=seed)):
        html = r["html"]
        if doc_id % GZIP_EVERY == GZIP_AT:
            html = gzip.compress(html, mtime=0)
        mix.append((r["url"], html))
        golden[r["url"]] = r["text"]
    for doc_id in range(N_WEB):
        m = fixtures.build_webhtml_models(doc_id, seed=seed)
        url = f"https://fixtures.test/webhtml/{doc_id:08d}"
        web.append((url, m["html"].encode("utf-8")))
        golden[url] = m["expected"]
    crawl_order = [d for k, doc in enumerate(mix)
                   for d in (doc, web[2 * k], web[2 * k + 1])]
    rows = [{"url": url, "warc_ts": _TS0 + timedelta(seconds=i),
             "html": html, "text": "", "lang": "eng"}
            for i, (url, html) in enumerate(crawl_order)]
    return rows, golden, [r["url"] for r in rows[0::2]]


#: Token vocabulary and language mix of the ``documents`` table the
#: registry's text operators are written against (TESTDATA.md tables).
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = (("en", 41), ("zh", 15), ("es", 15), ("fr", 15), ("de", 14))


def textops_documents(seed: int, n_docs: int = N_TEXTOPS) -> list[dict]:
    """``documents`` rows (doc_id, text, lang, source, n_chars): random
    5-99 token texts, 5% near-duplicates (an earlier text plus one
    token) and 0.2% exact copies, so every dedup operator has pairs to
    find."""
    rng = random.Random(seed * 7919 + 1)
    langs = [code for code, w in LANGS for _ in range(w)]
    texts: list[str] = []
    for doc_id in range(n_docs):
        r = rng.random()
        if doc_id > 10 and r < 0.05:
            text = texts[rng.randrange(doc_id)] + " dup"
        elif doc_id > 10 and r < 0.052:
            text = texts[rng.randrange(doc_id)]
        else:
            text = " ".join(rng.choice(VOCAB)
                            for _ in range(rng.randint(5, 99)))
        texts.append(text)
    return [{"doc_id": i, "text": t, "lang": rng.choice(langs),
             "source": f"src{i % 20}", "n_chars": len(t)}
            for i, t in enumerate(texts)]


def digest(rows: list[dict]) -> str:
    """sha256 over every field of every row, in order."""
    h = hashlib.sha256()
    for row in rows:
        for key in sorted(row):
            v = row[key]
            h.update(key.encode())
            h.update(v if isinstance(v, bytes) else repr(v).encode())
    return h.hexdigest()


def write_extraction(rows: list, golden: dict, input_path: str,
                     golden_path: str | None = None) -> None:
    """Input parquet in 8-row groups (splittable scan, as
    ``fixtures.ensure_bench_corpus`` writes it) plus a golden file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.Table.from_pylist(rows, schema=pa.schema([
        ("url", pa.string()), ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
    ]))
    pq.write_table(table, input_path, row_group_size=8)
    if golden_path is not None:
        pq.write_table(pa.table({"url": list(golden),
                                 "text": list(golden.values())}), golden_path)


def write_documents(rows: list[dict], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pylist(rows, schema=pa.schema([
        ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64()),
    ])), path)
