"""Serial, Spark-free span pass over a workload's documents.

Each public per-document function on the extraction path is wrapped at
the name its caller binds it to (``scribe_js_spark.extract.convert_page_hocr``,
``...operators.pdf.parse.group_chars_into_page``,
``...export.text.assign_paragraphs`` and so on). Every call records a
span (trace id = url, name, start, end, parent). Spans stay in memory
and are written as JSON lines when the pass ends. A layer's self time is
its span time minus the time its child spans cover, so the self times of
all layers plus ``extract.self_s`` add up to ``extract.busy_s``.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import math
import statistics
import time

#: (module, attribute, span name) of every wrapped function.
FUNCTIONS = (
    ("scribe_js_spark.extract", "detect_document_format", "detect"),
    ("scribe_js_spark.extract", "split_pages", "detect"),
    ("scribe_js_spark.extract", "convert_page_hocr", "convert.hocr"),
    ("scribe_js_spark.extract", "convert_page_abbyy", "convert.abbyy"),
    ("scribe_js_spark.extract", "convert_page_alto", "convert.alto"),
    ("scribe_js_spark.extract", "convert_doc_text", "convert.plaintext"),
    ("scribe_js_spark.extract", "write_text", "export_text"),
    ("scribe_js_spark.operators.stext", "convert_page_stext",
     "convert.stext"),
    ("scribe_js_spark.operators.textract", "convert_doc_textract",
     "convert.textract"),
    ("scribe_js_spark.operators.google_vision",
     "convert_page_google_vision", "convert.google_vision"),
    ("scribe_js_spark.operators.google_docai", "convert_doc_google_docai",
     "convert.google_docai"),
    ("scribe_js_spark.operators.azure_docintel",
     "convert_doc_azure_docintel", "convert.azure_docintel"),
    ("scribe_js_spark.operators.docx", "convert_doc_docx", "convert.docx"),
    ("scribe_js_spark.operators.webhtml", "convert_doc_webhtml",
     "convert.webhtml"),
    ("scribe_js_spark.operators.pdf", "parse_pdf_document", "pdf"),
    ("scribe_js_spark.operators.pdf.parse", "PdfDocument", "pdf.document"),
    ("scribe_js_spark.operators.pdf.parse", "ContentTokenizer",
     "pdf.content"),
    ("scribe_js_spark.operators.pdf.parse", "parse_page_paths",
     "pdf.paths"),
    ("scribe_js_spark.operators.pdf.parse", "extract_underline_rects",
     "pdf.paths"),
    ("scribe_js_spark.operators.pdf.parse", "group_chars_into_page",
     "pdf.group"),
    ("scribe_js_spark.operators.pdf.tables_pdf",
     "detect_pdf_table_regions", "pdf.tables"),
    ("scribe_js_spark.operators.pdf.group", "assign_paragraphs",
     "paragraphs"),
    ("scribe_js_spark.export.text", "assign_paragraphs", "paragraphs"),
)

#: (module, class, method, span name) of every wrapped method.
METHODS = (
    ("scribe_js_spark.operators.pdf.document", "PdfDocument", "get_pages",
     "pdf.document"),
    ("scribe_js_spark.operators.pdf.document", "PdfDocument",
     "page_content", "pdf.document"),
    ("scribe_js_spark.operators.pdf.content", "TextMachine", "run",
     "pdf.content"),
)

#: Converters and the per-layer metric each span name feeds.
CONVERTERS = ("hocr", "abbyy", "alto", "stext", "textract", "google_vision",
              "google_docai", "azure_docintel", "docx", "plaintext",
              "webhtml")
PDF_PARTS = ("document", "content", "paths", "group", "tables")


class Tracer:
    """Span recorder: ``trace_id`` is set per document by the caller."""

    def __init__(self):
        self.spans: list[dict] = []
        self.counts = {"convert.pages": 0, "pdf.pages": 0, "pdf.chars": 0,
                       "pdf.decoded_bytes": 0, "paragraphs.pages": 0}
        self.trace_id = ""
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {"id": idx, "trace_id": self.trace_id, "name": name,
               "parent": self._stack[-1] if self._stack else -1,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, fn, name: str):
        # ContentTokenizer tokenizes lazily; materialize inside the span.
        lazy = getattr(fn, "__name__", "") == "ContentTokenizer"

        def wrapped(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
                if lazy:
                    out = iter(list(out))
                self._count(name, args, out)
                return out
        return wrapped

    def _count(self, name: str, args, out) -> None:
        c = self.counts
        if name.startswith("convert."):
            c["convert.pages"] += len(out) if isinstance(out, list) else 1
        elif name == "pdf":
            c["pdf.pages"] += len(out)
        elif name == "pdf.group":
            c["pdf.chars"] += len(args[0])
        elif name == "paragraphs":
            c["paragraphs.pages"] += 1

    @contextlib.contextmanager
    def installed(self):
        """Wrap every traced function for the duration of the block."""
        saved = []
        try:
            for mod_name, attr, name in FUNCTIONS:
                mod = importlib.import_module(mod_name)
                saved.append((mod, attr, getattr(mod, attr)))
                setattr(mod, attr, self.wrap(getattr(mod, attr), name))
            for mod_name, cls_name, attr, name in METHODS:
                cls = getattr(importlib.import_module(mod_name), cls_name)
                saved.append((cls, attr, cls.__dict__[attr]))
                setattr(cls, attr, self.wrap(cls.__dict__[attr], name))
            doc_cls = importlib.import_module(
                "scribe_js_spark.operators.pdf.document").PdfDocument
            decode = doc_cls.__dict__["_decode"]
            saved.append((doc_cls, "_decode", decode))

            def counted_decode(doc, raw, d):
                out = decode(doc, raw, d)
                self.counts["pdf.decoded_bytes"] += len(out)
                return out
            doc_cls._decode = counted_decode
            yield self
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def self_times(spans: list[dict]) -> list[float]:
    """Per-span duration minus the durations of its direct children."""
    own = [s["end"] - s["start"] for s in spans]
    for s in spans:
        if s["parent"] >= 0:
            own[s["parent"]] -= s["end"] - s["start"]
    return own


def run_pass(rows: list[dict]) -> tuple[Tracer, list]:
    """Extract every ``(url, html)`` row once under the tracer; returns
    the tracer and the per-document results."""
    from scribe_js_spark import extract

    tracer = Tracer()
    results = []
    with tracer.installed():
        for row in rows:
            tracer.trace_id = row["url"]
            with tracer.span("extract"):
                results.append(extract.extract_document(row["html"]))
    return tracer, results


def layer_metrics(tracer: Tracer, results: list) -> dict:
    spans = tracer.spans
    own = self_times(spans)
    busy: dict[str, float] = {}
    self_s: dict[str, float] = {}
    for s, o in zip(spans, own):
        busy[s["name"]] = busy.get(s["name"], 0.0) + s["end"] - s["start"]
        self_s[s["name"]] = self_s.get(s["name"], 0.0) + o
    docs = [s for s in spans if s["name"] == "extract"]
    per_doc = sorted((s["end"] - s["start"] for s in docs), reverse=True)
    total = sum(per_doc)
    top = per_doc[:max(1, math.ceil(len(per_doc) / 100))]
    out = {
        "extract.docs": len(docs),
        "extract.errors": sum(r.error is not None for r in results),
        "extract.busy_s": total,
        "extract.self_s": self_s.get("extract", 0.0),
        "extract.ms_per_doc.p50": 1e3 * statistics.median(per_doc),
        "extract.ms_per_doc.p99": 1e3 * _quantile(per_doc, 0.99),
        "extract.ms_per_doc.max": 1e3 * per_doc[0],
        "extract.top1pct_share": sum(top) / total if total else 0.0,
        "detect.busy_s": busy.get("detect", 0.0),
        "convert.pages": tracer.counts["convert.pages"],
        "pdf.busy_s": busy.get("pdf", 0.0),
        "pdf.self_s": self_s.get("pdf", 0.0),
        "pdf.pages": tracer.counts["pdf.pages"],
        "pdf.chars": tracer.counts["pdf.chars"],
        "pdf.decoded_mb": tracer.counts["pdf.decoded_bytes"] / 1e6,
        "paragraphs.busy_s": busy.get("paragraphs", 0.0),
        "paragraphs.pages": tracer.counts["paragraphs.pages"],
        "export_text.self_s": self_s.get("export_text", 0.0),
    }
    for fmt in CONVERTERS:
        out[f"convert.{fmt}_s"] = self_s.get(f"convert.{fmt}", 0.0)
    for part in PDF_PARTS:
        out[f"pdf.{part}_s"] = self_s.get(f"pdf.{part}", 0.0)
    for s in docs:
        key = "extract.busy_s." + family(s["trace_id"])
        out[key] = out.get(key, 0.0) + s["end"] - s["start"]
    return out


def family(url: str) -> str:
    """Input family of a fixture url (``.../<family>/<doc id>``)."""
    return url.rsplit("/", 2)[-2]


def _quantile(desc: list[float], q: float) -> float:
    """Nearest-rank quantile of a descending list."""
    asc = desc[::-1]
    return asc[min(len(asc) - 1, math.ceil(q * len(asc)) - 1)]


#: Layer self-time metrics that, with ``extract.self_s``, partition
#: ``extract.busy_s``.
SELF_TIME_KEYS = (("detect.busy_s", "pdf.self_s", "paragraphs.busy_s",
                   "export_text.self_s")
                  + tuple(f"convert.{f}_s" for f in CONVERTERS)
                  + tuple(f"pdf.{p}_s" for p in PDF_PARTS))
