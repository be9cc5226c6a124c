"""Timings, in the Spark driver process, of the per-document functions the
fused UDF runs, over a seeded sample of the workload's input rows. They
split the UDF's Python time into PDF parsing, layout, field spotting and
HTML extraction, which the Spark metrics report only as one total."""

from __future__ import annotations

import random
import statistics
import time

from insurance_pdf_extractor_spark import fields, html_extract, textops
from insurance_pdf_extractor_spark.pdf import parser


def _ms(fn, *args):
    t = time.perf_counter()
    out = fn(*args)
    return (time.perf_counter() - t) * 1000.0, out


def _p99(values: list[float]) -> float:
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=100)[98]


def measure(rows: list[dict], seed: int,
            k: int) -> dict[str, tuple[float, str]]:
    sample = random.Random(f"perdoc:{seed}").sample(rows, min(k, len(rows)))
    pdf_ms, parse_ms, layout_ms, field_ms, html_ms = [], [], [], [], []
    fallbacks = claims = 0
    for r in sample:
        data = r["html"]
        if data and data.startswith(b"%PDF-"):
            ms, res = _ms(textops.extract_pdf_document, data)
            pdf_ms.append(ms)
            fallbacks += bool(res["fallback_used"])
            t = time.perf_counter()
            try:
                doc = parser.open_pdf(data)
            except Exception:  # malformed PDF: extract_pdf_document's rule
                doc = None
            parse_ms.append((time.perf_counter() - t) * 1000.0)
            layout_ms.append(_ms(textops.extract_layout, doc)[0]
                             if res["doc_kind"] == "pdf_digital" else 0.0)
        elif data and (b"<html" in data[:1024].lower()
                       or b"<!doctype html" in data[:1024].lower()):
            ms, res = _ms(html_extract.extract_html_document, data)
            html_ms.append(ms)
        else:
            res = {"text": r["text"] or ""}
        ms, fld = _ms(fields.extract_document_fields, res["text"] or "")
        field_ms.append(ms)
        claims += len(fld["claims"])

    def mean(v):
        return statistics.fmean(v) if v else 0.0

    return {
        "textops.pdf_ms_per_doc": (mean(pdf_ms), "ms"),
        "textops.pdf_p99_ms": (_p99(pdf_ms), "ms"),
        "textops.fallback_frac":
            (fallbacks / len(pdf_ms) if pdf_ms else 0.0, "ratio"),
        "pdf.parser.ms_per_doc": (mean(parse_ms), "ms"),
        "pdf.layout.ms_per_doc": (mean(layout_ms), "ms"),
        "fields.ms_per_doc": (mean(field_ms), "ms"),
        "fields.claims_per_doc":
            (claims / len(sample) if sample else 0.0, "count"),
        "html_extract.ms_per_doc": (mean(html_ms), "ms"),
    }
