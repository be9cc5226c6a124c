"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its arguments: the same seed gives
byte-identical rows, so two runs with one seed measure the same inputs.
Rows follow the library's ``web_pages`` input schema
``(url, warc_ts, html, text, lang)``.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import random

EPOCH = dt.datetime(2024, 1, 1)

# Crawl pages follow the shape of the sf0.1 ``documents`` test table, the
# table ``__spark_entry__._web_pages_from_documents`` turns into web pages.
# Measured over its 5000 rows (``python3 perfbench/corpus.py <table>``
# prints the same figures for any documents table and for this generator):
# - one paragraph per document, no newlines;
# - words drawn uniformly from these 30 (each 3.3-3.4% of all words), plus
#   the token ``dup`` that marks near-duplicates;
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
# - 10 to 100 words per document, uniformly (mean 54.1, median 54);
WORDS = (10, 100)
# - 5% of documents (250) are an earlier document with " dup" appended,
#   its language drawn independently; copies of one source are exact
#   duplicates of each other (8 pairs);
DUP_FRAC = 0.05
DUP_TOKEN = "dup"
# - languages en 41.2%, zh 15.1%, es 14.9%, fr 14.8%, de 14.0%.
LANGS = (("en", 412), ("zh", 151), ("es", 149), ("fr", 148), ("de", 140))

# The HTML wrapper of ``__spark_entry__._web_pages_from_documents``, kept
# here so that an edit there does not change the benchmark's inputs.
_HTML_PRE = ('<!DOCTYPE html>\n<html><head><title>doc</title></head><body>'
             '<nav><ul><li><a href="/home">Home</a></li>'
             '<li><a href="/about">About</a></li></ul></nav>'
             '<article><p>')
_HTML_POST = ('</p></article><footer><a href="/privacy">Privacy</a>'
              '</footer></body></html>')


def _text(rng: random.Random) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(*WORDS)))


def web_pages(n_docs: int, seed: int, prefix: str = "page",
              sources: list[str] | None = None) -> list[dict]:
    """Crawl-style HTML pages shaped like the ``documents`` table: one
    paragraph each, and ``DUP_FRAC`` near-duplicates of earlier pages or
    of ``sources`` (the texts of pages generated earlier, e.g. an already
    committed history). The text of each page is kept under the private
    key ``_text``."""
    rng = random.Random(f"web:{prefix}:{seed}")
    langs, weights = zip(*LANGS)
    pool = list(sources or [])
    rows = []
    for i in range(n_docs):
        if pool and rng.random() < DUP_FRAC:
            text = rng.choice(pool) + " " + DUP_TOKEN
        else:
            text = _text(rng)
        pool.append(text)
        rows.append({
            "url": f"https://crawl.test/{prefix}/{seed}/{i}",
            "warc_ts": EPOCH + dt.timedelta(seconds=i * 13),
            "html": (_HTML_PRE + text + _HTML_POST).encode("utf-8"),
            "text": None,
            "lang": rng.choices(langs, weights)[0],
            "_text": text})
    return rows


def shape(texts: list[str], langs: list[str]) -> dict:
    """The figures the crawl-page model is built from, for a list of
    document texts and their languages."""
    import collections
    import statistics
    words = [t.split() for t in texts]
    n = [len(w) for w in words]
    counts = collections.Counter(x for w in words for x in w)
    total = sum(counts.values())
    top = counts.most_common()
    return {
        "docs": len(texts),
        "docs_with_newline": sum(1 for t in texts if "\n" in t),
        "words_min": min(n), "words_max": max(n),
        "words_mean": round(statistics.mean(n), 1),
        "words_median": statistics.median(n),
        "vocab": len(counts),
        "word_share_max": round(top[0][1] / total, 4),
        "dup_token_docs": sum(1 for w in words if DUP_TOKEN in w),
        "exact_duplicates": len(texts) - len(set(texts)),
        "langs": {k: round(v / len(langs), 3) for k, v in
                  collections.Counter(langs).most_common()},
    }


def extraction_rows(n_docs: int, seed: int) -> list[dict]:
    """The library's fixture corpus: all PDF classes plus HTML, text and
    junk rows. Rows 0..63 at seed 42 are the frozen golden documents."""
    from insurance_pdf_extractor_spark import fixtures
    return fixtures.generate_rows(n_docs, seed)


def strip_private(rows: list[dict]) -> list[dict]:
    return [{k: v for k, v in r.items() if not k.startswith("_")}
            for r in rows]


def write_parquet(rows: list[dict], path: str) -> None:
    """Rows as a web_pages parquet file, in small row groups so Spark can
    split the scan (as ``fixtures.write_web_pages_parquet`` does)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    table = pa.table({
        "url": pa.array([r["url"] for r in rows], pa.string()),
        "warc_ts": pa.array([r["warc_ts"] for r in rows], pa.timestamp("us")),
        "html": pa.array([r["html"] for r in rows], pa.binary()),
        "text": pa.array([r["text"] for r in rows], pa.string()),
        "lang": pa.array([r["lang"] for r in rows], pa.string()),
    })
    pq.write_table(table, path, row_group_size=256)


def digest(rows: list[dict]) -> str:
    """sha256 over every field of every row, in order."""
    h = hashlib.sha256()
    for r in rows:
        for k in ("url", "warc_ts", "html", "text", "lang"):
            v = r.get(k)
            if isinstance(v, str):
                v = v.encode("utf-8")
            elif v is not None and not isinstance(v, bytes):
                v = str(v).encode("utf-8")
            h.update(b"\x00" if v is None else b"\x01" + v)
    return h.hexdigest()


if __name__ == "__main__":
    import sys
    import pyarrow.parquet as pq
    if len(sys.argv) != 2:
        sys.exit("usage: python3 perfbench/corpus.py <documents.parquet>")
    table = pq.read_table(sys.argv[1], columns=["text", "lang"]).to_pydict()
    gen = web_pages(len(table["text"]), 0)
    for name, texts, langs in (
            ("table", table["text"], table["lang"]),
            ("generated", [r["_text"] for r in gen],
             [r["lang"] for r in gen])):
        print(name, shape(texts, langs))
