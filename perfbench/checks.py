"""Output checks run after every timed call. Each returns a list of
failure messages; an empty list means the check passed.

- golden: at seed 42 the extraction corpus holds the 64 frozen golden
  documents; each committed text must hash to its manifest sha256;
- parity: for a seeded sample of committed urls, the committed text equals
  a direct call of the per-document extractor on the same input row;
- claims: the claims table has exactly ``sum(total_claims)`` rows;
- lineage: for every stage this run wrote to ``metrics/``, rows in minus
  rows dropped equals rows out, and the last stage's output equals the
  docs this run appended.
"""

from __future__ import annotations

import hashlib
import json
import os
import random

from pyspark.sql import functions as F

from insurance_pdf_extractor_spark.operators.sniff import doc_kind0_col
from insurance_pdf_extractor_spark.operators.tokenize import _extract_one
from insurance_pdf_extractor_spark.schemas import WEB_PAGES

MANIFEST = os.path.join("tests", "golden", "manifest.json")

# stages that drop documents (fail_count = dropped); every other stage
# passes all its rows on and uses fail_count for errors or rewrites
FILTER_STAGES = {"quality", "repetition", "decontam", "dedup"}
CHAIN_ORDER = ["tokenize", "fields", "quality", "paradedup", "substrdedup",
               "repetition", "decontam", "scrub", "dedup"]


def _sha(text: str | None) -> str:
    return hashlib.sha256((text or "").encode("utf-8")).hexdigest()


def golden(texts: dict[str, str]) -> list[str]:
    with open(MANIFEST, encoding="utf-8") as f:
        manifest = json.load(f)
    return [f"golden: text drift for {url}" for url, entry in
            manifest.items() if _sha(texts.get(url)) != entry["sha256"]]


def golden_urls() -> list[str]:
    with open(MANIFEST, encoding="utf-8") as f:
        return list(json.load(f))


def parity_sample(rows: list[dict], seed: int, k: int) -> list[dict]:
    return random.Random(f"parity:{seed}").sample(rows, min(k, len(rows)))


def expected_texts(spark, sample: list[dict]) -> dict[str, str]:
    """Text of each sampled row from a direct call of the per-document
    extractor, routed by the library's own sniff expression."""
    kinds = dict(
        spark.createDataFrame(sample, WEB_PAGES)
        .select("url", doc_kind0_col(F.col("html"), F.col("text")))
        .collect())
    return {r["url"]: _extract_one(kinds[r["url"]], r["html"],
                                   r["text"])["text"] or ""
            for r in sample}


def parity(expected: dict[str, str], texts: dict[str, str]) -> list[str]:
    """Committed text vs direct per-document extraction. Documents absent
    from the output (dropped by dedup) are not compared."""
    return [f"parity: text differs for {url}"
            for url, want in expected.items()
            if url in texts and (texts[url] or "") != want]


def claims(want: int, claims_df) -> list[str]:
    """``want``: sum(total_claims) over the docs table."""
    got = claims_df.count()
    return [] if got == want else [
        f"claims: {got} claim rows, sum(total_claims) = {want}"]


def lineage(metrics, run_id: str, offered_new: int,
            appended: int) -> list[str]:
    """``offered_new``: input rows not yet committed; ``appended``: docs
    rows this run added."""
    rows = (metrics.where(F.col("run_id") == run_id)
            .groupBy("stage")
            .agg(F.sum("doc_count").alias("n"),
                 F.sum("fail_count").alias("fail"))
            .collect())
    by_stage = {r["stage"]: (r["n"], r["fail"]) for r in rows}
    out, n_in = [], offered_new
    for stage in CHAIN_ORDER:
        if stage not in by_stage:
            continue
        n, fail = by_stage[stage]
        dropped = fail if stage in FILTER_STAGES else 0
        if n_in - dropped != n:
            out.append(f"lineage: stage {stage}: in {n_in} - dropped "
                       f"{dropped} != out {n}")
        n_in = n
    if n_in != appended:
        out.append(f"lineage: last stage out {n_in} != appended {appended}")
    return out
