"""The benchmark's workloads. Each owns its seeded inputs and output dirs
and knows how to make one ``run_pipeline`` call; ``run.py`` times and
checks the calls. Sizes and reasons are recorded in ``WORKLOADS.md``."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

import checks
import corpus
from insurance_pdf_extractor_spark.pipeline import run_pipeline

# every CCNet text-quality stage, then cross-run MinHash-LSH dedup
CHAIN_OPTIONS = {"paragraph_dedup": True, "substring_dedup": True,
                 "repetition_filter": True, "scrub": True,
                 "dedup": "minhash-lsh"}


class ExtractCommit:
    """The library's fixture corpus (all PDF classes, HTML, text and junk
    rows) committed to a fresh output dir with default options."""

    n_docs = 1200
    n_warmup = 100
    options: dict = {}
    #: committed text is the extractor's output, so it can be compared
    #: with a direct per-document call
    parity = True

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self._n = 0
        self._expected: dict[str, str] | None = None
        self.rows = corpus.extraction_rows(self.n_docs, seed)
        self.new_rows = self.rows
        self.input = self._write("input", self.rows)

    def _write(self, name: str, rows: list[dict]) -> str:
        path = os.path.join(self.work, f"{name}.parquet")
        corpus.write_parquet(rows, path)
        return path

    @property
    def offered(self) -> int:
        return len(self.rows)

    def golden(self) -> bool:
        """At seed 42 rows 0..63 are the frozen golden documents."""
        return self.seed == 42

    def expected_texts(self, spark) -> dict[str, str]:
        """Direct-extraction text of 24 seeded new rows, computed once."""
        if self._expected is None:
            self._expected = checks.expected_texts(
                spark, checks.parity_sample(self.new_rows, self.seed, 24))
        return self._expected

    def setup(self, spark) -> None:
        """The first, cold call, on a small corpus of the same kind: it
        pays the one-off costs (JIT, codegen, Python worker start-up)
        that later calls no longer pay."""
        warmup = self._write("warmup", corpus.extraction_rows(
            self.n_warmup, self.seed))
        run_pipeline(spark, spark.read.parquet(warmup),
                     output_dir=os.path.join(self.work, "warmup"),
                     **self.options)

    def fresh_dir(self) -> str:
        self._n += 1
        return os.path.join(self.work, f"out{self._n}")

    def committed(self) -> tuple[int, int]:
        """(docs rows, docs rows with an error) a fresh dir starts with."""
        return 0, 0

    def call(self, spark, out: str, run_id: str | None):
        return run_pipeline(spark, spark.read.parquet(self.input),
                            output_dir=out, run_id=run_id, **self.options)


class ResumeDelta(ExtractCommit):
    """Writes beside reads. Set-up commits a crawl history; every call
    starts from a copy of it and re-offers the history's urls plus a new
    delta, which includes near-duplicates of committed pages."""

    n_history = 800
    n_delta = 200
    name = "resume"

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self._n = 0
        self._expected: dict[str, str] | None = None
        hist = corpus.web_pages(self.n_history, seed, prefix="hist")
        delta = corpus.web_pages(self.n_delta, seed, prefix="delta",
                                 sources=[r["_text"] for r in hist])
        self.rows = corpus.strip_private(hist + delta)
        self.new_rows = corpus.strip_private(delta)
        self.history_input = self._write(f"{self.name}_history",
                                         corpus.strip_private(hist))
        self.input = self._write(f"{self.name}_input", self.rows)
        self.pristine = os.path.join(work, f"{self.name}_history")
        self._committed = (0, 0)

    def golden(self) -> bool:
        return False

    def setup(self, spark) -> None:
        run_pipeline(spark, spark.read.parquet(self.history_input),
                     output_dir=self.pristine, **self.options)
        row = (spark.read.parquet(os.path.join(self.pristine, "docs"))
               .agg(F.count("*"), F.count("error")).first())
        self._committed = (row[0], row[1])

    def fresh_dir(self) -> str:
        out = os.path.join(self.work, f"{self.name}{self._n + 1}")
        self._n += 1
        shutil.copytree(self.pristine, out)
        return out

    def committed(self) -> tuple[int, int]:
        return self._committed


class ChainResume(ResumeDelta):
    """``ResumeDelta`` with the whole CCNet chain and cross-run dedup on,
    so the history also holds ``signatures/``. Run only in traced runs:
    its cold set-up and its dozens of small Spark jobs per call cost more
    than a timed run can spend (see WORKLOADS.md)."""

    options = CHAIN_OPTIONS
    name = "chain"
    # the chain's cost per call is nearly fixed; a smaller corpus keeps a
    # traced run short
    n_history = 300
    n_delta = 100
    #: the chain rewrites committed text (boilerplate, substrings, PII)
    parity = False
