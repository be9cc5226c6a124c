"""Determinism self-check for the benchmark's input generators: one seed
always gives the same corpus digest, another seed a different one.

Run from the repository root:

    python3 -m pytest perfbench -q
"""

import os
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import corpus  # noqa: E402
from workloads import ExtractCommit, ResumeDelta  # noqa: E402


@pytest.fixture
def digest_of(tmp_path):
    def make(workload, seed):
        work = tempfile.mkdtemp(dir=tmp_path)
        return corpus.digest(workload(work, seed).rows)
    return make


@pytest.mark.parametrize("workload", [ExtractCommit, ResumeDelta])
def test_same_seed_same_corpus(digest_of, workload):
    assert digest_of(workload, 7) == digest_of(workload, 7)


@pytest.mark.parametrize("workload", [ExtractCommit, ResumeDelta])
def test_other_seed_other_corpus(digest_of, workload):
    assert digest_of(workload, 7) != digest_of(workload, 8)


def test_digest_covers_every_field():
    row = corpus.strip_private(corpus.web_pages(1, 3))[0]
    for key in ("url", "html", "lang"):
        changed = dict(row)
        changed[key] = (row[key] + b"x" if isinstance(row[key], bytes)
                        else row[key] + "x")
        assert corpus.digest([changed]) != corpus.digest([row])


def test_pages_keep_the_documents_table_shape():
    """The generated crawl pages keep the measured shape recorded in
    corpus.py: one paragraph, 10..100 words of the 30-word vocabulary
    (plus the near-duplicate marker), and about 5% near-duplicates."""
    rows = corpus.web_pages(2000, 5)
    got = corpus.shape([r["_text"] for r in rows], [r["lang"] for r in rows])
    assert got["docs_with_newline"] == 0
    assert got["vocab"] == len(corpus.VOCAB) + 1
    assert corpus.WORDS[0] <= got["words_min"]
    assert 40 <= got["dup_token_docs"] <= 160
    assert set(got["langs"]) == {lang for lang, _ in corpus.LANGS}
