"""Spans around calls into the library's layer functions.

``Tracer`` keeps spans in memory (name, start, end, parent, run id, plus
the counts recorded at the boundary) and writes them out once, at the end.

``traced_layers`` swaps the layer functions that ``run_pipeline`` looks up
in its module for wrappers that call the original, then force the result
with ``localCheckpoint`` inside the span, so the span covers the layer's
work and the next layer starts from materialized rows. These barriers
change the plan (no pruning or fusion across them), which is why a traced
call is a separate call and its overhead is reported against the
untraced ones. The originals are restored on exit.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from insurance_pdf_extractor_spark import pipeline


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    counts: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, stats):
        self.stats = stats
        self.spans: list[Span] = []
        self._open: list[int] = []
        self.run_id = ""

    @contextmanager
    def span(self, name: str):
        """Record one span; Spark work that finished inside it is summed
        into its counts (shuffle and spill bytes, execution ids)."""
        mark = self.stats.mark()
        idx = len(self.spans)
        sp = Span(name, time.monotonic(), 0.0,
                  self._open[-1] if self._open else None, self.run_id)
        self.spans.append(sp)
        self._open.append(idx)
        try:
            yield sp
        finally:
            sp.end = time.monotonic()
            self._open.pop()
            execs = self.stats.executions(mark)
            st = self.stats.stage_totals(
                {s for e in execs for s in e.stages})
            sp.counts.update(executions=[e.id for e in execs],
                             shuffle_bytes=st.shuffle_write_bytes,
                             spill_bytes=st.spill_bytes)

    def find(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def wall(self, name: str) -> float:
        return sum(s.wall_s for s in self.find(name))

    def count(self, name: str, key: str) -> int:
        return sum(s.counts.get(key, 0) for s in self.find(name))

    def self_time(self, idx: int) -> float:
        """Span duration minus the part its direct children cover."""
        kids = [s for s in self.spans if s.parent == idx]
        return self.spans[idx].wall_s - sum(k.wall_s for k in kids)

    def rows(self) -> list[dict]:
        out = []
        for i, s in enumerate(self.spans):
            row = asdict(s)
            row.update(id=i, self_s=self.self_time(i))
            out.append(row)
        return out


def dump(path: str, *tracers: Tracer) -> None:
    """Write every tracer's spans to one JSON file; ids and parents are
    indexes within their tracer, whose spans share one run id."""
    with open(path, "w", encoding="utf-8") as f:
        json.dump([t.rows() for t in tracers], f, indent=1)


def _checkpoint(out):
    if isinstance(out, tuple):
        return tuple(o.localCheckpoint() for o in out)
    return out.localCheckpoint()


def _rows(out) -> int:
    first = out[0] if isinstance(out, tuple) else out
    return first.count()  # counts rows of an already materialized checkpoint


# pipeline-module name -> span name
LAYERS = {
    "sniff": "sniff",
    "tokenize_and_extract": "fused",
    "finalize": "finalize",
    "dedup_paragraphs": "dedup.paragraphs",
    "dedup_substrings": "dedup.substrings",
    "gopher_repetition_keepers": "scrub.repetition",
    "scrub_pii": "scrub.pii",
    "minhash_signatures_from_docs": "dedup.minhash",
    "_lsh_banded": "dedup.lsh.band",
    "lsh_pairs_from_banded": "dedup.lsh",
    "dedup_documents": "dedup.components",
    "_probe_committed_collisions": "pipeline.signature_probe",
}


def _barrier(tracer: Tracer, name: str, fn):
    def wrapped(*args, **kwargs):
        with tracer.span(name) as sp:
            out = _checkpoint(fn(*args, **kwargs))
        sp.counts["rows_out"] = _rows(out)
        return out
    return wrapped


@contextmanager
def traced_layers(tracer: Tracer):
    """Wrap every layer function ``run_pipeline`` calls. The sniff wrapper
    first materializes its input, so the scan, the resume anti-join and
    the input repartition get a span of their own (``pipeline.input``)."""
    saved = {name: getattr(pipeline, name) for name in LAYERS}

    def sniff_with_input(df):
        with tracer.span("pipeline.input") as sp:
            df = df.localCheckpoint()
        sp.counts["rows_out"] = df.count()
        return _barrier(tracer, "sniff", saved["sniff"])(df)

    try:
        for name, span_name in LAYERS.items():
            setattr(pipeline, name,
                    _barrier(tracer, span_name, saved[name]))
        pipeline.sniff = sniff_with_input
        yield tracer
    finally:
        for name, fn in saved.items():
            setattr(pipeline, name, fn)
