"""Benchmark of ``run_pipeline`` as a job runs it: one Spark driver process, a
``local[min(4, nproc)]`` session built by the library's ``get_spark``, and
a closed loop of committed ``run_pipeline(output_dir=...)`` calls, one at
a time, for ``--seconds`` seconds.

Run it from the repository root:

    python3 perfbench/run.py --workload extract_commit --seed 1 \
        --seconds 10 --trace 0

Each run

1. generates its inputs from ``--seed`` (``corpus.py``), untimed;
2. sets up: starts the session and makes the first, cold call
   (``setup_s``);
3. times calls until their wall times add up to ``--seconds`` (at least
   one call), checking every call's output (``checks.py``) between calls;
   a call that raises or fails a check counts as failed;
4. with ``--trace 1``, makes one more call with spans around every layer
   function (``spans.py``), times the per-document functions on a seeded
   sample (``perdoc.py``) and reports per-layer metrics instead of the
   end-to-end ones. On ``resume_delta`` it also commits and traces one
   CCNet-chain call (``workloads.ChainResume``).

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. The line before it is
the run's window record: load average at start, host busy cores, set-up
times and one entry per call. Spans go to
``.perfbench/spans-<workload>-<seed>.json``. Everything the run writes
stays under ``.perfbench/`` in the current directory, and every process
it starts is stopped before it exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
import uuid
from dataclasses import dataclass, field

# The benchmark's own modules import the library, so they are imported
# inside functions, after main() has checked for it and put it on the path.
ROOT = os.getcwd()
MiB = float(1 << 20)
WORKLOADS = ("extract_commit", "resume_delta")
INSERT = "Execute InsertIntoHadoopFsRelationCommand"


def _prepare_env(work: str) -> None:
    """Keep every file the run and its JVM write inside ``work``, and let
    the JVM's Python workers import the library from the checkout."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)


def _start_session(work: str):
    from insurance_pdf_extractor_spark.session import get_spark
    cores = min(4, os.cpu_count() or 1)
    # the library's session defaults, plus only what the benchmark needs:
    # files inside the run's dir, and every execution kept readable
    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]",
        extra={
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                "-XX:-UsePerfData",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedTasks": "1000000",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop the session, then the JVM, and wait for every child process
    of this process to end."""
    from pyspark import SparkContext
    import host
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:  # the JVM may be gone already; the wait decides
            pass
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 60
    while len(host.tree_pids()) > 1 and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in host.tree_pids()[1:]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def _data_files(path: str) -> int:
    n = 0
    for _, dirnames, filenames in os.walk(path):
        dirnames[:] = [d for d in dirnames if d != "_staging"]
        n += sum(1 for f in filenames if f.endswith(".parquet"))
    return n


# --------------------------------------------------------------------------
# one call
# --------------------------------------------------------------------------

@dataclass
class Call:
    out: str = ""
    run_id: str = ""
    wall_s: float = 0.0
    cpu_s: float = 0.0
    peak_rss: int = 0
    busy_cores: float = 0.0
    steal_cores: float = 0.0
    loadavg_start: float = 0.0
    files: int = 0
    fail_docs: int = 0
    checked_s: float = 0.0
    failures: list = field(default_factory=list)
    execs: list = field(default_factory=list)
    result: object = None


def timed_call(wl, spark, stats, rss, tracer=None,
               collect: bool = False) -> Call:
    """One call, timed from outside and then checked. With ``collect`` or
    a tracer, the call's SQL executions are read back afterwards."""
    import host
    import spans
    c = Call(out=wl.fresh_dir(), run_id=uuid.uuid4().hex[:12],
             loadavg_start=host.loadavg())
    files0 = _data_files(c.out)
    collect = collect or tracer is not None
    mark = stats.mark() if collect else 0
    cpu0, busy0 = host.tree_cpu_s(), host.cpu_times()
    rss.reset()
    t0 = time.monotonic()
    try:
        if tracer is None:
            c.result = wl.call(spark, c.out, c.run_id)
        else:
            tracer.run_id = c.run_id
            with spans.traced_layers(tracer), tracer.span("run_pipeline"):
                c.result = wl.call(spark, c.out, c.run_id)
    except Exception:
        traceback.print_exc()
        c.wall_s = time.monotonic() - t0
        c.failures.append("call raised")
        return c
    c.wall_s = time.monotonic() - t0
    c.cpu_s = host.tree_cpu_s() - cpu0
    busy1 = host.cpu_times()
    c.busy_cores = host.busy_cores(busy0, busy1)
    c.steal_cores = host.busy_cores(busy0, busy1, field=2)
    c.peak_rss = rss.peak
    c.files = _data_files(c.out) - files0
    t1 = time.monotonic()
    try:
        c.execs = stats.executions(mark) if collect else []
        _check(wl, spark, c)
    except Exception as e:
        traceback.print_exc()
        c.failures.append(f"check raised: {type(e).__name__}: {e}")
    c.checked_s = time.monotonic() - t1
    return c


def _check(wl, spark, c: Call) -> None:
    import checks
    from pyspark.sql import functions as F
    docs = spark.read.parquet(os.path.join(c.out, "docs"))
    committed, committed_err = wl.committed()
    n_docs, n_err, n_urls, n_claims = docs.agg(
        F.count("*"), F.count("error"), F.countDistinct("url"),
        F.sum("total_claims")).first()
    c.fail_docs = n_err - committed_err
    if n_urls != n_docs:
        c.failures.append(f"resume: {n_docs - n_urls} duplicate urls")
    expected = wl.expected_texts(spark) if wl.parity else {}
    want = list(expected) + (checks.golden_urls() if wl.golden() else [])
    texts = dict(docs.where(F.col("url").isin(want))
                 .select("url", "text").collect())
    c.failures += checks.parity(expected, texts)
    if wl.golden():
        c.failures += checks.golden(texts)
    c.failures += checks.claims(
        n_claims or 0, spark.read.parquet(os.path.join(c.out, "claims")))
    c.failures += checks.lineage(c.result.metrics, c.run_id,
                                 wl.offered - committed, n_docs - committed)


# --------------------------------------------------------------------------
# metrics
# --------------------------------------------------------------------------

def end_to_end(wl, calls: list[Call], setup_s: float) -> dict:
    med = statistics.median
    return {
        "docs_per_s": (med([wl.offered / c.wall_s for c in calls]), "1/s"),
        "cpu_s_per_kdoc": (
            med([c.cpu_s / wl.offered * 1000 for c in calls]), "s"),
        "setup_s": (setup_s, "s"),
        "files_written": (med([c.files for c in calls]), "count"),
    }


def _writes(c: Call, table: str) -> list:
    """The call's writes into ``table`` (the output path's last part), or
    into a directory under it, such as ``_staging/<run id>``."""
    return [e for e in c.execs if e.output_path
            and table in e.output_path.rstrip("/").split("/")[-2:]]


def _write_s(c: Call, table: str) -> float:
    return sum(e.wall_s for e in _writes(c, table))


def _stage_frac(c: Call, stage: str, kept: bool) -> float:
    """Kept (or dropped) share of a filtering stage's input, from the
    call's own lineage rows."""
    from pyspark.sql import functions as F
    n, fail = (c.result.metrics
               .where((F.col("run_id") == c.run_id)
                      & (F.col("stage") == stage))
               .agg(F.sum("doc_count"), F.sum("fail_count")).first())
    n, fail = n or 0, fail or 0
    return (n if kept else fail) / (n + fail) if n + fail else 0.0


def extraction_layers(stats, untraced: Call, traced: Call, tracer) -> dict:
    """Spark counters come from the last untraced call, whose plan has no
    barriers; layer wall times from the traced call's spans; commit
    writes from the traced call's executions, matched on output path."""
    m: dict[str, tuple[float, str]] = {}
    udf = next(e for e in untraced.execs
               if any(k[0] == "MapInPandas" for k in e.metrics))
    stage = udf.metric_stage("MapInPandas", "time to run Python workers")
    tasks = stats.task_seconds(stage) if stage is not None else []
    st = stats.stage_totals([stage] if stage is not None else [])
    m["parallel.partitions"] = (len(tasks), "count")
    m["parallel.exchange_bytes"] = (
        udf.total("Exchange", "shuffle bytes written"), "bytes")
    m["parallel.task_skew"] = (
        max(tasks) / statistics.median(tasks) if tasks else 0.0, "ratio")
    m["parallel.busy_cores"] = (
        st.run_s / st.wall_s if st.wall_s else 0.0, "cores")
    for key, metric, unit in (
            ("python_run_s", "time to run Python workers", "s"),
            ("python_start_s", "time to start Python workers", "s"),
            ("bytes_to_python", "data sent to Python workers", "bytes"),
            ("bytes_from_python", "data returned from Python workers",
             "bytes"),
            ("rows_out", "number of output rows", "count")):
        m[f"fused.{key}"] = (udf.total("MapInPandas", metric), unit)
    m["fused.wall_s"] = (tracer.wall("fused"), "s")
    m["sniff.wall_s"] = (tracer.wall("sniff"), "s")
    m["sniff.rows_out"] = (tracer.count("sniff", "rows_out"), "count")
    m["finalize.wall_s"] = (tracer.wall("finalize"), "s")
    m["finalize.shuffle_bytes"] = (
        tracer.count("finalize", "shuffle_bytes"), "bytes")
    m["finalize.claims_out"] = (tracer.count("finalize", "rows_out"),
                                "count")
    m["pipeline.resume_antijoin_s"] = (tracer.wall("pipeline.input"), "s")
    m["pipeline.staging_write_s"] = (_write_s(traced, "_staging"), "s")
    m["pipeline.claims_append_s"] = (_write_s(traced, "claims"), "s")
    m["pipeline.docs_append_s"] = (_write_s(traced, "docs"), "s")
    m["pipeline.bytes_written"] = (
        sum(e.total(INSERT, "written output") for e in traced.execs),
        "bytes")
    m["lineage.metric_rows"] = (
        sum(e.total(INSERT, "number of output rows")
            for e in _writes(traced, "metrics")), "count")
    st = stats.stage_totals({s for e in untraced.execs for s in e.stages})
    m["spark.shuffle_bytes"] = (st.shuffle_write_bytes, "bytes")
    m["spark.spill_bytes"] = (st.spill_bytes, "bytes")
    m["spark.gc_s"] = (st.gc_s, "s")
    m["spark.task_retries"] = (st.failed_tasks, "count")
    return m


def chain_layers(chain: Call | None, tracer, new_urls: list[str]) -> dict:
    """CCNet-chain and dedup layers, from the traced chain call; zero on
    a workload that does not run them. ``new_urls``: the call's delta."""
    from pyspark.sql import functions as F
    m = {f"{name}.wall_s": (tracer.wall(name), "s") for name in (
        "dedup.paragraphs", "dedup.substrings", "dedup.minhash",
        "dedup.components", "scrub.repetition", "scrub.pii")}
    m["dedup.lsh.wall_s"] = (
        tracer.wall("dedup.lsh.band") + tracer.wall("dedup.lsh"), "s")
    m["dedup.lsh.pairs"] = (tracer.count("dedup.lsh", "rows_out"), "count")
    m["dedup.substrings.shuffle_bytes"] = (
        tracer.count("dedup.substrings", "shuffle_bytes"), "bytes")
    m["dedup.substrings.spill_bytes"] = (
        tracer.count("dedup.substrings", "spill_bytes"), "bytes")
    m["pipeline.signature_probe_s"] = (
        tracer.wall("pipeline.signature_probe"), "s")
    m["pipeline.signatures_append_s"] = (
        _write_s(chain, "signatures") if chain else 0.0, "s")
    m["dedup.keep_frac"] = (
        _stage_frac(chain, "dedup", kept=True) if chain else 0.0, "ratio")
    m["scrub.repetition.dropped_frac"] = (
        _stage_frac(chain, "repetition", kept=False) if chain else 0.0,
        "ratio")
    frac = 0.0
    if chain:
        dropped, total = (chain.result.docs
                          .where(F.col("url").isin(new_urls))
                          .agg(F.sum("paras_dropped"), F.sum("paras_total"))
                          .first())
        frac = (dropped or 0) / total if total else 0.0
    m["dedup.paragraphs.dropped_frac"] = (frac, "ratio")
    return m


# --------------------------------------------------------------------------
# main
# --------------------------------------------------------------------------

def _traced_metrics(args, wl, spark, stats, rss, calls: list[Call],
                    setup: dict) -> dict:
    """One traced call after the untraced ones (on ``resume_delta`` also
    a traced CCNet-chain call), then the per-layer metrics; empty when a
    call failed."""
    import perdoc
    import spans
    from workloads import ChainResume
    ok = [c for c in calls if not c.failures]
    tracer = spans.Tracer(stats)
    traced = timed_call(wl, spark, stats, rss, tracer)
    calls.append(traced)
    chain, chain_wl, chain_tracer = None, None, spans.Tracer(stats)
    if args.workload == "resume_delta":
        chain_wl = ChainResume(wl.work, args.seed)
        chain_wl.setup(spark)
        chain = timed_call(chain_wl, spark, stats, rss, chain_tracer)
        calls.append(chain)
    spans.dump(os.path.join(ROOT, ".perfbench",
                            f"spans-{args.workload}-{args.seed}.json"),
               tracer, chain_tracer)
    if not ok or any(c.failures for c in calls):
        return {}
    m = dict(setup)
    m.update(extraction_layers(stats, ok[-1], traced, tracer))
    m.update(chain_layers(chain, chain_tracer,
                          [r["url"] for r in chain_wl.new_rows]
                          if chain else []))
    m.update(perdoc.measure(wl.rows, args.seed, 300))
    m["trace.overhead_frac"] = (
        traced.wall_s / statistics.median(c.wall_s for c in ok) - 1.0,
        "ratio")
    m["doc_fail_frac"] = (ok[-1].fail_docs / wl.offered, "ratio")
    m["peak_rss_mb"] = (max(c.peak_rss for c in ok) / MiB, "MiB")
    return m


def run(args, work: str) -> dict:
    import host
    from sparkstats import SparkStats
    from workloads import ExtractCommit, ResumeDelta
    window = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "loadavg_start": host.loadavg()}
    host0 = host.cpu_times()
    wl = {"extract_commit": ExtractCommit,
          "resume_delta": ResumeDelta}[args.workload](work, args.seed)
    calls: list[Call] = []
    with host.RssSampler() as rss:
        t = time.monotonic()
        spark = _start_session(work)
        start_s = time.monotonic() - t
        try:
            stats = SparkStats(spark)
            t = time.monotonic()
            wl.setup(spark)
            first_s = time.monotonic() - t
            window.update(session_start_s=start_s, first_call_s=first_s)
            # measure until the timed calls add up to --seconds; output
            # checks between calls are not counted
            while sum(c.wall_s for c in calls) < args.seconds:
                calls.append(timed_call(wl, spark, stats, rss,
                                        collect=bool(args.trace)))
            if args.trace:
                metrics = _traced_metrics(
                    args, wl, spark, stats, rss, calls,
                    {"session.start_s": (start_s, "s"),
                     "session.first_run_s": (first_s, "s")})
            else:
                ok = [c for c in calls if not c.failures]
                metrics = (end_to_end(wl, ok, start_s + first_s)
                           if ok else {})
        finally:
            _stop_session(spark)
    host1 = host.cpu_times()
    window["host_busy_cores"] = host.busy_cores(host0, host1)
    window["host_steal_cores"] = host.busy_cores(host0, host1, field=2)
    window["calls"] = [
        {"wall_s": c.wall_s, "cpu_s": c.cpu_s, "busy_cores": c.busy_cores,
         "steal_cores": c.steal_cores, "loadavg_start": c.loadavg_start,
         "peak_rss_mb": c.peak_rss / MiB, "checked_s": c.checked_s,
         "failures": c.failures} for c in calls]
    if args.trace:
        # reported even when a failed call left the layer metrics empty
        metrics["checks.failed"] = (
            sum(len(c.failures) for c in calls), "count")
        metrics["host.busy_cores"] = (window["host_busy_cores"], "cores")
    failed = sum(1 for c in calls if c.failures)
    print(json.dumps({"window": window}))
    return {"correct": failed == 0 and bool(metrics),
            "attempted": len(calls), "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in sorted(metrics.items())}}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "insurance_pdf_extractor_spark")):
        print(f"perfbench: no insurance_pdf_extractor_spark package in "
              f"{ROOT}; run from the repository root", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    _prepare_env(work)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
