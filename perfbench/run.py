#!/usr/bin/env python3
"""Extraction benchmark: seeded, oracle-checked workloads over the flagship
path ``sources.tables -> functions.udfs/kernels/png -> plans.pipeline ->
plans.checkpoint``.

    python3 perfbench/run.py --workload media_unique --seed 1 --seconds 20 --trace 0

One process, one ``local[4]`` SparkSession, public calls with their default
arguments, closed loop (each run starts when the previous one has finished).
Every run's output is checked against ``oracle.evaluate_document`` on a
seeded sample of documents. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Scratch data (corpus cache, outputs, Spark local dirs, traces) stays under
``.perfbench/`` in the checkout. See perfbench/README.md for the metrics.
"""

from __future__ import annotations

import argparse
import inspect
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
CORES = 4
MASTER = f"local[{CORES}]"
SETUP_SAMPLES = 3
#: untimed one-shot runs before the loop: run time falls for about four runs
#: while the JVM compiles the hot paths (text_skewed: 1.9 s -> 1.4 s)
WARMUP_RUNS = 3
#: JVM heap, fixed and pre-touched: with the package default (8g, grown on
#: demand) peak RSS swung 4.8-8.7 GB between runs, and a 2g cap grown on
#: demand still swung 1.7-2.3 GB for the JVM alone
DRIVER_MEM = "2g"
WORKLOADS = ("media_unique", "text_skewed")
MB = float(1 << 20)

sys.path.insert(0, ROOT)


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def _isolate_scratch() -> None:
    """Keep every temporary file of Python, the JVM and Spark inside the
    checkout (set before the JVM starts; workers inherit the env)."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # every JVM, including spark-submit's launcher: no /tmp/hsperfdata files
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    import tempfile

    tempfile.tempdir = None


# ---------------------------------------------------------------------------
# session lifetime
# ---------------------------------------------------------------------------


def start_session(master: str = MASTER):
    """SparkSession plus Python-worker warm-up; returns (spark, seconds). The
    warm-up scores one tiny page per core so every worker has imported the
    package before the first timed run."""
    import numpy as np

    from document_quality_assessment_ocr_spark import png
    from document_quality_assessment_ocr_spark.plans.pipeline import score_payload_table
    from document_quality_assessment_ocr_spark.session import get_spark
    from document_quality_assessment_ocr_spark.sources.tables import PAYLOADS_SCHEMA

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master=master,
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    n = spark.sparkContext.defaultParallelism
    page = png.encode_gray(np.full((64, 64), 255, dtype=np.uint8), dpi=200)
    rows = [(f"warm{i}", 64, 64, 200, page) for i in range(n)]
    df = spark.createDataFrame(rows, PAYLOADS_SCHEMA).repartition(n)
    score_payload_table(df).write.format("noop").mode("overwrite").save()
    return spark, time.perf_counter() - t0


def end_session(spark, keep_jvm: bool = False) -> None:
    """Stop Spark and, unless ``keep_jvm``, end the JVM and wait until it and
    every process under it (Python daemon and workers) have exited."""
    from pyspark import SparkContext

    from probes import descendants

    spark.stop()
    if keep_jvm:
        return
    pids = descendants(os.getpid())
    gw = SparkContext._gateway
    gw.shutdown()
    gw.proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        gw.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gw.proc.kill()
        gw.proc.wait()
    deadline = time.monotonic() + 30
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def setup_samples(n: int) -> list[float]:
    """Set-up time of ``n`` fresh processes, one after the other, each paying
    JVM launch, session start and worker warm-up. (A JVM relaunched inside
    this process would break the package's module-level UDF objects, which
    keep a handle on the first JVM.)"""
    out = []
    for _ in range(n):
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--setup-probe"],
            capture_output=True, text=True, timeout=150, cwd=ROOT,
        )
        if p.returncode != 0:
            raise RuntimeError(f"set-up probe failed:\n{p.stderr[-2000:]}")
        out.append(json.loads(p.stdout.strip().splitlines()[-1])["setup_s"])
    return out


# ---------------------------------------------------------------------------
# workload runs
# ---------------------------------------------------------------------------


class _Crash(Exception):
    pass


class Workload:
    """One workload's corpus, its timed operations and their output checks."""

    def __init__(self, spark, name: str, corpus_dir: str, gate, scratch: str) -> None:
        from document_quality_assessment_ocr_spark.plans import checkpoint

        self.spark = spark
        self.name = name
        self.dir = corpus_dir
        self.gate = gate
        self.scratch = scratch
        self.cp = checkpoint
        self.n_groups = inspect.signature(checkpoint.run_with_checkpoints).parameters[
            "n_groups"
        ].default
        self.half_dir = os.path.join(scratch, "half")
        self.attempted = 0
        self.failed = 0
        self._k = 0

    def read(self):
        from document_quality_assessment_ocr_spark.sources import tables

        return tables.read_corpus(self.spark, self.dir)

    def run(self, out: str, span=nullcontext):
        """From input to committed output on the CLI's one-shot path."""
        from document_quality_assessment_ocr_spark.plans.pipeline import run_extraction

        with span("sources.read_corpus"):
            spans, pay = self.read()
        with span("pipeline.run_extraction"):
            run_extraction(spans, pay).write.mode("overwrite").parquet(out)
        return self.spark.read.parquet(out)

    def resume(self, out: str, span=nullcontext):
        """Finish a checkpointed run that crashed after half its groups."""
        with span("sources.read_corpus"):
            spans, pay = self.read()
        with span("checkpoint.run_with_checkpoints"):
            return self.cp.run_with_checkpoints(self.spark, spans, pay, out)

    def make_half_snapshot(self) -> None:
        """A checkpoint directory whose run crashed after committing half the
        groups (the crash is injected the way tests/test_checkpoint.py does)."""
        real = self.cp.run_extraction
        calls = [0]

        def crash_after_half(*a, **kw):
            calls[0] += 1
            if calls[0] > self.n_groups // 2:
                raise _Crash()
            return real(*a, **kw)

        shutil.rmtree(self.half_dir, ignore_errors=True)
        self.cp.run_extraction = crash_after_half
        try:
            spans, pay = self.read()
            self.cp.run_with_checkpoints(self.spark, spans, pay, self.half_dir)
        except _Crash:
            pass
        finally:
            self.cp.run_extraction = real
        committed = len(self.cp.snapshot_history(self.half_dir))
        if committed != self.n_groups // 2:
            raise RuntimeError(f"half snapshot has {committed} commits")

    def _timed(self, op, out: str, rec=None, span_name: str = ""):
        """Time one operation; check its output. Returns seconds, or None
        when it raised or its output mismatched the oracle. With a span
        recorder the operation and its layer calls are recorded as spans."""
        self.attempted += 1
        try:
            if rec is None:
                t0 = time.perf_counter()
                df = op(out)
                dt = time.perf_counter() - t0
            else:
                with rec.span(span_name) as s:
                    df = op(out, rec.span)
                dt = s["end"] - s["start"]
            problems = self.gate.mismatches(df)
        except Exception:
            log(traceback.format_exc())
            problems = ["raised"]
        if problems:
            self.failed += 1
            log(f"[{self.name}] run failed: " + "; ".join(problems[:5]))
            return None
        return dt

    def timed_run(self, rec=None):
        self._k += 1
        out = os.path.join(self.scratch, f"run{self._k}")
        try:
            return self._timed(self.run, out, rec, "run")
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def timed_resume(self, rec=None):
        self._k += 1
        out = os.path.join(self.scratch, f"resume{self._k}")
        shutil.copytree(self.half_dir, out)
        try:
            return self._timed(self.resume, out, rec, "resume")
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def iteration(self, rec=None) -> tuple:
        """One closed-loop step: a run into a fresh directory, then a resume
        from a fresh copy of the half snapshot. Returns (run_s, resume_s)."""
        return self.timed_run(rec), self.timed_resume(rec)

    def loop(self, seconds: float, rec=None) -> tuple[list, list]:
        runs, resumes = [], []
        t_end = time.perf_counter() + seconds
        while True:
            run_s, resume_s = self.iteration(rec)
            if run_s is not None:
                runs.append(run_s)
            if resume_s is not None:
                resumes.append(resume_s)
            if time.perf_counter() >= t_end:
                return runs, resumes


# ---------------------------------------------------------------------------
# entry
# ---------------------------------------------------------------------------


def _median(xs: list) -> float:
    if not xs:
        raise RuntimeError("no successful samples")
    return float(statistics.median(xs))


def _metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setup-probe", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    _isolate_scratch()
    if args.setup_probe:
        spark, setup_s = start_session()
        end_session(spark)
        print(json.dumps({"setup_s": setup_s}))
        return 0
    if args.workload is None:
        ap.error("--workload is required")

    import corpus
    import layers
    from oracle_gate import OracleGate
    from probes import RssSampler, SpanRecorder

    t_start = time.perf_counter()

    def phase(what: str) -> None:
        log(f"[{args.workload}] {what} at {time.perf_counter() - t_start:.1f}s")

    cdir = corpus.corpus_dir(os.path.join(WORK, "corpus"), args.workload, args.seed)
    meta = corpus.read_meta(cdir)
    gate = OracleGate(cdir, args.seed)
    phase(f"corpus+oracle ready ({meta['n_docs']} docs, {meta['n_spans']} spans, "
          f"{meta['n_payloads']} payloads, {len(gate.sample_ids)} sampled)")

    # set-up samples: fresh processes first, then this process's own session
    setups = [] if args.trace else setup_samples(SETUP_SAMPLES - 1)
    spark, setup_s = start_session()
    setups.append(setup_s)
    phase(f"set-up {setups}")
    scratch = os.path.join(WORK, f"scratch-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    wl = Workload(spark, args.workload, cdir, gate, scratch)
    try:
        # warm-up, untimed: the crashed half run scores every payload and
        # runs half the groups; then the one-shot path
        wl.make_half_snapshot()
        for _ in range(WARMUP_RUNS):
            wl.timed_run()
        phase("warm-up done")
        if not args.trace:
            with RssSampler() as rss:
                runs, resumes = wl.loop(args.seconds)
            run_s = _median(runs)
            metrics = {
                "setup_s": _metric(statistics.median(setups), "s"),
                "run_s": _metric(run_s, "s"),
                "docs_per_s": _metric(meta["n_docs"] / run_s, "1/s"),
                "spans_per_s": _metric(meta["n_spans"] / run_s, "1/s"),
                "pages_per_s": _metric(meta["n_payloads"] / run_s, "1/s"),
                "peak_rss_mb": _metric(rss.peak / MB, "MB"),
                "resume_s": _metric(_median(resumes), "s"),
            }
            phase(f"loop done: run {runs} resume {resumes}")
        else:
            rec = SpanRecorder(f"{args.workload}-s{args.seed}")
            metrics, run_s = layers.traced_metrics(spark, wl, meta, rec, args.seconds, CORES)
            rec.dump(os.path.join(WORK, "traces", f"{rec.run_id}.json"))
            phase("layers done")
            # scaling: the same runs on one core (same JVM, fresh session)
            end_session(spark, keep_jvm=True)
            spark, _ = start_session("local[1]")
            wl.spark = spark
            one = wl.timed_run()
            if one is not None:
                metrics["scaling.eff_1to4"] = _metric(one / (CORES * run_s), "ratio")
    finally:
        end_session(spark)
        shutil.rmtree(scratch, ignore_errors=True)
    phase("stopped")
    if args.trace:
        metrics["failed_share"] = _metric(wl.failed / max(wl.attempted, 1), "share")
    print(json.dumps({
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
