"""The traced run: per-layer metrics from spans recorded around public calls
into each layer, plus Spark stage counters for the stages submitted inside
each span. Nothing here reaches inside the package."""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

import corpus
from probes import StageCounters

#: kernels the score UDF runs per page, under their metric names
KERNELS = (
    ("content_ratio", "content_ratio"),
    ("brightness", "brightness_with_trim"),
    ("lap_var", "blur_laplacian_var"),
    ("skew", "skew_degrees"),
    ("watermark", "watermark_fft"),
    ("noise", "noise_percent"),
    ("entropy", "entropy256"),
    ("est_dpi", "estimate_dpi"),
)
SAMPLE_PAGES = 24
REPS = 3
MB = float(1 << 20)


def _m(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs
    )


def _median_span(rec, name: str, fn, reps: int = REPS) -> dict:
    """Run ``fn`` ``reps`` times, each in its own span; return the span of
    median duration."""
    spans = []
    for _ in range(reps):
        with rec.span(name) as s:
            fn()
        spans.append(s)
    spans.sort(key=lambda s: s["end"] - s["start"])
    return spans[len(spans) // 2]


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _median_ok(xs: list) -> float:
    ok = [x for x in xs if x is not None]
    if not ok:
        raise RuntimeError("no successful runs")
    return statistics.median(ok)


def _sample_pages(corpus_dir: str, seed: int) -> list[bytes]:
    tbl = pq.read_table(os.path.join(corpus_dir, corpus.PAYLOADS_DIR), columns=["png", "width"])
    data = [p for p, w in zip(tbl.column("png").to_pylist(), tbl.column("width").to_pylist()) if w]
    rng = np.random.default_rng([seed, 11])
    idx = rng.choice(len(data), min(SAMPLE_PAGES, len(data)), replace=False)
    return [data[i] for i in sorted(idx)]


def kernel_metrics(rec, corpus_dir: str, seed: int) -> tuple[dict, float]:
    """In-process decode and per-kernel self times over sampled pages, the
    same calls the score UDF makes per page."""
    from document_quality_assessment_ocr_spark import kernels, png

    out = {}
    decode, page, self_t = [], [], {k: [] for k, _ in KERNELS}
    for data in _sample_pages(corpus_dir, seed):
        for _ in range(REPS):
            with rec.span("png.decode") as s:
                arr, _ = png.decode_gray(data)
            decode.append(_dur(s))
            with rec.span("kernels.page") as p:
                for metric, fn in KERNELS:
                    with rec.span(f"kernels.{metric}") as k:
                        getattr(kernels, fn)(arr)
                    self_t[metric].append(rec.self_time(k))
            page.append(_dur(p))
    out["png.decode_ms"] = _m(1000 * statistics.median(decode), "ms")
    page_ms = 1000 * statistics.median(page)
    out["kernels.page_ms"] = _m(page_ms, "ms")
    for metric, _ in KERNELS:
        out[f"kernels.{metric}_ms"] = _m(1000 * statistics.median(self_t[metric]), "ms")
    return out, page_ms


def traced_metrics(spark, wl, meta: dict, rec, seconds: float, cores: int) -> tuple[dict, float]:
    """Per-layer metrics at ``local[cores]`` and the untraced median run time;
    ``wl`` is the warmed workload."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from document_quality_assessment_ocr_spark.functions.text import text_density
    from document_quality_assessment_ocr_spark.plans.metrics import partition_manifest
    from document_quality_assessment_ocr_spark.plans.pipeline import (
        run_extraction,
        score_payload_table,
    )

    counters = StageCounters(spark)
    out = {}

    # tracing overhead: untraced and traced runs alternate for half the time
    plain, traced = [], []
    t_end = time.perf_counter() + seconds / 2
    while not plain or time.perf_counter() < t_end:
        plain.append(wl.timed_run())
        traced.append(wl.timed_run(rec))
    run_s = _median_ok(plain)
    out["trace.run_s"] = _m(_median_ok(traced), "s")
    out["trace.overhead_s"] = _m(_median_ok(traced) - run_s, "s")

    # sources
    spans_dir = os.path.join(wl.dir, corpus.SPANS_DIR)
    pay_dir = os.path.join(wl.dir, corpus.PAYLOADS_DIR)

    def scan():
        spans, pay = wl.read()
        _noop(spans)
        _noop(pay)

    out["sources.scan_s"] = _m(_dur(_median_span(rec, "sources.scan", scan)), "s")
    out["sources.input_mb"] = _m((_du(spans_dir) + _du(pay_dir)) / MB, "MB")

    # png + kernels (in this process, one core)
    km, page_ms = kernel_metrics(rec, wl.dir, meta["seed"])
    out.update(km)

    # functions.udfs: the score stage alone
    spans, pay = wl.read()
    s = _median_span(rec, "udfs.score", lambda: _noop(score_payload_table(pay)))
    score_s = _dur(s)
    stages = counters.stages_in(s)
    out["udfs.score_s"] = _m(score_s, "s")
    out["udfs.overhead_share"] = _m(
        1.0 - (meta["n_payloads"] * page_ms / 1000.0 / cores) / score_s, "share"
    )
    out["udfs.task_skew"] = _m(
        counters.task_skew(max(stages, key=lambda st: st["run_ms"])), "ratio"
    )

    # functions.text: density over the exploded text spans
    def density():
        ex = spans.select(F.explode("spans").alias("s")).where(F.col("s.kind") == "text")
        _noop(ex.select(text_density(F.col("s.text")).alias("d")))

    out["text.density_s"] = _m(_dur(_median_span(rec, "text.density", density)), "s")

    # plans.pipeline: the dataflow over a persisted score table
    scored = score_payload_table(pay).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        scored.count()
        s = _median_span(
            rec, "pipeline.dataflow",
            lambda: _noop(run_extraction(spans, pay, scored_payloads=scored)),
        )
    finally:
        scored.unpersist()
    stages = counters.stages_in(s)
    out["pipeline.dataflow_s"] = _m(_dur(s), "s")
    out["pipeline.shuffle_mb"] = _m(sum(st["shuffle_write_bytes"] for st in stages) / MB, "MB")
    out["pipeline.jvm_cpu_s"] = _m(sum(st["cpu_ns"] for st in stages) / 1e9, "s")
    out["pipeline.spill_mb"] = _m(sum(st["spill_bytes"] for st in stages) / MB, "MB")
    out["pipeline.peak_exec_mb"] = _m(max(st["peak_exec_bytes"] for st in stages) / MB, "MB")
    reduce_side = [st for st in stages if st["shuffle_read_bytes"] > 0] or stages
    out["pipeline.task_skew"] = _m(
        counters.task_skew(max(reduce_side, key=lambda st: st["run_ms"])), "ratio"
    )

    # plans.checkpoint: one full checkpointed run into a fresh directory
    ck_dir = os.path.join(wl.scratch, "checkpoint-probe")
    shutil.rmtree(ck_dir, ignore_errors=True)
    with rec.span("checkpoint.run") as s:
        spans, pay = wl.read()
        wl.cp.run_with_checkpoints(spark, spans, pay, ck_dir)
    stages = counters.stages_in(s)
    out["checkpoint.run_s"] = _m(_dur(s), "s")
    ts = [h["ts"] for h in wl.cp.snapshot_history(ck_dir)]
    out["checkpoint.commit_s"] = _m(statistics.median(np.diff(ts)), "s")
    # rows, not bytes: Spark's inputBytes for the nested-schema parquet
    # reader counts only a fraction of the file (measured 14 KB per 4.6 MB
    # scan), while inputRecords is exact
    spans_read = sum(st["input_records"] for st in stages if st["input_records"] == meta["n_rows"])
    out["checkpoint.scan_amplification"] = _m(spans_read / meta["n_rows"], "ratio")
    out["checkpoint.written_mb"] = _m(_du(ck_dir) / MB, "MB")

    # plans.metrics: the manifest of one committed group
    group0 = os.path.join(ck_dir, "data", "group=0")
    out["metrics.manifest_s"] = _m(
        _dur(_median_span(
            rec, "metrics.manifest",
            lambda: _noop(partition_manifest(spark.read.parquet(group0))),
        )),
        "s",
    )
    shutil.rmtree(ck_dir, ignore_errors=True)
    return out, run_s
