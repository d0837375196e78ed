"""The traced run: per-layer metrics for one workload.

Spans are recorded here, in the benchmark, around its calls into each
module's public functions; Spark's own accounting for those calls is
read from the status stores afterwards.  Layers the program runs only
inside one fused Spark job (classify, stitch, the checkpoint's resume
anti-join) are timed as isolated passes over the same input, minus the
pass they build on.  A layer the workload does not reach reports 0.
"""

from __future__ import annotations

import itertools
import os
import statistics
import time
from datetime import datetime, timezone

from pyspark.sql import functions as F

from mimeograph_spark.operators import ocr as ocr_mod
from mimeograph_spark.operators.classify import HAS_NATIVE, N_MEDIA, with_doc_class
from mimeograph_spark.operators.hocr import BAD_SUFFIX, HocrError, ocr_text_sql, parse_hocr, synth_hocr
from mimeograph_spark.operators.stitch import stitch_pages
from mimeograph_spark.plans.pipeline import DEFAULT_PAGE_THRESHOLD, extract
from mimeograph_spark.schema import KIND_MEDIA
from mimeograph_spark.sources.checkpoint import CheckpointTable, resume_filter
from mimeograph_spark.sources.lineage import lineage_rows

from perfbench.probe import sum_metric

PASSES = 2  # repetitions of each isolated pass; the median is kept
ARROW_BATCH = 4096  # session.get_spark's arrow maxRecordsPerBatch
HOCR_SAMPLE = 20000  # refs timed through synth_hocr / parse_hocr


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median_pass(tracer, name: str, fn) -> float:
    times = []
    for _ in range(PASSES):
        with tracer.span(name):
            t0 = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _jobs(spark) -> int:
    """Jobs submitted so far (the DAG scheduler's counter, synchronous)."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs())


def _dir_files(path: str) -> list[str]:
    return [
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
    ]


def paired_window(w, status, pairs: int) -> tuple[list[float], dict]:
    """`pairs` times: the operation untraced, then traced with the status
    stores read after it.  Alternating keeps drift (JIT, host load) out
    of the traced/untraced ratio.  Returns the untraced wall times and
    the traced accounting."""
    spark, tracer = w.spark, w.tracer
    walls, acc = [], {"walls": [], "cpu": [], "gc": [], "skew": [], "read_jobs": 0}
    for _ in range(pairs):
        walls.append(w.op())
        tracer.new_op()
        e0 = status.execution_count()
        with tracer.span("op"):
            acc["walls"].append(w.op(traced=True))
        ids = list(range(e0, status.execution_count()))
        j0 = _jobs(spark)
        with tracer.span("trace.read"):
            acc["nodes"] = status.plan_nodes(ids)
            acc["st"] = st = status.stage_stats(ids)
        acc["read_jobs"] += _jobs(spark) - j0
        acc["cpu"].append(st["cpu_s"])
        acc["gc"].append(st["gc_s"])
        acc["skew"].append(st["task_skew"])
    return walls, acc


def traced(w, status, walls, acc, rss) -> dict:
    spark, tracer = w.spark, w.tracer
    m: dict[str, tuple[float, str]] = {}
    read = lambda: spark.read.parquet(w.input)  # noqa: E731
    nodes, st = acc["nodes"], acc["st"]
    m["trace.overhead"] = (
        statistics.median(acc["walls"]) / statistics.median(walls) - 1, "ratio"
    )
    m["trace.read_jobs"] = (acc["read_jobs"], "count")

    # -- session, corpus ---------------------------------------------------
    m["session.start_s"] = (tracer.self_times("session")[0], "s")
    tracer.new_op()
    scan_s = _median_pass(tracer, "corpus", lambda: _noop(read()))
    m["corpus.scan_s"] = (scan_s, "s")
    m["corpus.bytes"] = (w.record["input_bytes"], "bytes")
    m["corpus.files"] = (w.record["input_files"], "count")

    # -- operators.classify -------------------------------------------------
    tracer.new_op()
    counts = {}

    def classify_pass():
        c = with_doc_class(read())
        ocr = ~F.col(HAS_NATIVE)
        counts["row"] = c.agg(
            F.sum(F.col(HAS_NATIVE).cast("long")).alias("native"),
            F.sum((ocr & (F.col(N_MEDIA) <= DEFAULT_PAGE_THRESHOLD)).cast("long")).alias("ocr"),
            F.sum((ocr & (F.col(N_MEDIA) > DEFAULT_PAGE_THRESHOLD)).cast("long")).alias("mega"),
        ).collect()[0]

    m["classify.s"] = (_median_pass(tracer, "operators.classify", classify_pass) - scan_s, "s")
    m["classify.docs_native"] = (counts["row"]["native"], "count")
    m["classify.docs_ocr"] = (counts["row"]["ocr"], "count")
    m["classify.docs_mega"] = (counts["row"]["mega"], "count")

    # -- plans.pipeline (last traced operation's accounting) ----------------
    tracer.new_op()

    def plan():
        extract(read())._jdf.queryExecution().executedPlan()

    m["pipeline.plan_s"] = (_median_pass(tracer, "plans.pipeline.plan", plan), "s")
    m["pipeline.jvm_cpu_s"] = (statistics.median(acc["cpu"]), "s")
    m["pipeline.gc_s"] = (statistics.median(acc["gc"]), "s")
    m["pipeline.jobs"] = (st["jobs"], "count")
    m["pipeline.stages"] = (st["stages"], "count")
    m["pipeline.tasks"] = (st["tasks"], "count")
    m["pipeline.input_scans"] = (
        sum(
            1 for n in nodes
            if n["name"].startswith("Scan parquet") and w.input in n["desc"]
        ),
        "count",
    )
    m["pipeline.task_skew"] = (statistics.median(acc["skew"]), "ratio")

    # -- operators.ocr: Spark's Python accounting vs the in-process body ---
    py_s = sum_metric(nodes, "ArrowEvalPython", "time to run Python workers")
    m["ocr.pages"] = (w.op_pages, "count")
    m["ocr.error_pages"] = (w.op_error_pages, "count")
    m["ocr.rows_sent"] = (sum_metric(nodes, "ArrowEvalPython", "number of output rows"), "count")
    m["ocr.bytes_sent"] = (sum_metric(nodes, "ArrowEvalPython", "data sent to Python workers"), "bytes")
    m["ocr.bytes_recv"] = (sum_metric(nodes, "ArrowEvalPython", "data returned from Python workers"), "bytes")
    m["ocr.py_s"] = (py_s, "s")
    m["ocr.py_init_s"] = (
        sum_metric(nodes, "ArrowEvalPython", "time to start Python workers")
        + sum_metric(nodes, "ArrowEvalPython", "time to initialize Python workers"),
        "s",
    )
    narrow, pages = w.op_refs
    tracer.new_op()
    body_s = _median_pass(tracer, "operators.ocr", lambda: _ocr_body(narrow, pages))
    m["ocr.body_s"] = (body_s, "s")
    m["ocr.boundary_s"] = (py_s - body_s, "s")

    # -- operators.hocr: per page, over the workload's own refs ------------
    refs = [r for lst in narrow for r in lst] + pages
    refs = refs[:HOCR_SAMPLE]
    tracer.new_op()
    with tracer.span("operators.hocr.synth"):
        t0 = time.perf_counter()
        markup = [synth_hocr(r) for r in refs]
        synth = time.perf_counter() - t0
    with tracer.span("operators.hocr.parse"):
        t0 = time.perf_counter()
        for h in markup:
            try:
                parse_hocr(h)
            except HocrError:
                pass
        parse = time.perf_counter() - t0
    n = max(len(refs), 1)
    m["hocr.synth_us"] = (synth / n * 1e6, "us")
    m["hocr.parse_us"] = (parse / n * 1e6, "us")

    # -- operators.stitch: pages with closed-form text -> stitch_pages -----
    m.update(_stitch(spark, tracer, status, read, bool(pages)))

    # -- sources.checkpoint / sources.lineage (resume workload only) -------
    m.update(_checkpoint_lineage(w, spark, tracer, read, scan_s))

    # -- memory (the paired window) ----------------------------------------
    m["mem.jvm_peak_mb"] = (rss.peak_jvm, "MB")
    m["mem.py_worker_peak_mb"] = (rss.peak_py, "MB")
    m["mem.py_workers"] = (rss.max_workers, "count")
    return m


def _ocr_body(narrow, pages) -> None:
    import pandas as pd

    refs_fn = ocr_mod.ocr_refs_udf.func
    page_fn = ocr_mod.ocr_page_udf.func
    for i in range(0, len(narrow), ARROW_BATCH):
        refs_fn(pd.Series(narrow[i : i + ARROW_BATCH], dtype=object))
    for i in range(0, len(pages), ARROW_BATCH):
        page_fn(pd.Series(pages[i : i + ARROW_BATCH], dtype=object))


def _stitch(spark, tracer, status, read, has_pages: bool) -> dict:
    zero = {
        "stitch.s": (0.0, "s"),
        "stitch.shuffle_bytes": (0.0, "bytes"),
        "stitch.shuffle_records": (0.0, "count"),
        "stitch.spill_bytes": (0.0, "bytes"),
        "stitch.task_skew": (0.0, "ratio"),
    }
    if not has_pages:
        return zero  # no document reaches the page-parallel path
    c = with_doc_class(read()).filter(
        ~F.col(HAS_NATIVE) & (F.col(N_MEDIA) > DEFAULT_PAGE_THRESHOLD)
    )
    ref = F.col("s.media_ref")
    pages = c.select(
        "doc_id", F.explode(F.filter("spans", lambda s: s["kind"] == KIND_MEDIA)).alias("s")
    ).select(
        "doc_id",
        F.col("s.offset").alias("offset"),
        ref.alias("media_ref"),
        F.lit("ocr").alias("kind"),
        F.when(ref.endswith(BAD_SUFFIX), F.lit(None).cast("string"))
        .otherwise(F.expr(ocr_text_sql("s.media_ref")))
        .alias("text"),
    )
    tracer.new_op()
    base = _median_pass(tracer, "operators.stitch.input", lambda: _noop(pages))
    s = _median_pass(tracer, "operators.stitch", lambda: _noop(stitch_pages(pages, salted=True)))
    ids = [status.execution_count() - 1]  # the last stitch pass
    nodes = status.plan_nodes(ids)
    return {
        "stitch.s": (s - base, "s"),
        "stitch.shuffle_bytes": (sum_metric(nodes, "Exchange", "shuffle bytes written"), "bytes"),
        "stitch.shuffle_records": (sum_metric(nodes, "Exchange", "shuffle records written"), "count"),
        "stitch.spill_bytes": (sum_metric(nodes, "", "spill size"), "bytes"),
        "stitch.task_skew": (status.stage_stats(ids)["task_skew"], "ratio"),
    }


def _checkpoint_lineage(w, spark, tracer, read, scan_s) -> dict:
    if w.name != "sf01_resume":
        return {
            "checkpoint.resume_s": (0.0, "s"),
            "checkpoint.append_s": (0.0, "s"),
            "checkpoint.bytes_written": (0, "bytes"),
            "checkpoint.files": (0, "count"),
            "lineage.s": (0.0, "s"),
            "lineage.jobs": (0, "count"),
        }
    res, _ = w.pending[-1][1]
    snap = os.path.join(res, CheckpointTable(res).snapshots()[-1]["dir"])
    files = _dir_files(snap)
    tracer.new_op()
    resume = _median_pass(
        tracer, "sources.checkpoint.resume_filter",
        lambda: _noop(resume_filter(read(), CheckpointTable(w.seed_results))),
    )
    k = itertools.count()
    scratch = os.path.join(w.work, "trace_ckpt")

    def append():
        CheckpointTable(f"{scratch}{next(k)}").append(spark.read.parquet(snap))

    append_s = _median_pass(tracer, "sources.checkpoint.append", append)

    def lineage():
        CheckpointTable(f"{scratch}{next(k)}").append(
            lineage_rows(spark.read.parquet(snap), "trace", "extract", datetime.now(timezone.utc))
        )

    j0 = _jobs(spark)
    lin = _median_pass(tracer, "sources.lineage", lineage)
    return {
        "checkpoint.resume_s": (resume - scan_s, "s"),
        "checkpoint.append_s": (append_s, "s"),
        "checkpoint.bytes_written": (sum(os.path.getsize(f) for f in files), "bytes"),
        "checkpoint.files": (len(files), "count"),
        "lineage.s": (lin, "s"),
        "lineage.jobs": ((_jobs(spark) - j0) / PASSES, "count"),
    }
