#!/usr/bin/env python3
"""Layered extraction benchmark.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root.  One run: start Spark through
`session.get_spark` with a host-sized heap, write the workload's seeded
input, warm up, then repeat the workload's operation for `--seconds`
and report medians.  Every output is checked against
`mimeograph_spark.oracle` outside the timed region.  `--trace 1` adds a
traced pass over the same operation and isolated passes over each
module's public functions, read from spans and Spark's status stores.
The last stdout line is the JSON result; see perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402
from contextlib import nullcontext, suppress  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("sf01_resume", "born_digital", "scanned_megapage")
MIN_REPS = 3
WARM_OPS = 2  # untimed operations as timed, after the first (cold) one
TRACE_PAIRS = 2  # untraced + traced operation pairs in a traced run


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    return ap.parse_args(argv)


def fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# -- oracle check -----------------------------------------------------------

RESULT_COLS = ("doc_id", "status", "spans_out", "error_pages")


class Oracle:
    """`oracle.expected_result` for every input doc, as Arrow columns in
    doc_id order, so a result table is checked by sorting it and
    comparing columns.  `base` holds the distinct docs; `ids` maps every
    input doc_id to the index of its base doc (replicas share spans)."""

    def __init__(self, base: list[dict], ids: list[tuple[str, int]]) -> None:
        import pyarrow as pa
        import pyarrow.compute as pc

        from mimeograph_spark.oracle import expected_result
        from perfbench.gen import SPAN_TYPE

        exp = [expected_result(r["doc_id"], r["spans"]) for r in base]
        cols = {
            "status": pa.array([e["status"] for e in exp], pa.string()),
            "spans_out": pa.array([e["spans_out"] for e in exp], pa.list_(SPAN_TYPE)),
            "error_pages": pa.array([e["error_pages"] for e in exp], pa.list_(pa.int32())),
        }
        doc_ids = pa.array([d for d, _ in ids], pa.string())
        order = pc.sort_indices(doc_ids)
        self.ids = doc_ids.take(order)
        idx = pa.array([k for _, k in ids], pa.int64()).take(order)
        self.cols = {c: a.take(idx) for c, a in cols.items()}

    def check(self, table) -> list[str]:
        """Exactly once (the result's doc_ids equal the input's, none
        twice), then span-sequence equality (kind, text, media_ref,
        offset order), status and error_pages for every row."""
        import pyarrow.compute as pc

        t = table.select(list(RESULT_COLS)).sort_by("doc_id")
        ids = t["doc_id"].combine_chunks()
        if not ids.equals(self.ids):
            dup = len(ids) - pc.count_distinct(ids).as_py()
            missing = pc.sum(pc.invert(pc.is_in(self.ids, value_set=ids))).as_py()
            extra = pc.sum(pc.invert(pc.is_in(ids, value_set=self.ids))).as_py()
            return [f"doc_ids: {dup} duplicated, {missing} missing, {extra} not in input"]
        problems = []
        for c, want in self.cols.items():
            got = t[c].combine_chunks()
            want = want.cast(got.type)
            if not got.equals(want):
                bad = [
                    i for i, (g, w) in enumerate(zip(got.to_pylist(), want.to_pylist()))
                    if g != w
                ]
                problems.append(
                    f"{c}: {len(bad)} rows differ from oracle, first {ids[bad[0]].as_py()}"
                )
        return problems


def read_column(path: str, col: str) -> list:
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=[col])[col].to_pylist()


def read_results(dirs):
    import pyarrow as pa
    import pyarrow.parquet as pq

    return pa.concat_tables(pq.read_table(d, columns=list(RESULT_COLS)) for d in dirs)


# -- workloads --------------------------------------------------------------

class Workload:
    """Input generation, the timed operation and its output check."""

    def __init__(self, name, spark, work, cores, size, tracer):
        self.name, self.spark, self.work = name, spark, work
        self.cores, self.size, self.tracer = cores, size, tracer
        self.input = os.path.join(work, "input")
        self.base = os.path.join(work, "base")  # sf01_resume: one copy of the docs
        self.rep = 0

    # setup -----------------------------------------------------------------
    def generate(self, seed: int) -> None:
        from perfbench import gen

        div = gen.TINY_DIV if self.size == "tiny" else 1
        full = gen.FULL[self.name]
        self.replicas = max(1, full.get("replicas", 1) // div)
        n_files = self.cores
        if self.name == "sf01_resume":
            self._generate_sf01(seed, full, div, n_files)
        elif self.name == "born_digital":
            gen.write_split(gen.born_digital(seed, full["docs"] // div), self.input, n_files)
        else:
            b = gen.scanned_megapage(seed, full["docs"] // div, full["mega_docs"])
            gen.write_split(b, self.input, n_files)

    def _generate_sf01(self, seed, full, div, n_files) -> None:
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from mimeograph_spark import corpus
        from perfbench import gen

        # The flat table is written in n_files splits, so the derived
        # docs come out in n_files similar files, no shuffle.
        flat_dir = os.path.join(self.work, "flat")
        os.makedirs(flat_dir)
        flat = gen.flat_sf01(seed, full["flat_docs"] // div)
        step = -(-flat.num_rows // n_files)
        for i in range(n_files):
            pq.write_table(
                flat.slice(i * step, step), os.path.join(flat_dir, f"part-{i:05d}.parquet")
            )
        with self.tracer.span("corpus"):
            corpus.derive_documents(self.spark.read.parquet(flat_dir)).write.parquet(
                self.base
            )
        # Amplify each derived file `replicas` times: doc_id:i, same spans,
        # replicas of a doc adjacent (as a broadcast crossJoin lays them out).
        os.makedirs(self.input)
        reps = self.replicas
        for f in sorted(f for f in os.listdir(self.base) if f.endswith(".parquet")):
            t = pq.read_table(os.path.join(self.base, f))
            t = t.take(np.repeat(np.arange(t.num_rows), reps))
            suffix = pa.array([str(i) for i in range(reps)] * (t.num_rows // reps))
            t = t.set_column(0, "doc_id", pc.binary_join_element_wise(t["doc_id"], suffix, ":"))
            pq.write_table(t, os.path.join(self.input, f))

    def load_oracle(self) -> None:
        """The oracle and the workload record.  sf01_resume's input is
        `replicas` copies of the derived docs (`doc_id:i`, same spans), so
        both are computed over one copy."""
        import pyarrow.parquet as pq

        from mimeograph_spark.operators.hocr import BAD_SUFFIX
        from perfbench import gen

        if self.name == "sf01_resume":
            base = gen.read_docs(self.base)
            reps = self.replicas
            ids = [(f"{r['doc_id']}:{i}", k) for k, r in enumerate(base) for i in range(reps)]
            todo = [r for r in base if not _committed(r["doc_id"])]
        else:
            base = todo = gen.read_docs(self.input)
            reps = 1
            ids = [(r["doc_id"], k) for k, r in enumerate(base)]
        rows = pq.ParquetDataset(self.input).read(columns=[]).num_rows
        if rows != len(ids):
            raise RuntimeError(f"input holds {rows} docs, expected {len(ids)}")
        self.record = gen.describe(base, self.input, reps)
        self.op_docs = len(todo) * reps
        narrow, pages = _routed_refs(todo)
        self.op_refs = (narrow * reps, pages * reps)
        routed = [r for lst in narrow for r in lst] + pages
        self.op_pages = len(routed) * reps
        self.op_error_pages = sum(r.endswith(BAD_SUFFIX) for r in routed) * reps
        if self.name == "sf01_resume":
            self.record["committed_docs"] = self.record["docs"] - self.op_docs
        self.record["op_docs"] = self.op_docs
        self.record["op_ocr_pages"] = self.op_pages
        # built while the warm-up runs; `warm_up` waits for it
        pool = ThreadPoolExecutor(1)
        self._oracle = pool.submit(Oracle, base, ids)
        pool.shutdown(wait=False)

    # the operation -----------------------------------------------------------
    def warm_up(self) -> None:
        """Untimed operations that also start the Python workers and JIT;
        their outputs are checked with the timed ones."""
        from mimeograph_spark.plans.pipeline import extract
        from mimeograph_spark.sources.checkpoint import CheckpointTable
        from mimeograph_spark.sources.lineage import run_resumable_with_lineage
        from perfbench import gen

        self.pending = []  # (kind, payload) checked after the timed window
        if self.name == "sf01_resume":
            from pyspark.sql import functions as F

            self.seed_results = os.path.join(self.work, "seed_results")
            self.seed_lineage = os.path.join(self.work, "seed_lineage")
            flat_id = F.substring("doc_id", 1, 10).cast("int")
            run_resumable_with_lineage(
                self.spark.read.parquet(self.input).filter(
                    flat_id % gen.COMMITTED_EVERY == 0
                ),
                CheckpointTable(self.seed_results),
                CheckpointTable(self.seed_lineage), extract, run_id="seed",
            )
        else:
            out = os.path.join(self.work, "warmup_out")
            extract(self.spark.read.parquet(self.input)).write.parquet(out)
            self.pending.append(("rows", [out]))
        # operations as timed: JIT compilation keeps the JVM's CPU per
        # operation falling for about 40 s after the first operation, and
        # the first of them ran 20-50% slower than the next
        for _ in range(WARM_OPS):
            self.op()
        self.checked_untimed = len(self.pending)
        self.oracle = self._oracle.result()

    def op(self, traced: bool = False) -> float:
        """One timed operation; returns its wall time in seconds."""
        from mimeograph_spark.plans.pipeline import extract

        self.rep += 1
        if self.name == "sf01_resume":
            from mimeograph_spark.sources.checkpoint import CheckpointTable
            from mimeograph_spark.sources.lineage import run_resumable_with_lineage

            res = os.path.join(self.work, f"rep{self.rep}_results")
            lin = os.path.join(self.work, f"rep{self.rep}_lineage")
            shutil.copytree(self.seed_results, res)
            shutil.copytree(self.seed_lineage, lin)
            t0 = time.perf_counter()
            with self.tracer.span("sources.lineage") if traced else nullcontext():
                run_resumable_with_lineage(
                    self.spark.read.parquet(self.input), CheckpointTable(res),
                    CheckpointTable(lin), extract, run_id=f"rep{self.rep}",
                )
            dt = time.perf_counter() - t0
            self.pending.append(("resume", (res, lin)))
            return dt
        t0 = time.perf_counter()
        with self.tracer.span("plans.pipeline") if traced else nullcontext():
            extract(self.spark.read.parquet(self.input)).write.format(
                "noop"
            ).mode("overwrite").save()
        return time.perf_counter() - t0

    # checks ------------------------------------------------------------------
    def check(self, timed_ops: int) -> tuple[int, int, list[str]]:
        """(attempted, failed, problems) over every operation.  Outputs
        that were kept (the warm-up's parquet, every committed resume
        table) are checked in full; a noop-sink operation, whose output
        is discarded by design, fails only by raising."""
        from mimeograph_spark.sources.checkpoint import CheckpointTable

        # + the checked warm-up operations: the extract into parquet, or
        # the full resumes (the seed commit is checked inside every table)
        attempted, failed = timed_ops + self.checked_untimed, 0
        problems: list[str] = []
        for kind, payload in self.pending:
            if kind == "rows":
                p = self.oracle.check(read_results(payload))
            else:
                res, lin = payload
                p = self.oracle.check(read_results(
                    [os.path.join(res, s["dir"]) for s in CheckpointTable(res).snapshots()]
                ))
                lt = CheckpointTable(lin)
                new = read_column(os.path.join(lin, lt.snapshots()[-1]["dir"]), "doc_count")
                if sum(new) != self.op_docs:
                    p.append("lineage doc_count differs from the docs processed")
            if p:
                failed += 1
                problems.extend(p[:5])
        return attempted, failed, problems


def _committed(doc_id: str) -> bool:
    from perfbench import gen

    return int(doc_id[:10]) % gen.COMMITTED_EVERY == 0


def _routed_refs(rows) -> tuple[list[list[str]], list[str]]:
    """Media refs as the pipeline routes them: per-doc sorted arrays on
    the narrow path (empty for native docs), single refs on the
    page-parallel path."""
    from mimeograph_spark.plans.pipeline import DEFAULT_PAGE_THRESHOLD
    from mimeograph_spark.schema import KIND_MEDIA, KIND_TEXT

    narrow, pages = [], []
    for r in rows:
        spans = r["spans"]
        native = any(
            s["kind"] == KIND_TEXT and (s["text"] or "").strip() for s in spans
        )
        media = sorted(
            (s for s in spans if s["kind"] == KIND_MEDIA), key=lambda s: s["offset"]
        )
        if native:
            narrow.append([])
        elif len(media) > DEFAULT_PAGE_THRESHOLD:
            pages.extend(s["media_ref"] for s in media)
        else:
            narrow.append([s["media_ref"] for s in media])
    return narrow, pages


# -- the run ----------------------------------------------------------------

def timed_window(w: Workload, seconds: float) -> tuple[list[float], int]:
    """Repeat the operation for `seconds`, at least MIN_REPS times.
    Returns the wall times and the number of operations that raised."""
    walls, raised = [], 0
    end = time.perf_counter() + seconds
    while (time.perf_counter() < end or len(walls) < MIN_REPS) and raised < MIN_REPS:
        try:
            walls.append(w.op())
        except Exception:  # counted as a failed operation
            traceback.print_exc()
            raised += 1
    if not walls:
        raise RuntimeError("every timed operation raised")
    return walls, raised


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it owns)
    to exit: the gateway JVM exits when its stdin closes."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def start_spark(cores: int, tracer):
    from mimeograph_spark.session import get_spark

    with tracer.span("session"):
        spark = get_spark(app_name="perfbench", master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    from perfbench.probe import StatusReader

    return spark, StatusReader(spark)  # touches the SQL status listener


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "mimeograph_spark")):
        fail(f"no mimeograph_spark package next to {HERE}; run from the repo root")
    sys.path.insert(0, ROOT)

    from perfbench import host
    from perfbench.probe import Tracer

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tracer = Tracer()
    try:
        try:
            heap = host.configure(ROOT, work, cores)
        except host.HostTooSmall as e:
            fail(str(e), 3)
        spark, status = start_spark(cores, tracer)
        try:
            result = measure(args, spark, status, tracer, work, cores, heap)
        finally:
            stop_spark(spark)
        for f in os.listdir(work):
            if f.startswith("hs_err_pid"):
                result["correct"] = False
                print(f"perfbench: JVM crash log {f}", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with suppress(OSError):  # the last run leaves no empty parent
            os.rmdir(os.path.dirname(work))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def measure(args, spark, status, tracer, work, cores, heap) -> dict:
    from perfbench import host
    from perfbench.probe import RssSampler, tree_cpu_s

    w = Workload(args.workload, spark, work, cores, args.size, tracer)
    phases = {"session": time.perf_counter() - T_START}
    for name, step in (
        ("generate", lambda: w.generate(args.seed)),
        ("oracle", w.load_oracle),
        ("warm_up", w.warm_up),
    ):
        t0 = time.perf_counter()
        step()
        phases[name] = round(time.perf_counter() - t0, 3)
    setup_s = time.perf_counter() - T_START

    cpu0, tree0 = _cpu_ticks(), tree_cpu_s(os.getpid())
    with RssSampler(os.getpid()) as rss:
        if args.trace:
            from perfbench import layers

            walls, acc = layers.paired_window(w, status, TRACE_PAIRS)
            raised = 0
        else:
            walls, raised = timed_window(w, args.seconds)
    cpu1, tree1 = _cpu_ticks(), tree_cpu_s(os.getpid())
    ops = len(walls) + raised + (len(acc["walls"]) if args.trace else 0)
    attempted, failed, problems = w.check(ops)
    failed += raised
    wall = statistics.median(walls)
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "host": host.stamp(ROOT, cores, heap),
        "input": w.record,
        "samples": {"wall_s": len(walls), "setup_s": 1},
        "setup_phases_s": phases,
        "walls": [round(x, 4) for x in walls],
        "cpu_s_per_op": round((tree1 - tree0) / max(len(walls) + raised, 1), 3),
        # share of CPU time the hypervisor gave to others in the window
        "cpu_steal_share": round(
            (cpu1[7] - cpu0[7]) / max(sum(cpu1) - sum(cpu0), 1), 4
        ),
        "rss_peak_mb": {
            "jvm": round(rss.peak_jvm, 1), "python": round(rss.peak_py, 1),
            "python_procs": rss.max_workers,
        },
        "problems": problems[:20],
    }
    if args.trace:
        metrics = layers.traced(w, status, walls, acc, rss)
        tracer.dump(os.path.join(_out_dir(), f"{args.workload}-seed{args.seed}-spans.json"))
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "wall_s": (wall, "s"),
            "docs_per_s": (w.op_docs / wall, "docs/s"),
            "pages_per_s": (w.op_pages / wall, "pages/s"),
            "peak_rss_mb": (rss.peak_total, "MB"),
        }
    print(json.dumps(summary, default=str))
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _out_dir() -> str:
    d = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(d, exist_ok=True)
    return d


if __name__ == "__main__":
    sys.exit(main())
