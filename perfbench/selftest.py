#!/usr/bin/env python3
"""Smoke test of the benchmark itself.

    python3 perfbench/selftest.py

Runs every workload at the tiny size, untraced and traced, and checks:
the result line's shape; that the printed metric names are exactly
BENCHMARK.json's end_to_end (untraced) or per_layer (traced) names; that
the outputs were correct; that the layers a workload does not reach
read 0 and those it does read non-zero; that reading the status stores
added no Spark job; and that a directory holding only BENCHMARK.json
and the benchmark fails fast without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("sf01_resume", "born_digital", "scanned_megapage")


def run(cwd: str, workload: str, trace: int, seconds: str = "1") -> tuple[int, str]:
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", "3", "--seconds", seconds, "--trace", str(trace),
        "--size", "tiny",
    ]
    p = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True, timeout=600)
    return p.returncode, p.stdout


def result_of(stdout: str) -> dict:
    res = json.loads(stdout.strip().splitlines()[-1])
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        raise AssertionError(f"result keys {sorted(res)}")
    if not (isinstance(res["attempted"], int) and res["attempted"] >= 1):
        raise AssertionError("attempted must be a whole number >= 1")
    return res


def expect(cond: bool, msg: str, errors: list[str]) -> None:
    if not cond:
        errors.append(msg)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"] for m in spec["end_to_end"]}
    layer = {m["name"] for m in spec["per_layer"]}
    errors: list[str] = []
    for wl in WORKLOADS:
        for trace, names in ((0, e2e), (1, layer)):
            code, out = run(ROOT, wl, trace)
            tag = f"{wl} trace={trace}"
            expect(code == 0, f"{tag}: exit {code}", errors)
            if code != 0:
                continue
            res = result_of(out)
            m = {k: v["value"] for k, v in res["metrics"].items()}
            expect(res["correct"] and res["failed"] == 0, f"{tag}: incorrect", errors)
            expect(set(m) == names, f"{tag}: names {sorted(set(m) ^ names)}", errors)
            if trace == 0:
                expect(all(v > 0 for v in m.values()), f"{tag}: zero end-to-end metric", errors)
                continue
            mega = wl == "scanned_megapage"
            resume = wl == "sf01_resume"
            expect((m["stitch.shuffle_records"] > 0) == mega, f"{tag}: stitch", errors)
            expect((m["checkpoint.files"] > 0) == resume, f"{tag}: checkpoint", errors)
            expect((m["lineage.jobs"] > 0) == resume, f"{tag}: lineage", errors)
            expect(m["trace.read_jobs"] == 0, f"{tag}: status reads ran a job", errors)
            if wl == "born_digital":  # about 0: under one OCR page per 10 docs
                expect(m["ocr.pages"] < m["classify.docs_native"] / 10, f"{tag}: ocr pages", errors)

    # Without the package next to it the benchmark must fail fast.
    scratch = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(scratch, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=scratch) as bare:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        code, out = run(bare, WORKLOADS[0], 0)
        expect(code != 0 and not out.strip(), "bare directory: did not fail cleanly", errors)

    for e in errors:
        print(f"FAIL {e}")
    print("selftest:", "FAILED" if errors else "ok")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
