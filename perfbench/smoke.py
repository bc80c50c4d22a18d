#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at tiny input sizes.

    python3 perfbench/smoke.py

Checks that the generators are deterministic for a fixed seed, that an
untraced run reports every end-to-end metric and a traced run every
per-layer metric with its unit, and that a forced failure and a wrong
output are both counted. Boots Spark three times; takes a few minutes.
Exits non-zero on the first failed check.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402

TINY_CMS = dict(patients=60, claims_per_year=2, dx_codes=12, pcs_codes=6, dx_vocab=4, pcs_vocab=2)
TINY_CORPUS = dict(base_docs=80, dup_frac=0.3, copies=2, edit_rate=0.05)


def expect(cond: bool, msg: str) -> None:
    if not cond:
        raise AssertionError(msg)


def tree_digest(root: str) -> str:
    h = hashlib.md5()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def check_generators(work: str) -> None:
    import gen

    def make(tag, seed):
        root = os.path.join(work, f"gen-{tag}")
        gen.cms_inputs(os.path.join(root, "cms"), seed, **TINY_CMS)
        gen.corpus(os.path.join(root, "corpus"), seed, **TINY_CORPUS)
        return tree_digest(root)

    a, b, c = make("a", 7), make("b", 7), make("c", 8)
    expect(a == b, "generators: same seed gave different files")
    expect(a != c, "generators: different seeds gave identical files")
    print("ok generators deterministic")


def check_metrics(result: dict, units: dict, what: str) -> None:
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    expect(got == units, f"{what}: metrics/units {got} != {units}")
    for k, v in result["metrics"].items():
        expect(isinstance(v["value"], (int, float)), f"{what}: {k} is not a number")


def check_cms_with_failures(work: str) -> None:
    """Untraced cms run where the measured repetition's ``mhe`` raises
    and its ``aov`` output digest is corrupted: both are counted."""
    from run import END_TO_END, run_workload
    from workloads import CmsFeatures

    wl = CmsFeatures(os.path.join(work, "cms"), 1, TINY_CMS)
    calls = {"aov": 0, "mhe": 0}
    run_op, digest = wl.run_op, wl.digest

    def failing_run_op(spark, op, tracer):
        calls[op] += 1
        if op == "mhe" and calls[op] == 2:
            raise RuntimeError("forced failure")
        return run_op(spark, op, tracer)

    def wrong_digest(op, out):
        d = digest(op, out)
        return "corrupted" if op == "aov" and calls[op] == 2 else d

    wl.run_op, wl.digest = failing_run_op, wrong_digest
    result, _ = run_workload(wl, seconds=0.001, trace=False)
    check_metrics(result, END_TO_END, "cms trace 0")
    want = len(wl.ops) * (wl.warm_reps + wl.min_reps)
    expect(result["attempted"] == want, f"cms: attempted {result['attempted']} != {want}")
    expect(result["failed"] == 2, f"cms: failed {result['failed']} != 2")
    expect(result["correct"] is False, "cms: failures not reflected in 'correct'")
    print("ok cms end-to-end metrics; forced failure and wrong output counted")


def check_curation_traced(work: str) -> None:
    from run import PER_LAYER, run_workload
    from workloads import Curation

    wl = Curation(os.path.join(work, "curation"), 1, TINY_CORPUS)
    result, _ = run_workload(wl, seconds=0.001, trace=True)
    check_metrics(result, PER_LAYER, "curation trace 1")
    m = {k: v["value"] for k, v in result["metrics"].items()}
    expect(result["failed"] == 0, f"curation: {result['failed']} failures")
    expect(m["trace.span_coverage"] >= 0.9, f"curation: span coverage {m['trace.span_coverage']}")
    expect(m["queries.corpus_curation_summary.jobs"] > 0, "curation: no jobs traced")
    expect(m["dedup.candidate_pairs"] >= m["dedup.verified_pairs"] > 0, "curation: pair counts")
    print("ok curation per-layer metrics")


def check_cms_traced(work: str) -> None:
    from run import PER_LAYER, run_workload
    from workloads import CmsFeatures

    wl = CmsFeatures(os.path.join(work, "cms-traced"), 1, TINY_CMS)
    result, _ = run_workload(wl, seconds=0.001, trace=True)
    check_metrics(result, PER_LAYER, "cms trace 1")
    m = {k: v["value"] for k, v in result["metrics"].items()}
    expect(result["failed"] == 0, f"cms traced: {result['failed']} failures")
    expect(m["trace.span_coverage"] >= 0.9, f"cms: span coverage {m['trace.span_coverage']}")
    expect(m["cms.aov.jobs"] > 0 and m["sources.bytes_written"] > 0, "cms: stage counters")
    print("ok cms per-layer metrics")


def main() -> int:
    work = os.path.join(harness.REPO, ".perfbench_work", f"smoke-{os.getpid()}")
    harness.prepare_env(work)
    try:
        check_generators(work)
        check_cms_with_failures(work)
        check_curation_traced(work)
        check_cms_traced(work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("smoke: all checks passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
