#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload cms_features --seed 1 --seconds 12 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed, boots the engine's Spark session on ``local[nproc]``, warms the
workload up on its own inputs, checks outputs, then runs a closed loop
of repetitions for ``--seconds`` seconds of timed work. The last line
of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced repetitions and reports the per-layer metrics; its
spans go to a sidecar under ``.perfbench_work/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402

# name -> unit. Every workload reports every metric. "main_op" is the
# workload's first operation (Workload.ops): get_aov on cms_features,
# corpus_curation_summary on curation. The second operation's time is
# in rows_per_s and the sidecar, not a metric of its own: one sample of
# it per run spread wider than any allowed bound across runs.
END_TO_END = {
    "setup_s": "s",
    "peak_mem_mb": "MB",
    "main_op_s": "s",
    "rows_per_s": "1/s",
}
_Q = ("corpus_curation_summary", "minhash_candidates")
_CMS_STAGES = ("load", "cohort", "crosswalk", "remap", "occurrence", "aov", "mhe")
_LAYERS = ("sources", "cms", "encoders", "dedup", "graph", "queries")
PER_LAYER = {
    "session.boot_s": "s",
    "sources.read_csv_s": "s",
    "sources.load_table_s": "s",
    "sources.write_parquet_s": "s",
    "sources.bytes_written": "bytes",
    **{f"cms.{st}.{m}": u for st in _CMS_STAGES
       for m, u in (("construct_s", "s"), ("execute_s", "s"), ("jobs", "count"))},
    "encoders.split_s": "s",
    "dedup.lsh_s": "s",
    "dedup.verify_s": "s",
    "dedup.minhash_kernel_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.verify_yield": "ratio",
    "graph.cc_s": "s",
    "graph.cc_jobs": "count",
    "graph.cc_cutover": "count",
    "graph.cc_loop_s": "s",
    "graph.cc_loop_jobs": "count",
    **{f"queries.{q}.{m}": u for q in _Q
       for m, u in (("construct_s", "s"), ("plan_s", "s"), ("execute_s", "s"),
                    ("construct_jobs", "count"), ("jobs", "count"), ("tasks", "count"))},
    "spark.gc_s": "s",
    "spark.python_s": "s",
    "spark.shuffle_bytes": "bytes",
    **{f"self.{layer}_s": "s" for layer in _LAYERS},
    "trace.overhead_s": "s",
    "trace.span_coverage": "ratio",
}


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


class Run:
    """One benchmark run of one workload: counts attempts and failures
    and keeps each operation's reference output digest."""

    def __init__(self, wl, spark, counters=None):
        self.wl = wl
        self.spark = spark
        self.counters = counters
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.ref: dict[str, str] = {}

    def fail(self, op: str, msg: str) -> None:
        self.failed += 1
        self.errors.append(f"{op}: {msg}")
        print(f"perfbench: FAILED {self.wl.name}/{op}: {msg}", file=sys.stderr)

    def rep(self, tracer) -> tuple[dict, dict, float]:
        """One repetition: every operation once, timed one by one, then
        every output digested and compared, outside the timed region.
        Returns (seconds per successful op, outputs, timed wall)."""
        times, outs = {}, {}
        for op in self.wl.ops:
            self.attempted += 1
            wm = self.counters.sql_watermark() if tracer.active else 0
            t = time.perf_counter()
            try:
                with tracer.span(f"op.{op}") as rec:
                    out = self.wl.run_op(self.spark, op, tracer)
            except Exception:
                self.fail(op, traceback.format_exc(limit=3))
                continue
            times[op] = time.perf_counter() - t
            outs[op] = out
            if tracer.active:
                rec["python_s"] = self.counters.python_s_since(wm)
        wall = sum(times.values())
        log(f"{self.wl.name} rep: " + " ".join(f"{op}={t:.2f}s" for op, t in times.items()))
        for op, out in outs.items():
            try:
                d = self.wl.digest(op, out)
            except Exception:
                self.fail(op, "digest: " + traceback.format_exc(limit=3))
                continue
            if self.ref.setdefault(op, d) != d:
                self.fail(op, "output differs from the first repetition's")
        return times, outs, wall

    def check(self, outs: dict) -> None:
        try:
            errors = self.wl.check(outs)
        except Exception:
            errors = {op: "check: " + traceback.format_exc(limit=3) for op in outs}
        for op, msg in errors.items():
            self.fail(op, msg)


def warm_up(run: Run, tracer) -> float:
    """The workload's untimed warm-up repetitions; the first one's
    outputs are checked. Returns the operations' seconds."""
    spent = 0.0
    for i in range(run.wl.warm_reps):
        _, outs, wall = run.rep(tracer)
        spent += wall
        if i == 0:
            run.check(outs)
        run.counters.settle()
    return spent


def measure(run: Run, seconds: float, tracer) -> tuple[dict, int, float, list]:
    """Closed loop: repetitions back to back until ``seconds`` of timed
    work and at least the workload's ``min_reps`` repetitions. Failed
    operations add no timed work, so wall time bounds the loop too.
    After each repetition, untimed, the cache is cleared and the JVM's
    live heap read (``Counters.settle``)."""
    samples = {op: [] for op in run.wl.ops}
    timed, reps, live_mb = 0.0, 0, []
    t0 = time.perf_counter()
    while reps < run.wl.min_reps or (timed < seconds and time.perf_counter() - t0 < 2 * seconds):
        times, _, wall = run.rep(tracer)
        live_mb.append(run.counters.settle())
        for op, t in times.items():
            samples[op].append(t)
        timed += wall
        reps += 1
    return samples, reps, timed, live_mb


def end_to_end(wl, setup_s: float, mem: float, samples, reps, timed) -> dict:
    return {
        "setup_s": setup_s,
        "peak_mem_mb": mem,
        "main_op_s": _median(samples[wl.ops[0]]),
        "rows_per_s": wl.input_rows * reps / timed if timed > 0 else 0.0,
    }


def traced_rep_metrics(run: Run, tracer, rep_idx: int, rep_rec: dict, gc_s: float) -> dict:
    """Per-layer figures of one traced repetition."""
    spans = [s for s in tracer.spans if s["rep"] == rep_idx]
    idx = {id(s): i for i, s in enumerate(tracer.spans)}

    def dur(name):
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    def jobs(name):
        return [j for s in spans if s["name"] == name for j in tracer.subtree_jobs(idx[id(s)])]

    counters = run.counters
    m = {
        "sources.read_csv_s": dur("sources.read_csv"),
        "sources.load_table_s": dur("sources.load_table"),
        "sources.write_parquet_s": dur("sources.write_parquet"),
        "sources.bytes_written": run.wl.output_bytes(),
        "encoders.split_s": dur("encoders.stratified_split_exact"),
        "graph.cc_cutover": sum(1 for s in spans if s["name"] == "graph.driver_union_find"),
        "dedup.minhash_kernel_s": sum(
            s.get("python_s", 0.0) for s in spans if s["name"] == "op.candidates"),
        "spark.gc_s": gc_s,
        "spark.python_s": sum(s.get("python_s", 0.0) for s in spans if s["name"].startswith("op.")),
        "spark.shuffle_bytes": counters.job_stats(tracer.subtree_jobs(idx[id(rep_rec)]))["shuffle_bytes"],
    }
    for q in _Q:
        cj, ej = jobs(f"queries.{q}.construct"), jobs(f"queries.{q}.execute")
        m[f"queries.{q}.construct_s"] = dur(f"queries.{q}.construct")
        m[f"queries.{q}.execute_s"] = dur(f"queries.{q}.execute")
        m[f"queries.{q}.plan_s"] = sum(
            s.get("plan_s", 0.0) for s in spans if s["name"] == f"queries.{q}.execute")
        m[f"queries.{q}.construct_jobs"] = len(cj)
        m[f"queries.{q}.jobs"] = len(cj) + len(ej)
        m[f"queries.{q}.tasks"] = counters.job_stats(cj + ej)["tasks"] if cj or ej else 0
    selfs = tracer.self_times(rep_idx)
    for layer in _LAYERS:
        m[f"self.{layer}_s"] = selfs.get(layer, 0.0)
    # share of the operations' wall spent inside engine-layer spans (the
    # children of each operation span)
    ops = [s for s in spans if s["name"].startswith("op.")]
    op_ids = {idx[id(s)] for s in ops}
    covered = sum(s["end"] - s["start"] for s in spans if s["parent"] in op_ids)
    m["trace.span_coverage"] = covered / sum(s["end"] - s["start"] for s in ops)
    return m


def run_traced(run: Run, seconds: float, boot_s: float) -> tuple[dict, "harness.Tracer"]:
    """Untraced and traced repetitions in turn, starting and ending with
    an untraced one so warm-up drift cancels in the overhead, while they
    fit in ``seconds`` (at least one traced); then one stage-prefix pass."""
    from harness import Tracer

    plain = Tracer()
    tracer = Tracer(run.spark, active=True)
    targets = run.wl.trace_targets()
    traced, per_rep = [], []

    def untraced_rep():
        wall = run.rep(plain)[2]
        run.counters.settle()
        return wall

    untraced = [untraced_rep()]
    spent, k = untraced[0], 0
    t0 = time.perf_counter()
    while True:
        tracer.instrument(targets)
        tracer.rep = k
        gc0 = run.counters.gc_s()
        try:
            with tracer.span("rep") as rep_rec:
                wall_t = run.rep(tracer)[2]
        finally:
            tracer.restore()
        traced.append(wall_t)
        per_rep.append(traced_rep_metrics(run, tracer, k, rep_rec, run.counters.gc_s() - gc0))
        run.counters.settle()
        untraced.append(untraced_rep())
        spent += wall_t + untraced[-1]
        k += 1
        if spent + wall_t + untraced[-1] > seconds or time.perf_counter() - t0 > 2 * seconds:
            break
    tracer.rep = "prefix"
    run.attempted += 1
    try:
        prefix = run.wl.prefix_pass(run.spark, tracer)
    except Exception:
        run.fail("prefix_pass", traceback.format_exc(limit=3))
        prefix = {}
    metrics = {name: 0.0 for name in PER_LAYER}
    for name in per_rep[0]:
        metrics[name] = _median([r[name] for r in per_rep])
    metrics["trace.span_coverage"] = min(r["trace.span_coverage"] for r in per_rep)
    metrics.update(prefix)
    metrics["session.boot_s"] = boot_s
    metrics["trace.overhead_s"] = _median(traced) - _median(untraced)
    return metrics, tracer


def run_workload(wl, seconds: float, trace: bool) -> tuple[dict, dict]:
    """Set up, warm up, check and measure one workload; write the
    sidecar; return (result, context)."""
    from harness import Tracer

    context = {"workload": wl.name, "seed": wl.seed, "seconds": seconds, "trace": int(trace),
               "nproc": harness.nproc(), "heap_mb": harness.heap_mb(),
               "loadavg_start": harness.loadavg(), "canary_s": harness.canary_s()}
    t = time.perf_counter()
    context["inputs"] = wl.generate()
    context["generate_s"] = time.perf_counter() - t
    log(f"inputs {context['inputs']}")

    t = time.perf_counter()
    spark = harness.start_spark(wl.work)
    boot_s = time.perf_counter() - t
    log(f"session up in {boot_s:.1f}s")
    try:
        run = Run(wl, spark, harness.Counters(spark))
        setup_s = boot_s + warm_up(run, Tracer())
        if trace:
            metrics, tracer = run_traced(run, seconds, boot_s)
            units = PER_LAYER
        else:
            harness.reset_rss_peak()
            samples, reps, timed, live_mb = measure(run, seconds, Tracer())
            py_mb = harness.rss_peak_mb()
            metrics = end_to_end(wl, setup_s, py_mb + max(live_mb), samples, reps, timed)
            context.update(reps=reps, timed_s=timed, samples=samples,
                           python_peak_mb=py_mb, jvm_live_mb=live_mb)
            tracer, units = None, END_TO_END
        context.update(setup_s=setup_s, boot_s=boot_s, errors=run.errors,
                       loadavg_end=harness.loadavg())
    finally:
        harness.stop_spark(spark)

    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    sidecar = {"context": context, "result": result}
    results = os.path.join(harness.REPO, ".perfbench_work", "results")
    os.makedirs(results, exist_ok=True)
    path = os.path.join(results, f"{wl.name}-seed{wl.seed}-trace{int(trace)}.json")
    if tracer is not None:
        tracer.dump(path, sidecar)
    else:
        with open(path, "w") as f:
            json.dump(sidecar, f, indent=1)
    return result, context


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(harness.REPO, "orx_surgical_spark")):
        print("perfbench: run from a checkout that holds orx_surgical_spark/", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    work = os.path.join(harness.REPO, ".perfbench_work",
                        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    harness.prepare_env(work)
    try:
        result, context = run_workload(WORKLOADS[args.workload](work, args.seed),
                                       args.seconds, bool(args.trace))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({k: context[k] for k in ("loadavg_start", "canary_s", "setup_s")}),
          file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
