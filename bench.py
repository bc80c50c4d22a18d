"""Bench harness: run the headline catalog queries end-to-end and print
ONE JSON line with per-query wall-clock seconds.

Usage: ``python bench.py`` — reads ``SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) and ``SPARK_GRAFT_CPUS`` (default all cores).
Each query is forced through a full materialization via the noop sink
(no driver collect — measures the distributed plan, not pandas
conversion).

Two measured laps:

1. **Spark lap** — best-of-N per headliner on ``local[CPUS]``.
2. **DuckDB baseline lap** — the *same* queries' oracle SQL (the exact
   strings the driver's correctness gate replays) executed by DuckDB
   against the same parquet with the same thread count. This is the
   measured denominator for BASELINE.md's "within 2× of the baseline at
   the same scale factor" gate: the JSON carries per-query ``duckdb_s``
   and ``ratio`` plus the end-to-end ``duckdb_total`` / ``ratio_total``.
   Per-query ratios at sf0.1 are dominated by Spark's fixed per-job
   scheduling floor (~0.3-0.5 s) on sub-100 ms queries; the gate clause
   is end-to-end, which is where distributed overhead has amortized.

A loadavg guard spin-waits before the timed laps (r5's artifact was
polluted by co-located load at loadavg 7.12): if 1-minute loadavg
exceeds ``SPARK_GRAFT_MAX_LOAD`` (default 2.0) the bench sleeps in 10 s
steps up to ``SPARK_GRAFT_LOAD_WAIT`` (default 600 s), then proceeds
with a warning either way. ``loadavg_1m`` (at lap start) and
``loadavg_after`` are both recorded so a confounded run is auditable.
"""

from __future__ import annotations

import json
import os
import sys
import time


def wait_for_quiet_box(max_load: float, wait_budget_s: float) -> float:
    """Spin-wait until 1-min loadavg <= max_load or the budget runs out.

    Returns the loadavg observed when the wait ended (the value the
    timed laps actually start under)."""
    t0 = time.monotonic()
    load = os.getloadavg()[0]
    while load > max_load and (time.monotonic() - t0) < wait_budget_s:
        print(
            f"# loadavg {load:.2f} > {max_load:.1f}; waiting for a quiet box "
            f"({wait_budget_s - (time.monotonic() - t0):.0f}s budget left)",
            file=sys.stderr,
        )
        time.sleep(10)
        load = os.getloadavg()[0]
    if load > max_load:
        print(
            f"# WARNING: proceeding under load {load:.2f} — timings may be "
            "confounded by co-located processes",
            file=sys.stderr,
        )
    return load


def box_canary_s(reps: int = 5) -> dict[str, float]:
    """Fixed-work box-speed canary recorded in every lap (VERDICT r12
    item 6): two rounds running, cross-round regressions were
    attributed to "box drift" with only the DuckDB co-capture as
    evidence — which drifts with the same box. The canary is
    engine-independent fixed work, timed best-of-``reps``:

    - ``py_loop_s`` — a pure-Python arithmetic loop (interpreter /
      CPU-clock speed, the floor under Spark's driver-side work), and
    - ``np_stream_s`` — one NumPy elementwise pass over 64 MiB of
      float64 (memory bandwidth, the floor under columnar scans).

    ``micro_unit_s`` is their sum. Both are single-threaded, so
    co-located load shows up in ``loadavg_1m``, not here; cross-round
    comparisons can now normalize lap seconds by the co-captured
    canary instead of guessing."""
    import numpy as np

    a = np.arange(8 << 20, dtype="float64")  # 64 MiB
    best_py = best_np = float("inf")
    for _ in range(max(reps, 1)):
        t0 = time.perf_counter()
        acc = 0
        for i in range(500_000):
            acc += i * i
        best_py = min(best_py, time.perf_counter() - t0)
        t0 = time.perf_counter()
        float((a * 1.0000001 + 3.0).sum())
        best_np = min(best_np, time.perf_counter() - t0)
    return {
        "py_loop_s": round(best_py, 4),
        "np_stream_s": round(best_np, 4),
        "micro_unit_s": round(best_py + best_np, 4),
    }


def git_head_sha() -> str | None:
    """HEAD sha at capture time, recorded in the artifact (VERDICT r11
    'What's wrong' 1: all three r11 laps were captured before the final
    perf commit, so the committed evidence certified code that was no
    longer HEAD). tests/test_bench_freshness.py asserts the newest
    committed lap per SF has no engine-source commits after its
    recorded sha — a stale lap now fails the suite instead of posing as
    current evidence."""
    try:
        import subprocess

        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=os.path.dirname(os.path.abspath(__file__)),
            capture_output=True,
            text=True,
            timeout=10,
        ).stdout.strip()
        return sha or None
    except Exception:
        return None


def git_dirty_engine() -> bool | None:
    """True iff the working tree has uncommitted changes under the
    engine paths (``orx_surgical_spark/`` or ``bench.py``) at capture
    time (ADVICE r12: ``git_head`` alone records a clean-looking sha
    for a lap captured over uncommitted engine edits — exactly the
    stale-evidence mode the freshness test exists to prevent).
    tests/test_bench_freshness.py fails the suite on any committed
    artifact with ``git_dirty: true``."""
    try:
        import subprocess

        out = subprocess.run(
            ["git", "status", "--porcelain", "--", "orx_surgical_spark", "bench.py"],
            cwd=os.path.dirname(os.path.abspath(__file__)),
            capture_output=True,
            text=True,
            timeout=10,
        )
        if out.returncode != 0:
            return None
        return bool(out.stdout.strip())
    except Exception:
        return None


def lap_stats(times: list[float]) -> tuple[float, float, float]:
    """(best, (median - best) / best, (worst - best) / best) of a lap."""
    best = min(times)
    med = sorted(times)[len(times) // 2]
    spread = (med - best) / best if best > 0 else 0.0
    wr = (max(times) - best) / best if best > 0 else 0.0
    return best, spread, wr


def retry_offenders(
    all_times: dict[str, list[float]],
    spread_threshold_pct: float,
    excluded: set[str],
) -> list[str]:
    """Queries the next quiet-retry round re-laps: those whose accepted
    lap spreads past the gate, minus ``excluded`` — queries that failed,
    or that errored in an earlier retry round (they keep their first-lap
    timings, so re-lapping them would repeat the error in every round)."""
    return [
        n
        for n, ts in all_times.items()
        if ts and n not in excluded and lap_stats(ts)[1] * 100 > spread_threshold_pct
    ]


def main() -> None:
    # --isolate q1,q2 (VERDICT r12 item 5): time ONLY the named
    # queries, each consecutively best-of-N on a quiet box — the
    # committed-artifact form of the "isolated best-of-5" diagnosis
    # that previously lived in commit messages. The artifact carries
    # mode="isolate" so the freshness test tracks it per (sf, mode)
    # without letting a partial lap stand in for the full one.
    isolate: list[str] = []
    argv = sys.argv[1:]
    if "--isolate" in argv:
        idx = argv.index("--isolate")
        if idx + 1 >= len(argv):
            print("usage: bench.py [--isolate q1,q2,...]", file=sys.stderr)
            raise SystemExit(2)
        isolate = [q.strip() for q in argv[idx + 1].split(",") if q.strip()]

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0

    from orx_surgical_spark.queries.catalog import REGISTRY
    from orx_surgical_spark.session import get_spark, shuffle_partitions_for_bytes

    # Shuffle width follows input volume (see shuffle_partitions_for_bytes):
    # constant-width shuffles either drown small inputs in task overhead
    # or starve big ones.
    # os.walk, not listdir: multi-file tables (the sf1 scale tiles)
    # are DIRECTORIES named <table>.parquet — a flat listdir sees 4 KB
    # dir entries and starves the shuffle width at exactly the scale
    # where it matters.
    input_bytes = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(sf_dir)
        for f in files
        if f.endswith(".parquet")
    ) if os.path.isdir(sf_dir) else 0
    spark = get_spark(
        app_name="orx-surgical-bench",
        shuffle_partitions=shuffle_partitions_for_bytes(input_bytes),
    )
    # AQE follows data volume too: its per-stage re-optimization costs
    # driver round trips that dominate sub-second queries, while static
    # planning already picks broadcast joins here (input sizes are known
    # at plan time and far below the broadcast threshold). Above ~1 GB,
    # runtime re-planning (skew splits, dynamic broadcast, coalescing)
    # pays for itself — measured ~15% of bench wall at sf0.1.
    if input_bytes < (1 << 30):
        spark.conf.set("spark.sql.adaptive.enabled", "false")

    bench_queries = {n: q for n, q in sorted(REGISTRY.items()) if q.bench}
    if isolate:
        unknown = [n for n in isolate if n not in REGISTRY]
        if unknown:
            print(f"# unknown --isolate queries: {unknown}", file=sys.stderr)
            raise SystemExit(2)
        # isolate mode may name any registry query, not just headliners
        bench_queries = {n: REGISTRY[n] for n in sorted(set(isolate))}

    # Untimed warmup at the smallest SF: compiles the same whole-stage
    # codegen classes (the codegen cache keys on generated source, which
    # is data-independent), so the timed loop measures steady-state
    # throughput instead of first-run JIT/codegen (~2-3 s per query).
    warmup_dir = os.environ.get("SPARK_GRAFT_WARMUP_DIR", "/root/testdata/sf0.001")
    if os.path.isdir(warmup_dir):
        for name, q in bench_queries.items():
            try:
                q.fn(spark, warmup_dir).write.format("noop").mode("overwrite").save()
            except Exception as exc:  # warmup must never fail the bench
                print(f"# warmup {name} failed: {exc}", file=sys.stderr)

    # Best-of-N per query (N = SPARK_GRAFT_BENCH_RUNS, default 5): the
    # repeat runs reuse compiled codegen and warmed file/footer caches,
    # so min-of-runs reports steady-state throughput with less scheduler
    # noise. 5 runs (up from 3 in r4) makes the median-based spread
    # meaningful: with co-located load stalling ~1 run in 6 (measured
    # r5), 3 runs left the median itself contaminated too often.
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))

    # One untimed run per query at the TARGET scale: the sf0.001 warmup
    # above compiles codegen, but scale-dependent state (parquet
    # footer/page cache, broadcast builds, shuffle file buffers) only
    # warms at the measured size — without this, run 1 is structurally
    # 2-4x the steady state and the spread number reads as machine
    # noise when it isn't.
    #
    # NOTE (r9): every timed run calls fn() fresh, ON PURPOSE. A
    # prepared-DataFrame convention (build once, re-execute) was tried
    # and REVERTED: queries built on lazy localCheckpoints (the dedup
    # CC pipeline, phrase search, power iteration) silently reuse the
    # checkpointed RDD blocks across executions of the SAME DataFrame —
    # result caching, not steady-state measurement (corpus_curation
    # "dropped" 2.7s -> 0.2s). Register-once UDF identity — the
    # legitimate part of that experiment — lives where it belongs, in
    # operators/inference.py's _UDF_CACHE, so per-run fn() no longer
    # pays per-worker predict-fn rebuilds.
    failures: dict[str, str] = {}
    for name, q in bench_queries.items():
        try:
            q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as exc:
            print(f"# target warmup {name} failed: {exc}", file=sys.stderr)

    max_load = float(os.environ.get("SPARK_GRAFT_MAX_LOAD", "2.0"))
    wait_budget = float(os.environ.get("SPARK_GRAFT_LOAD_WAIT", "600"))
    load_at_start = wait_for_quiet_box(max_load, wait_budget)
    canary = box_canary_s()
    print(f"# box canary: {canary}", file=sys.stderr)

    # Timed runs are interleaved round-robin (q1 q2 ... qn, q1 q2 ...):
    # a transient background-load spike then degrades at most one run
    # of each query instead of all N runs of whichever query it
    # coincides with — min-of-N stays meaningful on a shared machine.
    # Each timed run is error-isolated: one broken query records as
    # "failed" in the JSON instead of killing the whole artifact (r3
    # lesson — a single AnalysisException zeroed out the round's bench).
    def timed_lap(names: list[str], n_runs: int) -> dict[str, list[float]]:
        lap: dict[str, list[float]] = {n: [] for n in names}
        for _ in range(max(n_runs, 1)):
            for name in names:
                if name in failures:
                    continue
                t0 = time.perf_counter()
                try:
                    df = bench_queries[name].fn(spark, sf_dir)
                    df.write.format("noop").mode("overwrite").save()
                except Exception as exc:
                    failures[name] = f"{type(exc).__name__}: {exc}"[:300]
                    print(f"# FAILED {name}: {failures[name]}", file=sys.stderr)
                    continue
                lap[name].append(time.perf_counter() - t0)
        return lap

    t_all = time.perf_counter()
    if isolate:
        # Consecutive per-query laps: isolation evidence certifies each
        # named query's reproducible steady state alone (same rationale
        # as the retry lap below), free of its neighbors' cache/GC churn.
        all_times = {}
        for name in bench_queries:
            all_times.update(timed_lap([name], runs))
    else:
        all_times = timed_lap(list(bench_queries), runs)

    # Quiet-gate retry (r9, VERDICT r8 item 8): a query whose
    # median-vs-min spread exceeds the threshold gets ONE fresh lap
    # after re-waiting for a quiet box; the retry lap replaces the
    # noisy one iff it is cleaner. The artifact self-reports the gate
    # (`quiet`, `spread_threshold_pct`, `retried`) so a noisy capture
    # can never silently pose as steady-state evidence — the bench-side
    # mirror of soak.py's red-artifact guard.
    spread_threshold = float(os.environ.get("SPARK_GRAFT_MAX_SPREAD_PCT", "15"))
    # r14 (VERDICT r13 item 5): the single retry lap became a stitching
    # loop — a lap is quiet when EVERY query's accepted measurement met
    # the gate, not when one 13-query pass got lucky, so each remaining
    # offender gets up to SPARK_GRAFT_RETRY_ROUNDS consecutive re-laps
    # and the cleanest accepted lap per query is what the artifact
    # reports. The timed region per lap, the interleaved first lap, and
    # the accept-iff-cleaner rule are unchanged; the loop only repeats
    # the pre-existing retry mechanics until quiet or out of rounds.
    retry_rounds = int(os.environ.get("SPARK_GRAFT_RETRY_ROUNDS", "3"))
    retried: list[str] = []
    retry_errors: dict[str, str] = {}
    rounds_used = 0
    for _round in range(retry_rounds):
        offenders = retry_offenders(
            all_times, spread_threshold, set(failures) | set(retry_errors)
        )
        if not offenders:
            break
        rounds_used += 1
        print(
            f"# spread > {spread_threshold:.0f}% on {offenders}; quiet retry "
            f"lap {rounds_used}/{retry_rounds}",
            file=sys.stderr,
        )
        wait_for_quiet_box(max_load, wait_budget)
        pre_retry_failures = set(failures)
        # Retry runs each offender CONSECUTIVELY, not interleaved: the
        # spread gate certifies that the reported best is reproducible
        # — per-query steady state — and at probe SFs (>=sf3, ~GB of
        # input through one JVM) an interleaved retry re-times each
        # offender amid exactly the page-cache/GC churn of its heavy
        # neighbors that tripped the gate in the first place (measured
        # at sf3: the same query 11% spread back-to-back vs 29%
        # interleaved). The FIRST lap stays interleaved on purpose —
        # min-of-N there is what defends the headline times against
        # transient spikes; the retry exists only to separate "this
        # query's time is not reproducible" from "the lap was noisy".
        retry: dict[str, list[float]] = {}
        for name in offenders:
            retry.update(timed_lap([name], runs))
        # A query that errors ONLY during the retry lap keeps its valid
        # first-lap timings: the retry exists to reduce noise, not to
        # erase a good steady-state measurement with a transient crash.
        # The error is still surfaced, separately, as `retry_errors`.
        for name in offenders:
            if name in failures and name not in pre_retry_failures:
                retry_errors[name] = failures.pop(name)
        for name, ts in retry.items():
            if not ts or name in failures or name in retry_errors:
                continue
            if name not in retried:
                retried.append(name)
            if lap_stats(ts)[1] <= lap_stats(all_times[name])[1]:
                all_times[name] = ts

    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    worst: dict[str, float] = {}
    for name, times in all_times.items():
        # A query that succeeded on an early run but failed later must
        # not look healthy to a consumer reading `queries` alone:
        # `failed` takes precedence, so drop its partial timings.
        if not times or name in failures:
            continue
        # Run-to-run spread: (median-min)/min — steady-state
        # repeatability of the plan. The r4 investigation showed the
        # max-based spread was dominated by single multi-second stalls
        # from co-located machine load (arbitrary queries, 300-870%,
        # JVM GC measured at <100 ms, not positional): one contaminated
        # run out of N says nothing about the plan, so the headline
        # spread is outlier-robust and the worst run is reported
        # separately in worst_run_pct rather than silently dropped.
        best, spread, wr = lap_stats(times)
        timings[name] = round(best, 3)
        spreads[name] = round(spread, 3)
        worst[name] = round(wr, 3)
        print(
            f"# {name}: {timings[name]:.3f}s (spread {spreads[name]:.1%}, "
            f"worst {worst[name]:.1%})",
            file=sys.stderr,
        )
    total = round(sum(timings.values()), 3)
    print(
        f"# wall including repeats: {time.perf_counter() - t_all:.3f}s",
        file=sys.stderr,
    )

    # --- DuckDB baseline lap: the measured denominator for the 2× gate.
    # The oracle SQL is the same string the driver's correctness gate
    # replays, so the two engines compute the same answer over the same
    # parquet. Best-of-M (default 3; the heavy recursive-CTE oracle runs
    # ~16 s at sf0.1, so 5 would double the bench wall for no signal).
    duckdb_s: dict[str, float] = {}
    ratios: dict[str, float] = {}
    duck_runs = int(os.environ.get("SPARK_GRAFT_DUCKDB_RUNS", "3"))
    try:
        import duckdb

        from orx_surgical_spark.testing import duckdb_connection

        con = duckdb_connection(sf_dir)
        con.execute(f"PRAGMA threads={os.cpu_count() or 1}")
        con.execute("SET enable_progress_bar=false")
        for name, q in bench_queries.items():
            if not q.oracle or name not in timings:
                continue
            best_d = None
            try:
                for _ in range(max(duck_runs, 1)):
                    t0 = time.perf_counter()
                    con.execute(q.oracle).fetchall()
                    dt = time.perf_counter() - t0
                    best_d = dt if best_d is None else min(best_d, dt)
            except Exception as exc:
                print(f"# duckdb {name} failed: {exc}", file=sys.stderr)
                continue
            duckdb_s[name] = round(best_d, 3)
            ratios[name] = round(timings[name] / best_d, 2) if best_d > 0 else 0.0
            print(
                f"# duckdb {name}: {duckdb_s[name]:.3f}s "
                f"(spark/duckdb ratio {ratios[name]:.2f}x)",
                file=sys.stderr,
            )
    except Exception as exc:  # the baseline lap must never fail the bench
        print(f"# duckdb lap unavailable: {exc}", file=sys.stderr)
    duckdb_total = round(sum(duckdb_s.values()), 3)
    ratio_total = (
        round(sum(timings[n] for n in duckdb_s) / duckdb_total, 3)
        if duckdb_total > 0
        else None
    )
    if ratio_total is not None:
        print(
            f"# end-to-end: spark {total:.3f}s vs duckdb {duckdb_total:.3f}s "
            f"-> ratio {ratio_total:.3f}x (gate: <= 2x)",
            file=sys.stderr,
        )

    print(
        json.dumps(
            {
                "metric": "bench_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "runs_per_query": max(runs, 1),
                "run_spread_pct": {n: round(s * 100, 1) for n, s in spreads.items()},
                "max_spread_pct": round(max(spreads.values()) * 100, 1)
                if spreads
                else 0.0,
                "spread_threshold_pct": spread_threshold,
                "quiet": bool(
                    not spreads
                    or max(spreads.values()) * 100 <= spread_threshold
                ),
                "retried": sorted(retried),
                # how retried queries were re-timed (see retry-lap
                # comment): consecutive per-query steady-state runs
                "retry_mode": "consecutive",
                "retry_rounds_used": rounds_used,
                "retry_rounds_max": retry_rounds,
                "worst_run_pct": {n: round(w * 100, 1) for n, w in worst.items()},
                "loadavg_1m": round(load_at_start, 2),
                "loadavg_after": round(os.getloadavg()[0], 2),
                "duckdb_s": duckdb_s,
                "duckdb_runs": max(duck_runs, 1),
                "ratio": ratios,
                "duckdb_total": duckdb_total,
                "ratio_total": ratio_total,
                "failed": failures,
                "retry_errors": retry_errors,
                "git_head": git_head_sha(),
                "git_dirty": git_dirty_engine(),
                "mode": "isolate" if isolate else "full",
                "isolate_queries": sorted(bench_queries) if isolate else [],
                "micro_unit_s": canary["micro_unit_s"],
                "canary": canary,
            }
        )
    )


if __name__ == "__main__":
    main()
