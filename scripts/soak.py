"""Driver-context soak: every exposed query, one long-lived session.

The grading driver runs all ~50 exposed queries sequentially inside a
SINGLE vanilla SparkSession. That execution pattern is the only thing
that ever reproduced the r2/r3 `panel_model_scores` failure — each
query passed standalone, but the panel died after 20+ queries of
accumulated session state. This script replays exactly that pattern
locally so context-dependent failures surface before the driver finds
them:

1. a vanilla SparkSession (driver parity: ANSI on, no repo confs —
   ``__spark_entry__``'s per-query ``_apply_session_conf`` is the only
   conf path, same as in the driver);
2. ``entry(spark)`` smoke check;
3. every ``queries()`` entry, alphabetically (the driver's round-1
   recorded order), ``.collect()``-ed like the driver does;
4. the bench headliners once more at the END of the session, when
   accumulated state is maximal.

Usage (default sf0.01, the driver's correctness scale)::

    python scripts/soak.py [--sf-dir /root/testdata/sf0.01]
                           [--json-out SOAK.json]

Exit code 0 iff every query returns rows without raising. Run before
committing changes to models.py, panels.py, or panel_specs.py.

With ``--json-out`` the run also writes a machine-readable artifact
(per-query rows + seconds, failures, wall, peak driver RSS) — the
per-round scale-up evidence (``SOAK_r{N}.json``): the full exposed
surface executing at 10x the graded SF in one long-lived session is
the cheapest available proxy for the 100x question (VERDICT r5 item 5).
"""

from __future__ import annotations

import argparse
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))


def err_summary(exc: BaseException | None = None) -> str:
    """Root-cause-first exception capture (VERDICT r10 item 3: the sf10
    ``panel_text_fingerprint`` failure recorded only the TAIL of a Java
    stack — thread-pool frames — and the causal line was truncated
    away, leaving the failure undiagnosable from the artifact).

    Keeps, in order: the exception type + the HEAD of its message (for
    Py4J errors that head is the driver-side root line, e.g. ``Job
    aborted due to stage failure: ... ``), every ``Caused by:`` line of
    an embedded Java stack (the causal chain), and the last Python
    frame. Bounded to ~2 KB so artifacts stay small but causal.
    """
    if exc is None:
        exc = sys.exc_info()[1]
    if exc is None:
        return ""
    msg = f"{type(exc).__name__}: {exc}"
    parts = [msg[:1200]]
    for line in str(exc).splitlines():
        s = line.strip()
        if s.startswith("Caused by") and s[:200] not in parts:
            parts.append(s[:200])
            if len(parts) >= 7:
                break
    frames = traceback.format_tb(exc.__traceback__)
    if frames:
        parts.append("last frame: " + frames[-1].strip()[:300])
    return "\n".join(parts)[:2400]


def artifact_path(json_out: str, n_failures: int, allow_red: bool) -> str:
    """Where a soak artifact may be written (VERDICT r6 'What's wrong'
    3: the r6 snapshot overwrote a green sf1 artifact with a crashed
    re-run, so the committed evidence contradicted the commit message).

    A red run never lands on the green path unless explicitly forced:
    without ``--allow-red`` it is diverted to ``<path>.failed.json`` so
    the regression is loud, diffable, and cannot silently replace
    passing evidence.
    """
    if n_failures > 0 and not allow_red:
        return json_out + ".failed.json"
    return json_out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    ap.add_argument("--json-out", default=None)
    ap.add_argument(
        "--allow-red",
        action="store_true",
        help="Permit a run with failures to write to --json-out itself; "
        "by default a red run is diverted to <path>.failed.json so it "
        "can never silently replace a green committed artifact.",
    )
    ap.add_argument(
        "--driver-memory",
        default=None,
        help="JVM heap for the probe session. The conf surface stays "
        "vanilla (driver parity) but the HEAP must scale with the probe "
        "SF: pyspark's default 1g OOMs on the sf0.1 MLP fit after 20+ "
        "queries of accumulated session state (r6), which measures the "
        "JVM default, not the engine. Default auto-scales with the "
        "probe input size (4g / 24g / 48g tiers, each clamped to 60% of "
        "physical RAM — the sf1 tiles OOM'd a 4g heap on the model fits, "
        "r6).",
    )
    args = ap.parse_args()
    if args.driver_memory is None:
        input_bytes = sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(args.sf_dir)
            for f in files
            if f.endswith(".parquet")
        ) if os.path.isdir(args.sf_dir) else 0
        # 24g at probe scale: the sf1 RF/MLP fits already ran at the
        # memory cliff under 12g (panel_model_scores_b took 1340s of GC
        # churn in the first green run and OOM'd outright once the r6
        # additions left more block-manager residue ahead of it).
        # Threshold is against COMPRESSED parquet bytes — the sf1 tiles
        # are ~240MB on disk but decompress to GBs in the fits, while
        # sf0.1 is ~17MB; 100MB separates the two regimes cleanly.
        # Third tier for the sf10 probe (~1.3GB on disk): 3.3x the sf3
        # inputs through the same one-JVM local[N] session; 48g keeps
        # the decade scale-up off the GC cliff the 12g->24g jump fixed.
        # Each tier is clamped to 60% of physical RAM: a heap past RAM
        # gets the JVM OOM-killed instead of spilling.
        from orx_surgical_spark.session import driver_memory_for_box

        if input_bytes > 1024 * 1024 * 1024:
            tier_mb = 48 * 1024
        elif input_bytes > 100 * 1024 * 1024:
            tier_mb = 24 * 1024
        else:
            tier_mb = 4 * 1024
        args.driver_memory = driver_memory_for_box(tier_mb)
        print(
            f"[soak] input {input_bytes / 1e6:.0f} MB -> driver heap "
            f"{args.driver_memory}",
            flush=True,
        )
    results: dict[str, dict] = {}

    from pyspark.sql import SparkSession

    # Vanilla session on purpose — see module docstring.
    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", args.driver_memory)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod

    failures: list[str] = []
    t0 = time.monotonic()

    try:
        n = entry_mod.entry(spark).count()
        print(f"[soak] entry: {n} rows", flush=True)
    except Exception:
        traceback.print_exc()
        failures.append("entry")

    # Exposed-surface row bound (VERDICT r11 item 6): the r10 sf10 probe
    # caught three headliners handing the driver O(corpus) collects
    # (12.9 GB RSS); r11 digest-wrapped them, and this invariant keeps
    # the fix structural — ANY exposed entry whose collected result
    # exceeds the bound fails the soak, at every SF, so an unbounded
    # result can never ship exposed again. 100k rows ~ a few MB of
    # driver result; every legitimate exposed entry is a panel, digest,
    # summary, or per-doc stat orders of magnitude under it.
    row_bound = int(os.environ.get("SPARK_GRAFT_SOAK_ROW_BOUND", "100000"))

    qs = entry_mod.queries()
    for i, name in enumerate(sorted(qs), 1):
        t = time.monotonic()
        try:
            # take(bound+1), not collect() (ADVICE r12): the bound check
            # used to run only after a full collect succeeded, so a truly
            # unbounded result could OOM this driver before the
            # rowbound/<name> failure was recorded. The limited fetch
            # caps driver memory at bound+1 rows while still executing
            # the full plan; an over-bound entry records rows=bound+1
            # (a floor, flagged) instead of its true count.
            rows = qs[name](spark, args.sf_dir).take(row_bound + 1)
            results[name] = {
                "rows": len(rows), "s": round(time.monotonic() - t, 2)
            }
            if len(rows) > row_bound:
                failures.append(f"rowbound/{name}")
                results[name]["rows_truncated_at_bound"] = True
                print(
                    f"[soak] rowbound/{name}: >{row_bound} collected rows "
                    f"exceed the exposed-surface bound {row_bound}",
                    flush=True,
                )
            print(
                f"[soak] {i:2d}/{len(qs)} {name}: {len(rows)} rows "
                f"({time.monotonic() - t:.1f}s)",
                flush=True,
            )
        except Exception:
            traceback.print_exc()
            failures.append(name)
            results[name] = {"err": err_summary()}
            print(f"[soak] {i:2d}/{len(qs)} {name}: FAILED", flush=True)

    # Quality-gate verification: the exposed loop above only proves the
    # queries RUN at this scale; the gate/golden wrappers carry boolean
    # verdict columns (recall floors, sketch error bands, frozen-row
    # drift) that the driver hash-checks at the graded SFs but nothing
    # checked at soak scale — exactly the "drift check is a no-op where
    # the soak runs" hole VERDICT r6 item 6 flagged for goldens. Run
    # every gate/golden registry entry directly and fail the soak if
    # any boolean column carries a single false.
    from pyspark.sql import functions as F

    from orx_surgical_spark.queries.catalog import REGISTRY

    gatelike = sorted(
        n for n, q in REGISTRY.items()
        if "gate" in q.tags or "golden" in q.tags
    )
    for name in gatelike:
        t = time.monotonic()
        try:
            df = REGISTRY[name].fn(spark, args.sf_dir)
            bool_cols = [c for c, ty in df.dtypes if ty == "boolean"]
            if not bool_cols:
                continue
            n_bad = df.filter(
                ~F.expr(" AND ".join(f"`{c}`" for c in bool_cols))
            ).count()
            results[f"gate/{name}"] = {
                "bool_cols": bool_cols,
                "violations": n_bad,
                "s": round(time.monotonic() - t, 2),
            }
            if n_bad:
                failures.append(f"gate/{name}")
                print(
                    f"[soak] gate/{name}: {n_bad} FALSE rows in "
                    f"{bool_cols}", flush=True,
                )
            else:
                print(
                    f"[soak] gate/{name}: ok {bool_cols} "
                    f"({time.monotonic() - t:.1f}s)", flush=True,
                )
        except Exception:
            traceback.print_exc()
            failures.append(f"gate/{name}")
            results[f"gate/{name}"] = {"err": err_summary()}

    # Scale-golden drift check (VERDICT r8 item 6): the engine-exact
    # generated-oracle queries are hash-checked against DuckDB at the
    # graded SF, but at soak scale only their row counts were observed
    # — freeze-and-compare closes that, exactly like the model goldens.
    # Outputs are pure-integer, so the multiset comparison is exact.
    from gen_scale_goldens import SCALE_GOLDEN_QUERIES, scale_golden_path

    for name in SCALE_GOLDEN_QUERIES:
        gpath = scale_golden_path(name, args.sf_dir)
        if not os.path.exists(gpath):
            # un-frozen SF: record the skip explicitly (VERDICT r10 item
            # 7 — the red sf10 artifact carried NO drift entries because
            # the goldens were frozen after the run started, and the
            # absence was indistinguishable from a dropped check).
            results[f"drift/{name}"] = {"skipped": f"no frozen golden {gpath}"}
            continue
        t = time.monotonic()
        try:
            import pandas as pd

            live = REGISTRY[name].fn(spark, args.sf_dir).toPandas()
            golden = pd.read_parquet(gpath)
            cols = sorted(golden.columns)
            ok = sorted(live.columns) == cols and len(live) == len(golden)
            if ok:
                a = live[cols].sort_values(cols).reset_index(drop=True)
                b = golden[cols].sort_values(cols).reset_index(drop=True)
                ok = bool(a.equals(b))
            results[f"drift/{name}"] = {
                "drift_ok": ok,
                "rows": len(golden),
                "s": round(time.monotonic() - t, 2),
            }
            if not ok:
                failures.append(f"drift/{name}")
                print(f"[soak] drift/{name}: DRIFT vs {gpath}", flush=True)
            else:
                print(
                    f"[soak] drift/{name}: ok ({len(golden)} frozen rows, "
                    f"{time.monotonic() - t:.1f}s)", flush=True,
                )
        except Exception:
            traceback.print_exc()
            failures.append(f"drift/{name}")
            results[f"drift/{name}"] = {"err": err_summary()}

    # Power-iteration micro-ladder observation (VERDICT r9 item 4):
    # record the input-derived quantization unit the PCA primitive
    # actually picks at THIS SF — replaying the operator's own pre-pass
    # — so the ladder's first downshift is an observed artifact, not a
    # by-design claim.
    try:
        from pyspark.sql import functions as _F

        from orx_surgical_spark.operators.similarity import pi_micro_for

        _arr = _F.col("embedding").cast("array<double>")
        _stat = (
            spark.read.parquet(os.path.join(args.sf_dir, "embeddings.parquet"))
            .agg(
                _F.count(_F.lit(1)).alias("n"),
                _F.max(_F.array_max(_F.transform(_arr, _F.abs))).alias("mx"),
            )
            .first()
        )
        results["pi_micro_ladder"] = {
            "n": int(_stat["n"] or 0),
            "max_abs": round(float(_stat["mx"] or 0.0), 6),
            "micro": pi_micro_for(
                int(_stat["n"] or 0), float(_stat["mx"] or 0.0), 64
            ),
        }
        print(f"[soak] pi_micro_ladder: {results['pi_micro_ladder']}", flush=True)
    except Exception:
        traceback.print_exc()
        results["pi_micro_ladder"] = {"err": err_summary()}

    # Observed ANN recall per serve tier (r11): the gate loop above
    # records only the boolean verdicts; record the measured mean
    # recall@5 values too, so the per-SF trend lands in the artifact
    # itself (VERDICT r10 item 2 asked for the trend, not just the
    # verdict — scripts/ann_recall_trend.py is the cross-SF sweep,
    # this is the single-SF observation inside the soak's session).
    try:
        from ann_recall_trend import ANN_TIERS, measured_recall

        obs: dict = {}
        for raw, method in ANN_TIERS.items():
            t = time.monotonic()
            obs[method] = round(measured_recall(spark, args.sf_dir, raw), 4)
            print(
                f"[soak] recall/{method}: {obs[method]} "
                f"({time.monotonic() - t:.1f}s)",
                flush=True,
            )
        results["ann_recall_observed"] = obs
    except Exception:
        traceback.print_exc()
        results["ann_recall_observed"] = {"err": err_summary()}

    # Bench headliners again at max accumulated session state. Timed
    # through the same noop sink as bench.py (r11): the late lap exists
    # to measure plan stability under accumulated state, and collecting
    # the O(corpus) relations here re-created exactly the driver-RSS
    # footprint the digest-certificate exposure removed.
    headliners = sorted(n for n, q in REGISTRY.items() if q.bench)
    for name in headliners:
        t = time.monotonic()
        try:
            REGISTRY[name].fn(spark, args.sf_dir).write.format(
                "noop"
            ).mode("overwrite").save()
            results[f"late/{name}"] = {
                "s": round(time.monotonic() - t, 2)
            }
            print(
                f"[soak] late/{name}: ok "
                f"({time.monotonic() - t:.1f}s)",
                flush=True,
            )
        except Exception:
            traceback.print_exc()
            failures.append(f"late/{name}")
            results[f"late/{name}"] = {"err": err_summary()}

    total = time.monotonic() - t0
    if args.json_out:
        import json
        import resource

        out_path = artifact_path(args.json_out, len(failures), args.allow_red)
        if out_path != args.json_out:
            print(
                f"[soak] RED run ({len(failures)} failures): refusing to "
                f"write {args.json_out}; diverting to {out_path} "
                "(pass --allow-red to force)",
                flush=True,
            )
        peak_rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss // 1024
        # Memory ATTRIBUTION (VERDICT r9 item 6): local-mode RSS lumps
        # "driver" and "executors" into one JVM, so a single number
        # can't support a real-cluster extrapolation. Decompose:
        # - python_driver_peak_rss_mb: THIS process — the only place
        #   collected result rows ever live, i.e. the true driver-side
        #   result footprint (plus the interpreter baseline);
        # - jvm_peak_rss_mb (VmHWM): the local[N] JVM = executor
        #   execution/storage memory for all N threads + the ~O(1)
        #   scheduler state a real cluster's driver would keep;
        # - jvm_heap_used_end_mb / jvm_heap_max_mb: end-of-run heap vs
        #   ceiling — how much of the RSS is live data vs GC headroom;
        # - max_collected_rows: the largest single .collect() of the
        #   run — bounds the per-query driver result footprint.
        mem_attrib: dict = {"python_driver_peak_rss_mb": peak_rss_mb}
        try:
            jvm = spark.sparkContext._jvm
            jvm_pid = int(
                jvm.java.lang.ProcessHandle.current().pid()
            )
            with open(f"/proc/{jvm_pid}/status") as pf:
                for line in pf:
                    if line.startswith("VmHWM:"):
                        mem_attrib["jvm_peak_rss_mb"] = (
                            int(line.split()[1]) // 1024
                        )
                        break
            rt = jvm.java.lang.Runtime.getRuntime()
            mem_attrib["jvm_heap_used_end_mb"] = int(
                (rt.totalMemory() - rt.freeMemory()) // (1024 * 1024)
            )
            mem_attrib["jvm_heap_max_mb"] = int(
                rt.maxMemory() // (1024 * 1024)
            )
        except Exception as exc:  # attribution must never fail the soak
            mem_attrib["jvm_probe_err"] = f"{type(exc).__name__}: {exc}"[:200]
        # max_collected_rows covers the EXPOSED surface only (keys
        # without a phase prefix) — the population the row bound
        # governs. Auxiliary reads (gate/, drift/, recall/, late/)
        # are attributed separately: a drift golden legitimately
        # collects its full frozen relation (200k rows at sf10),
        # which must not read as an exposed-surface violation.
        mem_attrib["max_collected_rows"] = max(
            (
                v.get("rows", 0)
                for k, v in results.items()
                if "/" not in k and isinstance(v, dict)
            ),
            default=0,
        )
        mem_attrib["max_aux_collected_rows"] = max(
            (
                v.get("rows", 0)
                for k, v in results.items()
                if "/" in k and isinstance(v, dict)
            ),
            default=0,
        )
        with open(out_path, "w") as f:
            json.dump(
                {
                    "sf_dir": args.sf_dir,
                    "cpus": args.cpus,
                    "n_exposed": len(qs),
                    "n_failures": len(failures),
                    "failures": failures,
                    "wall_s": round(total, 1),
                    "row_bound": row_bound,
                    "peak_driver_rss_mb": peak_rss_mb,
                    "memory_attribution": mem_attrib,
                    # Explicit evidence sections red-or-green (VERDICT
                    # r10 item 7: the red sf10 artifact lost the gate
                    # values / drift booleans / ladder observation with
                    # the red exit) — duplicated out of `queries` so a
                    # reader never has to know the key-prefix scheme.
                    "gates": {
                        k.split("/", 1)[1]: v
                        for k, v in results.items()
                        if k.startswith("gate/")
                    },
                    "drift": {
                        k.split("/", 1)[1]: v
                        for k, v in results.items()
                        if k.startswith("drift/")
                    },
                    "pi_micro_ladder": results.get("pi_micro_ladder"),
                    "ann_recall_observed": results.get(
                        "ann_recall_observed"
                    ),
                    "queries": results,
                },
                f,
                indent=1,
            )
        print(f"[soak] wrote {out_path}", flush=True)
    if failures:
        print(f"[soak] FAILED after {total:.0f}s: {failures}", flush=True)
        return 1
    print(
        f"[soak] OK: {len(qs)} exposed + {len(headliners)} late headliners "
        f"in one session, {total:.0f}s",
        flush=True,
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
