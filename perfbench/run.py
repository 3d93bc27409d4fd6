"""Benchmark of the token-ETL engine: one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: token_etl_batch, query_mix (see workloads.py).
Run from the repository root. Each run starts one Spark session at
the workload's ``local[n]`` master, makes its inputs from the seed (the
ETL's generated tables, the mix's query order), warms up at its own
size, times closed-loop operations for ``--seconds`` (two at least),
checks the outputs outside the timed region, and prints two JSON lines:
a report (run conditions, the workload's own figures, per-phase times,
any problems) and, last, ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics: ``setup_s``, the wall
clock of session start, input generation and warm-up, and
``rows_per_cpu_s``, input rows per CPU second of a median op (the
wall-clock ``rows_per_s`` is in the report line). ``--trace 1`` enables
the Spark event log, tags every call with a job group, keeps spans in
memory (written to ``.perfbench/results/`` at the end) and reports the
per-layer metrics, plus the tracing overhead against the last untraced
run of the same workload in this checkout. Every run reports every
per-layer metric; those of a module the workload does not call read 0.
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
ROOT = os.path.dirname(HERE)
#: timed ops per run at least, whatever ``--seconds`` says, so that one
#: slow op (a burst of CPU steal on a shared VM) does not set a run's
#: figure alone
MIN_OPS = 2

END_TO_END_UNITS = {"setup_s": "s", "rows_per_cpu_s": "1/s"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric and its unit (BENCHMARK.json lists them)."""
    from workloads import CORPUS_TIERS, MIX_QUERIES

    units = {"session.start_s": "s", "executor_busy_ratio": "ratio", "io.sources.read_s": "s"}
    units.update({"pipelines.transfers.build_s": "s", "pipelines.transfers.run_s": "s",
                  "pipelines.transfers.jobs": "count"})
    units.update({"io.sinks.upsert_s": "s", "io.sinks.write_s": "s", "io.sinks.jobs": "count",
                  "io.sinks.bytes_written": "B", "io.sinks.files_written": "count",
                  "io.sinks.full_rewrite_ratio": "ratio", "jvm.peak_heap_mb": "MB",
                  "process.peak_rss_mb": "MB"})
    for p in ("wallets", "tokens", "dapps_pipeline"):
        units.update({f"pipelines.{p}.build_s": "s", f"pipelines.{p}.run_s": "s",
                      f"pipelines.{p}.jobs": "count", f"pipelines.{p}.executor_run_s": "s",
                      f"pipelines.{p}.shuffle_write_bytes": "B"})
    units["token_etl.spill_bytes"] = "B"
    for q in MIX_QUERIES:
        units.update({f"plans.{q}.build_s": "s", f"plans.{q}.run_s": "s", f"plans.{q}.jobs": "count"})
    units.update({"plans.analysis_s": "s", "plans.executor_run_s": "s",
                  "plans.shuffle_write_bytes": "B", "plans.spill_bytes": "B",
                  "plans.stages": "count", "plans.tasks": "count"})
    units.update({f"pipelines.corpus.{t}_s": "s" for t in CORPUS_TIERS})
    units["pipelines.corpus.jobs"] = "count"
    return units


def preflight() -> None:
    """Fail fast, before printing any result, when the program is absent."""
    if not os.path.isdir(os.path.join(ROOT, "token_etl_spark")) or not os.path.isfile(
        os.path.join(ROOT, "bench.py")
    ):
        sys.exit(f"error: no token_etl_spark package under {ROOT}; run from a full checkout")
    for module in ("pyspark", "duckdb", "pyarrow", "numpy", "pandas"):
        try:
            __import__(module)
        except ImportError as e:
            sys.exit(f"error: {e}")


def layer_metrics(tracer, totals: dict, wl, phases: dict, corpus: dict) -> dict[str, float]:
    """Per-layer medians over the timed units, from spans and event-log
    job-group totals."""
    def incl(span, field):
        return sum(totals.get(s["id"], {}).get(field, 0) for s in [span, *tracer.descendants(span["id"])])

    units = [s for s in tracer.spans if s.get("unit") and s["phase"] == "timed"]
    per_unit: dict[str, list[float]] = {}

    def add(values: dict[str, float]) -> None:
        for k, v in values.items():
            per_unit.setdefault(k, []).append(v)

    sink_spans = []
    for u in units:
        inner = tracer.descendants(u["id"])
        v: dict[str, float] = {}

        def dur(name):
            return sum(s["end"] - s["start"] for s in inner if s["name"] == name)

        def field(prefix, f):
            return sum(incl(s, f) for s in inner if s["name"].startswith(prefix))

        v["io.sources.read_s"] = dur("io.sources.read")
        sinks = [s for s in inner if s.get("sink")]
        sink_spans += sinks
        v["io.sinks.upsert_s"] = dur("io.sinks.upsert")
        v["io.sinks.write_s"] = dur("io.sinks.write")
        v["io.sinks.jobs"] = sum(incl(s, "jobs") for s in sinks)
        v["io.sinks.bytes_written"] = sum(s["bytes_written"] for s in sinks)
        v["io.sinks.files_written"] = sum(s["files_written"] for s in sinks)
        for p in ("transfers", "wallets", "tokens", "dapps_pipeline"):
            pre = f"pipelines.{p}."
            v[pre + "build_s"] = dur(pre + "build")
            v[pre + "run_s"] = dur(pre + "run")
            v[pre + "jobs"] = field(pre, "jobs")
            v[pre + "executor_run_s"] = field(pre, "executor_run_ms") / 1000.0
            v[pre + "shuffle_write_bytes"] = field(pre, "shuffle_write_bytes")
        v["token_etl.spill_bytes"] = incl(u, "spill_bytes") if u["name"] == "token_etl.batch" else 0
        if u["name"] == "query_mix.pass":
            for f in ("executor_run_ms", "shuffle_write_bytes", "spill_bytes", "stages", "tasks"):
                key = "plans.executor_run_s" if f == "executor_run_ms" else f"plans.{f}"
                v[key] = incl(u, f) / (1000.0 if f == "executor_run_ms" else 1)
            for s in inner:
                if s["name"].startswith("plans."):
                    q, what = s["name"][len("plans."):].rsplit(".", 1)
                    v[f"plans.{q}.{what}_s"] = v.get(f"plans.{q}.{what}_s", 0.0) + s["end"] - s["start"]
                    v[f"plans.{q}.jobs"] = v.get(f"plans.{q}.jobs", 0) + incl(s, "jobs")
        add(v)

    out = {k: statistics.median(vs) for k, vs in per_unit.items()}
    into_existing = [s for s in sink_spans if s.get("into_existing")]
    out["io.sinks.full_rewrite_ratio"] = (
        sum(s["full_rewrite"] for s in into_existing) / len(into_existing) if into_existing else 0.0
    )
    busy_ms = sum(incl(u, "executor_run_ms") for u in units)
    wall_ms = 1000.0 * sum(u["end"] - u["start"] for u in units)
    out["executor_busy_ratio"] = busy_ms / (wall_ms * wl.cores) if wall_ms else 0.0
    out["session.start_s"] = phases["start_s"]
    out["jvm.peak_heap_mb"] = phases["peak_heap_mb"]
    out["process.peak_rss_mb"] = phases["peak_rss_mb"]
    if getattr(wl, "analysis_ms", None):
        out["plans.analysis_s"] = sum(wl.analysis_ms) / 1000.0 / max(1, len(units))
    for tier in corpus.get("tiers", {}):
        out[f"pipelines.corpus.{tier}_s"] = corpus["tiers"][tier]
    if "span" in corpus:
        out["pipelines.corpus.jobs"] = incl(corpus["span"], "jobs")
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    preflight()
    sys.path[:0] = [HERE, ROOT]
    from workloads import WORKLOADS

    import harness

    if args.workload not in WORKLOADS:
        sys.exit(f"error: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")

    out_dir = os.path.join(ROOT, ".perfbench")
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(out_dir, "work", run_id)
    results = os.path.join(out_dir, "results")
    event_dir = os.path.join(work, "eventlog") if args.trace else None
    for d in (work, results, event_dir):
        if d:
            os.makedirs(d, exist_ok=True)
    wl = WORKLOADS[args.workload](work, args.seed)
    harness.spark_env(ROOT, work, event_dir, f"local[{wl.cores}]")
    phases: dict[str, float] = {}
    problems: list[str] = []
    spark = None
    try:
        from token_etl_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}", master=f"local[{wl.cores}]")
        phases["start_s"] = time.perf_counter() - t0
        tracer = harness.Tracer(spark.sparkContext, bool(args.trace), run_id)

        t0 = time.perf_counter()
        sizes = wl.generate()
        phases["generate_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.prepare(spark)
        tracer.phase = "warm"
        wl.warm(spark, tracer)
        phases["warm_s"] = time.perf_counter() - t0
        setup_s = phases["start_s"] + phases["generate_s"] + phases["warm_s"]

        tracer.phase = "timed"
        steal0, cpu0 = harness.steal_ticks(), harness.tree_cpu_s()
        gc0, jit0 = harness.jvm_gc_jit_s(spark)
        t0 = time.perf_counter()
        # closed loop: the next op starts when the previous one returned;
        # after MIN_OPS, none starts that the last op's time says would
        # overrun
        last = 0.0
        while time.perf_counter() - t0 + last <= args.seconds or len(wl.op_s) < MIN_OPS:
            op_start, op_cpu = time.perf_counter(), harness.tree_cpu_s()
            try:
                wl.op_s.append(wl.unit(spark, tracer))
                wl.op_cpu_s.append(harness.tree_cpu_s() - op_cpu)
            except Exception:  # counted and reported; the loop goes on
                wl.failed += 1
                traceback.print_exc()
                if wl.failed > 3:
                    break
            last = time.perf_counter() - op_start
        phases["timed_s"] = time.perf_counter() - t0
        steal1 = harness.steal_ticks()
        gc1, jit1 = harness.jvm_gc_jit_s(spark)
        phases["timed_gc_s"], phases["timed_jit_s"] = gc1 - gc0, jit1 - jit0
        phases["timed_cpu_s"] = harness.tree_cpu_s() - cpu0
        phases["steal_share"] = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        # memory of the workload itself, before the correctness check
        # collects outputs into this process
        phases["peak_rss_mb"] = harness.peak_rss_mb(spark)
        phases["peak_heap_mb"] = harness.peak_heap_mb(spark)

        tracer.phase = "extra"
        t0 = time.perf_counter()
        try:
            problems = wl.check(spark)
        except Exception as e:
            traceback.print_exc()
            problems = [f"check raised {type(e).__name__}: {e}"[:300]]
        phases["check_s"] = time.perf_counter() - t0
        wl.attempted += 1
        wl.failed += bool(problems)
        corpus = {}
        if args.trace and hasattr(wl, "corpus_tiers"):
            t0 = time.perf_counter()
            tiers = wl.corpus_tiers(spark, tracer)
            corpus = {"tiers": tiers, "span": next(s for s in tracer.spans if s["name"] == "pipelines.corpus")}
            phases["corpus_tiers_s"] = time.perf_counter() - t0
        cond = harness.conditions(spark, args.seed, sizes)
    finally:
        if spark is not None:
            harness.stop_session(spark)

    report = {}
    if wl.op_s:
        report = {k: {"value": v, "unit": u} for k, (v, u) in wl.report().items()}
        report["rows_per_s"] = {"value": wl.rows_per_s(), "unit": "1/s"}
        report["op_cpu_p50_s"] = {"value": statistics.median(wl.op_cpu_s), "unit": "s"}
        report["op_p50_s"] = {"value": statistics.median(wl.op_s), "unit": "s", "n": len(wl.op_s)}
        t = harness.tail(wl.op_s)
        report["op_tail_s"] = (
            {"value": t[0], "unit": "s", "percentile": t[1], "n": t[2]} if t
            else {"value": None, "unit": "s", "n": len(wl.op_s), "note": "fewer than 11 samples"}
        )
    report["error_rate"] = {"value": wl.failed / max(1, wl.attempted), "unit": "ratio"}
    summary = {"workload": args.workload, "trace": args.trace, "conditions": cond,
               "phases": phases, "op_s": wl.op_s, "op_cpu_s": wl.op_cpu_s, "report": report, "problems": problems}

    if not wl.op_s:
        metrics = {}
    elif args.trace:
        from eventlog import read_group_totals

        totals = read_group_totals(event_dir)
        values = layer_metrics(tracer, totals, wl, phases, corpus)
        metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in per_layer_units().items()}
        baseline = os.path.join(results, f"untraced_{args.workload}.json")
        traced_p50 = statistics.median(wl.op_s)
        if os.path.exists(baseline):
            with open(baseline) as f:
                base = json.load(f)["op_p50_s"]
            summary["tracing_overhead"] = {"op_p50_s_traced": traced_p50, "op_p50_s_untraced": base,
                                           "overhead_s": traced_p50 - base,
                                           "overhead_share": (traced_p50 - base) / base}
        else:
            summary["tracing_overhead"] = {"op_p50_s_traced": traced_p50,
                                           "note": "no untraced run of this workload in this checkout yet"}
        with open(os.path.join(results, f"spans_{run_id}.json"), "w") as f:
            json.dump({"summary": summary, "spans": tracer.spans}, f)
    else:
        values = {"setup_s": setup_s, "rows_per_cpu_s": wl.rows_per_cpu_s()}
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in END_TO_END_UNITS.items()}
        with open(os.path.join(results, f"untraced_{args.workload}.json"), "w") as f:
            json.dump({"op_p50_s": statistics.median(wl.op_s), "seed": args.seed}, f)
        with open(os.path.join(results, f"result_{run_id}.json"), "w") as f:
            json.dump({"summary": summary, "metrics": metrics}, f)
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps(summary, default=str))
    print(json.dumps({
        "correct": not problems and wl.failed == 0,
        "attempted": wl.attempted,
        "failed": min(wl.failed, wl.attempted),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
