"""Benchmark driver: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload flagship_corpus --seed 1 --seconds 18 --trace 0

Every run is a fresh process. It measures its own set-up (session start
plus registry import) and runs the workload's untimed warm-up passes, the
first of which checks every output. With ``--trace 0`` it then runs a
fixed number of timed passes, ``--seconds`` over the workload's warm
pass time, so every run times the same passes at the same point of the
JVM's warm-up whatever the host's load, and prints the end-to-end
metrics. With ``--trace 1`` it runs one untimed and one traced
pass, with the event log and a streaming listener on, and prints the
per-layer metrics. The last line of stdout is the JSON result; a result
file with the host record (and, traced, every span) goes to
``perfbench/.work/results/``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))

import boot  # noqa: E402
import host  # noqa: E402
from spans import NullTracer, Tracer, layer_self_times  # noqa: E402

WORKLOADS = ("flagship_corpus", "single_plan_mix", "eager_build_mix")
LAYER_SPANS = {
    "session.start",
    "plans.import",
    "plans.build",
    "plans.plan",
    "plans.exec",
    "sources.read_whole_files",
    "sinks.csv_write",
    "operators.pipeline.run",
}


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def tail(samples: list[float]) -> tuple[float, float, int]:
    """Highest percentile with at least ten samples above it: the value,
    its percentile and the sample count. With ten or fewer samples no
    percentile qualifies and the maximum is reported as the 100th."""
    xs = sorted(samples)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def end_to_end(wl, passes: list[dict], setup_s: float, py_rss_mb: float, ok_frac: float) -> tuple[dict, dict]:
    """Every time is unstolen: wall time less the share of it the
    hypervisor gave to other guests. A pass's wall time is the sum over
    its queries of each query's median over the timed passes, and
    ``query_p50_s`` the median of those per-query medians, so one slow
    call moves neither."""
    ok = [p for p in passes if not any(q.get("error") for q in p["queries"])]
    per_query: dict[str, list[float]] = {}
    for p in ok:
        for q in p["queries"]:
            per_query.setdefault(q["query"], []).append(host.unstolen_s(q["wall_s"], q["steal_share"]))
    medians = [statistics.median(v) for v in per_query.values()] or [float("nan")]
    samples = [s for v in per_query.values() for s in v] or [float("nan")]
    wall = sum(medians)
    t, pct, n = tail(samples)
    metrics = {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall, "s"),
        "input_mb_per_s": (wl.input_bytes / 1e6 / wall, "MB/s"),
        "query_p50_s": (statistics.median(medians), "s"),
        "py_rss_mb": (py_rss_mb, "MB"),
        "ok_frac": (ok_frac, "ratio"),
    }
    extra = {
        "pass_walls_s": [p["wall_s"] for p in ok],
        "steal_shares": [q["steal_share"] for p in ok for q in p["queries"]],
        "query_medians_s": {k: statistics.median(v) for k, v in per_query.items()},
        "query_tail_s": t,
        "query_tail_pct": pct,
        "query_samples": n,
        "input_bytes": wl.input_bytes,
    }
    return metrics, extra


def per_layer(wl, spans, passes, probes, session, stream, exec_stats, probe_stats):
    """Per-layer metrics of the traced pass (passes[-1]); passes[-2] is
    the untraced pass used for the tracing overhead."""
    traced, untraced = passes[-1], passes[-2]
    root = traced["root"]
    layers = layer_self_times(spans, root)
    wall = traced["span_wall_s"]
    accounted = sum(v for k, v in layers.items() if k in LAYER_SPANS or k.startswith("trace."))
    probe_s = {
        name: sum(v for v in layer_self_times(spans, info["span"]).values())
        for name, info in probes.items()
    }
    m = {
        "session.start_s": (session["start_s"], "s"),
        "session.jvm_rss_mb": (session["jvm_rss_mb"], "MB"),
        "plans.import_s": (session["import_s"], "s"),
        "plans.build_s": (layers.get("plans.build", 0.0), "s"),
        "plans.build_jobs": (sum(q.get("build_jobs", 0) for q in traced["queries"]), "count"),
        "plans.build_schema_jobs": (sum(q.get("build_schema_jobs", 0) for q in traced["queries"]), "count"),
        "plans.plan_s": (layers.get("plans.plan", probe_s.get("plans.plan", 0.0)), "s"),
        "plans.exec_s": (layers.get("plans.exec", probe_s.get("plans.exec", 0.0)), "s"),
        "plans.exec.cpu_s": (exec_stats["cpu_s"], "s"),
        "plans.exec.gc_s": (exec_stats["gc_s"], "s"),
        "plans.exec.shuffle_write_mb": (exec_stats["shuffle_write_mb"], "MB"),
        "plans.exec.spill_mb": (exec_stats["spill_mb"], "MB"),
        "plans.exec.task_skew": (exec_stats["task_skew"], "ratio"),
        "plans.exec.tasks": (exec_stats["tasks"], "count"),
        "sources.list_s": (probe_s.get("sources.list", 0.0), "s"),
        "sources.scan_s": (probe_s.get("sources.scan", 0.0), "s"),
        "sources.read_mb": (probe_stats.get("sources.scan", {}).get("input_mb", 0.0), "MB"),
        "sources.files": (getattr(wl, "files", 0), "count"),
        "functions.tokenize_s": (
            max(0.0, probe_s.get("functions.tokenize", 0.0) - probe_s.get("sources.scan", 0.0))
            if "functions.tokenize" in probe_s
            else 0.0,
            "s",
        ),
        "operators.pipeline.plan_s": (probe_s.get("operators.pipeline.plan", 0.0), "s"),
        "sinks.csv_write_s": (layers.get("sinks.csv_write", 0.0), "s"),
        "sinks.rows_out": (getattr(wl, "rows_out", 0), "count"),
        "sinks.bytes_out_per_in": (getattr(wl, "bytes_out", 0) / wl.input_bytes, "ratio"),
        "streaming.batches": (stream["batches"], "count"),
        "streaming.input_rows": (stream["input_rows"], "count"),
        "streaming.batch_p50_ms": (stream["batch_p50_ms"], "ms"),
        "streaming.state_rows": (stream["state_rows"], "count"),
        "streaming.state_mb": (stream["state_mb"], "MB"),
        "trace.overhead_frac": (wall / untraced["wall_s"] - 1.0, "ratio"),
        "trace.unaccounted_frac": ((wall - accounted) / wall, "ratio"),
    }
    return m, layers


def run(args, work: Path) -> dict:
    # Spark gets half the vCPUs: the other half runs the JVM's JIT and GC
    # threads and the Python driver, so they do not take turns with tasks
    n = max(1, host.nproc() // 2)
    ticks = host.cpu_ticks()
    boot.prepare_env(work)
    record = {"host": host.record(boot.ROOT, n), "workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace}
    tracer = Tracer() if args.trace else NullTracer()
    event_dir = work / "eventlog" if args.trace else None
    spark, queries, start_s, import_s = boot.start(work, n, tracer, event_dir)
    setup_s = host.unstolen_s(start_s + import_s, host.steal_share(ticks, host.cpu_ticks()))
    try:
        import workloads

        wl = workloads.make(args.workload, spark, queries, work, args.seed)
        log(f"session up, inputs ready ({wl.input_bytes} bytes)")
        warm = [wl.run_pass(NullTracer(), None, check=i == 0) for i in range(wl.warmup_passes)]
        log(f"warm-up passes, the first checked: {[round(p['wall_s'], 3) for p in warm]}s")
        pids = {"python": os.getpid(), "jvm": boot.jvm_pid()}
        for pid in pids.values():
            host.reset_peak_rss(pid)
        passes: list[dict] = []
        if not args.trace:
            for _ in range(max(1, round(args.seconds / wl.pass_s))):
                passes.append(wl.run_pass(tracer, None, check=False))
                log(f"pass {len(passes)}: {passes[-1]['wall_s']:.3f}s")
        else:
            from listener import StreamCounts

            stream = StreamCounts()
            spark.streams.addListener(stream)
            jobs = workloads.Jobs(spark)
            passes.append(wl.run_pass(NullTracer(), None, check=False))
            lo = jobs.sync()
            stream.reset()
            with tracer.span("pass", query=args.workload) as root:
                passes.append(wl.run_pass(tracer, jobs, check=False))
            passes[-1].update(root=root.id, span_wall_s=root.end - root.start, jobs=[lo, jobs.sync()])
            stream_counts = stream.summary()
        peaks = {name: host.peak_rss_mb(pid) for name, pid in pids.items()}
        record["peak_rss_mb"] = peaks
        if args.trace:
            probes = wl.probes(tracer, jobs)
        if hasattr(wl, "csv_rows"):
            _, rows = wl.csv_rows()
            wl.rows_out = len(rows)
            wl.bytes_out = sum(p.stat().st_size for p in wl.out.glob("part-*"))
    finally:
        boot.stop(spark)
    log("session stopped")
    record["host"]["steal_share"] = host.steal_share(ticks, host.cpu_ticks())

    failures = wl.failures
    attempted = sum(len(p["queries"]) for p in warm + passes)
    record.update(passes=passes, failures=failures)
    if not args.trace:
        metrics, extra = end_to_end(wl, passes, setup_s, peaks["python"], 1.0 - len(failures) / attempted)
        record.update(extra)
    else:
        import eventlog

        elog = eventlog.parse(eventlog.find(event_dir))
        traced = passes[-1]
        pass_jobs = set(range(*traced["jobs"]))
        probe_stats = {
            name: eventlog.summarize(elog, set(range(*info["jobs"]))) for name, info in probes.items()
        }
        build_jobs = {q["query"]: q.get("build_jobs", 0) for q in traced["queries"]}
        schema_jobs = {q["query"]: q.get("build_schema_jobs", 0) for q in traced["queries"]}
        per_query = {
            q["query"]: eventlog.summarize(elog, set(range(*q["jobs"])))
            for q in traced["queries"]
            if "jobs" in q
        }
        metrics, layers = per_layer(
            wl, tracer.spans, passes, probes,
            {"start_s": start_s, "import_s": import_s, "jvm_rss_mb": peaks["jvm"]}, stream_counts,
            eventlog.summarize(elog, pass_jobs), probe_stats,
        )
        record.update(
            layers_self_s=layers, build_jobs=build_jobs, build_schema_jobs=schema_jobs,
            exec_per_query=per_query,
            probe_stats=probe_stats, streaming=stream_counts, spans=tracer.dump(),
            job_groups={str(k): v for k, v in elog.job_group.items()},
        )
    record["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    record["result"] = {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": record["metrics"],
    }
    return record


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(boot.ROOT))
    missing = [
        what
        for what, ok in (
            ("the tiny_etl_multiproc_bigdata_spark package",
             importlib.util.find_spec("tiny_etl_multiproc_bigdata_spark") is not None),
            ("tests/compare.py", (boot.ROOT / "tests" / "compare.py").is_file()),
        )
        if not ok
    ]
    if missing:
        print(f"perfbench: cannot run, missing {', '.join(missing)} in {boot.ROOT}", file=sys.stderr)
        return 2

    work = BENCH / ".work" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    try:
        record = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    results = BENCH / ".work" / "results"
    results.mkdir(parents=True, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    (results / name).write_text(json.dumps(record, indent=1, default=str))
    for failure in record["failures"]:
        print(f"perfbench: FAILED {failure}", file=sys.stderr)
    print(json.dumps(record["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
