#!/usr/bin/env python3
"""The repository benchmark: one workload per invocation.

    python3 perfbench/run.py --workload heatmap_batch --seed 1 --seconds 10 --trace 0

Run from the repository root.  The driver process runs Spark on
``local[nproc]`` with ``SPARK_GRAFT_CPUS=nproc``; the workload is a
closed loop with one client.  Set-up (session start, input generation
from ``--seed``, warm-up) is timed separately from the measured loop,
outputs are checked with DuckDB after the loop, a table goes to stdout
and the last stdout line is the JSON result.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` runs half
the window untraced and half traced, records a span around every call
into the program, reports the per-layer metrics and the tracing
overhead, prints self time per layer and writes the spans to
``.perfbench/traces/``.  See perfbench/README.md for the metric map.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import ExitStack

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from meter import COUNTERS, Tracer, peak_rss_mb  # noqa: E402


def metric_spec(kind: str) -> dict[str, str]:
    """Name → unit of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json at the repository root declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (self-check: small)")
    ap.add_argument("--corrupt", action="store_true", help="corrupt one output before the check")
    return ap.parse_args(argv)


def _environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    nproc = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")


def _spark_conf(work: str) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
            # the whole heap up front: a growing heap makes early units
            # collect more often, which reads as run-to-run noise
            f"-Xms{os.environ['SPARK_DRIVER_MEMORY']}"
        ),
    }


def _top_level(spans: list[dict], role: str) -> list[dict]:
    """Spans of ``role`` not nested in another span of the same role."""
    by_id = {s["id"]: s for s in spans}
    out = []
    for s in spans:
        if s.get("role") != role:
            continue
        p = by_id.get(s["parent"])
        while p is not None and p.get("role") != role:
            p = by_id.get(p["parent"])
        if p is None:
            out.append(s)
    return out


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def _quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile; 0 for no values."""
    if not values:
        return 0.0
    v = sorted(values)
    return v[max(0, math.ceil(q * len(v)) - 1)]


def _per_layer(ctx, spans, n_samples, setup, overhead, nproc) -> dict[str, float]:
    """Per-layer metrics of the traced half.  Sums are per latency
    sample (one dataflow, one store batch step, one headline pass);
    latencies and read and vacuum counters are per call."""
    from heatmap_spark.queries import headline_queries
    from workloads import BUILD, LOAD, PLAN, READ, SINK, VACUUM

    def secs(ss):
        return sum(s["end"] - s["start"] for s in ss)

    def count(ss, key="jobs"):
        return sum(s["counters"][key] for s in ss)

    def pick(layer, role, name=None):
        return [s for s in _top_level(spans, role)
                if s["layer"] == layer and (name is None or s["name"] == name)]

    loads = _top_level(spans, LOAD)
    m = {
        "session.get_spark_s": setup["get_spark_s"],
        "sources.generate_s": setup["generate_s"],
        "sources.load_s": secs(loads) / n_samples,
        "sources.load_jobs": count(loads) / n_samples,
    }
    builds = pick("api", BUILD)
    m["api.build_s"] = secs(builds) / n_samples
    m["api.build_jobs"] = count(builds) / n_samples
    saves = pick("api", SINK, "save")
    m["api.save.s"] = secs(saves) / n_samples
    for k in COUNTERS:
        m[f"api.save.{k}"] = count(saves, k) / n_samples
    e = ctx.extra
    for k in ("output_rows", "output_files"):
        m[f"api.save.{k}"] = e.get(f"api.save.{k}", 0) / n_samples
    m["api.save.core_utilization"] = _ratio(m["api.save.executor_run_s"], m["api.save.s"] * nproc)
    m["plans.physical_plan_s"] = secs(_top_level(spans, PLAN)) / n_samples

    for prefix, q in [("queries", None), *((f"queries.{q}", q) for q in headline_queries())]:
        m[f"{prefix}.build_s"] = secs(pick("queries", BUILD, q)) / n_samples
        m[f"{prefix}.execute_s"] = secs(pick("queries", SINK, q)) / n_samples
        m[f"{prefix}.jobs"] = count(pick("queries", BUILD, q) + pick("queries", SINK, q)) / n_samples

    merges = pick("tile_store", SINK)
    reads = pick("tile_store", READ)
    m["tile_store.merge_s"] = secs(merges) / n_samples
    m["tile_store.merge_jobs"] = count(merges) / n_samples
    m["tile_store.merge_p50_s"] = _quantile([s["end"] - s["start"] for s in merges], 0.5)
    for k in ("buckets_committed", "bytes_written"):
        m[f"tile_store.{k}"] = e.get(f"tile_store.{k}", 0) / n_samples
    m["tile_store.rows_rewritten_per_delta_row"] = _ratio(
        e.get("tile_store.rows_written", 0), e.get("tile_store.delta_rows", 0)
    )
    read_ms = [(s["end"] - s["start"]) * 1e3 for s in reads]
    m["tile_store.read_p50_ms"] = _quantile(read_ms, 0.5)
    m["tile_store.read_p90_ms"] = _quantile(read_ms, 0.9)
    m["tile_store.read_jobs"] = _ratio(count(reads), len(reads))
    m["tile_store.read_files"] = _ratio(e.get("tile_store.read_files", 0), len(reads))
    vacuums = pick("tile_store", VACUUM)  # per vacuum call
    m["tile_store.vacuum_s"] = _ratio(secs(vacuums), len(vacuums))
    for k in ("vacuum_dirs_removed", "disk_mb_before_vacuum"):
        m[f"tile_store.{k}"] = _ratio(e.get(f"tile_store.{k}", 0), len(vacuums))

    m["output_mb"] = ctx.workload.output_mb(ctx)
    m["driver.peak_rss_mb"] = peak_rss_mb(ctx.spark)
    m["trace.overhead_s"] = overhead
    return m


def _breakdown(spans, n_samples) -> list[tuple[str, str, float, float]]:
    """(layer, name, seconds and jobs per latency sample) per distinct call."""
    acc: dict[tuple[str, str, str], list[float]] = {}
    for s in spans:
        a = acc.setdefault((s["layer"], s["name"], s.get("role", "")), [0.0, 0.0])
        a[0] += s["end"] - s["start"]
        a[1] += s.get("counters", {}).get("jobs", 0)
    return [(f"{l}.{r}", n, v[0] / n_samples, v[1] / n_samples) for (l, n, r), v in acc.items()]


def run(args: argparse.Namespace) -> dict:
    if not os.path.isdir(os.path.join(ROOT, "heatmap_spark")):
        raise SystemExit(f"error: no heatmap_spark package next to {HERE}; run from a repository checkout")
    from workloads import LOAD, WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        raise SystemExit(f"error: unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")
    base = os.path.join(ROOT, ".perfbench")
    for d in os.listdir(base) if os.path.isdir(base) else []:
        pid = d.rsplit("-", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):  # left by a killed run
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    _environment(work)
    sys.path.insert(0, ROOT)

    tracer = Tracer(enabled=False)
    t = time.perf_counter()
    from heatmap_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf=_spark_conf(work))
    get_spark_s = time.perf_counter() - t
    nproc = int(os.environ["SPARK_GRAFT_CPUS"])
    try:
        wl = WORKLOADS[args.workload](args.scale)
        ctx = Ctx(spark, tracer, work, args.seed, corrupt=args.corrupt, workload=wl)
        gen_times = []
        for r in range(3):
            out = os.path.join(work, f"inputs-{r}")
            t = time.perf_counter()
            props = wl.generate(ctx, out)
            gen_times.append(time.perf_counter() - t)
            if r:
                shutil.rmtree(os.path.join(work, f"inputs-{r - 1}"), ignore_errors=True)
        t = time.perf_counter()
        wl.warmup(ctx)
        warmup_s = time.perf_counter() - t
        i = 1  # measured units count from 1; the warm-up may run unit 0
        setup = {
            "get_spark_s": get_spark_s,
            "generate_s": statistics.median(gen_times),
            "warmup_s": warmup_s,
        }
        setup_s = get_spark_s + setup["generate_s"] + warmup_s

        attempted = failed = 0

        def loop(seconds: float, i0: int) -> tuple[list[float], int]:
            nonlocal attempted, failed
            samples: list[float] = []
            i, streak = i0, 0
            start = time.perf_counter()
            while True:
                try:
                    samples += wl.unit(ctx, i)
                    streak = 0
                except Exception:  # a failed unit counts against error_rate; keep measuring
                    traceback.print_exc(file=sys.stderr)
                    failed += 1
                    streak += 1
                attempted += 1
                i += 1
                if time.perf_counter() - start >= seconds or streak >= 3:
                    return samples, i

        if args.trace:
            plain, i = loop(args.seconds / 2, i)
            tracer = Tracer(enabled=True)
            tracer.bind(spark)
            ctx.tracer = tracer
            ctx.extra.clear()
            with ExitStack() as patches:
                for module, attr in (
                    ("heatmap_spark.sources.tables", "load_table"),
                    ("heatmap_spark.sources.locations", "load_locations"),
                ):
                    patches.enter_context(tracer.patched("sources", module, attr, role=LOAD))
                samples, _ = loop(args.seconds / 2, i)
        else:
            samples, _ = loop(args.seconds, i)
        n_checked, n_wrong = wl.check(ctx) if samples else (0, 0)
        # a wrong item is a wrong operation where the check compares
        # operations one by one (reads, queries); otherwise it marks the
        # one checked unit's output wrong
        failed += n_wrong if wl.check_per_op else min(1, n_wrong)
        attempted *= wl.ops_per_unit

        result = {
            "workload": args.workload,
            "why": wl.why,
            "inputs": props,
            "nproc": nproc,
            "loadavg": os.getloadavg(),
            "samples": samples,
            "checked_items": n_checked,
            "wrong_items": n_wrong,
        }
        if args.trace:
            traced = tracer.spans
            overhead = statistics.median(samples) - statistics.median(plain) if plain and samples else 0.0
            n = max(1, len(samples))
            metrics = _per_layer(ctx, traced, n, setup, overhead, nproc)
            units = metric_spec("per_layer")
            result["self_s_per_sample"] = {k: v / n for k, v in sorted(tracer.self_times().items())}
            result["calls"] = _breakdown(traced, n)
            result["trace_file"] = os.path.join(
                ".perfbench", "traces", f"{args.workload}-seed{args.seed}.json"
            )
            tracer.dump(
                os.path.join(ROOT, result["trace_file"]),
                {"workload": args.workload, "seed": args.seed, "setup": setup, "per_layer": metrics},
            )
        else:
            pipeline_s = statistics.median(samples) if samples else 0.0
            metrics = {
                "setup_s": setup_s,
                "pipeline_s": pipeline_s,
                "rows_per_s": _ratio(wl.rows_per_unit, pipeline_s),
            }
            units = metric_spec("end_to_end")
        result["metrics"] = {k: {"value": metrics[k], "unit": units[k]} for k in units}
        result["attempted"] = max(1, attempted)
        result["failed"] = min(failed, result["attempted"])
        result["correct"] = failed == 0 and n_checked > 0
        return result
    finally:
        gateway = spark.sparkContext._gateway
        proc = gateway.proc
        spark.stop()
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits at end of input
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


def report(args: argparse.Namespace, r: dict) -> None:
    """Human-readable table on stdout, then the JSON result line last."""
    print(f"workload {r['workload']}  seed {args.seed}  nproc {r['nproc']}  "
          f"loadavg {' '.join(f'{x:.2f}' for x in r['loadavg'])}")
    print(f"why     {r['why']}")
    print("inputs  " + "  ".join(f"{k}={v}" for k, v in r["inputs"].items()))
    print(f"samples {len(r['samples'])} [{' '.join(f'{x:.3f}' for x in r['samples'])}] s  checks: {r['checked_items']} items compared, "
          f"{r['wrong_items']} wrong  error_rate {r['failed'] / r['attempted']:.4f} "
          f"({r['failed']}/{r['attempted']} operations)")
    for k, m in r["metrics"].items():
        print(f"  {k:<44} {m['value']:>16.6g} {m['unit']}")
    if "self_s_per_sample" in r:
        print("self time per latency sample, by layer:")
        for k, v in r["self_s_per_sample"].items():
            print(f"  {k:<44} {v:>16.6g} s")
        print("calls per latency sample (inclusive seconds, jobs):")
        for layer_role, name, sec, jobs in sorted(r["calls"], key=lambda c: -c[2]):
            print(f"  {layer_role:<20} {name:<40} {sec:>10.4f} s {jobs:>8.2f} jobs")
        print(f"spans written to {r['trace_file']}")
    print(json.dumps({
        "correct": r["correct"],
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": r["metrics"],
    }), flush=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    report(args, run(args))
    return 0


if __name__ == "__main__":
    sys.exit(main())
