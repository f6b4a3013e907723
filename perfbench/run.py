"""Benchmark entry point; run from the root of a checkout:

    python3 perfbench/run.py --workload cold_extract --seed 1 --seconds 10 --trace 0

Starts one Spark session at local[nproc], sets up the workload, repeats
its timed call for ``--seconds`` seconds of call time, checks every call's
output, and prints one JSON object as the last line of stdout: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Metric names and units come from BENCHMARK.json. Everything
the run writes stays under ``.bench_data/perfbench`` in the checkout; a
fuller report (per-call times, checks, host probe, spans) is written to
``.bench_data/perfbench/reports``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(ROOT, ".bench_data", "perfbench")

MIN_CALLS = 3
TRACE_BASELINE_CALLS = 1


def _isolate(work: str) -> None:
    """Point every temp, spill and worker path at the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the short-lived JVM spark-submit runs to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    sys.path.insert(0, ROOT)


def _driver_heap_mb() -> int:
    """An eighth of physical RAM, between 1 and 2 GiB: the inputs are tens
    of MB, and a heap the run fills keeps its peak RSS steady."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return max(1024, min(2048, total_kb // 1024 // 8))


def start_session(cores: int, work: str):
    from scrape_spark.session import get_spark

    heap = _driver_heap_mb()
    # a fixed, pre-touched heap: peak RSS then measures the heap the run
    # reserves plus what it really adds (JVM off-heap, Python workers), not
    # when G1 happened to grow the heap
    java_opts = f"-Xms{heap}m -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir=\"{os.environ['TMPDIR']}\""
    return get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": f"{heap}m",
            "spark.driver.extraJavaOptions": java_opts,
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def measure(wl, seconds: float, min_calls: int = MIN_CALLS) -> dict:
    """Repeat the workload's timed call until ``seconds`` of call time and
    ``min_calls`` calls have passed; the loop gives up after four times its
    budget. Outputs are kept for ``check_calls``."""
    run = {"times": [], "outs": [], "attempted": 0, "failed": 0}
    give_up = time.perf_counter() + 4 * max(seconds, 30)
    while sum(run["times"]) < seconds or len(run["times"]) < min_calls:
        if time.perf_counter() > give_up:
            break
        run["attempted"] += 1
        wl.before_call()
        try:
            dt, out = wl.call()
        except Exception:  # a failing call is a measured outcome, not a crash
            traceback.print_exc()
            run["failed"] += 1
            continue
        run["times"].append(dt)
        run["outs"].append(out)
    return run


def check_calls(wl, run: dict) -> None:
    """Check every call's output; a call that fails a check counts as
    failed."""
    run["checks"], run["rows_in"], run["rows_out"] = {}, 0, 0
    for out in run.pop("outs"):
        result = wl.check(out)
        for name, ok in result.items():
            run["checks"][name] = run["checks"].get(name, True) and ok
        run["failed"] += not all(result.values())
        n_in, n_out = wl.sizes(out)
        run["rows_in"] += n_in
        run["rows_out"] += n_out


def traced_layers(journeys, ctx, wl, tracer) -> tuple[float, dict, dict]:
    """Replay every journey layer by layer under spans: the workload's own
    first (its wall time against an untraced call gives the tracing
    overhead), then the other passes, the Spark-free kernel and a two-epoch
    crawl. Returns (own pass seconds, kernel stats, checks)."""
    t = time.perf_counter()
    checks = wl.trace(tracer)
    own_s = time.perf_counter() - t
    for cls in journeys.LAYER_PASSES:
        if cls is not type(wl):
            other = cls(ctx)
            other.load()
            other.prime()
            checks.update(other.trace(tracer))
    _, kernel = journeys.kernel_reference(ctx.spark, journeys.corpus_path(ctx))
    checks.update(journeys.trace_crawl(ctx, tracer))
    return own_s, kernel, checks


def layer_values(tracer) -> dict[str, float]:
    out: dict[str, float] = {}
    for span in tracer.spans:
        name = span["name"]
        out[f"{name}.busy_s"] = tracer.self_time(name)
        out[f"{name}.spark_jobs"] = tracer.jobs(name)
        for k, v in span["counts"].items():
            out[f"{name}.{k}"] = v
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description="scrape_spark journey benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "scrape_spark")) or not os.path.exists(spec_path):
        print("perfbench: run from a checkout holding scrape_spark/ and BENCHMARK.json", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(DATA, f"run-{os.getpid()}")
    _isolate(work)
    import journeys
    from probes import Tracer, host_probe, median, stop_spark, tree_peak_rss_bytes

    cores = len(os.sched_getaffinity(0))
    report = {"workload": args.workload, "seed": args.seed, "trace": args.trace, "cores": cores}
    report["host"] = host_probe()
    values: dict[str, float] = {}
    try:
        t = time.perf_counter()
        spark = start_session(cores, work)
        values["session.start_s"] = time.perf_counter() - t
        try:
            ctx = journeys.Context(spark, args.seed, os.path.join(DATA, "inputs"), work)
            os.makedirs(ctx.inputs, exist_ok=True)
            wl = journeys.WORKLOADS[args.workload](ctx)
            loads = []
            for _ in range(3):
                t = time.perf_counter()
                wl.load()
                loads.append(time.perf_counter() - t)
            t = time.perf_counter()
            wl.warm()
            values["setup.warm_s"] = time.perf_counter() - t
            values["sources.gen_s"] = median(loads)
            values["setup_s"] = values["session.start_s"] + median(loads) + values["setup.warm_s"]
            if args.trace:
                run = measure(wl, 0, TRACE_BASELINE_CALLS)
                wl.reference()
                check_calls(wl, run)
                tracer = Tracer(spark, f"{args.workload}-s{args.seed}")
                own_s, kernel, pass_checks = traced_layers(journeys, ctx, wl, tracer)
                run["checks"].update(pass_checks)
                values.update(layer_values(tracer))
                values.update({f"extract.{k}": v for k, v in kernel.items()})
                base = median(run["times"])
                values["trace.overhead_share"] = own_s / base - 1 if base else 0.0
                report["spans"] = tracer.dump()
            else:
                run = measure(wl, args.seconds)
                # read before the checks' own reference work adds to it
                values["peak_rss_mb"] = tree_peak_rss_bytes(os.getpid()) / 2**20
                wl.reference()
                check_calls(wl, run)
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    busy = sum(run["times"])
    values["batch_p50_s"] = median(run["times"])
    values["pages_per_s"] = run["rows_out"] / busy if busy else 0.0
    values["docs_per_s"] = run["rows_in"] / busy if busy else 0.0
    values.update({f"host.{k}": v for k, v in report["host"].items()})

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        print(f"perfbench: metrics not produced: {missing}", file=sys.stderr)
        return 3
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in wanted}
    correct = bool(run["checks"]) and all(run["checks"].values()) and run["failed"] == 0
    report.update(run, values=values)
    os.makedirs(os.path.join(DATA, "reports"), exist_ok=True)
    name = f"{args.workload}-s{args.seed}-t{args.trace}.json"
    with open(os.path.join(DATA, "reports", name), "w") as f:
        json.dump(report, f, indent=1, default=str)
    print(json.dumps({"checks": run["checks"], "calls_s": run["times"], "host": report["host"]}))
    print(
        json.dumps(
            {"correct": correct, "attempted": run["attempted"], "failed": run["failed"], "metrics": metrics}
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
