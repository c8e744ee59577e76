"""CDC engine benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload cdc --seed 1 --seconds 18 --trace 0

Run from the repository root. Workloads: cdc, headline
(see perfbench/README.md). The run builds its inputs from ``--seed``, sets
up the engine, measures for ``--seconds``, checks every output, prints a
readable report and, as the last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` spans, the Spark event log and the
streaming progress listener are on and the metrics are the per-layer ones.
Every run also writes a full artifact (all metrics, spans, load averages)
to ``.perfbench/artifacts/``. All files stay under the repository root.
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

# the workload's own names for the three end-to-end figures every workload
# reports under shared names
E2E_MAP = {
    "cdc": ("events_per_s", "freshness_p50_s", "freshness_p90_s"),
    "headline": ("queries_per_s", "query_p50_s", "query_p90_s"),
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(E2E_MAP))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=18.0,
                    help="length of the timed phases of cdc; headline always times one "
                         "pass of the 25 queries")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input sizes; 'tiny' is for the benchmark's self-tests")
    return ap.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file Spark and Python write under the work directory, and
    let Spark's Python workers import the engine."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    # a bounded heap keeps the JVM's footprint steady on a shared host
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")


def start_spark(ctx, get_spark):
    # the initial heap is the whole heap, so the JVM's peak RSS does not
    # depend on when the collector chose to grow it
    xms = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={ctx.path('tmp')} -Xms{xms}",
        "spark.sql.warehouse.dir": ctx.path("warehouse"),
    }
    if ctx.trace:
        os.makedirs(ctx.path("eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": ctx.path("eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    with ctx.tracer.span("get_spark", op="setup"):
        spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(30)
        except Exception:  # noqa: BLE001 - fall back to a kill
            proc.kill()
            proc.wait(30)


def report(ctx, workload: str) -> None:
    """Readable summary: every metric with its unit and sample count."""
    print(f"# workload {workload} seed {ctx.seed} seconds {ctx.seconds} trace {int(ctx.trace)}")
    print(f"# loadavg start {ctx.info['loadavg_start']} end {ctx.info['loadavg_end']}")
    for name, (v, unit, n) in sorted(ctx.e2e.items()):
        print(f"{name:<28} {v:>14.6g} {unit:<6} n={n}")
    for name, (v, unit) in sorted(ctx.layers.items()):
        print(f"  {name:<38} {v:>14.6g} {unit}")
    for name, ok in sorted(ctx.checks.items()):
        print(f"check {name:<40} {'ok' if ok else 'FAILED'}")


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])
    sys.path[:0] = [ROOT, HERE]
    try:
        from simple_cdc_service_spark.session import get_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    from common import Ctx, EventLog, Tracer, find_jvm_pid, loadavg, peak_rss_mb, spark_layers

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench", "work", run_id)
    os.makedirs(work)
    prepare_env(work)
    ctx = Ctx(work=work, seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
              size=args.size, tracer=Tracer(bool(args.trace)))
    ctx.info["loadavg_start"] = loadavg()
    spark = None
    try:
        import wl_cdc
        import wl_headline

        runners = {
            "cdc": (wl_cdc.run_cdc, wl_cdc.cdc_jobs),
            "headline": (wl_headline.run_headline, wl_headline.headline_jobs),
        }
        run, jobs = runners[args.workload]
        spark, get_spark_s = start_spark(ctx, get_spark)
        ctx.spark = spark
        jvm = find_jvm_pid()
        ctx.layer("session.get_spark_s", get_spark_s, "s")
        run(ctx)
        drv_mb, jvm_mb = peak_rss_mb(jvm)
        stop_spark(spark)
        spark = None
    except Exception:  # noqa: BLE001 - the run itself broke: no result
        traceback.print_exc()
        if spark is not None:
            stop_spark(spark)
        return 1
    ctx.info["loadavg_end"] = loadavg()

    setup_s = get_spark_s + ctx.layers["setup.load_s"][0] + ctx.layers["setup.warmup_s"][0]
    ctx.metric("setup_s", setup_s, "s", 1)
    ctx.metric("peak_rss_mb", drv_mb + jvm_mb, "MB", 1)
    ctx.metric("failed_frac", ctx.failed / max(1, ctx.attempted), "ratio", ctx.attempted)
    ctx.layer("mem.driver_peak_mb", drv_mb, "MB")
    ctx.layer("mem.jvm_peak_mb", jvm_mb, "MB")
    thr, p50, p90 = E2E_MAP[args.workload]
    shared = {"throughput_per_s": thr, "latency_p50_s": p50, "latency_p90_s": p90}
    for name, src in shared.items():
        v, unit, n = ctx.e2e[src]
        ctx.metric(name, v, unit, n)

    if ctx.trace:
        log = EventLog(ctx.path("eventlog"))
        job_ids, n_ops = jobs(ctx, log)
        spark_layers(ctx, log, job_ids, n_ops)
        if args.workload == "headline":
            wl_headline.headline_query_layers(ctx, log)
        ctx.layer("trace.spans", len(ctx.tracer.spans), "count")

    report(ctx, args.workload)
    art_dir = os.path.join(ROOT, ".perfbench", "artifacts")
    os.makedirs(art_dir, exist_ok=True)
    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": bool(args.trace), "size": args.size,
        "e2e": {k: {"value": v, "unit": u, "samples": n} for k, (v, u, n) in ctx.e2e.items()},
        "layers": {k: {"value": v, "unit": u} for k, (v, u) in ctx.layers.items()},
        "checks": ctx.checks, "attempted": ctx.attempted, "failed": ctx.failed,
        "info": ctx.info, "spans": ctx.tracer.spans,
    }
    with open(os.path.join(art_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as f:
        json.dump(artifact, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer"] if ctx.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        table = ctx.layers if ctx.trace else ctx.e2e
        if m["name"] not in table:
            print(f"perfbench: metric {m['name']} was not measured", file=sys.stderr)
            return 1
        metrics[m["name"]] = {"value": float(table[m["name"]][0]), "unit": m["unit"]}
    correct = all(ctx.checks.values()) and bool(ctx.checks)
    print(json.dumps({"correct": correct, "attempted": int(ctx.attempted),
                      "failed": int(ctx.failed), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
