"""Lake benchmark entry point.

    python3 lakebench/run.py --workload analytics|lake --seed N \
        --seconds S --trace 0|1 [--size full|tiny]

Run from the repository root. Prints a detail line, then, as the last
line, one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. Spans and details of every run are also
written to ``.lakebench_out/`` in the repository root. See
lakebench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "ftm_datalake_spark"

WORKLOADS = ("analytics", "lake")
# (analytics table scale, lake files per dataset)
SIZES = {"full": (1.0, 300), "tiny": (0.1, 40)}
LAYERS = (
    "pipelines.ingest", "sources", "operators.versions", "plans",
    "serving", "api", "auth",
)


class Context:
    """What a workload gets: session, tracer, generators, its inputs'
    seed and size, the time budget; it fills in set-up timings."""

    def __init__(self, args, work: str, gen):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.scale, self.n_files = SIZES[args.size]
        self.released: list[int] = []
        self.setup_s = self.warmup_s = self.session_s = 0.0
        self.gen = gen
        self.spark = self.tracer = None


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=sorted(SIZES), default="full")
    return p.parse_args(argv)


def layer_metrics(tracer, result: dict, ctx) -> dict[str, tuple[float, str]]:
    """The per-layer metrics every workload reports. Counts of layers a
    workload never enters are 0 — they are counts, not estimates."""
    from lakebench import harness
    from lakebench.wl_analytics import QUERIES

    spans = tracer.spans
    ops = [r for r in spans if r["parent"] is None]

    def per_op(key):
        totals = tracer.subtree_totals(key)
        vals = [totals[r["id"]] for r in ops]
        return float(harness.median(vals)) if vals else 0.0

    out = {
        "session.build_s": (ctx.session_s, "s"),
        "session.warmup_s": (ctx.warmup_s, "s"),
        "session.pinned_blocks_released": (float(sum(ctx.released)), "count"),
        "spark.jobs_per_op": (per_op("spark_jobs"), "count"),
        "spark.stages_per_op": (per_op("spark_stages"), "count"),
        "spark.tasks_per_op": (per_op("spark_tasks"), "count"),
        "tracing.overhead_ratio": (result["layer"]["tracing.overhead_ratio"], "ratio"),
    }
    for layer in LAYERS:
        mine = [r for r in spans if r["layer"] == layer]
        out[f"{layer}.calls"] = (float(len(mine)), "count")
        out[f"{layer}.spark_jobs"] = (float(sum(r["spark_jobs"] for r in mine)), "count")
    for q in QUERIES:
        mine = [r for r in spans if r["name"] == f"plans.{q}"]
        for key in ("spark_jobs", "spark_tasks"):
            val = harness.median([r[key] for r in mine]) if mine else 0.0
            out[f"plans.{q}.{key}"] = (float(val), "count")
    return out


def span_detail(tracer) -> dict[str, float]:
    """Per span name: wall and self time quantiles and Spark counts."""
    from lakebench import harness

    self_t = tracer.self_times()
    by_name: dict[str, list[dict]] = {}
    for r in tracer.spans:
        by_name.setdefault(r["name"], []).append(r)
    out: dict[str, float] = {}
    for name, recs in sorted(by_name.items()):
        wall = [(r["end"] - r["start"]) * 1000 for r in recs]
        own = [self_t[r["id"]] * 1000 for r in recs]
        out[f"{name}.n"] = len(recs)
        out[f"{name}.ms_p50"] = harness.quantile(wall, 0.5)
        out[f"{name}.ms_p99"] = harness.quantile(wall, 0.99)
        out[f"{name}.self_ms_p50"] = harness.quantile(own, 0.5)
        for key in ("spark_jobs", "spark_stages", "spark_tasks"):
            out[f"{name}.{key}"] = harness.median([r[key] for r in recs])
    return out


def main(argv=None) -> int:
    args = parse(argv)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"lakebench: {PACKAGE}/ not found next to lakebench/ — run it "
              "from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import importlib

    importlib.import_module(PACKAGE)

    from lakebench import gen, harness

    work = os.path.join(ROOT, ".lakebench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    harness.configure_env(ROOT, work)
    ctx = Context(args, work, gen)
    workload = importlib.import_module(f"lakebench.wl_{args.workload}")
    spark = None
    try:
        start = time.perf_counter()
        spark = harness.build_spark(work)
        ctx.session_s = time.perf_counter() - start
        ctx.spark = spark
        ctx.tracer = harness.Tracer(spark, enabled=ctx.trace)
        result = workload.run(ctx)
        ctx.tracer.resolve_counts()
        peak = harness.peak_rss_mb(spark)
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed = result["attempted"], result["failed"]
    if ctx.trace:
        metrics = layer_metrics(ctx.tracer, result, ctx)
    else:
        metrics = {
            "setup_s": (ctx.setup_s, "s"),
            "peak_rss_mb": (peak, "MB"),
            "ops_ok_ratio": ((attempted - failed) / attempted, "ratio"),
            **result["e2e"],
        }
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "size": args.size, "setup_s": ctx.setup_s, "peak_rss_mb": peak,
        "session.build_s": ctx.session_s, "session.warmup_s": ctx.warmup_s,
        "ops_failed_ratio": failed / attempted,
        **result["detail"],
    }
    if ctx.trace:
        detail.update(span_detail(ctx.tracer))
    out_dir = os.path.join(ROOT, ".lakebench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, f"{stem}.json"), "w") as fh:
        json.dump({"detail": detail, "samples": result["samples"],
                   "spans": ctx.tracer.spans}, fh)
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({
        "correct": result["correct"],
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _stop(spark) -> None:
    """Stop Spark, then wait for the JVM and every process under it (the
    Python workers) to exit."""
    import subprocess

    from pyspark import SparkContext

    from lakebench import harness

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = harness.descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    harness.wait_gone(workers, timeout=30)


if __name__ == "__main__":
    sys.exit(main())
