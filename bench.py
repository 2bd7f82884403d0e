#!/usr/bin/env python
"""Benchmark harness: runs the headline (bench=True) registry queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Timing uses the noop sink so we measure the full distributed plan without
collect-to-driver overhead.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    match = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(match.group(1)) if match else None

    from ftm_datalake_spark.session import build_session, release_pinned_blocks

    spark = build_session(
        app_name="ftm-datalake-spark-bench",
        master=f"local[{cpus}]",
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "16g"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    from ftm_datalake_spark.plans import REGISTRY

    # Host-speed canary: a fixed, data-independent workload (hash-agg over
    # a generated range — one shuffle, no I/O). Cross-round query times on
    # this shared host vary with tenancy; the canary measures the host, so
    # a round-over-round comparison can separate "plan got slower" from
    # "machine got slower". Best-of-2 after a warmup.
    from pyspark.sql import functions as F

    def canary() -> float:
        start = time.perf_counter()
        (
            spark.range(0, 100_000_000, 1, 32)
            .groupBy((F.col("id") % 4096).alias("k"))
            .agg(F.sum(F.hash("id").cast("long")).alias("s"))
            .write.format("noop").mode("overwrite").save()
        )
        return round(time.perf_counter() - start, 3)

    # Bench order pinned BY NAME (VERDICT r14 #2): bench.py used to
    # iterate REGISTRY.values(), whose order plans/evidence.py reorders
    # each round for the driver's correctness-sample prefix — the r14
    # rotation silently moved docs_merge_upsert into the cold-JVM first
    # slot and poisoned its round-over-round comparison. Sorting by
    # name decouples bench execution order from evidence rotation
    # permanently: the same 16 queries always run in the same order.
    bench_specs = sorted(
        (s for s in REGISTRY.values() if s.bench), key=lambda s: s.name
    )

    # Suite-level warm pass (r15 measurement-bug fix, declared in
    # OPTIMIZATION_r15.md): the first ~30 s of a fresh session run
    # 2-4× slow while the JVM JIT-compiles the Spark/Parquet/codegen
    # stack, and the per-query warm run is NOT enough — whichever
    # queries land in the first 2-3 slots keep that tax in ALL their
    # timed samples (measured: slot-1 ann_cosine_topk 3.30 s vs 0.77 s
    # steady-state, every sample slow; r14's driver run had the same
    # artifact on docs_merge_upsert). The canary cannot catch it
    # because a range→groupBy doesn't exercise the scan paths. One
    # untimed pass over every bench builder moves the warmup OUTSIDE
    # all timed regions, so per-slot times measure the plan, not the
    # slot position. Fault-tolerant like the main loop.
    for spec in bench_specs:
        try:
            spec.builder(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception:  # noqa: BLE001 — the timed loop records the error
            pass
        release_pinned_blocks(spark)

    canary()  # warm
    canary_sec = min(canary(), canary())  # pre-suite canary (kept name: round comparability)
    timings: dict[str, float] = {}
    spreads: dict[str, dict[str, float]] = {}
    errors: dict[str, str] = {}
    # Interleaved canaries (VERDICT r11 next-round #2): a single
    # pre/post pair is blind to MID-run host drift — r11's driver host
    # ran ~2× slow for the first half of the suite (pre 0.915 / post
    # 0.459), min(pre,post) picked the fast tail, and the "normalized"
    # total overstated a flat result by 44%. One canary before each
    # query gives every measurement a nearest host-speed reading;
    # each query normalizes by min(canary_before, canary_after), the
    # window its best-of-N minimum was actually taken in.
    canaries: list[float] = [canary_sec]
    # Per-query bracketing canary: the faster of the two host-speed
    # readings around the window the query's recorded minimum came
    # from. Kept as a dict (not list indexing) so the outlier-resample
    # pass below can update a single query's window without disturbing
    # its neighbours'.
    win: dict[str, float] = {}
    for spec in bench_specs:
        # Fault isolation: one broken builder must not lose the whole
        # artifact — record its error and keep timing the rest.
        try:
            df = spec.builder(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()  # warm: plan + JIT + cache
            # Best-of-N with early stop: the host shows bursty CPU-starvation
            # windows (identical runs vary 1.5s..100s), so take the minimum of
            # up to 3 runs and stop as soon as a clean run is observed. The
            # per-run samples are reported too, so a regression is
            # attributable (real slowdown shows in EVERY sample; host noise
            # shows as spread).
            samples: list[float] = []
            for attempt in range(4):
                start = time.perf_counter()
                spec.builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
                samples.append(round(time.perf_counter() - start, 3))
                if attempt >= 2 and min(samples) < 5.0:
                    break
            timings[spec.name] = min(samples)
            spreads[spec.name] = {
                "min": min(samples),
                "max": max(samples),
                "n": len(samples),
            }
        except Exception as exc:  # noqa: BLE001 — bench must always emit JSON
            errors[spec.name] = f"{type(exc).__name__}: {exc}"[:500]
        # Between queries (OUTSIDE every timed region): deterministically
        # release the pinned blocks this query's localCheckpoints left.
        # The ContextCleaner frees them only on a JVM GC, which a large
        # idle driver heap may not run for hundreds of queries — r14
        # measured a long session accumulating blocks until storage
        # eviction slowed late queries 10-20×. Each sample re-builds its
        # own checkpoints, so releasing here changes no measurement's
        # work — it stops query N's leftovers from taxing query N+1.
        release_pinned_blocks(spark)
        canaries.append(canary())  # host-speed reading after this query
        win[spec.name] = min(canaries[-2], canaries[-1])

    def _median(vals: list[float]) -> float:
        s = sorted(vals)
        mid = len(s) // 2
        return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2

    # Canary-outlier resample (VERDICT r13 #4, ordered again by VERDICT
    # r14 #1): a query whose whole measurement window was host-starved
    # (both bracketing canaries > 2× the run's median canary) gets ONE
    # extra timed sample at the end of the suite, when the host/JVM has
    # settled. The r14 driver run produced exactly this artifact —
    # corpus_curation 3.0 s in a drift-12.9 window vs 0.62 s on the
    # same driver at 8 cores. The resample can only ADD a sample (min
    # over all samples is kept), so a genuinely slow plan keeps its
    # honest number; only starved-window noise is corrected.
    canary_median_main = _median(canaries)
    resampled: list[str] = []
    for spec in bench_specs:
        if spec.name not in timings:
            continue
        if win[spec.name] <= 2.0 * canary_median_main:
            continue
        try:
            c_before = canary()
            start = time.perf_counter()
            try:
                spec.builder(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                t = round(time.perf_counter() - start, 3)
            finally:
                # a query that fails partway must not leave its pinned
                # blocks for the next resample
                release_pinned_blocks(spark)
            c_after = canary()
            canaries.extend([c_before, c_after])
            sp = spreads[spec.name]
            sp["n"] += 1
            sp["max"] = max(sp["max"], t)
            if t < timings[spec.name]:
                timings[spec.name] = t
                sp["min"] = t
                win[spec.name] = min(c_before, c_after)
            resampled.append(spec.name)
        except Exception:  # noqa: BLE001 — resample is best-effort
            pass

    # Post-suite canary: paired with the pre-suite one, this separates
    # "host slowed down during the run" (pre != post) from a stable-host
    # round-over-round comparison (pre ≈ post → normalize by either).
    canary_post_sec = min(canary(), canary())
    canaries.append(canary_post_sec)

    # Canary normalization (VERDICT r9 #5): host tenancy on this shared
    # box moves ALL timings by 30-40% between runs; the canary measures
    # the host, so total × (ref_canary / observed_canary) reports what
    # the suite would cost on the reference host. ref_canary is pinned
    # in BASELINE.json (r8's post-suite canary, the round the judge
    # anchored per-query comparisons to); observed = min(pre, post) to
    # match the best-of-N per-query minima. The raw total is still the
    # primary `value` — normalization is the attribution aid, not a
    # replacement measurement (rule stated in SCALING.md §round-10).
    ref_canary = 0.491
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "BASELINE.json")
        ) as fh:
            ref_canary = float(
                json.load(fh).get("ref_canary_sec", ref_canary)
            )
    except Exception:
        pass
    # Per-query normalization by the NEAREST canaries: each query's
    # recorded minimum came from the fastest moment of its measurement
    # window, so normalize by the faster of the two canary readings
    # bracketing THAT window (`win`, updated by the resample pass when
    # a resample produced the new minimum). The normalized total is the
    # sum of per-query normalized values — mid-run drift scales only
    # the queries it actually overlapped (the r11 failure mode).
    queries_normalized: dict[str, float] = {}
    for spec in bench_specs:
        if spec.name not in timings:
            continue
        nearest = win.get(spec.name)
        if nearest:
            queries_normalized[spec.name] = round(
                timings[spec.name] * (ref_canary / nearest), 3
            )

    total = round(sum(timings.values()), 3)
    detail = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_normalized": queries_normalized,
        "spread": spreads,
        "canary_sec": canary_sec,
        "canary_post_sec": canary_post_sec,
        "canaries": canaries,
        # drift indicator: >~1.5 means the host speed moved during the
        # run and the raw total is not comparable across rounds — read
        # queries_normalized instead
        "canary_drift_ratio": round(max(canaries) / min(canaries), 3)
        if min(canaries)
        else None,
        "canary_median_sec": round(_median(canaries), 3),
        "resampled": resampled,
        "ref_canary_sec": ref_canary,
        "value_normalized": round(sum(queries_normalized.values()), 3)
        if queries_normalized
        else None,
        "sf": sf,
    }
    if errors:
        detail["errors"] = errors

    # Two-artifact output (VERDICT r12 #1): the driver's permanent
    # record keeps only a ~2,000-char stdout tail, and r12's canary
    # series pushed the single JSON line past it — BENCH_r12.json
    # recorded `parsed: null` with the raw total truncated away. So
    # the full per-query/spread/canary detail goes to a SIDECAR file
    # (BENCH_DETAIL.json next to this script, or $BENCH_DETAIL_OUT;
    # the round workflow copies it to BENCH_LOCAL_r{N}.json), and
    # stdout gets ONE COMPACT summary line (< 1 kB) printed LAST so
    # the tail capture always contains a parseable object carrying
    # the raw total.
    detail_path = os.environ.get(
        "BENCH_DETAIL_OUT",
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
        ),
    )
    try:
        with open(detail_path, "w") as fh:
            json.dump(detail, fh)
            fh.write("\n")
    except OSError:
        pass  # a read-only checkout still gets the compact line

    print(json.dumps(make_compact(detail)))
    spark.stop()


def make_compact(detail: dict) -> dict:
    """The driver-facing summary: everything a permanent record needs
    (raw total, per-query raw seconds, normalized total, drift ratio)
    in well under the ~2,000-char stdout tail the driver keeps —
    size-bound pinned by tests/test_bench_compact.py."""
    compact = {
        "metric": detail["metric"],
        "value": detail["value"],
        "unit": "sec",
        "queries": detail["queries"],
        "sf": detail["sf"],
        "value_normalized": detail["value_normalized"],
        "canary_drift_ratio": detail["canary_drift_ratio"],
        "canary_median_sec": detail["canary_median_sec"],
        "ref_canary_sec": detail["ref_canary_sec"],
    }
    errors = detail.get("errors")
    if errors:
        compact["errors"] = {k: v[:80] for k, v in errors.items()}
    return compact


if __name__ == "__main__":
    main()
