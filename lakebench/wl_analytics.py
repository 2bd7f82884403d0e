"""``analytics``: the 16 headline registry queries, by name, in a fixed
order, over seeded TPC-H-shaped tables, written to the noop sink.

Set-up builds the session, generates the tables, runs one untimed
pass that collects every query and compares it with its DuckDB oracle,
and one untimed sequential warm-up pass like the timed ones (JIT
warm-up). The timed part then runs whole passes until the time budget
is spent.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

from lakebench import harness

# Pinned by name: the set bench.py times today (bench=True), so
# per-query history stays comparable even if registry flags move.
QUERIES = (
    "ann_cosine_topk",
    "corpus_curation",
    "corpus_curation_v2",
    "corpus_pipeline_e2e",
    "dedup_common_segments",
    "dedup_exact",
    "dedup_minhash_lsh",
    "docs_merge_upsert",
    "embedding_kmeans",
    "er_blocked_matches",
    "events_sessionize",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "statement_aggregation",
    "statement_aggregation_wide",
)
GEN_REPEATS = 3
WORKERS = 4
WARM_PASSES = 1


def oracle_frame(sf_dir: str, sql: str):
    import duckdb

    from ftm_datalake_spark.schemas import TEST_TABLES

    con = duckdb.connect()
    try:
        for t in TEST_TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return con.execute(sql).df()
    finally:
        con.close()


def _canonical(df):
    import pandas as pd

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def matches_oracle(spark_df, oracle_df) -> str | None:
    """None when equal (columns by name, rows in any order, exact
    values, same dtype kinds); otherwise why not."""
    import pandas as pd

    s, o = _canonical(spark_df), _canonical(oracle_df)
    if list(s.columns) != list(o.columns):
        return f"columns {list(s.columns)} != {list(o.columns)}"
    if len(s) != len(o):
        return f"rows {len(s)} != {len(o)}"
    if len(s) == 0:
        return "empty result"
    for c in s.columns:
        if s[c].dtype.kind != o[c].dtype.kind:
            return f"dtype of {c}: {s[c].dtype} != {o[c].dtype}"
    try:
        pd.testing.assert_frame_equal(s, o, check_dtype=False, check_exact=True)
    except AssertionError as exc:
        return str(exc).splitlines()[0][:200]
    return None


def run(ctx) -> dict:
    from ftm_datalake_spark.plans import REGISTRY

    spark, tracer = ctx.spark, ctx.tracer
    gen_s = []
    for r in range(GEN_REPEATS):
        start = time.perf_counter()
        sf_dir = os.path.join(ctx.work, f"tables-{r}")
        rows = ctx.gen.make_tables(sf_dir, ctx.seed, scale=ctx.scale)
        gen_s.append(time.perf_counter() - start)

    # untimed correctness pass on WORKERS threads: a first execution is
    # mostly single-threaded driver work (planning, codegen, JIT), so
    # overlapping queries shortens set-up. Pinned blocks are released
    # once all are done, never under a running query.
    start = time.perf_counter()

    def check(name: str) -> str | None:
        spec = REGISTRY[name]
        try:
            got = spec.builder(spark, sf_dir).toPandas()
            return matches_oracle(got, oracle_frame(sf_dir, spec.oracle))
        except Exception as exc:  # noqa: BLE001 — counted, reported
            return f"{type(exc).__name__}: {exc}"[:200]

    with ThreadPoolExecutor(WORKERS) as pool:
        verdicts = dict(zip(QUERIES, pool.map(check, QUERIES)))
    ctx.released.append(harness.release(spark))
    mismatches = {q: why for q, why in verdicts.items() if why}

    errors: dict[str, str] = {}
    attempted, n_errors = len(QUERIES), 0
    cpu_clock = harness.CpuClock(spark)

    def one_pass(traced: set[str]) -> tuple[dict[str, float], float]:
        """The 16 queries in order, each to the noop sink, those in
        ``traced`` under spans; returns each query's time and the pass's
        CPU seconds."""
        nonlocal attempted, n_errors
        times: dict[str, float] = {}
        cpu0 = cpu_clock()
        for name in QUERIES:
            attempted += 1
            builder = REGISTRY[name].builder
            try:
                with tracer.switch(name in traced), tracer.span(f"plans.{name}", "plans"):
                    t0 = time.perf_counter()
                    builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
                    times[name] = time.perf_counter() - t0
            except Exception as exc:  # noqa: BLE001 — counted, reported
                n_errors += 1
                errors[name] = f"{type(exc).__name__}: {exc}"[:200]
            finally:
                ctx.released.append(harness.release(spark))
        return times, cpu_clock() - cpu0

    # untimed sequential warm-up passes: run in parallel, the check pass
    # leaves most of the JIT work of a sequential pass undone (the first
    # sequential pass after it still takes ~1.7x the CPU of a warm one)
    for _ in range(WARM_PASSES):
        one_pass(traced=set())
    warmup_s = time.perf_counter() - start
    ctx.setup_s = ctx.session_s + harness.median(gen_s) + warmup_s
    ctx.warmup_s = warmup_s

    # timed: whole passes until --seconds have been measured. A traced
    # run traces every other query, the other half in the next pass, so
    # each query runs once each way and later passes being faster (JIT)
    # does not bias the overhead ratio.
    per_query: dict[str, list[float]] = {q: [] for q in QUERIES}
    passes: list[float] = []
    traced_s: dict[str, list[float]] = {q: [] for q in QUERIES}
    plain_s: dict[str, list[float]] = {q: [] for q in QUERIES}
    pass_cpu: list[float] = []
    steal = harness.StealMeter()
    budget_end = time.perf_counter() + ctx.seconds
    while time.perf_counter() < budget_end or len(passes) < (2 if ctx.trace else 1):
        traced = {q for i, q in enumerate(QUERIES) if ctx.trace and (i + len(passes)) % 2 == 0}
        times, cpu = one_pass(traced)
        for name, t in times.items():
            per_query[name].append(t)
            (traced_s if name in traced else plain_s)[name].append(t)
        passes.append(sum(times.values()))
        pass_cpu.append(cpu)

    failed = len(mismatches) + n_errors
    medians = {q: harness.median(v) for q, v in per_query.items() if v}
    # the op a user of this workload waits for is a whole pass; single
    # query times are summarised by the geometric mean (the median of a
    # run's samples of 16 different queries falls in gaps between them)
    e2e = {
        "batch_s": (harness.median(passes), "s"),
        "step_s_geomean": (harness.geomean(medians.values()), "s"),
    }
    detail = {
        "analytics.pass_s_p50": harness.median(passes),
        "analytics.query_s_geomean": harness.geomean(medians.values()),
        "analytics.passes": len(passes),
        "analytics.pass_cpu_s_p50": harness.median(pass_cpu),
        "host.steal_share": steal.share(),
        "analytics.table_rows": rows,
        "session.pinned_blocks_released": sum(ctx.released),
    }
    for q, m in medians.items():
        detail[f"plans.{q}.s_p50"] = m
    if mismatches:
        detail["mismatches"] = mismatches
    if errors:
        detail["errors"] = errors
    layer = {}
    if ctx.trace:
        both = [q for q in QUERIES if traced_s[q] and plain_s[q]]
        layer["tracing.overhead_ratio"] = (
            sum(harness.median(traced_s[q]) for q in both)
            / sum(harness.median(plain_s[q]) for q in both)
        )
    return {
        "correct": not mismatches and not errors,
        "samples": {"query_s": per_query, "pass_s": passes, "pass_cpu_s": pass_cpu},
        "attempted": attempted,
        "failed": failed,
        "e2e": e2e,
        "layer": layer,
        "detail": detail,
    }
