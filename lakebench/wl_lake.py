"""``lake``: crawl a seeded corpus into an empty lake, serve point reads
from it over the WSGI app, and land changes in it.

Set-up includes the bulk ingest on a fresh JVM, as a command-line
``crawl --archive`` runs it (``crawl`` + ``archive_blobs``,
``write_version``, ``publish``), and a warm-up refresh cycle. Timed:
refresh cycles — changes land and the clock runs until a GET returns
the new sha1 — then, after the app is built (snapshot lookups, the
program's choice below the 1M-row guard) and warmed, an open-loop
request phase (Poisson arrivals, Zipf keys, one server thread). A traced run
adds a projection-mode lookup probe.
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import time

from ftm_datalake_spark import auth
from lakebench import harness

DATASET = "leaks"
SECRET = "lakebench-secret"
RATE = 250.0  # req/s offered, Poisson
LATENCY_LIMIT_S = 2.0  # a request slower than this counts as failed
GEN_REPEATS = 3
WARM_REQUESTS = 200
SERVE_SHARE = 0.5  # of --seconds; the refresh cycles take the rest
PROBE_LOOKUPS = 60
WARM_CYCLES = 2
MIN_REFRESH_CYCLES = 3


def _dir_bytes(root: str) -> int:
    total = 0
    for base, _dirs, names in os.walk(root):
        for n in names:
            total += os.path.getsize(os.path.join(base, n))
    return total


def _shard_path(lake: str, dataset: str, sha1: str) -> str:
    return os.path.join(lake, dataset, "archive", sha1[:2], sha1[2:4], sha1[4:6], sha1)


def check_dataset(spark, lake: str, dataset: str, manifest: dict) -> list[str]:
    """Every row matches the generated bytes, index.json agrees, every
    content hash has its archive shard."""
    from ftm_datalake_spark.pipelines.ingest import read_documents

    problems = []
    rows = {
        r["key"]: r
        for r in read_documents(spark, lake, dataset)
        .select("key", "content_hash", "size", "mimetype")
        .collect()
    }
    if set(rows) != set(manifest):
        problems.append(f"{dataset}: keys differ ({len(rows)} vs {len(manifest)})")
    for key, want in manifest.items():
        got = rows.get(key)
        if got is None:
            continue
        if (got["content_hash"], got["size"], got["mimetype"]) != (
            want["sha1"], want["size"], want["mimetype"]
        ):
            problems.append(f"{dataset}/{key}: row {tuple(got)} != {want}")
        elif not os.path.exists(_shard_path(lake, dataset, want["sha1"])):
            problems.append(f"{dataset}/{key}: no archive shard")
    with open(os.path.join(lake, dataset, "index.json")) as fh:
        index = json.load(fh)
    if index.get("entity_count") != len(manifest):
        problems.append(f"{dataset}: entity_count {index.get('entity_count')}")
    size = sum(e["size"] for e in manifest.values())
    if index.get("total_file_size") != size:
        problems.append(f"{dataset}: total_file_size {index.get('total_file_size')} != {size}")
    return problems


class Requester:
    """Drives the WSGI app in-process, as a WSGI server would, and checks
    each response after the clock has stopped."""

    def __init__(self, app, manifests: dict, tracer):
        self.app = app
        self.manifests = manifests
        self.tracer = tracer

    def call(self, req: dict) -> tuple[float, str | None]:
        """Run one request. Returns when the response was complete and
        None if it is as expected, else what is wrong."""
        kind, dataset, key = req["kind"], req["dataset"], req["key"]
        environ = {"REQUEST_METHOD": "HEAD" if kind == "head" else "GET",
                   "QUERY_STRING": "", "wsgi.input": io.BytesIO()}
        if kind == "token":
            tok = req["token"]
            if self.tracer.active():
                # the app verifies inside its own call; this timed twin
                # of that call is the auth layer's number
                with self.tracer.span("auth.verify_token", "auth"):
                    auth.verify_token(tok, SECRET)
            environ["PATH_INFO"] = "/file"
            environ["HTTP_AUTHORIZATION"] = f"Bearer {tok}"
        else:
            environ["PATH_INFO"] = f"/{dataset}/{key}"
        status: list = []

        def start_response(st, headers):
            status.append((st, dict(headers)))

        with self.tracer.span("api.request", "api"):
            body = b"".join(self.app(environ, start_response))
        done = time.perf_counter()
        return done, self._check(kind, dataset, key, status[0], body)

    def _check(self, kind, dataset, key, status, body) -> str | None:
        st, headers = status
        want = None if kind == "missing" else self.manifests[dataset].get(key)
        if want is None:
            return None if st.startswith("404") else f"{kind} {key}: {st}, want 404"
        if not st.startswith("200"):
            return f"{kind} {key}: {st}"
        if headers.get("x-ftm-datalake-sha1") != want["sha1"]:
            return f"{kind} {key}: sha1 header {headers.get('x-ftm-datalake-sha1')}"
        if headers.get("x-ftm-datalake-size") != str(want["size"]):
            return f"{kind} {key}: size header {headers.get('x-ftm-datalake-size')}"
        if kind != "head" and hashlib.sha1(body).hexdigest() != want["sha1"]:
            return f"{kind} {key}: body sha1 differs"
        return None


def wrap_app(app, tracer):
    """Span the app's own lookup and stream callables (attributes of the
    DatalakeApi instance) so api self time can be told apart from them."""
    lookup, stream = app.lookup, app.stream

    def traced_lookup(dataset, key):
        with tracer.span("serving.lookup", "serving"):
            return lookup(dataset, key)

    def traced_stream(info):
        with tracer.span("api.stream", "api"):
            return list(stream(info))

    app.lookup, app.stream = traced_lookup, traced_stream


def serve_loop(requester: Requester, schedule: list[dict], trace: bool) -> dict:
    """Open loop served by this one thread, as a single-threaded server
    would: a request starts at its due time, or when the one before it
    ends if that is later, and its latency runs from the due time, so a
    stall also charges the requests queued behind it. The thread spins
    until a due time rather than sleeping: an OS wake-up on a shared
    host takes tenths of a millisecond, longer than a request itself,
    and would be measured instead of the program."""
    results: list = []
    late: list[float] = []
    t0 = time.perf_counter()
    for i, req in enumerate(schedule):
        due = t0 + req["due"]
        while time.perf_counter() < due:
            pass
        late.append(time.perf_counter() - due)
        traced = trace and i % 2 == 0
        try:
            with requester.tracer.switch(traced):
                done, err = requester.call(req)
        except Exception as exc:  # noqa: BLE001 — counted as a failure
            done, err = time.perf_counter(), f"{type(exc).__name__}: {exc}"[:200]
        results.append((req["kind"], done - due, err, traced))
    return {"results": results, "late": late, "wall": time.perf_counter() - t0}


def _version_bytes(lake: str, version: str) -> int:
    return _dir_bytes(os.path.join(
        lake, "document_versions", f"dataset={DATASET}", f"version={version}"
    ))


def _shard_count(lake: str) -> int:
    return sum(len(n) for _b, _d, n in os.walk(os.path.join(lake, DATASET, "archive")))


class Lake:
    """One run's lake: the corpus, its manifest, and the timed calls into
    the ingest path."""

    def __init__(self, ctx, src: str, manifest: dict):
        self.ctx, self.src, self.manifest = ctx, src, manifest
        self.root = os.path.join(ctx.work, "lake")
        self.steps: dict[str, list[float]] = {}
        self.attempted = 0
        self.problems: list[str] = []
        self.cpu_clock = harness.CpuClock(ctx.spark)

    def timed(self, step: str, layer: str, fn, *args, **kwargs):
        """One public call, timed; pinned blocks are released outside
        the timing, also when the call fails."""
        self.attempted += 1
        try:
            with self.ctx.tracer.span(step, layer):
                t0 = time.perf_counter()
                out = fn(*args, **kwargs)
                self.steps.setdefault(step, []).append(time.perf_counter() - t0)
            return out
        finally:
            self.ctx.released.append(harness.release(self.ctx.spark))

    def documents(self):
        from ftm_datalake_spark.pipelines.ingest import read_documents

        return read_documents(self.ctx.spark, self.root, DATASET)

    def ingest(self, version: str, changed: int) -> dict:
        """crawl + archive_blobs + write_version + publish; checks the
        crawl counters against the generator's prediction."""
        from pyspark.sql import functions as F

        from ftm_datalake_spark.operators.versions import write_version
        from ftm_datalake_spark.pipelines.ingest import crawl, publish
        from ftm_datalake_spark.sources.archive import archive_blobs

        spark = self.ctx.spark
        counters = self.timed("ingest.crawl", "pipelines.ingest", crawl,
                              spark, self.src, DATASET, self.root)
        files = self.documents().select(
            F.concat(F.lit(self.src + "/"), F.col("key")).alias("path"), "content_hash"
        )
        self.timed("sources.archive_blobs", "sources", archive_blobs, files, self.root, DATASET)
        self.timed("versions.write_version", "operators.versions", write_version,
                   self.documents(), self.root, DATASET, version)
        self.timed("ingest.publish", "pipelines.ingest", publish, spark, self.root)
        want = {"files_total": len(self.manifest), "added_or_updated": changed,
                "not_found": 0}
        if counters != want:
            self.problems.append(f"version {version}: counters {counters} != {want}")
        return counters

    def app(self):
        from ftm_datalake_spark.api import build_app_from_documents

        # snapshot mode: the program's choice for a lake below the 1M-row guard
        return self.timed("serving.build_app", "serving", build_app_from_documents,
                          self.documents(), self.root, SECRET, lookup_mode="snapshot")

    def check(self) -> None:
        self.problems += check_dataset(self.ctx.spark, self.root, DATASET, self.manifest)


def run(ctx) -> dict:
    from ftm_datalake_spark.auth import create_access_token

    gen = ctx.gen
    # ---- set-up: the corpus (generated GEN_REPEATS times; median counts)
    gen_s = []
    for r in range(GEN_REPEATS):
        start = time.perf_counter()
        src = os.path.join(ctx.work, f"corpus-{r}", DATASET)
        manifest = gen.make_corpus(src, ctx.seed, ctx.n_files)
        gen_s.append(time.perf_counter() - start)
    lake = Lake(ctx, src, manifest)
    source_bytes = gen.corpus_bytes(manifest)

    # ---- set-up: bulk ingest into an empty lake, on a fresh JVM as a
    # command-line `crawl --archive` runs it
    start = time.perf_counter()
    lake.ingest("v0000", changed=len(manifest))
    bulk_s = time.perf_counter() - start
    bulk_steps = {k: sum(v) for k, v in lake.steps.items()}
    pause = time.perf_counter()
    lake.check()
    lake_ratio = _dir_bytes(lake.root) / source_bytes
    bulk_version_bytes = _version_bytes(lake.root, "v0000")
    written_ratio = _shard_count(lake.root) / len(manifest)

    # ---- set-up: warm-up refresh cycles (the refresh path keeps getting
    # faster for several cycles as the JIT warms)
    resume = time.perf_counter()
    for cycle in range(WARM_CYCLES):
        refresh(lake, cycle)
    warm_cycles_s = time.perf_counter() - resume

    # ---- timed: refresh cycles until SERVE_SHARE of --seconds is left
    serve_s = SERVE_SHARE * ctx.seconds
    refresh_end = time.perf_counter() + ctx.seconds - serve_s
    steal = harness.StealMeter()
    lake.steps.clear()
    cycles = []
    while time.perf_counter() < refresh_end or len(cycles) < MIN_REFRESH_CYCLES:
        cycles.append(refresh(lake, WARM_CYCLES + len(cycles)))
    step_medians = {k: harness.median(v) for k, v in lake.steps.items()}

    # ---- set-up of the serve phase: the app over the refreshed lake,
    # the request schedules, warm-up requests
    resume = time.perf_counter()
    app = lake.app()
    wrap_app(app, ctx.tracer)
    requester = Requester(app, {DATASET: manifest}, ctx.tracer)
    keys = [(DATASET, k) for k in sorted(manifest)]
    warm = gen.make_schedule(ctx.seed + 1, keys, RATE, WARM_REQUESTS / RATE)
    schedule = gen.make_schedule(ctx.seed, keys, RATE, serve_s)
    for req in warm + schedule:
        if req["kind"] == "token":
            req["token"] = create_access_token(req["dataset"], req["key"], SECRET)
    for req in warm:
        lake.attempted += 1
        _done, err = requester.call(req)
        if err:
            lake.problems.append(f"warm-up {err}")
    ctx.warmup_s = warm_cycles_s + time.perf_counter() - resume
    ctx.setup_s = ctx.session_s + harness.median(gen_s) + (pause - start) + ctx.warmup_s

    # ---- timed: open-loop requests for SERVE_SHARE of --seconds
    served = serve_loop(requester, schedule, ctx.trace)
    latencies, by_kind, over_limit = [], {}, 0
    lat_traced, lat_plain = [], []
    for kind, latency, err, traced in served["results"]:
        lake.attempted += 1
        latencies.append(latency)
        by_kind.setdefault(kind, []).append(latency)
        (lat_traced if traced else lat_plain).append(latency)
        if err:
            lake.problems.append(err)
        elif latency > LATENCY_LIMIT_S:
            over_limit += 1

    ms = [x * 1000 for x in latencies]
    e2e = {
        "batch_s": (harness.median([c["refresh_s"] for c in cycles]), "s"),
        "step_s_geomean": (harness.geomean(step_medians.values()), "s"),
    }
    detail = {
        "ingest.files": len(manifest),
        "ingest.source_bytes": source_bytes,
        "ingest.bulk_s": bulk_s,
        "ingest.bulk_files_per_s": len(manifest) / (
            bulk_steps["ingest.crawl"] + bulk_steps["sources.archive_blobs"]
        ),
        "ingest.lake_bytes_per_source_byte": lake_ratio,
        "sources.bulk_archive_written_ratio": written_ratio,
        "serve.requests": len(latencies),
        "serve.latency_ms_p50": harness.quantile(ms, 0.5),
        "serve.latency_ms_p90": harness.quantile(ms, 0.9),
        "serve.latency_ms_p99": harness.quantile(ms, 0.99),
        "serve.over_limit": over_limit,
        "serve.wall_s": served["wall"],
        "serve.generator_late_ms_p99": harness.quantile(served["late"], 0.99) * 1000,
        "serving.hit_ratio": 1 - len(by_kind.get("missing", [])) / len(latencies),
    }
    for step, total in bulk_steps.items():
        detail[f"bulk.{step}.s"] = total
    detail.update({
        "serve.refresh_s": harness.median([c["refresh_s"] for c in cycles]),
        "serve.refresh_cpu_s": harness.median([c["refresh_cpu_s"] for c in cycles]),
        "refresh.cycles": len(cycles),
        "host.steal_share": steal.share(),
        "ingest.cycle_s_p50": harness.median([c["cycle_s"] for c in cycles]),
        "ingest.changed_ratio": harness.median([c["changed_ratio"] for c in cycles]),
        "sources.archive_written_ratio": harness.median(
            [c["written_ratio"] for c in cycles]
        ),
        "versions.bytes_per_version": harness.median(
            [bulk_version_bytes] + [c["version_bytes"] for c in cycles]
        ),
    })
    for step, m in step_medians.items():
        detail[f"refresh.{step}.s_p50"] = m
    for kind, vals in sorted(by_kind.items()):
        detail[f"serve.{kind}.latency_ms_p50"] = harness.quantile(vals, 0.5) * 1000

    layer = {}
    if ctx.trace:
        layer["tracing.overhead_ratio"] = (
            harness.median(lat_traced) / harness.median(lat_plain)
        )
        detail.update(projection_probe(lake, keys))

    if lake.problems:
        detail["problems"] = lake.problems[:20]
    return {
        "correct": not lake.problems,
        "attempted": lake.attempted,
        "failed": len(lake.problems) + over_limit,
        "samples": {"request_ms": ms, "request_kind": [k for k, *_ in served["results"]],
                    "refresh_s": [c["refresh_s"] for c in cycles],
                    "refresh_cpu_s": [c["refresh_cpu_s"] for c in cycles]},
        "e2e": e2e,
        "layer": layer,
        "detail": detail,
    }


def projection_probe(lake: Lake, keys: list) -> dict:
    """Traced runs only: the projection-mode point read, the path for
    lakes above the snapshot guard. One Spark job per lookup, whose
    latency keeps falling for about a thousand calls as the JIT warms —
    longer than an untraced run can wait, so it is reported here without
    a gate."""
    from ftm_datalake_spark.serving import build_lookup_projection, make_projection_lookup

    spark = lake.ctx.spark
    proj = os.path.join(lake.ctx.work, "projection")
    documents = spark.read.parquet(os.path.join(lake.root, "documents"))
    start = time.perf_counter()
    lake.timed("serving.build_lookup_projection", "serving", build_lookup_projection,
               documents, proj)
    build_s = time.perf_counter() - start
    lookup = make_projection_lookup(spark, proj)
    sample = keys[:PROBE_LOOKUPS]
    for dataset, key in sample:
        lookup(dataset, key)  # warm-up
    lat = []
    for dataset, key in sample:
        t0 = time.perf_counter()
        info = lake.timed("serving.projection_lookup", "serving", lookup, dataset, key)
        lat.append((time.perf_counter() - t0) * 1000)
        if info is None or info["content_hash"] != lake.manifest[key]["sha1"]:
            lake.problems.append(f"projection lookup {key}: {info}")
    return {
        "serving.projection_build_s": build_s,
        "serving.projection_lookup_ms_p50": harness.quantile(lat, 0.5),
        "serving.projection_lookup_ms_p90": harness.quantile(lat, 0.9),
    }


def refresh(lake: Lake, cycle: int) -> dict:
    """One batch of changes lands (2% of the files rewritten, 1% added),
    and the clock runs until a reader sees it: crawl, archive_blobs,
    write_version, publish, a new snapshot app, and the first GET of a
    rewritten key, which must return its new sha1."""
    ctx = lake.ctx
    changed = ctx.gen.mutate_corpus(lake.src, lake.manifest, ctx.seed, cycle)
    before = _shard_count(lake.root)
    cpu0 = lake.cpu_clock()
    start = time.perf_counter()
    version = f"v{cycle + 1:04d}"
    counters = lake.ingest(version, changed=len(changed))
    cycle_s = time.perf_counter() - start
    requester = Requester(lake.app(), {DATASET: lake.manifest}, ctx.tracer)
    _done, err = lake.timed("api.first_get", "api", requester.call,
                            {"kind": "get", "dataset": DATASET, "key": changed[0]})
    refresh_s = time.perf_counter() - start
    refresh_cpu_s = lake.cpu_clock() - cpu0
    if err:
        lake.problems.append(f"refresh {err}")
    lake.check()
    return {
        "cycle_s": cycle_s,
        "refresh_s": refresh_s,
        "refresh_cpu_s": refresh_cpu_s,
        "changed_ratio": counters["added_or_updated"] / counters["files_total"],
        # new shards ÷ rows offered (archive_blobs is driven by the table)
        "written_ratio": (_shard_count(lake.root) - before) / len(lake.manifest),
        "version_bytes": _version_bytes(lake.root, version),
    }
