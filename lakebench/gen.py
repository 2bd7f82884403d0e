"""Seeded input generators. Every input of a run comes from here, so the
same seed gives byte-identical corpora, tables and request schedules.

Nothing in this module touches Spark or the program under test.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import os
import random

# 8 extensions spread over the FTM schemata the program maps them to
# (Pages, Table, PlainText, HyperText, Email, Image, Document). The
# mimetypes are the IANA types; the benchmark checks the program's
# guesses against this table, not against the program's own map.
EXTENSIONS = {
    "pdf": "application/pdf",
    "docx": "application/vnd.openxmlformats-officedocument.wordprocessingml.document",
    "csv": "text/csv",
    "txt": "text/plain",
    "html": "text/html",
    "eml": "message/rfc822",
    "jpg": "image/jpeg",
    "json": "application/json",
}
SIZE_CAP = 64 * 1024
BASE_MTIME = 1_600_000_000  # fixed epoch: change detection never reads the clock


def _file_bytes(rng: random.Random) -> bytes:
    """~1% zero-length files; the rest lognormal sizes, median ~1 KB,
    capped at 64 KB."""
    if rng.random() < 0.01:
        return b""
    size = min(max(int(rng.lognormvariate(math.log(1024), 1.0)), 1), SIZE_CAP)
    return rng.randbytes(size)


def _write(path: str, data: bytes, mtime: int) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as fh:
        fh.write(data)
    os.utime(path, (mtime, mtime))


def _new_key(rng: random.Random, serial: int) -> str:
    ext = rng.choice(sorted(EXTENSIONS))
    depth = rng.randint(1, 3)
    dirs = [f"d{rng.randint(0, 7)}" for _ in range(depth)]
    return "/".join(dirs + [f"file-{serial:06d}.{ext}"])


def make_corpus(root: str, seed: int, n_files: int) -> dict[str, dict]:
    """Write ``n_files`` files under ``root`` (nested dirs, seeded
    content and mtimes). Returns the manifest ``key -> {sha1, size,
    mimetype, mtime}`` the checks compare the lake against."""
    rng = random.Random(f"corpus-{seed}")
    manifest: dict[str, dict] = {}
    for serial in range(n_files):
        key = _new_key(rng, serial)
        data = _file_bytes(rng)
        mtime = BASE_MTIME + serial
        _write(os.path.join(root, key), data, mtime)
        manifest[key] = _entry(key, data, mtime)
    return manifest


def _entry(key: str, data: bytes, mtime: int) -> dict:
    return {
        "sha1": hashlib.sha1(data).hexdigest(),
        "size": len(data),
        "mimetype": EXTENSIONS[key.rsplit(".", 1)[1]],
        "mtime": mtime,
    }


def mutate_corpus(
    root: str,
    manifest: dict[str, dict],
    seed: int,
    cycle: int,
    rewrite: float = 0.02,
    add: float = 0.01,
) -> list[str]:
    """One incremental step: rewrite ``rewrite`` of the existing files and
    add ``add`` new ones, every touched file with an explicit mtime later
    than any before it. Updates ``manifest`` in place and returns the
    changed keys (the crawl must report exactly these)."""
    rng = random.Random(f"mutate-{seed}-{cycle}")
    keys = sorted(manifest)
    n_rewrite = max(1, round(len(keys) * rewrite))
    n_add = max(1, round(len(keys) * add))
    mtime = BASE_MTIME + 10_000_000 * (cycle + 1)
    changed = rng.sample(keys, n_rewrite)
    for key in changed:
        # never empty on rewrite, so every rewrite changes the sha1
        data = rng.randbytes(max(1, len(_file_bytes(rng))))
        _write(os.path.join(root, key), data, mtime)
        manifest[key] = _entry(key, data, mtime)
    serial = len(keys) + cycle * 1_000_000
    for i in range(n_add):
        key = _new_key(rng, serial + i)
        data = _file_bytes(rng)
        _write(os.path.join(root, key), data, mtime)
        manifest[key] = _entry(key, data, mtime)
        changed.append(key)
    return changed


def corpus_bytes(manifest: dict[str, dict]) -> int:
    return sum(e["size"] for e in manifest.values())


# ---------------------------------------------------------------- tables
# TPC-H-shaped star schema plus events / documents / embeddings, in the
# column names and physical types the registry queries read. ``scale``
# 1.0 is the shape of the sf0.01 test tables (60k lineitem rows).

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_P_ADJ = ["small", "red", "blue", "green", "large", "shiny", "old", "new"]
_P_NOUN = ["ring", "widget", "bolt", "gear", "panel", "valve", "spring", "cable"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en"] * 9 + ["de", "de", "es", "es", "fr", "fr", "zh", "zh", "zh"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_DAY0 = dt.datetime(1995, 1, 1)
_EVENT0 = dt.datetime(2024, 1, 1)


def _cents(rng: random.Random, lo: float, hi: float) -> float:
    return round(rng.uniform(lo, hi), 2)


def make_tables(out_dir: str, seed: int, scale: float = 1.0) -> dict[str, int]:
    """Write the ten registry tables as ``<out_dir>/<name>.parquet``;
    returns row counts."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(f"tables-{seed}")
    n_cust = max(50, int(1500 * scale))
    n_supp = max(25, int(100 * scale))
    n_part = max(50, int(2000 * scale))
    n_ord = max(200, int(15000 * scale))
    n_ev = max(500, int(10000 * scale))
    n_users = max(10, int(150 * scale))
    n_docs = max(100, int(500 * scale))
    n_vec = max(100, int(500 * scale))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    tables: dict[str, pa.Table] = {}

    def table(name: str, cols: dict[str, tuple[list, pa.DataType]]) -> None:
        tables[name] = pa.table(
            {c: pa.array(v, type=t) for c, (v, t) in cols.items()}
        )

    table("region", {
        "r_regionkey": (list(range(5)), i32),
        "r_name": (_REGIONS, s),
    })
    table("nation", {
        "n_nationkey": (list(range(25)), i32),
        "n_name": ([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": ([i % 5 for i in range(25)], i32),
    })
    table("customer", {
        "c_custkey": (list(range(n_cust)), i64),
        "c_name": ([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": ([rng.randrange(25) for _ in range(n_cust)], i32),
        "c_acctbal": ([_cents(rng, -999.99, 9999.99) for _ in range(n_cust)], f64),
        "c_mktsegment": ([rng.choice(_SEGMENTS) for _ in range(n_cust)], s),
    })
    table("supplier", {
        "s_suppkey": (list(range(n_supp)), i64),
        "s_name": ([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        # every nation has a supplier, so the nation-matched joins
        # (q5_region_revenue) never come back empty at small scales
        "s_nationkey": (
            [i if i < 25 else rng.randrange(25) for i in range(n_supp)], i32
        ),
        "s_acctbal": ([_cents(rng, -999.99, 9999.99) for _ in range(n_supp)], f64),
    })
    table("part", {
        "p_partkey": (list(range(n_part)), i64),
        "p_name": (
            [f"{rng.choice(_P_ADJ)} {rng.choice(_P_NOUN)}" for _ in range(n_part)], s
        ),
        "p_brand": ([f"Brand#{rng.randint(1, 25)}" for _ in range(n_part)], s),
        "p_type": ([rng.choice(_P_TYPES) for _ in range(n_part)], s),
        "p_size": ([rng.randint(1, 50) for _ in range(n_part)], i32),
        "p_retailprice": ([900 + (i % 1000) / 10 for i in range(n_part)], f64),
    })
    odates = [_DAY0 + dt.timedelta(days=rng.randrange(2400)) for _ in range(n_ord)]
    table("orders", {
        "o_orderkey": (list(range(n_ord)), i64),
        "o_custkey": ([rng.randrange(n_cust) for _ in range(n_ord)], i64),
        "o_orderstatus": ([rng.choice("FOP") for _ in range(n_ord)], s),
        "o_totalprice": ([_cents(rng, 1000, 500000) for _ in range(n_ord)], f64),
        "o_orderdate": (odates, ts),
        "o_orderpriority": ([rng.choice(_PRIORITIES) for _ in range(n_ord)], s),
    })
    # lineitem, vectorised: ~4 lines per order
    nrng = np.random.default_rng(seed)
    per_order = nrng.integers(1, 8, size=n_ord)
    n_li = int(per_order.sum())
    l_order = np.repeat(np.arange(n_ord), per_order)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    odate_us = np.array(odates, dtype="datetime64[us]")
    ship = odate_us[l_order] + nrng.integers(1, 122, size=n_li).astype(
        "timedelta64[D]"
    ).astype("timedelta64[us]")
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, type=i64),
        "l_partkey": pa.array(nrng.integers(0, n_part, size=n_li), type=i64),
        "l_suppkey": pa.array(nrng.integers(0, n_supp, size=n_li), type=i64),
        "l_linenumber": pa.array(np.arange(n_li) - starts + 1, type=i32),
        "l_quantity": pa.array(nrng.integers(1, 51, size=n_li).astype(float), type=f64),
        "l_extendedprice": pa.array(nrng.integers(90000, 10500001, size=n_li) / 100, type=f64),
        "l_discount": pa.array(nrng.integers(0, 11, size=n_li) / 100, type=f64),
        "l_tax": pa.array(nrng.integers(0, 9, size=n_li) / 100, type=f64),
        "l_returnflag": pa.array(np.array(list("ANR"))[nrng.integers(0, 3, size=n_li)], type=s),
        "l_linestatus": pa.array(np.array(list("FO"))[nrng.integers(0, 2, size=n_li)], type=s),
        "l_shipdate": pa.array(ship, type=ts),
    })
    t, ev_ts = _EVENT0, []
    for _ in range(n_ev):
        t += dt.timedelta(microseconds=int(rng.expovariate(1 / 259e6)))
        ev_ts.append(t)
    table("events", {
        "event_id": (list(range(n_ev)), i64),
        "ts": (ev_ts, ts),
        "user_id": ([rng.randrange(n_users) for _ in range(n_ev)], i64),
        "event_type": ([rng.choice(_EVENT_TYPES) for _ in range(n_ev)], s),
        "value": ([max(0.01, round(rng.expovariate(1 / 50), 2)) for _ in range(n_ev)], f64),
        "props": ([f'{{"k": {rng.randrange(100)}}}' for _ in range(n_ev)], s),
    })
    texts = []
    for d in range(n_docs):
        if d >= 10 and rng.random() < 0.05:
            # near-duplicate of an earlier doc: the dedup queries need some
            base = texts[rng.randrange(d)]
            texts.append(base + " dup")
        else:
            n_tok = rng.randint(10, 99)
            texts.append(" ".join(rng.choice(_VOCAB) for _ in range(n_tok)))
    table("documents", {
        "doc_id": (list(range(n_docs)), i64),
        "text": (texts, s),
        "lang": ([rng.choice(_LANGS) for _ in range(n_docs)], s),
        "source": ([f"src{d % 20}" for d in range(n_docs)], s),
        "n_chars": ([len(x) for x in texts], i64),
    })
    centers = nrng.normal(size=(10, 64))
    labels = nrng.integers(0, 10, size=n_vec)
    vecs = centers[labels] + nrng.normal(scale=0.8, size=(n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), type=i64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels, type=i32),
    })

    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}


# ------------------------------------------------------------- requests
# Serve mix: 40% public GET, 30% HEAD, 20% Bearer GET /file, 10% keys
# that do not exist (must 404).
REQUEST_MIX = (("get", 0.4), ("head", 0.3), ("token", 0.2), ("missing", 0.1))


def zipf_ranks(n: int, s: float) -> list[float]:
    """Cumulative Zipf(s) weights over ranks 1..n."""
    acc, out = 0.0, []
    for rank in range(1, n + 1):
        acc += 1.0 / rank**s
        out.append(acc)
    return out


def make_schedule(
    seed: int, keys: list[tuple[str, str]], rate: float, duration: float,
    zipf_s: float = 1.1,
) -> list[dict]:
    """Open-loop request schedule: Poisson arrivals at ``rate`` req/s for
    ``duration`` seconds; targets drawn Zipf(``zipf_s``) over a seeded
    permutation of ``keys`` (dataset, key) pairs."""
    rng = random.Random(f"schedule-{seed}")
    order = list(keys)
    rng.shuffle(order)
    cum = zipf_ranks(len(order), zipf_s)
    kinds = [k for k, _ in REQUEST_MIX]
    weights = [w for _, w in REQUEST_MIX]
    out, due = [], 0.0
    while True:
        due += rng.expovariate(rate)
        if due >= duration:
            return out
        kind = rng.choices(kinds, weights)[0]
        dataset, key = rng.choices(order, cum_weights=cum)[0]
        if kind == "missing":
            key = f"missing/{len(out):06d}-{key}"
        out.append({"due": due, "kind": kind, "dataset": dataset, "key": key})
