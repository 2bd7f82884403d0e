"""Point-lookup serving surface (SURVEY §2.9 Q1-Q3).

The reference serves GET /{dataset}/{key} by reading one info.json and
streaming the blob (ftm_datalake/api/main.py:77-94, api/util.py:19-77).
Engine-side, serving parity means: keep the documents table fresh and
answer point lookups from it. A real deployment would front this with
FastAPI + a cached collected dict or an external KV projection; the JWT
auth layer (reference api/auth.py:43-68) is implemented as the pure-Python
helper ``ftm_datalake_spark.auth`` (Q3: token-scoped lookup, expiry,
404-hiding).

The lookup predicate hits the `dataset` partition column first, so the
scan prunes to one partition before the key filter."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ftm_datalake_spark.sources.archive import _shard


def lookup_file(documents: DataFrame, dataset: str, key: str) -> dict | None:
    """Q1: metadata for one (dataset, key); None if absent (404 semantics)."""
    rows = (
        documents.where((F.col("dataset") == dataset) & (F.col("key") == key))
        .limit(1)
        .collect()
    )
    return rows[0].asDict() if rows else None


LOOKUP_SHARDS_DEFAULT = 256
DICT_SNAPSHOT_MAX_ROWS = 1_000_000


def _py_key_shard(key: str, num_shards: int) -> int:
    import zlib

    return zlib.crc32(key.encode("utf-8")) % num_shards


def build_lookup_projection(
    documents: DataFrame, out_dir: str, num_shards: int = LOOKUP_SHARDS_DEFAULT
) -> str:
    """Materialize the documents table into an O(1)-per-GET lookup form:
    parquet partitioned by (dataset, shard) where ``shard =
    crc32(key) % num_shards``. A point GET prunes to exactly ONE
    partition directory via PartitionFilters (dataset + shard are both
    partition columns), then pushes the key predicate into that file's
    row groups — at 100 TB the per-GET read is one small parquet file,
    not a table scan. crc32 is used (not xxhash64) because the serving
    front-end must compute the same shard in plain Python
    (zlib.crc32 == Spark's crc32 on UTF-8 bytes)."""
    shard = F.pmod(
        F.crc32(F.col("key").cast("binary")), F.lit(num_shards)
    ).alias("shard")
    (
        documents.select("*", shard)
        .repartition("dataset", "shard")
        .write.mode("overwrite")
        .partitionBy("dataset", "shard")
        .parquet(out_dir)
    )
    return out_dir


def projection_frame(
    spark, proj_dir: str, dataset: str, key: str,
    num_shards: int = LOOKUP_SHARDS_DEFAULT,
    base: DataFrame | None = None,
) -> DataFrame:
    """The pruned single-GET scan over a built lookup projection —
    exposed separately so tests can assert the PartitionFilters. Pass
    ``base`` (a pre-built ``spark.read.parquet(proj_dir)``) to skip
    per-call partition discovery; without it each call re-lists every
    dataset=*/shard=* leaf directory on the driver."""
    shard = _py_key_shard(key, num_shards)
    frame = base if base is not None else spark.read.parquet(proj_dir)
    return frame.where(
        (F.col("dataset") == dataset)
        & (F.col("shard") == shard)
        & (F.col("key") == key)
    )


def make_projection_lookup(
    spark, proj_dir: str, num_shards: int = LOOKUP_SHARDS_DEFAULT
):
    """Q1 at production shape: a ``lookup(dataset, key)`` callable for
    DatalakeApi backed by the partition-pruned projection. The base
    DataFrame (and its file index) is built ONCE here — per GET only
    the pruned filter plan runs, so the request path never repeats
    partition discovery. If the projection is REBUILT underneath a
    running server (build_lookup_projection overwrites the part files),
    the stale file index surfaces as a read failure — the lookup
    rebuilds the base frame once and retries, so a refresh never needs
    a server restart."""
    state = {"base": spark.read.parquet(proj_dir)}

    def _scan(dataset: str, key: str) -> list:
        return projection_frame(
            spark, proj_dir, dataset, key, num_shards, base=state["base"]
        ).limit(1).collect()

    def lookup(dataset: str, key: str) -> dict | None:
        try:
            rows = _scan(dataset, key)
        except Exception:
            # projection rebuilt since the file index was cached —
            # re-list once and retry; a second failure propagates
            state["base"] = spark.read.parquet(proj_dir)
            rows = _scan(dataset, key)
        if not rows:
            return None
        info = rows[0].asDict()
        info.pop("shard", None)
        return info

    return lookup


def make_dict_snapshot_lookup(
    documents: DataFrame, max_rows: int = DICT_SNAPSHOT_MAX_ROWS
):
    """Q1 for small/medium lakes: collect the documents table ONCE into
    an in-memory dict keyed (dataset, key) — true O(1) per GET with no
    Spark job on the request path. Guarded: refuses to collect above
    ``max_rows`` (use the parquet projection there instead). One scan:
    collect ``max_rows + 1`` rows and check the overflow sentinel —
    a separate count() job would double build time and race with
    concurrent appends between the two jobs."""
    rows = documents.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"documents table has > max_rows={max_rows} rows; "
            "use build_lookup_projection + make_projection_lookup instead"
        )
    snapshot = {(r["dataset"], r["key"]): r.asDict() for r in rows}

    def lookup(dataset: str, key: str) -> dict | None:
        return snapshot.get((dataset, key))

    return lookup


def file_headers(info: dict) -> dict[str, str]:
    """Q1: HTTP header projection of a metadata row
    (reference: api/util.py:19-31)."""
    headers = {
        "X-Dataset": str(info.get("dataset")),
        "X-Key": str(info.get("key")),
        "X-Checksum": str(info.get("content_hash")),
        "Content-Type": str(info.get("mimetype") or "application/octet-stream"),
        "Content-Length": str(info.get("size")),
    }
    if info.get("updated_at") is not None:
        headers["Last-Modified"] = str(info["updated_at"])
    return headers


def blob_shard_uri(archive_root: str, dataset: str, content_hash: str) -> str:
    """Q2: where the blob bytes live in the content-addressed layout
    (ab/cd/ef/<hash>; reference: ftm_datalake/util.py:8-11). The serving
    layer streams straight from the object store — never through Spark."""
    return f"{archive_root.rstrip('/')}/{dataset}/archive/{_shard(content_hash)}"
