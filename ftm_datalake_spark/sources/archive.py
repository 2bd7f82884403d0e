"""Content-addressed blob archiving + dataset config (SURVEY §2.1 S7/S10).

S10 blob sink: the reference copies each crawled file into the
`archive/ab/cd/ef/<sha1>` layout and writes info.json per file
(ftm_datalake/archive/dataset.py:119-148), through its uniform fsspec
store layer so ANY backend can hold the sharded archive
(ftm_datalake/archive/base.py:25-29). Spark-first, the copy is a
foreachPartition job over (source path, content_hash) rows — each
executor copies its partition's blobs with no driver involvement — and
the *metadata* goes to the documents table instead of per-file JSON.
Preferred mode at scale is copy=False: leave blobs in place and only
manage metadata (the reference supports the same choice).

Any root the storage layer resolves can hold the archive; the list of
backends, and the one place that chooses among them, is fsutil_py.
Every backend except the JVM-only one copies task-side; that one is
written by the driver through staged atomic writes.

S7 config: YAML `config.yml` per dataset, a driver-side small read
(ftm_datalake/archive/dataset.py:75-83).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame

from ftm_datalake_spark import fsutil_py
from ftm_datalake_spark.fsutil import strip_file_scheme as _strip_file_scheme


def _shard(content_hash: str) -> str:
    """``ab/cd/ef/<hash>``: the content-addressed layout (the Column
    twin is functions.checksum.shard_path)."""
    return f"{content_hash[0:2]}/{content_hash[2:4]}/{content_hash[4:6]}/{content_hash}"


def _archive(
    files: DataFrame,
    archive_root: str,
    dataset: str,
    value_col: str,
    hash_col: str,
    s3_conn: dict | None,
    task_fs_factory,
    from_path: bool,
) -> None:
    """The task loop behind archive_blobs and archive_blob_bytes:
    ``value_col`` holds a local source path (``from_path``) or the blob
    bytes."""
    store = fsutil_py.resolve(
        archive_root, files.sparkSession, s3_conn, task_fs_factory
    )

    def put_rows(rows: Iterator) -> None:
        for row in rows:
            rel = f"{dataset}/archive/{_shard(row[hash_col])}"
            if store.exists(rel):
                continue  # idempotent: already archived
            if not from_path:
                store.put(rel, bytes(row[value_col]))
                continue
            try:
                store.put_file(rel, _strip_file_scheme(row[value_col]))
            except FileNotFoundError:
                pass  # stale table row: source removed since its crawl

    rows = files.select(value_col, hash_col)
    if store.task_side:
        rows.foreachPartition(put_rows)
    else:
        # Python tasks have no py4j gateway: the driver streams the
        # rows and writes each blob through its own FS client
        put_rows(rows.toLocalIterator())


def archive_blobs(
    files: DataFrame,
    archive_root: str,
    dataset: str,
    path_col: str = "path",
    hash_col: str = "content_hash",
    s3_conn: dict | None = None,
    task_fs_factory=None,
) -> None:
    """S10: distributed copy of blobs into the sharded archive layout.

    `files` carries (local source path, content hash); each partition
    copies its own blobs. Idempotent: existing target shards are kept
    (content-addressing makes overwrites meaningless). Missing source
    files are SKIPPED, not fatal: the archive pass is driven by the
    merged documents table, which retains rows from earlier crawls whose
    source file may since have been removed — one stale row must not
    crash the whole job (same tolerance as gc_blobs' delete).

    ``archive_root`` may be any root fsutil_py resolves; ``s3_conn`` and
    ``task_fs_factory`` go to :func:`fsutil_py.resolve`."""
    _archive(
        files, archive_root, dataset, path_col, hash_col, s3_conn,
        task_fs_factory, from_path=True,
    )


def archive_blob_bytes(
    files: DataFrame,
    archive_root: str,
    dataset: str,
    content_col: str = "content",
    hash_col: str = "content_hash",
    s3_conn: dict | None = None,
    task_fs_factory=None,
) -> None:
    """S10 for remote stores: write blob BYTES (already fetched
    task-side, e.g. by the HTTP backend) into the sharded layout — no
    local source path exists to copy from. Same idempotence, atomicity
    and backends as archive_blobs."""
    _archive(
        files, archive_root, dataset, content_col, hash_col, s3_conn,
        task_fs_factory, from_path=False,
    )


def open_blob(
    archive_root: str,
    dataset: str,
    content_hash: str,
    s3_conn: dict | None = None,
    spark=None,
) -> bytes:
    """S9: read one archived blob back (serving-layer point read)
    through the root's backend; JVM-only schemes need ``spark``."""
    return fsutil_py.read_bytes(
        spark,
        f"{archive_root.rstrip('/')}/{dataset}/archive/{_shard(content_hash)}",
        s3_conn,
    )


def read_dataset_config(config_path: str) -> dict:
    """S7: dataset config.yml (driver-side; not a distributed op)."""
    import yaml

    with open(config_path, encoding="utf-8") as fh:
        return yaml.safe_load(fh) or {}
