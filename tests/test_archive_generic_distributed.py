"""Distributed generic-scheme blob archive (VERDICT r11 next-round #3 +
ADVICE r11 #1).

The S10 sink's non-s3 remote tier previously copied blob-by-blob
through the driver's JVM FS client. Python task workers have no py4j
gateway, so the JVM client can never distribute from PySpark — the
scale path is a pure-Python filesystem (pyarrow.fs by default, or a
caller-supplied ``task_fs_factory``) pickled into a foreachPartition
closure. These tests drive that tier end-to-end with a
SubTreeFileSystem standing in for a remote store, prove the copies run
as a Spark job with the driver fallback hard-disabled, and pin the
atomicity laws (a truncated blob must never sit at a content-addressed
name; ADVICE r11 #1 applies the same law to the driver fallback via
write_bytes_atomic).
"""

from __future__ import annotations

import hashlib
import os

import pyarrow.fs as pafs
import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def viewfs(spark, tmp_path):
    """Mount tmp_path under viewfs://<unique>/data (unique authority —
    Hadoop caches FileSystem instances by (scheme, authority))."""
    import uuid

    name = f"graft-{uuid.uuid4().hex[:8]}"
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    key = f"fs.viewfs.mounttable.{name}.link./data"
    hconf.set(key, tmp_path.as_uri())
    yield f"viewfs://{name}/data"
    hconf.unset(key)


def _subtree_factory(store_root: str):
    """Stand-in for a gcsfs/adlfs-style client: a pyarrow
    SubTreeFileSystem rooted at a local dir, addressed by a scheme
    pyarrow's from_uri cannot resolve — exactly the situation a custom
    factory exists for. pyarrow filesystems pickle, so the returned fs
    crosses the task boundary."""

    def factory(archive_root: str):
        assert archive_root.startswith("fakefs://")
        return pafs.SubTreeFileSystem(store_root, pafs.LocalFileSystem()), "lake"

    return factory


def _shard_of(content: bytes) -> str:
    ch = hashlib.sha1(content).hexdigest()
    return f"{ch[:2]}/{ch[2:4]}/{ch[4:6]}/{ch}"


@pytest.fixture()
def no_driver_fallback(monkeypatch):
    """Hard-disable the driver-side fsutil tier: if archive_blobs takes
    the JVM fallback instead of the distributed branch, the test fails
    loudly rather than passing through the wrong code path."""
    from ftm_datalake_spark import fsutil

    def _boom(*a, **k):  # pragma: no cover - failure path
        raise AssertionError("driver-side fsutil fallback was taken")

    monkeypatch.setattr(fsutil, "write_bytes", _boom)
    monkeypatch.setattr(fsutil, "write_bytes_atomic", _boom)
    monkeypatch.setattr(fsutil, "exists", _boom)


def test_archive_blobs_distributed_generic(spark, tmp_path, no_driver_fallback):
    from ftm_datalake_spark.functions.checksum import content_checksum
    from ftm_datalake_spark.sources.archive import archive_blobs, open_blob
    from ftm_datalake_spark.sources.tables import scan_binary_files

    src = tmp_path / "bsrc"
    src.mkdir()
    payloads = {f"f{i}.bin": f"task-side blob {i}".encode() for i in range(8)}
    for name, content in payloads.items():
        (src / name).write_bytes(content)
    store = tmp_path / "store"
    store.mkdir()

    files = scan_binary_files(spark, str(src)).select(
        "path", content_checksum(F.col("content")).alias("content_hash")
    )

    tracker = spark.sparkContext.statusTracker()
    jobs_before = len(tracker.getJobIdsForGroup(None) or [])
    archive_blobs(
        files,
        "fakefs://store/lake",
        "ds1",
        task_fs_factory=_subtree_factory(str(store)),
    )
    jobs_after = len(tracker.getJobIdsForGroup(None) or [])
    assert jobs_after > jobs_before, "copy did not run as a Spark job"

    for content in payloads.values():
        local = store / "lake" / "ds1" / "archive" / _shard_of(content)
        assert local.read_bytes() == content
    # no stage debris anywhere in the layout
    leftovers = [
        p for p, _, names in os.walk(store) for n in names if "__tmp__" in n
    ]
    assert leftovers == []

    # idempotent re-run: second pass HEAD-skips everything and mtimes
    # are untouched (the blobs are not rewritten)
    mtimes = {
        name: (store / "lake" / "ds1" / "archive" / _shard_of(c)).stat().st_mtime_ns
        for name, c in payloads.items()
    }
    archive_blobs(
        files,
        "fakefs://store/lake",
        "ds1",
        task_fs_factory=_subtree_factory(str(store)),
    )
    for name, c in payloads.items():
        p = store / "lake" / "ds1" / "archive" / _shard_of(c)
        assert p.stat().st_mtime_ns == mtimes[name]

    # the serving-layer point read resolves the same layout when handed
    # the physical root
    some = next(iter(payloads.values()))
    ch = hashlib.sha1(some).hexdigest()
    assert open_blob(str(store / "lake"), "ds1", ch) == some


def test_archive_blob_bytes_distributed_generic(spark, tmp_path, no_driver_fallback):
    from ftm_datalake_spark.sources.archive import archive_blob_bytes

    store = tmp_path / "store"
    store.mkdir()
    payloads = [f"fetched bytes {i}".encode() for i in range(5)]
    rows = [
        (bytearray(p), hashlib.sha1(p).hexdigest()) for p in payloads
    ]
    files = spark.createDataFrame(rows, "content binary, content_hash string")

    archive_blob_bytes(
        files,
        "fakefs://store/lake",
        "ds2",
        task_fs_factory=_subtree_factory(str(store)),
    )
    for p in payloads:
        local = store / "lake" / "ds2" / "archive" / _shard_of(p)
        assert local.read_bytes() == p


def test_task_fs_put_never_exposes_truncated_blob(tmp_path):
    """The ADVICE r11 #1 law at the helper level: a write that dies
    mid-flight leaves NOTHING at the final content-addressed name, and
    a leftover stage file from a crashed run does not block a healthy
    re-publish."""
    from ftm_datalake_spark.fsutil_py import _task_fs_put

    fs = pafs.SubTreeFileSystem(str(tmp_path), pafs.LocalFileSystem())
    content = b"the complete blob"
    target = "ab/cd/ef/abcdef123"

    # a crashed earlier run left stage debris
    os.makedirs(tmp_path / "ab/cd/ef", exist_ok=True)
    (tmp_path / "ab/cd/ef/abcdef123.__tmp__deadbeef").write_bytes(b"trunc")

    # simulate the crash: move raises after the stage write
    bomb = pafs.SubTreeFileSystem(str(tmp_path), pafs.LocalFileSystem())
    real_move = bomb.move

    class _Wrap:
        type_name = "subtree"

        def __getattr__(self, name):
            return getattr(bomb, name)

        def move(self, src, dst):
            raise IOError("simulated crash at publish")

    with pytest.raises(IOError):
        _task_fs_put(_Wrap(), target, content)
    assert not (tmp_path / target).exists()  # nothing at the final name

    # healthy re-run publishes the full bytes despite old debris
    _task_fs_put(fs, target, content)
    assert (tmp_path / target).read_bytes() == content


def test_object_store_type_writes_direct(tmp_path, monkeypatch):
    """Object-store-typed filesystems (atomic-on-close) take the single
    direct write — no stage file is ever created, because a move there
    is a server-side copy that doubles traffic."""
    from ftm_datalake_spark.fsutil_py import _task_fs_put

    base = pafs.SubTreeFileSystem(str(tmp_path), pafs.LocalFileSystem())
    created = []

    class _S3ish:
        type_name = "s3"

        def open_output_stream(self, path):
            created.append(path)
            return base.open_output_stream(path)

        def move(self, *a):  # pragma: no cover - must not be called
            raise AssertionError("object-store path must not stage+move")

        def create_dir(self, *a, **k):  # pragma: no cover
            raise AssertionError("object stores have no dirs to create")

    os.makedirs(tmp_path / "ab/cd/ef")
    _task_fs_put(_S3ish(), "ab/cd/ef/abc", b"payload")
    assert created == ["ab/cd/ef/abc"]
    assert (tmp_path / "ab/cd/ef/abc").read_bytes() == b"payload"


def test_viewfs_fallback_uses_atomic_writes(spark, tmp_path, viewfs, monkeypatch):
    """JVM-only schemes still fall back to the driver loop — but through
    write_bytes_atomic now (ADVICE r11 #1), never the bare create."""
    from ftm_datalake_spark import fsutil
    from ftm_datalake_spark.functions.checksum import content_checksum
    from ftm_datalake_spark.sources import archive as archive_mod
    from ftm_datalake_spark.sources.tables import scan_binary_files

    calls = []
    real = fsutil.write_bytes_atomic
    monkeypatch.setattr(
        fsutil,
        "write_bytes_atomic",
        lambda s, uri, payload: (calls.append(uri), real(s, uri, payload)),
    )
    monkeypatch.setattr(
        fsutil,
        "write_bytes",
        lambda *a, **k: (_ for _ in ()).throw(
            AssertionError("non-atomic write on the fallback tier")
        ),
    )

    src = tmp_path / "bsrc"
    src.mkdir()
    (src / "a.bin").write_bytes(b"fallback blob")
    files = scan_binary_files(spark, str(src)).select(
        "path", content_checksum(F.col("content")).alias("content_hash")
    )
    archive_mod.archive_blobs(files, f"{viewfs}/lake", "ds1")
    assert len(calls) == 1
    ch = hashlib.sha1(b"fallback blob").hexdigest()
    local = tmp_path / "lake" / "ds1" / "archive" / ch[:2] / ch[2:4] / ch[4:6] / ch
    assert local.read_bytes() == b"fallback blob"


def test_webdataset_generic_distributed_via_factory(spark, tmp_path, monkeypatch):
    """The WDS sink's generic tier is task-side when a pure-Python fs
    resolves (round 12): shards publish through the pickled client
    with the driver byte-stream fallback hard-disabled, byte-identical
    (per-shard sha256) to a local export of the same frame."""
    import json as _json

    from ftm_datalake_spark import fsutil
    from ftm_datalake_spark.sources.sinks import (
        read_webdataset_shards,
        write_webdataset_shards,
    )

    monkeypatch.setattr(
        fsutil,
        "write_bytes_atomic",
        lambda *a, **k: (_ for _ in ()).throw(
            AssertionError("driver byte-stream fallback was taken")
        ),
    )
    docs = spark.createDataFrame(
        [(str(i), f"text-{i}") for i in range(45)],
        "doc_id string, text string",
    )
    store = tmp_path / "store"
    (store / "lake").mkdir(parents=True)
    manifest = write_webdataset_shards(
        docs,
        "fakefs://store/lake",
        shard_size=10,
        write_manifest=False,
        task_fs_factory=_subtree_factory(str(store)),
    )
    assert len(manifest) == 5
    local = str(tmp_path / "golden")
    os.makedirs(local)
    monkeypatch.undo()
    golden = write_webdataset_shards(docs, local, shard_size=10)
    assert [m["sha256"] for m in sorted(manifest, key=lambda m: m["shard_id"])] == [
        m["sha256"] for m in sorted(golden, key=lambda m: m["shard_id"])
    ]
    # shards landed at the factory root and round-trip through the reader
    back = read_webdataset_shards(spark, str(store / "lake"))
    assert back.where("member = 'txt'").count() == 45
