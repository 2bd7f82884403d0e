"""Storage backends, chosen in one place.

Every byte the engine publishes under a lake or export root — archived
blobs (sources/archive.py), WebDataset shards (sources/sinks.py),
manifests, pointer files, generation listings — goes through this
module, and this module is the only code that maps a URI to a backend.
The reference keeps every byte behind one fsspec store interface
(/root/reference/ftm_datalake/archive/base.py:25-29); here that
interface is :class:`Store`, with four backends:

- no scheme / ``file://`` — plain ``os`` calls; a write lands in a
  uniquely named temporary file and is published with ``os.replace``;
- ``s3://`` — boto3 with the plain-dict ``s3_conn`` (the config, not a
  client, crosses the task boundary; sources/s3_store._client), one
  client per process; a single non-multipart PUT is atomic on S3, and
  every upload is ETag-verified;
- any other scheme a pure-Python filesystem resolves —
  ``pyarrow.fs.FileSystem.from_uri`` (gs://, hdfs:// with libhdfs, ...)
  or a caller's ``task_fs_factory(root) -> (fs, path)`` (the hook tests
  use to substitute a fake filesystem) — atomic-on-close writes on
  object stores, stage + move on filesystem-likes;
- anything else (viewfs://, mount-table schemes) — the JVM-backed
  fsutil, which needs the driver's SparkSession (``spark=None`` raises
  instead of degrading). Python task workers have no py4j gateway, so
  this is the one backend Spark tasks cannot use:
  ``Store.task_side`` is False and callers move its bytes through the
  driver.

:func:`resolve` turns a root into a handle once, on the driver; the
handles of task-side backends pickle, so Spark tasks use the handle
their driver resolved. The per-URI functions below (``exists``,
``read_bytes``, ``write_bytes_atomic``, ``list_names``, ``delete``)
resolve their URI and call its handle.

Atomicity/fallback semantics mirror fsutil: a write never exposes a
truncated artifact at its final name, and ``read_bytes_with_fallback``
recovers the ``.__bak__`` an interrupted JVM-backend swap leaves (the
other backends publish in one operation, so their readers never need
it, but a lake previously managed through fsutil stays readable).
"""

from __future__ import annotations

import os
import shutil
import uuid
from urllib.parse import urlparse

from ftm_datalake_spark import fsutil


def _join(base: str, rel: str) -> str:
    return "/".join(p for p in (base, rel) if p)


# boto3 clients do not pickle, so each process builds its own from the
# plain-dict config — once per config, not once per blob
_S3_CLIENTS: dict = {}


def _s3_client(s3_conn: dict):
    key = tuple(sorted((k, repr(v)) for k, v in s3_conn.items()))
    client = _S3_CLIENTS.get(key)
    if client is None:
        from ftm_datalake_spark.sources.s3_store import _client, _require_boto3

        _require_boto3()
        client = _S3_CLIENTS[key] = _client(s3_conn)
    return client


def _s3_put_verified(client, bucket: str, key: str, data: bytes) -> None:
    """PUT + ETag-vs-md5 verify (upload-then-verify): for a single
    non-multipart PUT under no encryption or SSE-S3, the ETag IS the
    payload md5, so a transport corruption surfaces as a task failure
    here, not as a wrong blob served later under a content-addressed
    name. SSE-KMS / SSE-C objects carry non-md5 ETags (and multipart
    ETags carry a part-count suffix) — comparing there would FAIL
    healthy uploads, so verification applies only when the response
    says the ETag is the md5."""
    import hashlib

    res = client.put_object(Bucket=bucket, Key=key, Body=data)
    etag = res.get("ETag", "").strip('"')
    md5_comparable = (
        len(etag) == 32
        and "-" not in etag
        and res.get("ServerSideEncryption") in (None, "AES256")
    )
    want = hashlib.md5(data).hexdigest()
    if md5_comparable and etag != want:
        raise IOError(f"s3 upload verify failed for {key}: {etag} != {want}")


# pyarrow filesystems whose writes are atomic-on-close (object stores:
# the object only materializes when the upload completes), vs
# filesystem-likes where a crashed writer can leave a truncated file at
# the written name and must therefore stage + move.
_ATOMIC_ON_CLOSE = {"s3", "gcs"}


def _task_fs_put(fs, target: str, data: bytes) -> None:
    """Publish ``data`` at ``target`` through a pure-Python filesystem,
    never exposing a truncated file at the final name: object stores
    get a single atomic-on-close write (a move there is a server-side
    copy); filesystem-likes get stage + move."""
    if getattr(fs, "type_name", "") in _ATOMIC_ON_CLOSE:
        with fs.open_output_stream(target) as out:
            out.write(data)
        return
    fs.create_dir(target.rpartition("/")[0], recursive=True)
    stage = f"{target}.__tmp__{uuid.uuid4().hex}"
    try:
        with fs.open_output_stream(stage) as out:
            out.write(data)
        fs.move(stage, target)
    except Exception:
        try:
            fs.delete_file(stage)
        except Exception:
            pass
        raise


class Store:
    """One storage root resolved to its backend (see :func:`resolve`).

    Paths are relative to the root; ``""`` is the root itself.
    ``put`` and ``put_file`` are atomic: a reader sees the old state or
    the complete new bytes, never a truncated file."""

    task_side = True

    def __init__(self, root: str):
        self.root = root.rstrip("/")

    def uri(self, rel: str = "") -> str:
        """``rel`` in the caller's URI form (what manifests record)."""
        return _join(self.root, rel)

    def put_file(self, rel: str, src: str) -> None:
        """Publish the local file ``src`` at ``rel``. Raises
        FileNotFoundError, before writing anything, when ``src`` is
        gone."""
        with open(src, "rb") as fh:
            data = fh.read()
        self.put(rel, data)


class _LocalStore(Store):
    def __init__(self, root: str):
        super().__init__(root)
        self.path = fsutil.strip_file_scheme(root)

    def uri(self, rel: str = "") -> str:
        return os.path.join(self.path, rel) if rel else self.path

    def exists(self, rel: str = "") -> bool:
        return os.path.exists(self.uri(rel))

    def read(self, rel: str = "") -> bytes:
        with open(self.uri(rel), "rb") as fh:
            return fh.read()

    def _publish(self, rel: str, fill) -> None:
        target = self.uri(rel)
        os.makedirs(os.path.dirname(target) or ".", exist_ok=True)
        # uniquely named: a retried or speculative task writing the
        # same target never shares a half-written temporary file
        tmp = f"{target}.__tmp__{uuid.uuid4().hex}"
        try:
            fill(tmp)
            os.replace(tmp, target)
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)

    def put(self, rel: str, data: bytes) -> None:
        def fill(tmp: str) -> None:
            with open(tmp, "wb") as fh:
                fh.write(data)

        self._publish(rel, fill)

    def put_file(self, rel: str, src: str) -> None:
        # streamed copy: a blob is never read whole into memory
        self._publish(rel, lambda tmp: shutil.copyfile(src, tmp))

    def list_names(self, rel: str = "") -> list[str]:
        path = self.uri(rel)
        return sorted(os.listdir(path)) if os.path.isdir(path) else []

    def delete(self, rel: str = "", recursive: bool = True) -> bool:
        path = self.uri(rel)
        if os.path.isdir(path):
            if recursive:
                shutil.rmtree(path)
            else:
                os.rmdir(path)
            return True
        if os.path.exists(path):
            os.remove(path)
            return True
        return False


class _S3Store(Store):
    def __init__(self, root: str, s3_conn: dict | None):
        super().__init__(root)
        parsed = urlparse(root)
        self.bucket, self.prefix = parsed.netloc, parsed.path.strip("/")
        self.s3_conn = dict(s3_conn or {})

    def _key(self, rel: str) -> str:
        return _join(self.prefix, rel)

    def exists(self, rel: str = "") -> bool:
        key = self._key(rel)
        client = _s3_client(self.s3_conn)
        try:
            client.head_object(Bucket=self.bucket, Key=key)
            return True
        except Exception:
            # a "directory" on s3 is a key prefix with children
            res = client.list_objects_v2(
                Bucket=self.bucket, Prefix=key + "/", MaxKeys=1
            )
            return bool(res.get("KeyCount"))

    def read(self, rel: str = "") -> bytes:
        res = _s3_client(self.s3_conn).get_object(
            Bucket=self.bucket, Key=self._key(rel)
        )
        return res["Body"].read()

    def put(self, rel: str, data: bytes) -> None:
        _s3_put_verified(
            _s3_client(self.s3_conn), self.bucket, self._key(rel), data
        )

    def _pages(self, prefix: str, **kwargs):
        client = _s3_client(self.s3_conn)
        token = None
        while True:
            if token:
                kwargs["ContinuationToken"] = token
            res = client.list_objects_v2(
                Bucket=self.bucket, Prefix=prefix, **kwargs
            )
            yield res
            if not res.get("IsTruncated"):
                return
            token = res.get("NextContinuationToken")

    def list_names(self, rel: str = "") -> list[str]:
        key = self._key(rel)
        prefix = key + "/" if key else ""
        names: set[str] = set()
        for res in self._pages(prefix, Delimiter="/"):
            for item in res.get("Contents", []) or []:
                tail = item["Key"][len(prefix):]
                if tail:
                    names.add(tail)
            for cp in res.get("CommonPrefixes", []) or []:
                names.add(cp["Prefix"][len(prefix):].rstrip("/"))
        return sorted(names)

    def delete(self, rel: str = "", recursive: bool = True) -> bool:
        key = self._key(rel)
        client = _s3_client(self.s3_conn)
        deleted = False
        try:
            client.head_object(Bucket=self.bucket, Key=key)
            client.delete_object(Bucket=self.bucket, Key=key)
            deleted = True
        except Exception:
            pass
        if recursive:
            for res in self._pages(key + "/"):
                keys = [
                    {"Key": item["Key"]}
                    for item in res.get("Contents", []) or []
                ]
                if keys:
                    client.delete_objects(
                        Bucket=self.bucket, Delete={"Objects": keys}
                    )
                    deleted = True
        return deleted


class _ArrowStore(Store):
    """A pyarrow-style filesystem (pyarrow filesystems pickle, so the
    resolved client crosses the task boundary)."""

    def __init__(self, root: str, fs, path):
        super().__init__(root)
        self.fs = fs
        self.path = str(path).rstrip("/")

    def _path(self, rel: str) -> str:
        return _join(self.path, rel)

    def _type(self, rel: str):
        return self.fs.get_file_info(self._path(rel)).type

    def exists(self, rel: str = "") -> bool:
        from pyarrow.fs import FileType

        return self._type(rel) != FileType.NotFound

    def read(self, rel: str = "") -> bytes:
        with self.fs.open_input_stream(self._path(rel)) as stream:
            return stream.read()

    def put(self, rel: str, data: bytes) -> None:
        _task_fs_put(self.fs, self._path(rel), data)

    def list_names(self, rel: str = "") -> list[str]:
        from pyarrow.fs import FileSelector, FileType

        if self._type(rel) == FileType.NotFound:
            return []
        infos = self.fs.get_file_info(
            FileSelector(self._path(rel), recursive=False, allow_not_found=True)
        )
        return sorted(info.base_name for info in infos)

    def delete(self, rel: str = "", recursive: bool = True) -> bool:
        from pyarrow.fs import FileType

        kind = self._type(rel)
        if kind == FileType.NotFound:
            return False
        if kind == FileType.Directory:
            self.fs.delete_dir(self._path(rel))
        else:
            self.fs.delete_file(self._path(rel))
        return True


class _JvmStore(Store):
    """The driver's Hadoop FileSystem client through py4j (fsutil)."""

    task_side = False

    def __init__(self, root: str, spark):
        super().__init__(root)
        self.spark = spark

    def exists(self, rel: str = "") -> bool:
        return fsutil.exists(self.spark, self.uri(rel))

    def read(self, rel: str = "") -> bytes:
        return fsutil.read_bytes(self.spark, self.uri(rel))

    def put(self, rel: str, data: bytes) -> None:
        fsutil.write_bytes_atomic(self.spark, self.uri(rel), data)

    def list_names(self, rel: str = "") -> list[str]:
        return fsutil.list_names(self.spark, self.uri(rel))

    def delete(self, rel: str = "", recursive: bool = True) -> bool:
        return fsutil.delete(self.spark, self.uri(rel), recursive)


def resolve(
    root: str, spark=None, s3_conn: dict | None = None, task_fs_factory=None
) -> Store:
    """The backend for ``root`` (see the module docstring), resolved
    once. ``task_fs_factory(root) -> (fs, path)`` replaces the pyarrow
    probe for schemes other than local and s3."""
    scheme = urlparse(root).scheme
    if scheme in ("", "file"):
        return _LocalStore(root)
    if scheme == "s3":
        return _S3Store(root, s3_conn)
    if task_fs_factory is not None:
        resolved = task_fs_factory(root)
    else:
        try:
            import pyarrow.fs as pafs

            resolved = pafs.FileSystem.from_uri(root)
        except Exception:
            resolved = None
    if resolved is not None:
        return _ArrowStore(root, *resolved)
    if spark is None:
        raise ValueError(
            f"scheme of {root!r} needs the JVM FileSystem client — pass a "
            "SparkSession (pure-Python backends cover file://, s3://, and "
            "pyarrow-resolvable schemes)"
        )
    return _JvmStore(root, spark)


def exists(spark, uri: str, s3_conn: dict | None = None) -> bool:
    return resolve(uri, spark, s3_conn).exists()


def read_bytes(spark, uri: str, s3_conn: dict | None = None) -> bytes:
    return resolve(uri, spark, s3_conn).read()


def read_bytes_with_fallback(
    spark, uri: str, s3_conn: dict | None = None
) -> bytes:
    """Read ``uri``, recovering ``uri.__bak__`` if a JVM-backend atomic
    swap was interrupted between its renames. The other backends
    publish in a single replace and never create the window, but
    honoring the fallback keeps a previously JVM-managed artifact
    readable."""
    if not exists(spark, uri, s3_conn) and exists(
        spark, uri + ".__bak__", s3_conn
    ):
        return read_bytes(spark, uri + ".__bak__", s3_conn)
    return read_bytes(spark, uri, s3_conn)


def write_bytes_atomic(
    spark, uri: str, payload: bytes, s3_conn: dict | None = None
) -> None:
    """Crash-safe replace: at no instant does a reader see a truncated
    artifact. Local: temporary file + ``os.replace``. s3: one
    ETag-verified PUT (atomic by the store's semantics). pyarrow:
    atomic-on-close for object stores, stage + move for
    filesystem-likes. JVM: fsutil's stage/bak swap."""
    resolve(uri, spark, s3_conn).put("", payload)


def list_names(spark, uri: str, s3_conn: dict | None = None) -> list[str]:
    """Sorted immediate child names (files and directories); [] when
    the path does not exist — same contract as fsutil.list_names."""
    return resolve(uri, spark, s3_conn).list_names()


def delete(
    spark, uri: str, recursive: bool = True, s3_conn: dict | None = None
) -> bool:
    """Delete a file or (recursively) a directory/prefix; False if it
    was already gone."""
    return resolve(uri, spark, s3_conn).delete("", recursive)
