"""Filesystem abstraction: URL -> (path, FileSystem).

Mirrors the reference's fsspec dispatch (``/root/reference/src/fsql/__init__.py:22-73``)
without requiring fsspec (not installed here). The local implementation is
``os``-based; an fsspec adapter is used automatically when fsspec IS importable,
so ``s3://``/``gs://`` URLs keep working in environments that have it. Spark-side
reads always go through Hadoop connectors (``file://``, ``s3a://``) — this layer
exists only for driver-side discovery, whole-file readers, and ``write_object``.

Config registry mirrors ``set_default_config`` (`__init__.py:59-66`): per-protocol
dicts merged over environment variables. For Spark reads the same settings map to
``spark.hadoop.fs.s3a.*`` — see :func:`s3_spark_conf`.
"""

from __future__ import annotations

import os
from abc import ABC, abstractmethod
from typing import IO, Any

try:  # optional: only for non-local protocols
    import fsspec  # type: ignore

    _HAS_FSSPEC = True
except Exception:  # pragma: no cover - environment without fsspec
    _HAS_FSSPEC = False

_DEFAULT_CONFIGS: dict[str, dict[str, Any]] = {}


def set_default_config(protocol: str, config: dict[str, Any]) -> None:
    """Programmatic per-protocol config, merged over env (reference `__init__.py:59-66`)."""
    _DEFAULT_CONFIGS.setdefault(protocol, {}).update(config)


def s3_config_from_env() -> dict[str, Any]:
    """AWS env-var mapping the reference reads (`__init__.py:42-55`)."""
    env = os.environ
    conf: dict[str, Any] = {}
    if "AWS_ACCESS_KEY_ID" in env:
        conf["key"] = env["AWS_ACCESS_KEY_ID"]
    if "AWS_SECRET_ACCESS_KEY" in env:
        conf["secret"] = env["AWS_SECRET_ACCESS_KEY"]
    if "AWS_SESSION_TOKEN" in env:
        conf["token"] = env["AWS_SESSION_TOKEN"]
    if "AWS_ENDPOINT_URL" in env:
        conf["endpoint_url"] = env["AWS_ENDPOINT_URL"]
    if "AWS_REGION_NAME" in env:
        conf["region_name"] = env["AWS_REGION_NAME"]
    return conf


def s3_spark_conf() -> dict[str, str]:
    """The same S3 settings expressed as Spark/Hadoop S3A configs.

    Apply via ``SparkSession.builder.config(k, v)`` — the Spark-side twin of the
    reference's boto config (incl. custom endpoint for minio,
    `__init__.py:42-55`).
    """
    env_conf = {**s3_config_from_env(), **_DEFAULT_CONFIGS.get("s3", {})}
    mapping = {
        "key": "spark.hadoop.fs.s3a.access.key",
        "secret": "spark.hadoop.fs.s3a.secret.key",
        "token": "spark.hadoop.fs.s3a.session.token",
        "endpoint_url": "spark.hadoop.fs.s3a.endpoint",
    }
    out = {spark_key: str(env_conf[k]) for k, spark_key in mapping.items() if k in env_conf}
    if "endpoint_url" in env_conf:  # minio-style deployments
        out["spark.hadoop.fs.s3a.path.style.access"] = "true"
    return out


def is_hidden(name: str) -> bool:
    """Spark's rule for listing entries a table reader skips
    (``InMemoryFileIndex.shouldFilterOutPathName``): dot-names, in-flight
    ``._COPYING_`` copies, and underscore-names that are not ``key=value``
    segments. ``_SUCCESS``, ``_spark_metadata`` and ``.crc`` files hide; a
    partition directory ``_src=a`` does not."""
    return (
        name.startswith(".")
        or (name.startswith("_") and "=" not in name)
        or name.endswith("._COPYING_")
    )


class FileSystem(ABC):
    """Minimal driver-side FS protocol: list / stat / open."""

    @abstractmethod
    def ls(self, url: str) -> tuple[list[str], list[str]]:
        """Return (files, directories) as base names, each lexicographically
        sorted — the determinism contract of the reference
        (`tests/test_listing_sorted.py:12-43`)."""

    @abstractmethod
    def isdir(self, url: str) -> bool: ...

    @abstractmethod
    def exists(self, url: str) -> bool: ...

    @abstractmethod
    def open(self, url: str, mode: str = "rb") -> IO: ...

    def makedirs(self, url: str) -> None:  # only needed by write_object
        raise NotImplementedError

    def size(self, url: str) -> int:
        """File size in bytes (metadata-only; used by maintenance stats)."""
        raise NotImplementedError

    def move(self, src: str, dst: str) -> None:
        """Rename/move a file or directory tree.

        NOT atomic on object stores (copy+delete under fsspec) — callers that
        swap directories (``maintenance.compact``) must tolerate a visible
        intermediate state there; on a local/HDFS-like FS the rename IS atomic.
        """
        raise NotImplementedError

    def rmtree(self, url: str) -> None:
        """Recursively delete a directory tree (no error if absent)."""
        raise NotImplementedError

    def rm(self, url: str) -> None:
        """Delete a single file (no error if absent)."""
        raise NotImplementedError

    def rmdir(self, url: str) -> None:
        """Delete an EMPTY directory; raise OSError if entries exist — the
        fail-safe primitive retention pruning needs (a recursive delete
        would race concurrent writers)."""
        raise NotImplementedError

    def spark_url(self, url: str) -> str:
        """URL form Spark's Hadoop connectors understand."""
        return url


class LocalFileSystem(FileSystem):
    def ls(self, url: str) -> tuple[list[str], list[str]]:
        files: list[str] = []
        dirs: list[str] = []
        with os.scandir(url) as it:
            for entry in it:
                (dirs if entry.is_dir() else files).append(entry.name)
        return sorted(files), sorted(dirs)

    def isdir(self, url: str) -> bool:
        return os.path.isdir(url)

    def exists(self, url: str) -> bool:
        return os.path.exists(url)

    def open(self, url: str, mode: str = "rb") -> IO:
        return open(url, mode)

    def makedirs(self, url: str) -> None:
        os.makedirs(url, exist_ok=True)

    def size(self, url: str) -> int:
        return os.path.getsize(url)

    def move(self, src: str, dst: str) -> None:
        os.rename(src, dst)  # atomic on POSIX within one filesystem

    def rmtree(self, url: str) -> None:
        import shutil

        shutil.rmtree(url, ignore_errors=True)

    def rm(self, url: str) -> None:
        import contextlib

        with contextlib.suppress(FileNotFoundError):
            os.remove(url)

    def rmdir(self, url: str) -> None:
        import contextlib

        with contextlib.suppress(FileNotFoundError):
            os.rmdir(url)  # raises OSError when non-empty: fail safe

    def spark_url(self, url: str) -> str:
        return "file://" + os.path.abspath(url)


class FsspecFileSystem(FileSystem):  # pragma: no cover - exercised only with fsspec
    """Adapter over any fsspec filesystem (s3, gs, ...)."""

    def __init__(self, fs: Any, protocol: str):
        self._fs = fs
        self._protocol = protocol

    def ls(self, url: str) -> tuple[list[str], list[str]]:
        entries = self._fs.ls(url, detail=True)
        files = sorted(e["name"].rsplit("/", 1)[-1] for e in entries if e["type"] == "file")
        dirs = sorted(e["name"].rsplit("/", 1)[-1] for e in entries if e["type"] == "directory")
        return files, dirs

    def isdir(self, url: str) -> bool:
        return self._fs.isdir(url)

    def exists(self, url: str) -> bool:
        return self._fs.exists(url)

    def open(self, url: str, mode: str = "rb") -> IO:
        return self._fs.open(url, mode)

    def makedirs(self, url: str) -> None:
        self._fs.makedirs(url, exist_ok=True)

    def size(self, url: str) -> int:
        return self._fs.size(url)

    def move(self, src: str, dst: str) -> None:
        # object stores: copy+delete, NOT atomic (see FileSystem.move)
        self._fs.mv(src, dst, recursive=True)

    def rmtree(self, url: str) -> None:
        if self._fs.exists(url):
            self._fs.rm(url, recursive=True)

    def rm(self, url: str) -> None:
        if self._fs.exists(url):
            self._fs.rm(url)

    def rmdir(self, url: str) -> None:
        # raise like os.rmdir when entries exist; otherwise remove the real
        # directory if the backend has them (hdfs/sftp) — on prefix-only
        # object stores an empty "directory" simply does not exist and
        # there is nothing to remove
        try:
            entries = self._fs.ls(url, detail=False)
        except FileNotFoundError:
            return
        if entries:
            raise OSError(f"directory not empty: {url}")
        try:
            self._fs.rmdir(url)
        except (FileNotFoundError, AttributeError, NotImplementedError):
            pass

    def spark_url(self, url: str) -> str:
        scheme = "s3a" if self._protocol == "s3" else self._protocol
        return f"{scheme}://{url}" if "://" not in url else url


def get_url_and_fs(url: str, fs: FileSystem | None = None) -> tuple[str, FileSystem]:
    """Split a URL into (bare path, FileSystem) — reference `__init__.py:69-73`.

    ``file://`` (or scheme-less) resolves to :class:`LocalFileSystem`; other
    protocols require fsspec.
    """
    if fs is not None:
        return url, fs
    if "://" in url:
        protocol, _, path = url.partition("://")
    elif ":/" in url:  # fsql-style single-slash prefixes, e.g. "s3:/bucket/key"
        protocol, _, path = url.partition(":/")
    else:
        protocol, path = "file", url
    if protocol == "file":
        return path, LocalFileSystem()
    if not _HAS_FSSPEC:
        raise ValueError(
            f"protocol {protocol!r} needs fsspec, which is not installed; "
            "pass an explicit FileSystem or use file:// paths"
        )
    config = {**(s3_config_from_env() if protocol == "s3" else {}), **_DEFAULT_CONFIGS.get(protocol, {})}
    return path, FsspecFileSystem(fsspec.filesystem(protocol, **config), protocol)
