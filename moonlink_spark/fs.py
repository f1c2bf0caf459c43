"""Filesystem accessor — the single seam for driver-side I/O.

Mirrors the reference's accessor layer
(``src/moonlink/src/storage/filesystem/accessor/`` — every metadata or
file-plumbing operation goes through one trait object), so that the
engine can run against a posix warehouse in the sandbox and an
object store on a real cluster by swapping one class.

Scope: this seam covers the *driver's* metadata and file-plumbing
operations (manifest/header/hint writes, part-file renames, orphan
deletes, listings).  Bulk data reads/writes go through Spark's own
Hadoop FileSystem layer on the executors — that layer already speaks
s3a/gs/abfs natively and is not re-wrapped here.

Contract an object-store implementation must honor (documented per
method; cf. the etag-CAS conditional write moonlink uses for its
version hint, ``storage/table/iceberg/file_catalog.rs:640-665``):

- :meth:`write_atomic` — readers see the whole object or nothing
  (posix: tmp + fsync + rename; S3/GCS: a single PUT is atomic).
- :meth:`publish_cas` — replace ``path`` iff its current content still
  equals ``expected`` (posix: re-read + rename, safe under the
  single-coordinator assumption the sandbox satisfies; S3:
  ``If-Match: <etag>`` conditional PUT; GCS:
  ``x-goog-if-generation-match``).  This is the commit point — the only
  operation whose atomicity the whole engine's correctness rests on.
- :meth:`rename` — atomic replace within the warehouse (object stores
  lack rename: implement as copy + delete of a *never-published* temp
  object, which is safe because only ``publish_cas`` makes state
  visible).

Every accessor is stateless and picklable: :func:`expire.list_files_df`
ships ``store.fs`` to the executors that list the warehouse.
"""

from __future__ import annotations

import os
import shutil
from typing import Iterable, Iterator


class PosixFileSystem:
    """The posix implementation (the sandbox's warehouse)."""

    # -- reads -----------------------------------------------------------
    def read_bytes(self, path: str) -> bytes:
        with open(path, "rb") as f:
            return f.read()

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def is_file(self, path: str) -> bool:
        return os.path.isfile(path)

    def is_dir(self, path: str) -> bool:
        return os.path.isdir(path)

    def size(self, path: str) -> int:
        return os.path.getsize(path)

    def mtime(self, path: str) -> float:
        """Last-modified epoch seconds (object store: LastModified)."""
        return os.path.getmtime(path)

    def list(self, path: str) -> list[str]:
        return os.listdir(path)

    def walk_files(self, root: str) -> Iterator[str]:
        """Every file path under ``root`` (object store: LIST by prefix)."""
        for dirpath, _dirs, files in os.walk(root):
            for name in files:
                yield os.path.join(dirpath, name)

    # -- writes ----------------------------------------------------------
    def write_atomic(self, path: str, data: bytes) -> None:
        """All-or-nothing publish of ``data`` at ``path``."""
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, path)

    def publish_cas(self, path: str, data: bytes,
                    expected: bytes | None) -> bool:
        """Compare-and-swap publish: write ``data`` at ``path`` iff the
        current content equals ``expected`` (``None`` = must not exist).
        Returns False when the precondition fails.  THE commit point."""
        current = self.read_bytes(path) if os.path.isfile(path) else None
        if current != expected:
            return False
        self.write_atomic(path, data)
        return True

    def create_exclusive(self, path: str, data: bytes) -> bool:
        """Create ``path`` with ``data`` iff it does not exist; returns
        False when it already does.  The lock/lease primitive (posix:
        ``O_EXCL``; S3: conditional PUT ``If-None-Match: *``; GCS:
        ``x-goog-if-generation-match: 0``)."""
        try:
            with open(path, "xb") as f:
                f.write(data)
                f.flush()
                os.fsync(f.fileno())
            return True
        except FileExistsError:
            return False

    def rename(self, src: str, dst: str) -> None:
        """Atomic replace (same-filesystem)."""
        os.replace(src, dst)

    def remove(self, path: str) -> None:
        os.remove(path)

    def rmtree(self, path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def copy(self, src: str, dst: str) -> None:
        shutil.copy2(src, dst)


class RenameInterrupted(IOError):
    """Injected crash between the copy and the delete of an
    object-store rename (test hook)."""


class LocalObjectStoreFileSystem(PosixFileSystem):
    """Object-store *semantics* on local disk — the second accessor
    implementation the seam contract demands (cf. the reference's
    accessor layer ``storage/filesystem/accessor/`` and the etag-CAS
    conditional write, ``file_catalog.rs:640-665``).  Bytes live on the
    local filesystem (so Spark executors read them normally); the
    driver-side operations behave like S3/GCS:

    - :meth:`rename` is COPY + DELETE and never atomic — a crash
      between the two leaves BOTH objects.  Engine correctness must not
      rest on rename atomicity: renames touch only never-published temp
      objects, and only :meth:`publish_cas` makes state visible.  The
      ``crash_after_copy`` hook injects exactly that crash so tests can
      prove it.
    - :meth:`publish_cas` is a conditional PUT — ``If-Match`` on the
      object's etag (S3) / generation (GCS).  The local emulation
      compares content, which is equivalent for simple-PUT S3 etags
      (content-derived md5); the conditional-check-then-swap is the
      contract under test.
    - :meth:`write_atomic` is a single PUT, atomic by the platform;
      the tmp+rename emulation is invisible to readers either way.
    """

    crash_after_copy = False  # test hook: fail between copy and delete

    def rename(self, src: str, dst: str) -> None:
        shutil.copy2(src, dst)
        if self.crash_after_copy:
            raise RenameInterrupted(f"injected crash: {src} copied to "
                                    f"{dst}, source not deleted")
        os.remove(src)


# module default — the engine's constructors accept an ``fs`` override
DEFAULT_FS = PosixFileSystem()


def part_files(fs: PosixFileSystem, tmp_dir: str) -> list[str]:
    """Sorted spark part-file names inside a tmp output directory."""
    return sorted(p for p in fs.list(tmp_dir)
                  if p.startswith("part-") and p.endswith(".parquet"))


def rename_many(fs: PosixFileSystem, pairs: Iterable[tuple[str, str]],
                max_workers: int = 16) -> None:
    """Rename many ``(src, dst)`` pairs concurrently.

    Finalization renames are independent per file; serially they become
    the job tail at thousands of output files (each rename is a
    round-trip — µs on posix, a full copy+delete on an object store).
    Names are assigned by the caller before any rename runs, so
    completion order cannot affect the result.  Destination parent
    directories are created first (hash-sharded layouts land files in
    ``s{xx}/`` subdirectories that may not exist yet)."""
    pairs = list(pairs)
    for d in {os.path.dirname(dst) for _src, dst in pairs}:
        fs.makedirs(d)
    if len(pairs) <= 2:
        for src, dst in pairs:
            fs.rename(src, dst)
        return
    from concurrent.futures import ThreadPoolExecutor
    with ThreadPoolExecutor(
            max_workers=min(max_workers, len(pairs))) as pool:
        list(pool.map(lambda p: fs.rename(p[0], p[1]), pairs))


def remove_many(fs: PosixFileSystem, paths: Iterable[str],
                max_workers: int = 16) -> None:
    """Delete many files concurrently (same rationale as
    :func:`rename_many`; object-store DELETEs are round-trips)."""
    paths = list(paths)
    if len(paths) <= 2:
        for p in paths:
            fs.remove(p)
        return
    from concurrent.futures import ThreadPoolExecutor
    with ThreadPoolExecutor(
            max_workers=min(max_workers, len(paths))) as pool:
        list(pool.map(fs.remove, paths))
