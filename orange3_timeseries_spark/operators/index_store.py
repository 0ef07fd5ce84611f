"""Versioned index storage: the write/pointer-swap lifecycle shared by
every persisted index family (BM25 ``operators/retrieval.py``, IVF/PQ
``operators/similarity.py``, LSH ``operators/dedup.py``, SimHash).

Extends the reference's surface (it has no persistence at all) per the
project brief — this repo's flagship serving contract is
build-once/serve-refit-free from parquet state tables, and that contract
needs a safe answer to "what happens when I write a merged index back to
the path I read it from?".  Spark refuses to overwrite a path a live
plan is reading, and even when it didn't, a mid-write failure would
leave mixed-generation tables that serve silently wrong results.

The fix is the classic generation-directory + pointer scheme (the same
shape Iceberg/Delta use for their metadata roots, reduced to the
single-writer case this engine targets):

- every logical index lives under one root ``path``;
- each WRITE lands in a fresh generation directory ``path/v=<n>``
  (monotonically increasing ``n``), never touching earlier generations;
- after ALL state tables of the generation are fully written, a
  ``_COMMITTED`` marker lands inside it and a tiny ``path/_CURRENT``
  pointer file is atomically replaced to name the new generation.

Readers resolve ``_CURRENT`` first (falling back to the NEWEST
``_COMMITTED`` generation when the pointer is momentarily absent — see
the commit-window note below — and to the bare legacy layout when the
root has no committed generation at all), so:

- **read -> merge -> write on the same logical path is SUPPORTED**: the
  merged write streams FROM the old generation's parquet INTO the new
  generation's directory — no self-overwrite, and concurrent serves
  keep reading the old generation until the pointer swaps;
- **a crash mid-write is harmless**: the half-written ``v=<n+1>`` is
  unreferenced garbage (no ``_COMMITTED`` marker), readers keep serving
  the last committed generation (tests/test_index_store.py asserts this
  for all index families);
- **compaction is just a rewrite**: read the current generation,
  rewrite its partitions into the next one, swap the pointer.

**One lifecycle kernel.**  :func:`write_index`, :func:`read_index`,
:func:`merge_index`, :func:`append_index` and :func:`compact_index`
implement the contract once.  A family is an :class:`IndexSpec`
defined next to its build and serve kernels, and its public
``write_*``/``read_*``/``*_merge_*``/``*_append_*``/``compact_*``
functions are thin wrappers over the kernel.  The six specs:

=======  ================================  ====================  =============
family   appendable tables (partition)     driver-side tables    guard ids
=======  ================================  ====================  =============
BM25     postings, token_df (bucket),      params                postings
         stats (derived by a hook)
LSH      entries (bucket), docs (dbucket)  params                docs
SimHash  entries (bucket)                  params                entries
IVF      lists (centroid_id)               centroids, params     lists.nn_id
PQ       codes (unpartitioned)             codebooks             codes.nn_id
IVF-PQ   entries (centroid_id)             centroids, codebooks  entries.nn_id
                                           params
=======  ================================  ====================  =============

**Fast-ingest appends are journaled deltas** (``begin_delta`` /
``commit_delta``): every appendable state table carries ``delta`` as
its LEADING partition level (base data at ``<table>/delta=0``, each
append at ``<table>/delta=<k>`` — ``delta_table_path``), while the
sibling ``v=<n>/delta=<k>`` directory holds only the journal metadata
(writer lease + per-delta ``_COMMITTED`` marker).  Readers
(``read_index_table``) run ONE scan of the table directory filtered to
the committed delta set — the filter is a parquet PartitionFilter, so
plan size stays constant regardless of ingest count and a torn
append's files are pruned at the scan, never read.  A crash mid-append
leaves an unmarked delta no reader ever sees — the pre-append state
keeps serving — and a concurrent reader planning mid-append either
includes the whole batch or none of it (the marker is the last file
written).  Compaction folds committed deltas back into canonical
single-generation state.

Old generations accumulate until :func:`vacuum_index` removes them —
retention is an explicit operator decision (a long-running serve job
may still hold the previous generation's file list).

**Storage backends.**  Pointer/marker/lease metadata goes through a
small filesystem interface with two implementations:

- *local* (no scheme, or ``file:``): plain os-level I/O.  The pointer
  swap is write-temp + fsync + ``os.replace`` + directory fsync, so it
  is atomic across process crashes AND power loss (the generation's
  parquet data itself is only process-crash-safe: Spark's committers
  do not fsync data blocks, so after a power loss verify the current
  generation or re-point at the previous one).
- *Hadoop FileSystem* (any other scheme — ``hdfs://``, ``abfss://``,
  ``s3a://``, …): metadata ops go through the JVM's
  ``org.apache.hadoop.fs.FileSystem`` for the path's scheme (reached
  via the active SparkSession), so metadata and state tables always
  live on the SAME filesystem.  The pointer swap is write-temp +
  delete + rename; ``FileSystem.rename`` cannot atomically replace, so
  there is a brief no-pointer window — covered by the reader fallback
  to the newest ``_COMMITTED`` generation, which at that instant IS
  the generation being published (markers land before the pointer
  moves).  On HDFS/ABFS both delete and rename are atomic metadata
  ops.  On S3 (``s3a://``) rename is copy+delete and "atomic" only
  per-object: correctness still holds under the single-writer contract
  because S3 reads are strongly consistent and the fallback bridges
  the window, but a MULTI-writer deployment should replace the swap
  with a conditional PUT (``If-Match`` on the pointer object) — the
  layout is designed so only :meth:`publish_pointer` would change.

Writer collisions fail loudly: every ``begin_version``/``begin_delta``
creates its ``_WRITER`` lease file EXCLUSIVELY (create-if-absent — the
allocation token), so the second allocator of one ``v=<n>``/``delta=<k>``
fails at BEGIN time, and ``commit_*`` re-verifies the lease is still
ours.  How strong "exclusively" is depends on the filesystem: local
(``O_EXCL``) and HDFS/ABFS (``FileSystem.create(overwrite=false)`` is
an atomic namespace op) cannot interleave one generation; on S3A the
exclusive create is itself exists-then-put (not atomic without the
conditional-write support of recent Hadoop), so two S3 writers racing
the SAME allocation within that window could still collide — the
commit-time lease check catches last-writer-wins overwrites, but true
multi-writer S3 needs the conditional-PUT commit below.

**Multi-writer pointer commits (optimistic CAS).**  ``begin_version``
records the pointer content it observed; ``commit_version`` publishes
with compare-and-set where the backend supports it — the swap succeeds
only if the pointer still names the generation the writer started
from, so of two racing publishers exactly one wins and the loser fails
LOUDLY (its generation reverts to uncommitted garbage; the winner's
state keeps serving).  The local backend implements CAS natively
(pointer mutations serialize through an ``flock`` on
``._PTRLOCK``); remote schemes opt in via
:func:`register_pointer_cas` (e.g. an S3 conditional PUT —
``If-Match``/``If-None-Match`` on the pointer object — through boto3
or Hadoop's conditional-write createFile).  Without a hook, remote
commits keep the legacy delete+rename swap and the single-writer
contract documented above.
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile
import uuid
from typing import Callable, List, NamedTuple, Optional, Tuple

__all__ = ["begin_version", "commit_version", "abort_version",
           "resolve_index_path",
           "current_version", "list_versions", "vacuum_index",
           "begin_delta", "commit_delta", "abort_delta",
           "committed_delta_dirs",
           "committed_delta_ids", "delta_table_path",
           "base_table_path", "read_index_table", "index_info",
           "register_pointer_cas", "unregister_pointer_cas"]

_POINTER = "_CURRENT"
_COMMIT_MARK = "_COMMITTED"
_WRITER_MARK = "_WRITER"
_VDIR_RE = re.compile(r"^v=(\d+)$")
_DDIR_RE = re.compile(r"^delta=(\d+)$")
_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*://")

#: in-process writer leases: {normalized dir path: token}.  The lease
#: FILE is the cross-process truth; this map is how commit knows which
#: token this process wrote at begin time.  Entries drop at commit
#: (success OR failure — a failed commit means the ingest re-runs
#: through a fresh begin) and at :func:`abort_version`/:func:`abort_delta`.
_LEASES: dict = {}

#: pointer content observed by begin_version, keyed like _LEASES:
#: {generation dir: "v=<n>" | None}.  commit_version's CAS publish
#: compares against this — the optimistic-concurrency read timestamp.
_BEGIN_PTR: dict = {}
_NO_PTR = object()

#: remote CAS hooks: {scheme: fn(pointer_path, content, expected) -> bool}.
#: ``expected`` is the pointer content the writer observed at begin
#: (``"v=<n>"`` without trailing newline) or None for "pointer must
#: not exist"; the hook returns True iff it atomically published
#: ``content`` while that condition held (e.g. an S3 conditional PUT
#: with If-Match on the pointer object's known state / If-None-Match:*
#: for None).
_CAS_HOOKS: dict = {}


def register_pointer_cas(scheme: str, fn) -> None:
    """Install a compare-and-set pointer publisher for a remote scheme
    (``"s3a"``, ``"abfss"``, …).  ``fn(pointer_path, content,
    expected)`` must atomically write ``content`` to ``pointer_path``
    iff the pointer's current content equals ``expected`` (None =
    pointer absent), returning True on success and False on a lost
    race — with a hook installed, ``commit_version`` upgrades from the
    single-writer delete+rename swap to loser-fails-loudly
    multi-writer commits."""
    _CAS_HOOKS[scheme.lower()] = fn


def unregister_pointer_cas(scheme: str) -> None:
    _CAS_HOOKS.pop(scheme.lower(), None)


class _LocalFs:
    """os-level metadata backend for local/NFS/fuse paths — every
    mutation that publishes state (pointer, markers, leases) is
    fsynced, so the pointer swap survives power loss, not just process
    crashes (the ADVICE-r11 gap)."""

    remote = False

    def mkdirs(self, path: str, exist_ok: bool = True) -> None:
        os.makedirs(path, exist_ok=exist_ok)

    def isdir(self, path: str) -> bool:
        return os.path.isdir(path)

    def isfile(self, path: str) -> bool:
        return os.path.isfile(path)

    def listdir(self, path: str) -> List[str]:
        return os.listdir(path)

    def read_text(self, path: str) -> str:
        with open(path, "r", encoding="utf-8") as f:
            return f.read()

    def write_text(self, path: str, content: str) -> None:
        # write-temp + fsync + replace + dir fsync: a marker/lease that
        # "exists" must have its content durable — a torn marker after
        # power loss would make a half-written delta look committed
        d = os.path.dirname(path)
        fd, tmp = tempfile.mkstemp(prefix="." + os.path.basename(path)
                                   + ".", dir=d)
        try:
            with os.fdopen(fd, "w", encoding="utf-8") as f:
                f.write(content)
                f.flush()
                os.fsync(f.fileno())
            os.chmod(tmp, 0o644)
            os.replace(tmp, path)
        except BaseException:
            try:
                os.unlink(tmp)
            except OSError:
                pass
            raise
        self._fsync_dir(d)

    publish_pointer = write_text

    def create_exclusive(self, path: str, content: str) -> None:
        """Create-if-absent (``O_EXCL``) — the atomic allocation token
        begin_version/begin_delta key on.  FileExistsError = another
        writer already allocated this directory."""
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
        try:
            with os.fdopen(fd, "w", encoding="utf-8") as f:
                f.write(content)
                f.flush()
                os.fsync(f.fileno())
        except BaseException:
            try:
                os.unlink(path)
            except OSError:
                pass
            raise
        self._fsync_dir(os.path.dirname(path))

    def pointer_cas(self, path: str, content: str,
                    expected: Optional[str]) -> bool:
        """Compare-and-set pointer publish: under an exclusive
        ``flock`` on a sibling ``._PTRLOCK`` file, re-read the pointer,
        compare to ``expected`` (None = must be absent), and only then
        replace it.  Every CAS commit on this root serializes through
        the same lock file, so of two racing publishers exactly one
        sees its expected content — classic optimistic concurrency.
        (flock is advisory and not reliable on every NFS mount; the
        legacy swap + single-writer contract remains the fallback for
        filesystems where that matters — pass ``cas=False``.)"""
        import fcntl

        d = os.path.dirname(path)
        fd = os.open(os.path.join(d, "._PTRLOCK"),
                     os.O_CREAT | os.O_RDWR, 0o644)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            current = (self.read_text(path).strip()
                       if os.path.isfile(path) else None)
            if current != expected:
                return False
            self.write_text(path, content)
            return True
        finally:
            os.close(fd)               # drops the flock

    def delete(self, path: str, recursive: bool = False) -> None:
        if recursive:
            shutil.rmtree(path)
        elif os.path.exists(path):
            os.unlink(path)

    @staticmethod
    def _fsync_dir(d: str) -> None:
        try:
            fd = os.open(d, os.O_RDONLY)
        except OSError:
            return                      # FS without dir-open (some fuse)
        try:
            os.fsync(fd)
        except OSError:
            pass
        finally:
            os.close(fd)


class _HadoopFs:
    """Metadata backend for remote schemes, through the JVM's
    ``org.apache.hadoop.fs.FileSystem`` for the path's scheme — the
    SAME filesystem Spark writes the state tables to, so pointer and
    data can never split across filesystems (the failure mode the
    pre-r12 loud rejection existed to prevent).  Requires an active
    SparkSession (the JVM gateway rides it)."""

    remote = True

    def __init__(self, path: str):
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is None:
            raise ValueError(
                f"index_store: remote path {path!r} needs an active "
                "SparkSession (the Hadoop FileSystem for its scheme is "
                "reached through the session's JVM) — create the "
                "session before touching remote index roots.")
        self._jvm = spark._jvm
        m = _SCHEME_RE.match(path)
        self.scheme = path[:m.end() - 3].lower() if m else ""
        jpath = self._jvm.org.apache.hadoop.fs.Path(path)
        try:
            self._fs = jpath.getFileSystem(
                spark._jsc.hadoopConfiguration())
        except Exception as exc:
            raise ValueError(
                f"index_store: no Hadoop FileSystem is configured for "
                f"{path!r} (missing fs.<scheme>.impl or its jar — e.g. "
                "hadoop-aws for s3a). The store refuses to guess: "
                "metadata must live on the same filesystem as the "
                "state tables.") from exc

    def _p(self, s: str):
        return self._jvm.org.apache.hadoop.fs.Path(s)

    def mkdirs(self, path: str, exist_ok: bool = True) -> None:
        p = self._p(path)
        if not exist_ok and self._fs.exists(p):
            raise FileExistsError(path)
        if not self._fs.mkdirs(p):
            raise OSError(f"index_store: mkdirs failed for {path!r}")

    def isdir(self, path: str) -> bool:
        p = self._p(path)
        return bool(self._fs.exists(p)
                    and self._fs.getFileStatus(p).isDirectory())

    def isfile(self, path: str) -> bool:
        p = self._p(path)
        return bool(self._fs.exists(p)
                    and self._fs.getFileStatus(p).isFile())

    def listdir(self, path: str) -> List[str]:
        return [st.getPath().getName()
                for st in self._fs.listStatus(self._p(path))]

    def read_text(self, path: str) -> str:
        stream = self._fs.open(self._p(path))
        try:
            bos = self._jvm.java.io.ByteArrayOutputStream()
            self._jvm.org.apache.hadoop.io.IOUtils.copyBytes(
                stream, bos, 4096, False)
            return bytes(bos.toByteArray()).decode("utf-8")
        finally:
            stream.close()

    def write_text(self, path: str, content: str) -> None:
        out = self._fs.create(self._p(path), True)
        try:
            out.write(bytearray(content.encode("utf-8")))
            try:
                out.hsync()             # durable where the FS supports it
            except Exception:
                pass
        finally:
            out.close()

    def create_exclusive(self, path: str, content: str) -> None:
        """Create-if-absent through ``FileSystem.create(path,
        overwrite=false)`` — an atomic namespace op on HDFS/ABFS/
        viewfs, so a raced double-allocation of one generation/delta
        fails at begin time there.  On S3A (without Hadoop's
        conditional-write support) create(overwrite=false) is itself
        exists-then-put, so this is best-effort only — see the module
        docstring's multi-writer notes."""
        try:
            out = self._fs.create(self._p(path), False)
        except Exception as exc:
            # only an actual already-exists is a collision; anything
            # else (permissions, transient FS outage, missing parent)
            # must surface as itself, not masquerade as a racing
            # writer the operator would uselessly retry against
            if self._fs.exists(self._p(path)):
                raise FileExistsError(path) from exc
            raise
        try:
            out.write(bytearray(content.encode("utf-8")))
            try:
                out.hsync()
            except Exception:
                pass
        finally:
            out.close()

    def pointer_cas(self, path: str, content: str,
                    expected: Optional[str]) -> bool:
        """Conditional pointer publish through the registered hook for
        this scheme (:func:`register_pointer_cas` — e.g. an S3
        conditional PUT).  Raises if no hook is installed; callers
        check :attr:`scheme` in ``_CAS_HOOKS`` first."""
        fn = _CAS_HOOKS.get(self.scheme)
        if fn is None:
            raise NotImplementedError(
                f"index_store: no CAS hook registered for scheme "
                f"{self.scheme!r}")
        return bool(fn(path, content, expected))

    def publish_pointer(self, path: str, content: str) -> None:
        """Write-temp + delete + rename.  ``FileSystem.rename`` cannot
        atomically replace an existing destination, so the pointer is
        absent for one metadata-op window — readers bridge it via the
        newest-``_COMMITTED`` fallback (module docstring; safe under
        the single-writer contract, incl. S3's strong consistency).
        A multi-writer S3 deployment should register a conditional-PUT
        hook (:func:`register_pointer_cas`) so commits upgrade to
        CAS."""
        d, name = path.rsplit("/", 1)
        tmp = f"{d}/.{name}.{uuid.uuid4().hex}"
        self.write_text(tmp, content)
        dst = self._p(path)
        self._fs.delete(dst, False)
        if not self._fs.rename(self._p(tmp), dst):
            self._fs.delete(self._p(tmp), False)
            raise OSError(
                f"index_store: pointer rename failed for {path!r} — "
                "the previous pointer was removed; readers keep "
                "serving via the newest-committed-generation fallback "
                "(this generation's marker is already down, so it IS "
                "the one served). Re-point by hand (write 'v=<n>' to "
                "_CURRENT) or re-run the ingest through a fresh "
                "begin_version — re-calling commit_version on this "
                "directory will refuse (its writer lease was already "
                "consumed).")

    def delete(self, path: str, recursive: bool = False) -> None:
        self._fs.delete(self._p(path), recursive)


def _fs_for(path: str) -> Tuple[object, str]:
    """(backend, normalized path) for a logical index path.  ``file:``
    URIs strip to plain os paths (Spark and the store must hit the
    same location); any other scheme routes to the Hadoop backend with
    the URI kept intact (Spark reads/writes through the same URI)."""
    if path.startswith("file://"):
        return _LocalFs(), path[len("file://"):]
    if path.startswith("file:"):
        return _LocalFs(), path[len("file:"):]
    if _SCHEME_RE.match(path):
        return _HadoopFs(path), path.rstrip("/")
    return _LocalFs(), path


def _join(base: str, *parts: str) -> str:
    """Path join that preserves URI schemes (os.path.join on posix is
    '/'-joining anyway; this keeps intent explicit for remote paths)."""
    return "/".join([base.rstrip("/"), *parts])


def list_versions(path: str) -> List[int]:
    """Generation numbers present under ``path`` (committed or not),
    ascending.  Empty for a missing root or a bare-layout index."""
    fs, root = _fs_for(path)
    if not fs.isdir(root):
        return []
    out = []
    for name in fs.listdir(root):
        m = _VDIR_RE.match(name)
        if m and fs.isdir(_join(root, name)):
            out.append(int(m.group(1)))
    return sorted(out)


def current_version(path: str) -> Optional[int]:
    """The committed generation number, or None (bare layout / no index
    yet / pointer momentarily absent mid-swap on a remote FS — see
    :func:`resolve_index_path` for the fallback).  Raises on a corrupt
    pointer — a pointer that exists but cannot be parsed means the
    store is damaged, and guessing a generation would serve arbitrary
    state."""
    fs, root = _fs_for(path)
    ptr = _join(root, _POINTER)
    if not fs.isfile(ptr):
        return None
    content = fs.read_text(ptr).strip()
    m = _VDIR_RE.match(content)
    if not m:
        raise ValueError(
            f"index_store: corrupt pointer file {ptr!r} (content "
            f"{content!r}, expected 'v=<n>') — refusing to guess a "
            "generation. Restore the pointer or rebuild the index.")
    return int(m.group(1))


def resolve_index_path(path: str) -> str:
    """The directory the CURRENT generation's state tables live in:
    ``path/v=<n>`` named by the pointer when one exists; the NEWEST
    ``_COMMITTED`` generation when the pointer is absent but committed
    generations exist (the remote backend's delete+rename swap has a
    one-op no-pointer window, and at that instant the newest committed
    generation is exactly the one being published — markers land
    before the pointer moves); else ``path`` itself (bare/legacy
    layout).  A pointer naming a missing directory raises (a
    vacuumed-too-aggressively or hand-damaged store must fail loud,
    not fall back to stale bare tables)."""
    fs, root = _fs_for(path)
    n = current_version(path)
    if n is None:
        committed = [v for v in list_versions(path)
                     if fs.isfile(_join(root, f"v={v}", _COMMIT_MARK))]
        if committed:
            return _join(root, f"v={committed[-1]}")
        return root
    vdir = _join(root, f"v={n}")
    if not fs.isdir(vdir):
        raise ValueError(
            f"index_store: pointer at {path!r} names generation v={n} "
            "but that directory does not exist — the store is damaged "
            "(vacuum raced a writer, or files were removed by hand). "
            "Rebuild the index.")
    return vdir


def _acquire(fs, newdir: str) -> None:
    """EXCLUSIVELY create the writer lease in a freshly allocated
    directory (the allocation token — a second allocator of the same
    directory fails right here, atomically on local/HDFS/ABFS) and
    register it in-process; :func:`_verify_lease` checks it back at
    commit time so any collision that slips past the exclusive create
    (S3A's non-atomic create-if-absent) still fails LOUDLY instead of
    interleaving one generation/delta."""
    token = uuid.uuid4().hex
    try:
        fs.create_exclusive(_join(newdir, _WRITER_MARK), token + "\n")
    except FileExistsError:
        raise ValueError(
            f"index_store: directory {newdir!r} already carries a "
            "writer lease — another writer allocated it first. Two "
            "pipelines are racing this index root; re-run this ingest "
            "(it will allocate the next number).") from None
    _LEASES[newdir] = token


def _verify_lease(fs, d: str, what: str) -> None:
    # the in-process record drops whether the check passes or fails:
    # a failed commit means this allocation is dead — the ingest
    # re-runs through a fresh begin (keeping the entry would leak it
    # for the driver's lifetime, and a later out-of-band recreation of
    # the same path would trip a spurious 'lease has vanished')
    ours = _LEASES.pop(d, None)
    lease = _join(d, _WRITER_MARK)
    if fs.isfile(lease):
        found = fs.read_text(lease).strip()
        if ours is None:
            # begun by another process (or a pre-lease caller wrote the
            # file by hand) — committing someone else's in-flight write
            # is exactly the collision the lease exists to catch
            raise ValueError(
                f"index_store: {what} {d!r} carries a writer lease "
                "this process did not create — another writer began "
                "it. The single-writer contract is violated; the "
                "committed store is untouched and keeps serving.")
        if found != ours:
            raise ValueError(
                f"index_store: writer-lease mismatch in {what} {d!r} — "
                "a concurrent writer overwrote the lease after this "
                "process allocated the directory. Refusing to commit "
                "interleaved state; the committed store is untouched "
                "and keeps serving. Re-run the ingest.")
    elif ours is not None:
        raise ValueError(
            f"index_store: the writer lease this process dropped in "
            f"{what} {d!r} has vanished — external interference "
            "(manual cleanup or a colliding writer). Refusing to "
            "commit; re-run the ingest.")


def begin_version(path: str) -> str:
    """Allocate the NEXT generation directory for a write and return
    its path (``path/v=<max+1>``, ``v=1`` for a fresh root).  The
    directory is created empty with a writer lease inside; nothing is
    visible to readers until :func:`commit_version` verifies the lease
    and swaps the pointer.  Two writers racing the same root fail
    loudly AT BEGIN: the lease file is created exclusively
    (create-if-absent — atomic on local/HDFS/ABFS; best-effort on
    S3A), so the second allocator of one ``v=<n>`` raises; the lease
    re-check at commit backstops anything that slips the window.  The
    pointer content observed here is recorded so ``commit_version``
    can publish with compare-and-set where supported."""
    fs, root = _fs_for(path)
    fs.mkdirs(root, exist_ok=True)
    versions = list_versions(path)
    nxt = (versions[-1] + 1) if versions else 1
    vdir = _join(root, f"v={nxt}")
    try:
        fs.mkdirs(vdir, exist_ok=False)
    except FileExistsError:
        raise ValueError(
            f"index_store: generation directory {vdir!r} already "
            "exists — another writer allocated it first. Two pipelines "
            "are racing this index root; re-run this ingest.") from None
    _acquire(fs, vdir)
    ptr = _join(root, _POINTER)
    _BEGIN_PTR[vdir] = (fs.read_text(ptr).strip()
                        if fs.isfile(ptr) else None)
    return vdir


def commit_version(path: str, version_path: str, *,
                   cas: Optional[bool] = None) -> None:
    """Atomically point ``path/_CURRENT`` at a fully-written generation
    directory.  Order: verify the writer lease, drop the
    ``_COMMITTED`` marker inside the generation (it distinguishes
    once-complete generations from torn mid-write leftovers — vacuum
    treats them differently, and the no-pointer reader fallback keys
    on it), then publish the pointer.  A crash anywhere leaves readers
    on a complete generation: before the marker lands, the old one;
    after, the new one is already fully written.

    **Publish mode** (``cas``): ``None`` (default) uses compare-and-set
    when available — the local backend always, a remote scheme when a
    :func:`register_pointer_cas` hook is installed — and otherwise the
    legacy single-writer swap (local: fsynced write-temp +
    ``os.replace`` + dir fsync, power-loss-safe; remote: Hadoop
    delete+rename, window bridged by the marker fallback).  ``True``
    REQUIRES CAS (raises if the backend can't).  ``False`` forces the
    legacy swap (e.g. an NFS mount with unreliable flock).

    A CAS publish succeeds only if the pointer still names the
    generation this writer observed at ``begin_version`` — of two
    racing publishers exactly one wins; the loser's commit raises, its
    ``_COMMITTED`` marker is rolled back (the generation reverts to
    vacuum-able garbage) and the winner's state keeps serving."""
    fs, root = _fs_for(path)
    _, vnorm = _fs_for(version_path)
    vname = vnorm.rstrip("/").rsplit("/", 1)[-1]
    if not _VDIR_RE.match(vname):
        raise ValueError(
            f"index_store: commit_version expects a 'v=<n>' generation "
            f"directory, got {version_path!r}")
    vdir = _join(root, vname)
    if not fs.isdir(vdir):
        raise ValueError(
            f"index_store: cannot commit {vname!r} under {path!r} — "
            "the generation directory does not exist (write it first)")
    # the observation drops whether the commit succeeds or fails —
    # a failed commit means this allocation is dead either way
    expected = _BEGIN_PTR.pop(vdir, _NO_PTR)
    _verify_lease(fs, vdir, "generation")
    can_cas = (expected is not _NO_PTR
               and (not fs.remote or fs.scheme in _CAS_HOOKS))
    if cas is True and not can_cas:
        raise ValueError(
            f"index_store: commit_version(cas=True) for {path!r} — "
            + ("no pointer observation was recorded for this "
               "generation (it was not allocated through begin_version "
               "in this process), so there is nothing to compare "
               "against." if expected is _NO_PTR else
               f"no CAS hook is registered for scheme {fs.scheme!r} "
               "(register_pointer_cas)."))
    use_cas = can_cas and cas is not False
    marker = _join(vdir, _COMMIT_MARK)
    fs.write_text(marker, "committed\n")
    if not use_cas:
        fs.publish_pointer(_join(root, _POINTER), vname + "\n")
        return
    try:
        won = fs.pointer_cas(_join(root, _POINTER), vname + "\n",
                             expected)
    except BaseException:
        # the CAS attempt ERRORED (hook transport failure, flock
        # OSError, …) — the pointer state is unknown but this
        # generation was certainly not published; roll the marker back
        # so it cannot win the no-pointer reader fallback or occupy a
        # vacuum retention slot, then surface the real cause
        fs.delete(marker)
        raise
    if not won:
        # lost the race: another writer published after this one began.
        # Roll the marker back so this generation cannot win the
        # no-pointer reader fallback or occupy a vacuum retention slot.
        fs.delete(marker)
        raise ValueError(
            f"index_store: pointer CAS failed committing {vname!r} "
            f"under {path!r} — another writer published a generation "
            f"after this write began (expected pointer "
            f"{expected!r}). This generation is left uncommitted; the "
            "winning writer's state keeps serving. Re-read the "
            "current index and re-run this ingest.")


def begin_delta(path: str) -> str:
    """Allocate the next journaled-append delta directory inside the
    CURRENT generation (``…/v=<n>/delta=<k>``) and return its path.
    Invisible to readers until :func:`commit_delta` drops its
    ``_COMMITTED`` marker — so a crash mid-append leaves the
    pre-append state serving, and a concurrent reader never sees a
    partially ingested batch.  Same writer-lease + loud-collision
    rules as :func:`begin_version`."""
    vpath = resolve_index_path(path)
    fs, vroot = _fs_for(vpath)
    ks = []
    for name in fs.listdir(vroot):
        m = _DDIR_RE.match(name)
        if m and fs.isdir(_join(vroot, name)):
            ks.append(int(m.group(1)))
    dpath = _join(vroot, f"delta={max(ks) + 1 if ks else 1}")
    try:
        fs.mkdirs(dpath, exist_ok=False)
    except FileExistsError:
        raise ValueError(
            f"index_store: delta directory {dpath!r} already exists — "
            "another writer allocated it first. Two pipelines are "
            "racing this index root; re-run this ingest.") from None
    _acquire(fs, dpath)
    return dpath


def commit_delta(delta_path: str) -> None:
    """Publish a fully written append delta: verify the writer lease,
    then drop the ``_COMMITTED`` marker (fsynced on the local
    backend).  Marker creation is the atomic commit point —
    :func:`read_index_table` unions committed deltas only."""
    fs, d = _fs_for(delta_path)
    if not _DDIR_RE.match(d.rstrip("/").rsplit("/", 1)[-1]):
        raise ValueError(
            f"index_store: commit_delta expects a 'delta=<k>' "
            f"directory, got {delta_path!r}")
    if not fs.isdir(d):
        raise ValueError(
            f"index_store: cannot commit delta {delta_path!r} — the "
            "directory does not exist (write it first)")
    _verify_lease(fs, d, "delta")
    fs.write_text(_join(d, _COMMIT_MARK), "committed\n")


def abort_version(path: str, version_path: str) -> None:
    """Explicitly abandon a begun-but-uncommitted generation: drop the
    in-process lease/pointer records and delete the directory.
    Readers never saw it (no ``_COMMITTED`` marker, pointer untouched).
    Refuses to touch a COMMITTED generation — that is :func:`vacuum_index`'s
    job, with retention rules.  Use this in failure paths so a retried
    ingest doesn't strand leased directories (and in-process lease
    entries) for the driver's lifetime."""
    fs, root = _fs_for(path)
    _, vnorm = _fs_for(version_path)
    vname = vnorm.rstrip("/").rsplit("/", 1)[-1]
    if not _VDIR_RE.match(vname):
        raise ValueError(
            f"index_store: abort_version expects a 'v=<n>' generation "
            f"directory, got {version_path!r}")
    vdir = _join(root, vname)
    if fs.isfile(_join(vdir, _COMMIT_MARK)):
        raise ValueError(
            f"index_store: refusing to abort {vname!r} under {path!r} "
            "— it is COMMITTED (readers may be serving it). Use "
            "vacuum_index to retire old generations.")
    _LEASES.pop(vdir, None)
    _BEGIN_PTR.pop(vdir, None)
    if fs.isdir(vdir):
        fs.delete(vdir, recursive=True)


def abort_delta(delta_path: str) -> None:
    """Explicitly abandon a begun-but-uncommitted append delta: drop
    the in-process lease record and delete BOTH the journal metadata
    directory (``…/v=<n>/delta=<k>``) and every state table's data for
    that delta (``…/v=<n>/<table>/delta=<k>``).  Readers never saw any
    of it (no ``_COMMITTED`` marker ⇒ the partition filter prunes the
    data files).  Refuses to touch a committed delta — compaction is
    how committed journal entries retire."""
    fs, d = _fs_for(delta_path)
    d = d.rstrip("/")
    vroot, dname = d.rsplit("/", 1)
    if not _DDIR_RE.match(dname):
        raise ValueError(
            f"index_store: abort_delta expects a 'delta=<k>' "
            f"directory, got {delta_path!r}")
    if fs.isfile(_join(d, _COMMIT_MARK)):
        raise ValueError(
            f"index_store: refusing to abort committed delta "
            f"{delta_path!r} — readers already serve it; compaction "
            "is how committed journal entries retire.")
    _LEASES.pop(d, None)
    if fs.isdir(vroot):
        for name in fs.listdir(vroot):
            if (name.startswith("_") or _DDIR_RE.match(name)
                    or not fs.isdir(_join(vroot, name))):
                continue
            tdelta = _join(vroot, name, dname)
            if fs.isdir(tdelta):
                fs.delete(tdelta, recursive=True)
    if fs.isdir(d):
        fs.delete(d, recursive=True)


def _committed_deltas(version_path: str) -> List[Tuple[int, str]]:
    """(k, metadata-dir path) for every COMMITTED append delta of a
    resolved generation, in ingest order.  Unmarked (torn or
    in-flight) deltas are excluded — invisible to every reader until
    their marker lands."""
    fs, vroot = _fs_for(version_path)
    if not fs.isdir(vroot):
        return []
    out = []
    for name in fs.listdir(vroot):
        m = _DDIR_RE.match(name)
        if (m and fs.isdir(_join(vroot, name))
                and fs.isfile(_join(vroot, name, _COMMIT_MARK))):
            out.append((int(m.group(1)), _join(vroot, name)))
    return sorted(out)


def committed_delta_dirs(version_path: str) -> List[str]:
    """The COMMITTED append-delta metadata directories of a resolved
    generation, in ingest order (see :func:`_committed_deltas`)."""
    return [p for _, p in _committed_deltas(version_path)]


def committed_delta_ids(version_path: str) -> List[int]:
    """The COMMITTED append-delta numbers of a resolved generation, in
    ingest order (see :func:`_committed_deltas`)."""
    return [k for k, _ in _committed_deltas(version_path)]


def require_journaled_layout(version_path: str, tables) -> None:
    """Raise BEFORE an append allocates anything when a generation
    predates the journaled layout (a table without the ``delta=0``
    base level).  Appends call this ahead of :func:`begin_delta` —
    failing after the allocation would strand an orphan leased delta
    metadata dir in the CURRENT generation on every retry (vacuum only
    removes whole generations)."""
    fs, vroot = _fs_for(version_path)
    for t in tables:
        if fs.isdir(_join(vroot, t)) and \
                not fs.isdir(_join(vroot, t, "delta=0")):
            raise ValueError(
                f"index_store: table {t!r} under {vroot!r} has no "
                "'delta=0' base level — this generation predates the "
                "journaled-append layout, and mixing layouts in one "
                "table directory breaks partition discovery for every "
                "reader. Rewrite the index once (compact_*_index or a "
                "versioned write) and retry the append.")


def delta_table_path(delta_path: str, table: str) -> str:
    """Where one state table of an append delta WRITES:
    ``…/v=<n>/<table>/delta=<k>`` — the ``delta=<k>`` level lives
    INSIDE the table directory so the whole table (base ``delta=0`` +
    every append) reads as ONE parquet scan with ``delta`` as a
    leading partition column, and committed-only filtering is a
    partition PRUNE, not a plan-node union (a 64-delta union measured
    8.6× the compact serve — plan size must not grow with ingest
    count).  The sibling ``…/v=<n>/delta=<k>`` directory holds only
    the journal metadata (writer lease + ``_COMMITTED`` marker).

    Appending to a generation written before the journaled layout
    (its base table has no ``delta=0`` level) fails LOUDLY — mixing
    depths in one table directory would break partition discovery for
    every subsequent read; compact/rewrite the index once to
    upgrade."""
    fs, d = _fs_for(delta_path)
    head, dname = d.rstrip("/").rsplit("/", 1)
    if not _DDIR_RE.match(dname):
        raise ValueError(
            f"index_store: delta_table_path expects a 'delta=<k>' "
            f"directory, got {delta_path!r}")
    if not fs.isdir(_join(head, table, "delta=0")):
        raise ValueError(
            f"index_store: table {table!r} under {head!r} has no "
            "'delta=0' base level — this generation predates the "
            "journaled-append layout, and mixing layouts in one table "
            "directory breaks partition discovery for every reader. "
            "Rewrite the index once (compact_*_index or a versioned "
            "write) and retry the append.")
    return _join(head, table, dname)


def base_table_path(version_path: str, table: str) -> str:
    """Where one APPENDABLE state table of a generation WRITES its
    base data: ``<version_path>/<table>/delta=0`` (the journaled
    layout :func:`delta_table_path` describes).  Non-appendable tables
    (params, centroids, codebooks) write directly under
    ``<version_path>/<table>`` and never go through here."""
    return _join(_fs_for(version_path)[1], table, "delta=0")


def read_index_table(spark, version_path: str, table: str):
    """One state table of a resolved generation as a DataFrame: ONE
    parquet scan of ``<version_path>/<table>`` (base ``delta=0`` plus
    every append delta as partition directories), filtered to the
    COMMITTED delta set and with the ``delta`` column dropped — so the
    caller sees exactly the logical table.  One scan node regardless
    of ingest count: partition discovery runs once, the committed-set
    filter and any serve-time bucket/cell filter are parquet
    PartitionFilters, and a torn append's files are pruned at the
    scan, never read.  Generations written before the journaled
    layout (no ``delta=0`` level) read as the plain single-root scan
    they always were — EXCEPT a transitional generation that also
    carries sibling-shape deltas (``<vroot>/delta=<k>/<table>``, the
    first journaled design): those union one plan node PER delta, the
    exact plan-grows-with-ingest-count behavior the partition-level
    layout eliminated (measured 8.6× at K=64).  Compact such an index
    promptly — ``index_info`` reports ``layout: "pre-journal"`` with a
    non-empty ``committed_deltas`` list when one is serving."""
    from pyspark.sql import functions as F

    fs, vroot = _fs_for(version_path)
    tdir = _join(vroot, table)
    if not fs.isdir(_join(tdir, "delta=0")):
        # pre-journal layout (base data directly under <table>).  A
        # TRANSITIONAL generation may still carry committed deltas in
        # the sibling-dir shape (<vroot>/delta=<k>/<table> — the first
        # journaled design): union them rather than silently dropping
        # appended rows; the next versioned write/compaction folds
        # everything into the partition-level layout.
        df = spark.read.parquet(tdir)
        for d in committed_delta_dirs(version_path):
            t = _join(d, table)
            if fs.isdir(t):
                df = df.unionByName(spark.read.parquet(t))
        return df
    keep = [0] + committed_delta_ids(version_path)
    return (_read_parquet_cached_schema(spark, fs, tdir)
            .where(F.col("delta").isin(keep)).drop("delta"))


# (tdir, mtime) -> StructType.  Schema METADATA only (never rows):
# skipping per-read footer inference saves ~60 ms of driver time per
# index read (lifecycle queries read their index 4-6 times).  Safe by
# construction: a committed generation's table schema is immutable
# (appends must match the base to read as one scan), and the key
# carries the table dir's mtime — any append (new delta= subdir) or
# out-of-band rewrite bumps it and forces re-inference.  Local paths
# only: remote-scheme mtimes aren't uniformly cheap/reliable, so those
# keep per-read inference.
_SCHEMA_CACHE: dict = {}


def _read_parquet_cached_schema(spark, fs, tdir: str):
    if not isinstance(fs, _LocalFs):
        return spark.read.parquet(tdir)
    try:
        key = (tdir, os.stat(tdir).st_mtime_ns)
    except OSError:
        return spark.read.parquet(tdir)
    sch = _SCHEMA_CACHE.get(key)
    if sch is not None:
        return spark.read.schema(sch).parquet(tdir)
    df = spark.read.parquet(tdir)
    _SCHEMA_CACHE[key] = df.schema
    return df


def index_info(path: str) -> dict:
    """Operational snapshot of a logical index root — the numbers an
    ingest pipeline's compaction/vacuum cadence keys on, without
    touching any data file:

    ``{"current": n|None, "versions": [(n, committed?), …],
    "committed_deltas": [k, …], "uncommitted_deltas": [k, …],
    "layout": "journaled"|"pre-journal"|"bare"}``

    ``committed_deltas`` counts the CURRENT generation's journal —
    when it reaches the operator's files-per-partition budget
    (SCALE.md r12 table: single digits free, tens ≈ 1.7×), compact;
    ``uncommitted_deltas`` > 0 means torn/in-flight appends (invisible
    to readers; a persistent one is a crashed ingest —
    :func:`abort_delta` cleans it up).
    ``versions`` beyond ``keep_last`` are vacuum candidates.

    Layout ``"pre-journal"`` with non-empty ``committed_deltas``
    flags a TRANSITIONAL generation serving sibling-shape deltas —
    its serve plan grows one scan node per delta
    (:func:`read_index_table`); compact it promptly."""
    fs, root = _fs_for(path)
    cur = current_version(path)
    versions = [(v, fs.isfile(_join(root, f"v={v}", _COMMIT_MARK)))
                for v in list_versions(path)]
    has_committed = cur is not None or any(c for _, c in versions)
    if not has_committed:
        # nothing a reader can serve from a generation: a fresh root,
        # a bare-layout index, or only IN-FLIGHT (uncommitted)
        # generations — there is no serving vpath to inspect, so the
        # snapshot reports 'bare' rather than mislabeling the root's
        # (empty) journal as the index's
        return {"current": None,
                "versions": versions,
                "committed_deltas": [],
                "uncommitted_deltas": [],
                "layout": "bare"}
    vpath = resolve_index_path(path)
    committed = set(committed_delta_ids(vpath))
    all_deltas = set()
    for name in fs.listdir(vpath):
        m = _DDIR_RE.match(name)
        if m and fs.isdir(_join(vpath, name)):
            all_deltas.add(int(m.group(1)))
    has_journal = any(
        fs.isdir(_join(vpath, name, "delta=0"))
        for name in fs.listdir(vpath)
        if not _DDIR_RE.match(name) and not _VDIR_RE.match(name)
        and not name.startswith("_") and fs.isdir(_join(vpath, name)))
    return {"current": cur,
            "versions": versions,
            "committed_deltas": sorted(committed),
            "uncommitted_deltas": sorted(all_deltas - committed),
            "layout": "journaled" if has_journal else "pre-journal"}


def vacuum_index(path: str, keep_last: int = 1) -> List[int]:
    """Delete unreferenced generations, returning the numbers removed.
    Keeps the CURRENT generation plus the newest ``keep_last - 1``
    other COMMITTED generations at or below it; torn mid-write
    leftovers below the pointer (no ``_COMMITTED`` marker — a crash
    between table writes) are always garbage and always removed, so
    they can never occupy a retention slot a rollback depends on.
    Journaled append deltas live INSIDE their generation and share its
    fate.  Generations NEWER than the pointer are never touched (an
    in-flight uncommitted write).  Retention is the operator's call: a
    serve job that planned against the previous generation keeps its
    file list until its query finishes — vacuum only once no reader
    can still hold one."""
    cur = current_version(path)
    if cur is None:
        return []
    keep_last = max(1, int(keep_last))
    fs, root = _fs_for(path)
    below = [v for v in list_versions(path) if v <= cur]
    committed = [v for v in below
                 if v == cur or fs.isfile(
                     _join(root, f"v={v}", _COMMIT_MARK))]
    keep = set(committed[-keep_last:]) | {cur}
    removed = []
    for v in below:
        if v not in keep:
            fs.delete(_join(root, f"v={v}"), recursive=True)
            removed.append(v)
    return removed


# --------------------------------------------------------------- perf helpers
# Round-13 optimization tier (spark_optimization_guide §2.6, §5):
# - independent state-table writes of ONE generation/delta overlap as
#   concurrent driver-thread jobs, so the tail of one write back-fills
#   the cluster instead of leaving it idle;
# - one-row metadata tables (params, stats, codebooks) move through the
#   driver directly: scheduling a distributed job to persist or read a
#   handful of rows is pure overhead at ANY scale, and the driver is
#   already the single writer of the generation.  Remote schemes fall
#   back to Spark jobs (the JVM owns those filesystems).


def run_concurrent(*thunks):
    """Run independent Spark actions (the state-table writes of one
    index generation) concurrently from driver threads and return
    their results in order.  Spark's scheduler interleaves the jobs
    (FIFO), so the tail tasks of one write back-fill executors freed
    by another — guide §2.6.  Exceptions re-raise (first by position);
    a failed write aborts the enclosing begin/commit window anyway, so
    partial sibling writes are unreferenced garbage, never visible."""
    thunks = [t for t in thunks if t is not None]
    if len(thunks) == 1:
        return [thunks[0]()]
    from concurrent.futures import ThreadPoolExecutor

    # the JVM's active-SparkSession is THREAD-local (and PySpark pins
    # Python threads to JVM threads), so a bare worker thread would see
    # no active session — re-activate the caller's session in each
    # worker before running its thunk (anything reaching
    # SparkSession.getActiveSession(), e.g. the remote-scheme _HadoopFs
    # backend, keeps working under concurrency)
    sess = None
    try:
        from pyspark.sql import SparkSession
        sess = SparkSession.getActiveSession()
    except Exception:
        pass

    def _run(t):
        if sess is not None:
            try:
                sess._jvm.org.apache.spark.sql.SparkSession \
                    .setActiveSession(sess._jsparkSession)
            except Exception:
                pass
        return t()

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(_run, t) for t in thunks]
        return [f.result() for f in futures]


_PA_TYPES = {"int": "int32", "integer": "int32", "bigint": "int64",
             "long": "int64", "string": "string", "double": "float64",
             "float": "float32", "boolean": "bool_"}


def _pa_type(ddl: str):
    import pyarrow as pa
    ddl = ddl.strip().lower()
    if ddl.startswith("array<") and ddl.endswith(">"):
        return pa.list_(_pa_type(ddl[6:-1]))
    return getattr(pa, _PA_TYPES[ddl])()


def write_small_table(spark, path: str, rows, schema: str) -> None:
    """Persist a small driver-resident metadata table (params / stats /
    codebooks — O(model) rows by contract) as ONE parquet file written
    directly by the driver when the path is local, skipping the
    createDataFrame→job→commit cycle entirely; remote schemes (and any
    local-write surprise) fall back to the plain Spark write.  The
    on-disk artifact is byte-compatible parquet either way — readers
    (Spark or pyarrow) cannot tell which path wrote it."""
    fs, p = _fs_for(path)
    if not fs.remote:
        try:
            import pyarrow as pa
            import pyarrow.parquet as pq
            fields = [f.strip().rsplit(None, 1)
                      for f in _split_ddl(schema)]
            arrays = [pa.array([r[i] for r in rows], type=_pa_type(t))
                      for i, (_n, t) in enumerate(fields)]
            table = pa.Table.from_arrays(
                arrays, names=[n for n, _t in fields])
            fs.mkdirs(p, exist_ok=True)
            pq.write_table(table, os.path.join(p, "part-00000.parquet"),
                           compression="snappy")
            return
        except Exception:
            pass
    spark.createDataFrame(list(rows), schema) \
        .write.mode("overwrite").parquet(path)


def _split_ddl(schema: str) -> List[str]:
    """Split a DDL field list on TOP-LEVEL commas (array<…> commas
    don't split)."""
    out, depth, cur = [], 0, []
    for ch in schema:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur))
    return out


def _read_small_local(path: str):
    """All rows of a small local parquet table via pyarrow (driver-side,
    no Spark job), as pyspark Rows; None when the fast path does not
    apply (remote scheme, missing dir, unreadable file)."""
    fs, p = _fs_for(path)
    if fs.remote:
        return None
    try:
        import glob as _glob

        import pyarrow.parquet as pq
        parts = sorted(_glob.glob(os.path.join(p, "*.parquet")))
        if not parts:
            return None
        from pyspark.sql import Row

        out = []
        for part in parts:
            t = pq.read_table(part)
            cols = t.column_names
            for i in range(t.num_rows):
                out.append(Row(**{c: t.column(c)[i].as_py()
                                  for c in cols}))
        return out
    except Exception:
        return None


def read_small_table_row(spark, path: str):
    """First row of a metadata table — driver-side pyarrow on local
    paths (no Spark job), Spark read otherwise.  A missing table
    raises the SAME AnalysisException the plain Spark read raises
    (callers' pre-params fallbacks key on it)."""
    rows = _read_small_local(path)
    if rows:
        return rows[0]
    return spark.read.parquet(path).first()


def read_small_table_rows(spark, path: str):
    """All rows of a metadata table (e.g. PQ codebooks — O(M·K) rows
    by contract), driver-side on local paths."""
    rows = _read_small_local(path)
    if rows is not None and rows:
        return rows
    return spark.read.parquet(path).collect()


__all__ += ["run_concurrent", "write_small_table",
            "read_small_table_row", "read_small_table_rows"]


# ------------------------------------------------------------ lifecycle kernel
class StateTable(NamedTuple):
    """An appendable state table: base rows under ``<table>/delta=0``,
    appends under ``<table>/delta=<k>``."""

    name: str
    #: parquet partition column (serve-time prune key); None = plain
    partition: Optional[str] = None
    #: merge step for a table that is not a plain row union
    fold: Optional[Callable] = None
    #: index -> DataFrame to write, if not the same-named attribute
    frame: Optional[Callable] = None


class IndexSpec(NamedTuple):
    """One family, as the lifecycle kernel sees it."""

    #: names the guard's caller in its error: ``<family>_<op>_index``
    family: str
    tables: Tuple[StateTable, ...]
    #: index -> [(name, rows, ddl)] of driver-written tables, computed
    #: before the state-table writes
    small_tables: Callable
    #: (spark, vpath, {table: DataFrame}, **kw) -> index
    load: Callable
    #: (base, new_rows, **kw) -> index of the batch alone, built under
    #: the base's frozen models — merge and append share it
    delta: Callable
    #: (table, id column or None for id_col, consequence) of the guard
    guard: Tuple[str, Optional[str], str]
    #: (index, table_path, guard) -> None, replacing the generic wave
    write_tables: Optional[Callable] = None


def write_table(df, table: StateTable, path: str,
                compact: bool = False) -> None:
    """Write one state table, partitioned by its partition column; an
    unpartitioned one is re-widened by bytes when compacting, so append
    fragments coalesce."""
    if table.partition is not None:
        (df.repartition(table.partition).write.mode("overwrite")
         .partitionBy(table.partition).parquet(path))
        return
    if compact:
        from orange3_timeseries_spark.operators.partitioning import (
            scaled_width,
        )
        df = df.repartition(scaled_width(df))
    df.write.mode("overwrite").parquet(path)


def _frame(table: StateTable, index):
    return table.frame(index) if table.frame else getattr(index,
                                                          table.name)


def _write_state(spec: IndexSpec, index, table_path, guard=None,
                 compact: bool = False) -> None:
    # ONE concurrent wave: the append's guard plus one write per table
    if spec.write_tables is not None:
        spec.write_tables(index, table_path, guard)
        return
    run_concurrent(guard, *[
        (lambda t=t: write_table(_frame(t, index), t, table_path(t.name),
                                 compact))
        for t in spec.tables])


def _check_disjoint(spec: IndexSpec, base, new_rows, op: str) -> None:
    from pyspark.sql import functions as F

    from orange3_timeseries_spark.operators.audit import (
        check_disjoint_ids,
    )

    table, col, consequence = spec.guard
    ids = getattr(base, table)
    if col is not None:
        ids = ids.select(F.col(col).alias(base.id_col))
    check_disjoint_ids(ids, new_rows, base.id_col,
                       f"{spec.family}_{op}_index", consequence)


def write_index(spec: IndexSpec, index, path: str,
                compact: bool = False) -> None:
    """Persist ``index`` as the next generation of ``path`` and swap
    the pointer.  A failed table write aborts the generation, so a
    retry allocates the same number."""
    vdir = begin_version(path)
    try:
        small = spec.small_tables(index)
        _write_state(spec, index, lambda t: base_table_path(vdir, t),
                     compact=compact)
        spark = _frame(spec.tables[0], index).sparkSession
        for name, rows, ddl in small:
            write_small_table(spark, _join(vdir, name), rows, ddl)
    except BaseException:
        abort_version(path, vdir)
        raise
    commit_version(path, vdir)


def read_index(spec: IndexSpec, spark, path: str, **kw):
    """The current generation of ``path``: lazy state tables (committed
    deltas only) plus the family's eagerly loaded small tables."""
    vpath = resolve_index_path(path)
    return spec.load(spark, vpath,
                     {t.name: read_index_table(spark, vpath, t.name)
                      for t in spec.tables}, **kw)


def merge_index(spec: IndexSpec, base, new_rows,
                check_disjoint: bool = True, **kw):
    """``base`` with ``new_rows`` folded in: the guard, one delta
    build, then a union (or the table's fold) per state table."""
    if check_disjoint:
        _check_disjoint(spec, base, new_rows, "merge")
    delta = spec.delta(base, new_rows, **kw)
    tables = {}
    for t in spec.tables:
        d = getattr(delta, t.name)
        rows = getattr(base, t.name).select(*d.columns).unionByName(d)
        tables[t.name] = t.fold(rows) if t.fold else rows
    return base._replace(**tables)


def append_index(spec: IndexSpec, spark, path: str, new_rows,
                 check_disjoint: bool = True, read_kw=None,
                 **kw) -> None:
    """Land ``new_rows`` as a journaled delta of the current generation
    of ``path``.  The guard shares the delta writes' wave; a failure
    aborts the delta, and the marker lands last."""
    require_journaled_layout(resolve_index_path(path),
                             [t.name for t in spec.tables])
    base = read_index(spec, spark, path, **(read_kw or {}))
    delta = spec.delta(base, new_rows, **kw)
    dpath = begin_delta(path)
    try:
        _write_state(
            spec, delta, lambda t: delta_table_path(dpath, t),
            (lambda: _check_disjoint(spec, base, new_rows, "append"))
            if check_disjoint else None)
    except BaseException:
        abort_delta(dpath)
        raise
    commit_delta(dpath)


def compact_index(spec: IndexSpec, spark, path: str, **kw) -> None:
    """Rewrite the current generation, committed deltas folded in, into
    a fresh one."""
    write_index(spec, read_index(spec, spark, path, **kw), path,
                compact=True)


__all__ += ["StateTable", "IndexSpec", "write_table", "write_index",
            "read_index", "merge_index", "append_index",
            "compact_index"]
