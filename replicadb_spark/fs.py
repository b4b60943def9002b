"""Table-metadata filesystem access via the session's Hadoop FileSystem.

The snapshot table's commit log (operators/snapshot_table) and the
file-skipping manifest (operators/manifest) must work on ANY URI Spark
itself can read — ``file://``, ``hdfs://``, ``s3a://``, ``abfs://`` —
not just the driver's local POSIX tree. Python's ``os`` module only
speaks the latter, so every metadata operation here goes through the
JVM's ``org.apache.hadoop.fs.FileSystem`` for the table's scheme (py4j;
the same FS instance Spark's own scan planning uses, so credentials,
``fs.*`` conf and scheme registration are inherited for free).

Design notes (mirrors Delta's LogStore contract):

- **Commit point = put-if-absent.** :meth:`TableFS.put_if_absent`
  atomically creates a name that must not exist, per scheme:

  * HDFS (and other rename-atomic schemes): tmp write +
    ``rename_no_overwrite`` — the namespace rename is one metadata op
    that fails on an existing destination.
  * ``file://``: the same tmp+rename; Hadoop's local rename refuses an
    existing destination and an exists() pre-check adds a second
    best-effort guard, but POSIX rename(2) underneath CAN overwrite,
    so local concurrent-writer detection is best-effort only — the
    single-writer replication contract (SURVEY §2.3) is what actually
    carries it (the OCC tests exercise real interleavings here).
  * S3 (``s3a://``/``s3n://``): rename is copy+delete and NOT atomic,
    so the commit point is a **conditional PUT (If-None-Match)** —
    S3 supports it natively (2024+) and S3A exposes it behind
    ``fs.s3a.create.conditional.enabled``. With the flag on, the
    direct ``createFile().overwrite(false)`` build/close is the
    atomic decision point (HTTP 412 = lost the race). Without it,
    ``put_if_absent`` REFUSES to commit rather than silently running
    a non-atomic rename — the Delta-on-S3 coordinator caveat turned
    into enforced behavior instead of documentation.
- **Caller-prefix path form.** Every path this module RETURNS keeps the
  exact prefix the caller used for the table root (plain ``/tmp/t``,
  ``file:///tmp/t``, ``s3a://bucket/t`` …): listings are re-anchored
  from Hadoop's fully-qualified form back onto the caller's root. The
  manifest stores these strings, Spark reads them back, and set
  operations (victim pruning, GC set-difference) compare equal — no
  ``file:/`` vs ``/`` representation drift.
- **File bytes go through pyarrow** (``pyarrow_open`` /
  ``pyarrow_fs_for``), on the driver and in executors alike: manifest
  reads and writes, the new data directory's listing and its footer
  reads run on the driver (operators/manifest); GC's per-directory
  listings and deletes run inside Arrow tasks, where the JVM gateway
  does not exist.

The reference hands this durability problem to the sink database
(SqlManager.java:404-434 swaps sink tables inside one transaction);
this module is the repo's equivalent contract for lakehouse layouts.
"""

from __future__ import annotations

from uuid import uuid4

from pyspark.sql import SparkSession


def join(*parts: str) -> str:
    """URI-safe path join: ``join('s3a://b/t', 'data')``. Never uses
    ``os.path`` (which would mangle ``scheme://`` on Windows-style
    normalization and knows nothing about URIs)."""
    out = parts[0].rstrip("/")
    for p in parts[1:]:
        out += "/" + p.strip("/")
    return out


def _is_not_found(err: Exception) -> bool:
    s = str(err)
    return "FileNotFoundException" in s or "No such file" in s


class TableFS:
    """Hadoop-FS metadata operations for one table root, path-stable in
    the caller's own prefix form (see module docstring)."""

    def __init__(self, spark: SparkSession, root: str):
        self._jvm = spark._jvm
        self._conf = spark._jsc.hadoopConfiguration()
        jroot = self._jvm.org.apache.hadoop.fs.Path(root)
        self._fs = jroot.getFileSystem(self._conf)
        self.root = root.rstrip("/")
        self._qual_root = (
            self._fs.makeQualified(jroot).toString().rstrip("/")
        )

    # -- path plumbing ---------------------------------------------------
    def _jpath(self, p: str):
        return self._jvm.org.apache.hadoop.fs.Path(p)

    def unqualify(self, qualified: str) -> str:
        """Hadoop's fully-qualified URI → the caller-prefix form, so
        listings compare equal to manifest-stored strings."""
        if qualified.startswith(self._qual_root):
            return self.root + qualified[len(self._qual_root):]
        return qualified

    def qualify(self, p: str) -> str:
        """Hadoop's fully-qualified form of ``p`` — the spelling-free
        identity used to check that two differently-written prefixes
        (``/tmp/t`` vs ``file:///tmp/t``) name the same location."""
        return self._fs.makeQualified(self._jpath(p)).toString().rstrip("/")

    @property
    def qualified_root(self) -> str:
        return self._qual_root

    # -- predicates ------------------------------------------------------
    def exists(self, p: str) -> bool:
        return bool(self._fs.exists(self._jpath(p)))

    def is_dir(self, p: str) -> bool:
        jp = self._jpath(p)
        return bool(self._fs.exists(jp) and self._fs.getFileStatus(jp).isDirectory())

    # -- directory ops ---------------------------------------------------
    def mkdirs(self, p: str) -> None:
        self._fs.mkdirs(self._jpath(p))

    def list_names(self, d: str) -> "list[str]":
        """Child entry names of ``d`` (one level); [] if ``d`` missing."""
        try:
            statuses = self._fs.listStatus(self._jpath(d))
        except Exception as e:  # py4j-wrapped FileNotFoundException
            if _is_not_found(e):
                return []
            raise
        return sorted(s.getPath().getName() for s in statuses)

    def glob(self, pattern: str) -> "list[tuple[str, int]]":
        """``(path, size)`` for files matching a Hadoop glob pattern
        (e.g. ``<root>/data/*/*.parquet``) — one FS round trip for the
        match, paths returned in caller-prefix form."""
        statuses = self._fs.globStatus(self._jpath(pattern))
        if statuses is None:
            return []
        return sorted(
            (self.unqualify(s.getPath().toString()), int(s.getLen()))
            for s in statuses
            if s.isFile()
        )

    # -- small-file (commit record) I/O ----------------------------------
    def read_text(self, p: str) -> str:
        stream = self._fs.open(self._jpath(p))
        try:
            data = self._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        finally:
            stream.close()
        return bytes(data).decode("utf-8")

    def write_text(self, p: str, text: str) -> None:
        """Create/overwrite ``p`` with ``text``, durably as the scheme
        allows (hsync where supported — local checksum FS and object
        stores refuse it; their close() is the durability point)."""
        out = self._fs.create(self._jpath(p), True)
        try:
            out.write(bytearray(text.encode("utf-8")))
            try:
                out.hsync()
            except Exception:
                pass  # scheme without hsync: close() flushes
        finally:
            out.close()

    def rename_no_overwrite(self, src: str, dst: str) -> None:
        """Publish by renaming onto a name that must not exist — the
        put-if-absent building block for rename-atomic schemes (see
        module docstring; COMMITTERS should call :meth:`put_if_absent`,
        which picks the right primitive per scheme). ATOMIC on HDFS
        (namespace rename fails on an existing destination); on
        ``file://`` Hadoop's rename also returns false for an existing
        destination and the exists() pre-check below adds a second
        best-effort guard, but neither closes the POSIX rename(2)
        overwrite race — local relies on the single-writer contract
        (module docstring)."""
        if self.exists(dst):
            raise IOError(
                f"commit rename {src} -> {dst} failed: destination "
                "already exists (concurrent writer?)"
            )
        if not self._fs.rename(self._jpath(src), self._jpath(dst)):
            detail = (
                "destination already exists (concurrent writer?)"
                if self.exists(dst)
                else "filesystem refused the rename"
            )
            raise IOError(f"commit rename {src} -> {dst} failed: {detail}")

    def delete(self, p: str, recursive: bool = False) -> bool:
        return bool(self._fs.delete(self._jpath(p), recursive))

    # -- the commit primitive --------------------------------------------
    _S3_SCHEMES = ("s3a", "s3n", "s3")

    @property
    def scheme(self) -> str:
        """URI scheme of the table root per Hadoop's qualified form
        (``file``, ``hdfs``, ``s3a``, …)."""
        q = self._qual_root
        return q.split("://", 1)[0] if "://" in q else "file"

    def _conditional_create(self, p: str, text: str) -> bool:
        """S3 conditional PUT (If-None-Match) via the S3A createFile
        builder: the build/close pair is the atomic decision point —
        HTTP 412 (surfaced as RemoteFileChanged / FileAlreadyExists)
        means a concurrent writer took the name first."""
        try:
            builder = self._fs.createFile(self._jpath(p))
            out = builder.overwrite(False).build()
            try:
                out.write(bytearray(text.encode("utf-8")))
            finally:
                out.close()
            return True
        except Exception as e:
            s = str(e)
            if (
                "FileAlreadyExistsException" in s
                or "RemoteFileChangedException" in s
                or "PreconditionFailed" in s
                or "412" in s
            ):
                return False
            raise

    def _s3_conditional_enabled(self) -> bool:
        return (
            str(
                self._conf.get("fs.s3a.create.conditional.enabled", "false")
            ).lower()
            == "true"
        )

    def put_if_absent(self, p: str, text: str) -> bool:
        """THE commit point: atomically create ``p`` with ``text`` iff
        no such name exists. True = this writer won the name; False =
        a concurrent writer took it first (the caller may re-derive
        and retry). Scheme dispatch per the module docstring:
        rename-atomic schemes go tmp+rename; S3 goes conditional PUT
        when ``fs.s3a.create.conditional.enabled`` is on, and REFUSES
        otherwise — a silent non-atomic commit on S3 could publish two
        winners for one snapshot id, which is strictly worse than
        failing loudly."""
        if self.scheme in self._S3_SCHEMES:
            if not self._s3_conditional_enabled():
                raise IOError(
                    f"commit of {p} refused: scheme {self.scheme!r} has "
                    "no atomic rename-without-overwrite and conditional "
                    "writes are off — enable "
                    "fs.s3a.create.conditional.enabled=true (S3 "
                    "If-None-Match, Hadoop 3.4.1+) or route commits "
                    "through a single writer"
                )
            return self._conditional_create(p, text)
        d, name = p.rsplit("/", 1)
        # the staging name must be WRITER-UNIQUE: a destination-derived
        # tmp (.{name}.tmp) is shared by every committer racing for the
        # same snapshot id, and the interleaving (A stages, B overwrites
        # the shared tmp, A renames) publishes B's bytes under A's win —
        # B then GCs its manifest believing it lost, leaving the
        # published tip pointing at deleted state. uuid-per-attempt
        # makes staging paths disjoint by construction.
        tmp = f"{d}/.{name}.{uuid4().hex}.tmp"
        self.write_text(tmp, text)
        try:
            self.rename_no_overwrite(tmp, p)
        except IOError:
            self.delete(tmp)
            if self.exists(p):
                return False  # lost the race to a concurrent committer
            raise  # genuine filesystem failure, not contention
        return True

    def mtime_ms(self, p: str) -> int:
        """Modification time of ``p`` in epoch milliseconds. For a
        directory, the max of the directory's own mtime and its direct
        children's (a fresh child marks the tree recent even on schemes
        whose dir mtime is lazy) — the age signal snapshot_expire's
        ``orphan_grace_ms`` sweeps use to spare in-flight OCC commits.
        Missing path → 0 (treated as ancient; a racing delete already
        won)."""
        try:
            st = self._fs.getFileStatus(self._jpath(p))
        except Exception as e:
            if _is_not_found(e):
                return 0
            raise
        newest = int(st.getModificationTime())
        if st.isDirectory():
            try:
                for child in self._fs.listStatus(self._jpath(p)):
                    newest = max(newest, int(child.getModificationTime()))
            except Exception as e:
                if not _is_not_found(e):
                    raise
        return newest


# -- executor-side helpers (no JVM gateway in Arrow tasks) ----------------

def pyarrow_uri(path: str) -> str:
    """Translate a Hadoop-spelled URI into the spelling pyarrow's
    ``FileSystem.from_uri`` understands: Hadoop says ``s3a://`` (and
    legacy ``s3n://``) where pyarrow only registers ``s3://``. Other
    schemes pass through unchanged — ``hdfs://`` matches pyarrow's own
    name; ``abfs://``/``gs://`` support depends on the pyarrow build
    and surfaces as from_uri's loud unrecognized-scheme error."""
    for hadoop_scheme in ("s3a://", "s3n://"):
        if path.startswith(hadoop_scheme):
            return "s3://" + path[len(hadoop_scheme):]
    return path


def pyarrow_fs_for(path: str):
    """``(pyarrow FileSystem, fs-local path)`` for one file string in
    caller-prefix form — local paths and ``file:`` URIs resolve to the
    LocalFileSystem, other schemes through ``FileSystem.from_uri``
    after ``pyarrow_uri`` scheme translation (support for a scheme
    depends on the pyarrow build, surfacing as a loud
    unrecognized-scheme error, never silent data loss)."""
    import pyarrow.fs as pafs

    if path.startswith("file:"):
        local = path[5:]
        while local.startswith("//"):  # file:///x and file://x → /x
            local = local[1:]
        return pafs.LocalFileSystem(), local
    if "://" in path:
        return pafs.FileSystem.from_uri(pyarrow_uri(path))
    return pafs.LocalFileSystem(), path


def pyarrow_open(path: str):
    """Open one data file for reading, on the driver or in an executor
    task."""
    fs, p = pyarrow_fs_for(path)
    return fs.open_input_file(p)
