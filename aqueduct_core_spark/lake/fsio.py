"""Filesystem seam for every driver-side metadata/file operation.

The lake's data plane is already storage-agnostic (Spark reads/writes parquet
through Hadoop FS), but the driver-side CONTROL plane — manifest publish,
orphan cleanup, bootstrap reset, validation — was written against the local
filesystem. This module is the single swap point for running against an
object store: implement the same interface over the Hadoop FileSystem API
(`spark._jvm.org.apache.hadoop.fs.FileSystem.get(...)`) or an S3 client and
inject it with `set_fs()`.

Per-method object-store mapping (what the swap implementation does):
  exists/isdir      -> FileSystem.exists / getFileStatus().isDirectory
  makedirs          -> FileSystem.mkdirs (no-op on S3 — keys are flat)
  listdir           -> FileSystem.listStatus (one LIST per call)
  walk_files        -> FileSystem.listFiles(recursive=True)
  remove/rmtree     -> FileSystem.delete(path, recursive)
  read_text         -> FSDataInputStream read
  parquet_footer    -> one ranged read of the file tail (plus one of a single
      column chunk when the distinct values of a column are asked for)
  publish_if_absent -> THE commit primitive. Local: hard-link of a fsynced
      temp file (atomic create-if-absent, POSIX). HDFS: create(path,
      overwrite=false). S3: conditional PUT (If-None-Match: *) or a DynamoDB
      lock table, exactly Iceberg's S3 commit strategies. Must raise
      FileExistsError when the destination already exists — the optimistic-
      concurrency contract every CAS loop in this repo relies on.
"""

from __future__ import annotations

import io
import os
import shutil
import struct
import uuid
from typing import Iterator


def _footer_stats(md) -> dict:
    """Fold a pyarrow FileMetaData into {rows, columns: {name: (min,max)|None}}.

    Shared by every FS implementation so footer semantics cannot drift between
    the local and object-store paths. Columns where ANY row group lacks usable
    min/max statistics map to None (an unusable bound must not silently narrow)."""
    cols: dict = {}
    for rg_i in range(md.num_row_groups):
        rg = md.row_group(rg_i)
        for c_i in range(rg.num_columns):
            col = rg.column(c_i)
            name = col.path_in_schema
            st = col.statistics
            if st is None or not st.has_min_max:
                cols[name] = None
                continue
            prev = cols.get(name)
            if prev is None and name in cols:
                continue  # an earlier row group lacked stats -> unusable
            lo, hi = (st.min, st.max) if prev is None else (
                min(prev[0], st.min),
                max(prev[1], st.max),
            )
            cols[name] = (lo, hi)
    return {"rows": md.num_rows, "columns": cols}


def _parquet_summary(pf, values_of: str | None) -> dict:
    """_footer_stats of an open pyarrow ParquetFile, plus, when `values_of`
    names a column, {value: row count} of its non-null values under "values",
    in value order. Only that one column chunk per row group is read — no
    other data pages."""
    out = _footer_stats(pf.metadata)
    if values_of is not None:
        import pyarrow.compute as pc

        counts = pc.value_counts(pf.read(columns=[values_of]).column(0)).to_pylist()
        out["values"] = dict(
            sorted((c["values"], c["counts"]) for c in counts if c["values"] is not None)
        )
    return out


class LocalFS:
    """POSIX implementation (the only storage present in this environment)."""

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def isdir(self, path: str) -> bool:
        return os.path.isdir(path)

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def listdir(self, path: str) -> list[str]:
        return os.listdir(path)

    def walk_files(self, root: str) -> Iterator[str]:
        for dirpath, _dirnames, filenames in os.walk(root):
            for fn in filenames:
                yield os.path.join(dirpath, fn)

    def remove(self, path: str) -> None:
        os.remove(path)

    def rmtree(self, path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)

    def read_text(self, path: str) -> str:
        with open(path) as f:
            return f.read()

    def parquet_footer(self, path: str, values_of: str | None = None) -> dict:
        """Read a parquet file's FOOTER only (no data pages): row count plus
        per-column (min, max) where the writer recorded statistics. Local:
        pyarrow on the path. Object store: pyarrow.fs / one ranged GET of the
        footer — the same O(1)-per-file cost Iceberg pays to build manifests.
        Columns without usable stats map to None.

        `values_of` additionally reads that ONE column's chunks and returns
        the row count of each of its distinct values under "values" — how the
        lake learns which buckets a multi-bucket delta file holds, and how
        many rows each (min/max would only bound them)."""
        import pyarrow.parquet as pq

        return _parquet_summary(pq.ParquetFile(path), values_of)

    def publish_if_absent(self, text: str, final_path: str) -> None:
        """Atomically create final_path with `text` iff it does not exist;
        raise FileExistsError when a concurrent writer won (the CAS loser).
        Durable: the content is fsynced before the link becomes visible."""
        tmp = final_path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(text)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, final_path)  # atomic create-if-absent
        finally:
            os.unlink(tmp)

    def write_text_atomic(self, text: str, path: str) -> None:
        """Overwrite `path` with `text`; readers see old or new content, never
        a torn write. ADVISORY data only (the version hint) — last writer
        wins, no CAS."""
        tmp = path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(text)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)  # atomic overwrite


class _RangedFile(io.RawIOBase):
    """Seekable file-like view of a `size`-byte remote file that holds the
    prefetched tail and fetches any other range on demand with one ranged
    read per `read` call. pyarrow's footer parse (seek to size-8, read the
    footer length, seek back, read the footer) stays inside the tail, so the
    footer alone costs the one prefetch; a column read then costs one ranged
    read per column chunk, because pyarrow reads each chunk in one call."""

    def __init__(self, tail: bytes, size: int, fetch):
        self._tail = tail
        self._size = size
        self._off = size - len(tail)
        self._fetch = fetch  # (pos, n) -> bytes
        self._pos = 0

    def seekable(self) -> bool:
        return True

    def readable(self) -> bool:
        return True

    def seek(self, pos: int, whence: int = 0) -> int:
        if whence == 0:
            self._pos = pos
        elif whence == 1:
            self._pos += pos
        else:
            self._pos = self._size + pos
        return self._pos

    def tell(self) -> int:
        return self._pos

    def read(self, n: int = -1) -> bytes:
        if n is None or n < 0:
            n = self._size - self._pos
        n = max(0, min(n, self._size - self._pos))
        if self._pos >= self._off:
            start = self._pos - self._off
            data = self._tail[start : start + n]
        else:
            data = self._fetch(self._pos, n)
        self._pos += len(data)
        return data


class HadoopFS:
    """Control plane over the Hadoop FileSystem API via Spark's JVM gateway —
    the SAME interface every cluster storage connector implements (HDFS, S3A,
    GCS, ABFS). Each call resolves the filesystem from the path's URI scheme,
    so the identical code that runs here over `file://` operates on
    `s3a://bucket/...` table roots on a real cluster with zero changes; this
    class is the swap-in the LocalFS docstring promises (the Iceberg
    HadoopFileIO role).

    Scheme-specific notes, mirroring the per-method mapping above:
      - publish_if_absent -> FileSystem.create(path, overwrite=false). On HDFS
        that is an atomic namenode create (the HadoopTableOperations commit
        primitive); on S3A with conditional-create enabled it is the
        If-None-Match: * PUT. The local-scheme leg is check-then-create inside
        the JVM — not atomic across processes, which is why LocalFS (hard-link
        based) stays the default for this sandbox and HadoopFS is exercised by
        tests as the cluster-parity path.
      - parquet_footer -> ONE ranged read of the file tail (S3A random-mode
        semantics): open, seek(size - tail), read to EOF, decode the footer
        from the slice. No data pages are transferred unless the distinct
        values of a column are asked for; then each of that column's chunks
        costs one more ranged read.
      - The local scheme is unwrapped to the raw (checksum-free) filesystem:
        object-store connectors write no `.crc` side files, and neither should
        this leg, or data-file listings would see phantom entries.
    """

    _TAIL_BYTES = 1 << 20  # first footer fetch; re-fetched exact if larger

    def __init__(self, spark):
        self._jvm = spark._jvm
        self._conf = spark._jsc.hadoopConfiguration()
        self._Path = self._jvm.org.apache.hadoop.fs.Path

    # ------------------------------------------------------------- plumbing
    def _p(self, path: str):
        return self._Path(path)

    def _fs(self, p):
        fs = p.getFileSystem(self._conf)
        try:
            fs = fs.getRawFileSystem()  # ChecksumFileSystem wrapper (local only)
        except Exception:
            pass  # HDFS/S3A/... are not checksum-wrapped
        return fs

    @staticmethod
    def _translate(e: Exception) -> Exception:
        """Map JVM IOExceptions onto the seam's Python contract: already-exists
        -> FileExistsError (the CAS-lost signal), not-found -> FileNotFoundError,
        anything else -> OSError (which RetryingFS treats as transient)."""
        jname = ""
        jmsg = str(e)
        je = getattr(e, "java_exception", None)
        if je is not None:
            try:
                jname = je.getClass().getName()
                jmsg = je.getMessage() or jmsg
            except Exception:
                pass
        if "AlreadyExists" in jname or "already exists" in jmsg.lower():
            return FileExistsError(jmsg)
        if "NotFound" in jname or "does not exist" in jmsg.lower():
            return FileNotFoundError(jmsg)
        return OSError(jmsg)

    @staticmethod
    def _to_str(jpath) -> str:
        uri = jpath.toUri()
        if uri.getScheme() in (None, "file"):
            return uri.getPath()
        return jpath.toString()

    def _read_from(self, fs, p, pos: int, n: int | None = None) -> bytes:
        """seek(pos) + read `n` bytes (to EOF when None) — py4j returns the
        Java byte[] as bytes."""
        stream = fs.open(p)
        try:
            if pos:
                stream.seek(pos)
            io_utils = self._jvm.org.apache.commons.io.IOUtils
            data = io_utils.toByteArray(stream) if n is None else io_utils.toByteArray(stream, n)
            return bytes(data)
        finally:
            stream.close()

    # ------------------------------------------------------------- interface
    def exists(self, path: str) -> bool:
        p = self._p(path)
        return bool(self._fs(p).exists(p))

    def isdir(self, path: str) -> bool:
        p = self._p(path)
        fs = self._fs(p)
        return bool(fs.exists(p) and fs.getFileStatus(p).isDirectory())

    def makedirs(self, path: str) -> None:
        p = self._p(path)
        self._fs(p).mkdirs(p)

    def listdir(self, path: str) -> list[str]:
        p = self._p(path)
        try:
            return [st.getPath().getName() for st in self._fs(p).listStatus(p)]
        except Exception as e:
            raise self._translate(e) from None

    def walk_files(self, root: str) -> Iterator[str]:
        p = self._p(root)
        fs = self._fs(p)
        if not fs.exists(p):
            return
        it = fs.listFiles(p, True)
        while it.hasNext():
            yield self._to_str(it.next().getPath())

    def remove(self, path: str) -> None:
        p = self._p(path)
        if not self._fs(p).delete(p, False):
            raise FileNotFoundError(path)

    def rmtree(self, path: str) -> None:
        p = self._p(path)
        self._fs(p).delete(p, True)  # recursive; absent path is a no-op

    def read_text(self, path: str) -> str:
        p = self._p(path)
        try:
            return self._read_from(self._fs(p), p, 0).decode("utf-8")
        except Exception as e:
            if isinstance(e, (FileExistsError, FileNotFoundError, UnicodeDecodeError)):
                raise
            raise self._translate(e) from None

    def parquet_footer(self, path: str, values_of: str | None = None) -> dict:
        import pyarrow.parquet as pq

        p = self._p(path)
        fs = self._fs(p)
        size = fs.getFileStatus(p).getLen()
        tail_len = min(size, self._TAIL_BYTES)
        tail = self._read_from(fs, p, size - tail_len)
        # parquet tail: [... footer | 4-byte footer length LE | "PAR1"]
        footer_len = struct.unpack("<I", tail[-8:-4])[0]
        if footer_len + 8 > tail_len:
            tail = self._read_from(fs, p, size - (footer_len + 8))
        src = _RangedFile(tail, size, lambda pos, n: self._read_from(fs, p, pos, n))
        return _parquet_summary(pq.ParquetFile(src), values_of)

    #: schemes whose create() uploads the WHOLE object atomically at close()
    #: (a reader can never observe a partial body, and with conditional create
    #: enabled the create IS the CAS) — temp+rename would be WORSE there:
    #: object-store rename is copy+delete, neither atomic nor conditional.
    _OBJECT_STORE_SCHEMES = frozenset(
        {"s3", "s3a", "s3n", "gs", "abfs", "abfss", "wasb", "wasbs", "oss", "cos"}
    )

    def _write_stream(self, out, text: str) -> None:
        try:
            out.write(bytearray(text.encode("utf-8")))
            try:
                out.hsync()  # durable on HDFS; local raw FS may not support it
            except Exception:
                pass
        finally:
            out.close()

    def publish_if_absent(self, text: str, final_path: str) -> None:
        p = self._p(final_path)
        fs = self._fs(p)
        if fs.exists(p):
            raise FileExistsError(final_path)
        scheme = p.toUri().getScheme()
        if scheme in self._OBJECT_STORE_SCHEMES:
            # single conditional PUT of the full object (If-None-Match: *)
            try:
                out = fs.create(p, False)
            except Exception as e:
                raise self._translate(e) from None
            self._write_stream(out, text)
            return
        # HDFS-like (hdfs/viewfs/file/...): create(path, overwrite=false)
        # makes the final path visible BEFORE the body is written — a
        # concurrent read_text could observe an empty/truncated manifest, and
        # a crash mid-write leaves a corrupt file permanently occupying the
        # version slot (the next try_commit sees a conflict; current() then
        # fails parsing). So: write the whole body to a temp sibling, then
        # commit with the namenode's atomic rename, which FAILS when the
        # destination exists — the final path only ever holds a complete
        # manifest (Iceberg HadoopTableOperations' commit shape). A crashed
        # attempt leaves only a .tmp orphan that never occupies the slot.
        tmp = self._p(final_path + f".tmp.{uuid.uuid4().hex}")
        try:
            out = fs.create(tmp, False)
        except Exception as e:
            raise self._translate(e) from None
        self._write_stream(out, text)
        try:
            renamed = bool(fs.rename(tmp, p))
        except Exception as e:
            fs.delete(tmp, False)
            raise self._translate(e) from None
        if not renamed:
            fs.delete(tmp, False)
            raise FileExistsError(final_path)  # CAS lost: dst exists

    def write_text_atomic(self, text: str, path: str) -> None:
        """Overwrite `path` (advisory data — the version hint; last writer
        wins). Object stores: one full-object PUT, atomic at close. HDFS-like:
        temp + rename over the destination (rename-with-overwrite is the
        namenode's atomic primitive), so readers never see a torn body."""
        p = self._p(path)
        fs = self._fs(p)
        scheme = p.toUri().getScheme()
        if scheme in self._OBJECT_STORE_SCHEMES:
            try:
                out = fs.create(p, True)
            except Exception as e:
                raise self._translate(e) from None
            self._write_stream(out, text)
            return
        tmp = self._p(path + f".tmp.{uuid.uuid4().hex}")
        try:
            out = fs.create(tmp, True)
        except Exception as e:
            raise self._translate(e) from None
        self._write_stream(out, text)
        try:
            # Hadoop's FileContext rename(OVERWRITE) analog: delete-then-rename
            # is fine for advisory content — a reader racing the gap just
            # misses the hint and falls back to the listing.
            if fs.exists(p):
                fs.delete(p, False)
            if not bool(fs.rename(tmp, p)):
                fs.delete(tmp, False)
        except Exception as e:
            fs.delete(tmp, False)
            raise self._translate(e) from None


class TransientStorageError(OSError):
    """A retryable storage fault — the S3 503 SlowDown / timeout class."""


class RetryingFS:
    """Transient-fault wrapper for any FS implementation — what a real
    object-store FileIO does internally (Iceberg's S3FileIO retry policy).

    Every operation retries TransientStorageError/OSError with exponential
    backoff. FileExistsError and FileNotFoundError are SEMANTIC results
    (CAS lost / absent path) and propagate immediately.

    publish_if_absent is retried too, which surfaces the AMBIGUOUS-SUCCESS
    case: the create landed server-side but the response was lost, so the
    retry sees FileExistsError. Every CAS loop in this engine resolves that
    correctly by re-reading state before acting on the "conflict" — the merge
    re-checks its txn watermark and whether the current manifest references
    its own files (exactly-once, no discard of live files), compaction loops
    detect their files in the current snapshot, registry/property mutations
    are idempotent re-applies. tests/test_fault_injection.py drives all of it
    under injected faults."""

    def __init__(self, inner, attempts: int = 5, base_delay_s: float = 0.01, sleep=None):
        import time as _time

        self.inner = inner
        self.attempts = max(1, attempts)
        self.base_delay_s = base_delay_s
        self._sleep = sleep if sleep is not None else _time.sleep

    def _call(self, name: str, *args, **kwargs):
        last = None
        for attempt in range(self.attempts):
            try:
                return getattr(self.inner, name)(*args, **kwargs)
            except (FileExistsError, FileNotFoundError):
                raise  # semantic outcome, not a fault
            except OSError as e:
                last = e
                if attempt + 1 < self.attempts:
                    self._sleep(self.base_delay_s * (2**attempt))
        raise last

    def exists(self, path):
        return self._call("exists", path)

    def isdir(self, path):
        return self._call("isdir", path)

    def makedirs(self, path):
        return self._call("makedirs", path)

    def listdir(self, path):
        return self._call("listdir", path)

    def walk_files(self, root):
        # materialized so a mid-iteration fault retries the whole listing
        last = None
        for attempt in range(self.attempts):
            try:
                return iter(list(self.inner.walk_files(root)))
            except OSError as e:
                last = e
                if attempt + 1 < self.attempts:
                    self._sleep(self.base_delay_s * (2**attempt))
        raise last

    def remove(self, path):
        return self._call("remove", path)

    def rmtree(self, path):
        return self._call("rmtree", path)

    def read_text(self, path):
        return self._call("read_text", path)

    def parquet_footer(self, path, values_of=None):
        return self._call("parquet_footer", path, values_of)

    def publish_if_absent(self, text, final_path):
        return self._call("publish_if_absent", text, final_path)

    def write_text_atomic(self, text, path):
        # idempotent overwrite — safe to retry blindly
        return self._call("write_text_atomic", text, path)


_FS = LocalFS()


def get_fs():
    return _FS


def set_fs(fs) -> None:
    """Inject an alternative implementation (Hadoop FS / S3) process-wide."""
    global _FS
    _FS = fs
