"""The filesystem layer of every persisted store.

Each store (the PQ and BM25 index stores, the streaming near-dup,
SCD2 and key stores, the small-bloom files) reaches its filesystem
only through this module. Every helper resolves the path's filesystem
through the ACTIVE SparkSession's Hadoop configuration — exactly how
``df.write.parquet`` resolves it — so commit records, sentinels and
sidecars always land on the SAME filesystem as the data (``file://``,
``hdfs://``, ``s3a://``, ``abfss://``, …, including a schemeless path
under a non-local ``fs.defaultFS``). When no session is active (the
Spark-free processors, plain unit helpers) and the path is
schemeless-local, plain python io is used; a scheme-qualified path with
no session raises.

The module also holds the commit steps the stores share, each written
once: :func:`key_ids` lists a store's committed ``key=N`` children, and
the index-store functions (:func:`read_index_meta`,
:func:`reset_index_store`, :func:`epoch_applied`,
:func:`record_epoch`, :func:`swap_compacted`) carry the PQ/BM25
sidecar protocol:

- ``meta.json.pending`` is posted before any data write and removed
  only after the commit, so an interrupted write leaves a store every
  reader REFUSES (fail-loud; a half-appended table cannot be rolled
  forward, a re-run would double its rows).
- ``epochs.json`` is the exactly-once ledger of applied stream epochs.
  It is written inside the sentinel window, and a rebuild in place
  clears it: a stale ledger would silently skip a fresh stream's
  restarted epoch ids.
- A compaction writes ``<table>.compact/`` first and swaps it in under
  the sentinel through ``<table>.old/``; a crash mid-swap leaves a
  refused store with both halves complete on disk. A rebuild sweeps
  both leftovers.

Semantics notes for the stores' crash protocols:

- ``write_text`` is create-with-overwrite, not atomic. The stores
  never rely on atomic sidecar writes — ordering relative to the
  pending sentinel carries the protocol.
- ``replace`` emulates ``os.replace`` as delete-destination +
  rename. On object stores the rename itself may be copy+delete; the
  only crash window this opens is "destination deleted, source not
  yet renamed", which leaves the pending sentinel in place — a state
  every reader already REFUSES (fail-loud preserved).
"""

from __future__ import annotations

import json as _json
import os as _os
from typing import List, Optional

#: The index stores' sidecars: fail-loud sentinel, metadata, epoch
#: ledger, and the suffixes of a table's compaction staging and
#: pre-swap dirs.
PENDING = "meta.json.pending"
META = "meta.json"
LEDGER = "epochs.json"
LEFTOVERS = (".compact", ".old")


def _alive(s) -> bool:
    """A session whose SparkContext was stopped is not a resolver —
    its JVM gateway is gone (sc.stop() clears _jsc but NOT
    SparkSession._instantiatedSession)."""
    try:
        return s is not None and s._sc is not None and s._sc._jsc is not None
    except Exception:
        return False


def _active_spark():
    """The thread's active session, else the process default; also the
    resolver of the UDF registrars called at rule-compile time."""
    try:
        from pyspark.sql import SparkSession

        s = SparkSession.getActiveSession()
        if _alive(s):
            return s
        # getActiveSession is a JVM THREAD-local: streaming
        # foreachBatch py4j callback threads and plain user threads
        # see None there even while the driver's session is alive —
        # which would wrongly raise on s3a:// sidecars (or silently
        # fall back to driver-local python io for schemeless paths,
        # splitting the store across filesystems, the exact bug this
        # module exists to fix). The process-wide default session is
        # the right resolver in those threads — liveness-checked, so
        # a stopped session falls through to the python-io fallback
        # instead of raising py4j errors on local paths.
        s = getattr(SparkSession, "_instantiatedSession", None)
        return s if _alive(s) else None
    except Exception:
        return None


def _is_schemeless(path: str) -> bool:
    return "://" not in path


def _resolve(path: str):
    """(fs, jvm) via the active session, or (None, None) for the
    python-io local fallback."""
    spark = _active_spark()
    if spark is None:
        if _is_schemeless(path):
            return None, None
        raise RuntimeError(
            "no active SparkSession to resolve the filesystem for "
            f"{path!r} — scheme-qualified store paths need a session"
        )
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), jvm


def _jp(jvm, path: str):
    return jvm.org.apache.hadoop.fs.Path(path)


def exists(path: str) -> bool:
    fs, jvm = _resolve(path)
    if fs is None:
        return _os.path.exists(path)
    return fs.exists(_jp(jvm, path))


def read_text(path: str) -> str:
    fs, jvm = _resolve(path)
    if fs is None:
        with open(path) as fh:
            return fh.read()
    stream = fs.open(_jp(jvm, path))
    try:
        out = jvm.java.io.ByteArrayOutputStream()
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, out, 65536)
        return bytes(out.toByteArray()).decode("utf-8")
    finally:
        stream.close()


def write_text(path: str, text: str) -> None:
    fs, jvm = _resolve(path)
    if fs is None:
        with open(path, "w") as fh:
            fh.write(text)
        return
    out = fs.create(_jp(jvm, path), True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def read_bytes(path: str) -> bytes:
    fs, jvm = _resolve(path)
    if fs is None:
        with open(path, "rb") as fh:
            return fh.read()
    stream = fs.open(_jp(jvm, path))
    try:
        out = jvm.java.io.ByteArrayOutputStream()
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, out, 65536)
        return bytes(out.toByteArray())
    finally:
        stream.close()


def write_bytes(path: str, data: bytes) -> None:
    fs, jvm = _resolve(path)
    if fs is None:
        with open(path, "wb") as fh:
            fh.write(data)
        return
    out = fs.create(_jp(jvm, path), True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()


def read_json(path: str):
    return _json.loads(read_text(path))


def write_json(path: str, obj) -> None:
    write_text(path, _json.dumps(obj))


def create_new(path: str) -> bool:
    """Create an empty file iff absent; False if it already exists.

    This is the sentinel/lock primitive. ATOMICITY CAVEAT: the
    no-session local branch uses O_EXCL (atomic), and Hadoop
    create(overwrite=false) is atomic on HDFS/ABFS — but on S3A and
    the Hadoop LOCAL filesystem it is itself an exists-probe plus
    create, so two near-simultaneous callers can both read True
    there. Callers needing mutual exclusion on those filesystems must
    pair this with a token handshake: write a unique token into the
    file after winning, SLEEP a settle window, then read it back.
    The handshake is BEST-EFFORT, not a mutex (ADVICE r12): it
    excludes a rival only when both token writes precede both
    read-backs, which the settle window makes hold whenever the
    rival's create->write gap is shorter than the window — a rival
    stalled longer can still double-win. Seeing a foreign token means
    certain loss (abort); seeing one's own token means no rival wrote
    within the window, not proof that none ever will. See
    compact_neardup_store for the pattern."""
    fs, jvm = _resolve(path)
    if fs is None:
        try:
            fd = _os.open(path, _os.O_CREAT | _os.O_EXCL | _os.O_WRONLY)
        except FileExistsError:
            return False
        _os.close(fd)
        return True
    try:
        fs.create(_jp(jvm, path), False).close()
        return True
    except Exception as ex:
        # classify by java exception CLASS, not message text — error
        # strings like 'No lease ... File does not exist' must raise,
        # not masquerade as already-exists
        jex = getattr(ex, "java_exception", None)
        if jex is not None:
            name = jex.getClass().getName()
            if "AlreadyExists" in name:
                return False
            # generic IOException wrappers (RawLocalFileSystem) keep
            # the real cause nested
            cause = jex.getCause()
            if cause is not None and "AlreadyExists" in cause.getClass().getName():
                return False
            if "already exists" in str(jex.getMessage() or "").lower():
                return False
            raise
        if isinstance(ex, FileExistsError):
            return False
        raise


def delete(path: str, recursive: bool = False) -> bool:
    """Delete a file (or, with recursive=True, a directory tree).
    Returns False when the path did not exist."""
    fs, jvm = _resolve(path)
    if fs is None:
        if not _os.path.exists(path):
            return False
        if _os.path.isdir(path):
            if not recursive:
                raise IsADirectoryError(path)
            import shutil

            shutil.rmtree(path)
        else:
            _os.remove(path)
        return True
    return fs.delete(_jp(jvm, path), bool(recursive))


def makedirs(path: str) -> None:
    fs, jvm = _resolve(path)
    if fs is None:
        _os.makedirs(path, exist_ok=True)
        return
    fs.mkdirs(_jp(jvm, path))


def rename(src: str, dst: str) -> None:
    """Move src to dst; raises if the filesystem reports failure
    (e.g. destination already exists on HDFS/local)."""
    fs, jvm = _resolve(src)
    if fs is None:
        _os.rename(src, dst)
        return
    if not fs.rename(_jp(jvm, src), _jp(jvm, dst)):
        raise OSError(f"rename failed: {src!r} -> {dst!r}")


def replace(src: str, dst: str) -> None:
    """``os.replace`` semantics portably: destination is removed
    first (see module docstring for the crash-window analysis)."""
    fs, jvm = _resolve(src)
    if fs is None:
        _os.replace(src, dst)
        return
    d = _jp(jvm, dst)
    if fs.exists(d):
        fs.delete(d, False)
    if not fs.rename(_jp(jvm, src), d):
        raise OSError(f"replace failed: {src!r} -> {dst!r}")


def list_names(path: str) -> List[str]:
    """Child entry names of a directory; [] when it doesn't exist."""
    fs, jvm = _resolve(path)
    if fs is None:
        if not _os.path.isdir(path):
            return []
        return sorted(_os.listdir(path))
    p = _jp(jvm, path)
    if not fs.exists(p):
        return []
    return sorted(st.getPath().getName() for st in fs.listStatus(p))


def first_file(path: str, suffix: str):
    """The Hadoop ``Path`` of ``path`` when it is a file, else of the
    first file under it (recursive listing order) whose name ends with
    ``suffix``, or None — the handle a JVM reader (parquet footers)
    opens. Needs a session."""
    fs, jvm = _resolve(path)
    if fs is None:
        raise RuntimeError(f"no active SparkSession to resolve {path!r}")
    p = _jp(jvm, path)
    if not fs.getFileStatus(p).isDirectory():
        return p
    it = fs.listFiles(p, True)
    while it.hasNext():
        f = it.next().getPath()
        if f.getName().endswith(suffix):
            return f
    return None


def join(base: str, *parts: str) -> str:
    """Path join that preserves URI schemes (os.path.join would
    mangle nothing here, but keep one spelling for store code)."""
    out = base.rstrip("/")
    for p in parts:
        out = f"{out}/{p.strip('/')}"
    return out


def key_ids(path: str, key: str, marker: Optional[str] = None) -> List[int]:
    """Sorted integer ids N of the ``key=N`` children of directory
    ``path`` ([] when it does not exist). Names whose N is not an
    integer are skipped; with ``marker`` (a relative path such as
    ``_SUCCESS`` or ``epochs/_SUCCESS``) only children holding that
    file count — the commit record of a store's versions."""
    out = []
    for name in list_names(path):
        k, eq, n = name.partition("=")
        if k != key or not eq:
            continue
        try:
            i = int(n)
        except ValueError:
            continue
        if marker is None or exists(join(path, name, marker)):
            out.append(i)
    return sorted(out)


def read_index_meta(path: str, kind: str, data: str) -> dict:
    """An index store's meta.json, REFUSING a store whose pending
    sentinel is present (an interrupted append, rebuild or compaction
    swap). ``kind`` names the store (``pq``/``bm25``), ``data`` the
    table a crash may have half-written."""
    if exists(join(path, PENDING)):
        raise ValueError(
            f"{kind} index at {path} has an interrupted append or rebuild "
            f"({PENDING} present) — {data} may be half-written; restore "
            f"the previous snapshot or rebuild with write_{kind}_index"
        )
    return read_json(join(path, META))


def reset_index_store(path: str, tables) -> None:
    """Open a rebuild in place: post the pending sentinel BEFORE any
    data is overwritten, then drop the old meta, the epoch ledger and
    every table's compaction leftovers inside the sentinel window. A
    crash mid-rebuild can then never leave old metadata beside new
    data. Close with :func:`commit_meta`."""
    makedirs(path)
    write_json(join(path, PENDING), {"op": "rebuild"})
    delete(join(path, META))
    delete(join(path, LEDGER))
    for table in tables:
        for suffix in LEFTOVERS:
            delete(join(path, table + suffix), recursive=True)


def commit_meta(path: str, meta: dict) -> None:
    """Write meta.json, then lift the pending sentinel."""
    write_json(join(path, META), meta)
    delete(join(path, PENDING))


def read_ledger(path: str) -> dict:
    """The store's epoch ledger; an empty one when none was written."""
    ledger = join(path, LEDGER)
    return read_json(ledger) if exists(ledger) else {"applied": []}


def epoch_applied(path: str, epoch: int) -> bool:
    return int(epoch) in read_ledger(path)["applied"]


def record_epoch(path: str, epoch: int, stats: Optional[dict] = None) -> None:
    """Add ``epoch`` to the ledger's sorted ``applied`` list. Called
    inside the sentinel window, after the data write, so no crash
    point lets a replay double-apply. ``stats`` (epoch -> entry)
    merges into the ledger's ``stats`` map."""
    led = read_ledger(path)
    led["applied"] = sorted(led["applied"] + [int(epoch)])
    if stats is not None:
        led.setdefault("stats", {}).update(stats)
    write_json(join(path, LEDGER), led)


def swap_compacted(
    spark, path: str, table: str, part_col: str, sentinel: dict
) -> None:
    """Compact one store table into one file per ``part_col`` value,
    rows exactly preserved. The compacted copy is written to
    ``<table>.compact/`` first; the swap through ``<table>.old/`` then
    runs under the pending sentinel (content ``sentinel``), so a crash
    mid-swap leaves a refused store with both halves complete on disk
    (restore by hand, nothing lost)."""
    src = join(path, table)
    staged, old = (src + suffix for suffix in LEFTOVERS)
    delete(staged, recursive=True)
    (
        spark.read.parquet(src)
        .repartition(part_col)
        .write.mode("overwrite")
        .partitionBy(part_col)
        .parquet(staged)
    )
    pending = join(path, PENDING)
    write_json(pending, sentinel)
    delete(old, recursive=True)
    rename(src, old)
    rename(staged, src)
    delete(old, recursive=True)
    delete(pending)
