"""The log-structured store core every incremental store here shares.

A store under ``<store_path>`` is a log of per-batch partials plus an
LSM-style compacted base:

* ``<grain>/batch=<id>``   — one micro-batch's partial, O(batch) to
  write, append-only.  A store may write further per-batch dirs beside
  its grain (postings, drift rows, flags) in the same commit.
* ``_LATEST``              — the last committed batch id, swapped
  atomically AFTER every dir of the batch has landed.
* ``<grain>_base/v=<n>``   — the compaction target, committed by
  ``<grain>_base/_LATEST`` = ``"<n>:<max folded batch id>"`` (the
  legacy payload ``"<n>"`` still reads, as "nothing folded").

The protocol, in one place:

* **Exactly-once.**  :func:`commit_batch` skips a batch id at or
  below the marker (a replay after a crash returns False and writes
  nothing).  Per-batch dirs are written with mode("overwrite"), so a
  re-run of an uncommitted batch rewrites them whole.
* **Crash before the marker is invisible.**  Readers trust only dirs
  with id ≤ the marker (:func:`_committed_batches`).
* **Compaction is crash-safe.**  :meth:`LogStore.compact` folds base ∪
  unfolded partials into ``v=<n+1>``, swaps the base marker, and only
  then deletes the folded partials.  Readers skip partials ≤ the
  marker's folded id, so the deletes are pure GC: a crash before the
  swap leaves the old base live, a crash after it leaves stragglers
  that are never double-counted and that the next compaction deletes.

Each store is one :class:`LogStore` constant — its grain directory and
its fold, the monoid merge that turns (base ∪ partials) back into the
grain — plus the store-specific ingest and serve code around it.
:func:`foreach_batch` drives any store's ingest from a stream.

The tile store (tile_store.py) keeps its own bucket-versioned layout
— one version dir and marker per spatial bucket, not a partial log —
and shares :class:`_Fs`, :func:`_join`, the ``"<ver>:<batch>"`` marker
parser :func:`_parse_base_marker` and :func:`foreach_batch` from here.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession

_LATEST = "_LATEST"


def _join(*parts: str) -> str:
    """URI-safe path join (never os.path.join — scheme-qualified URIs
    are not OS paths)."""
    return "/".join(p.rstrip("/") for p in parts)


class _Fs:
    """Driver-side metadata I/O through Hadoop's FileSystem API.

    Every marker read/write, staging promote, and vacuum delete of the
    streaming stores routes through here, so the commit protocol is
    storage-agnostic: the same code runs against ``hdfs://``,
    ``s3a://``, ``abfs://`` or a plain local path, resolved per-path
    by Hadoop (FileSystem instances are cached JVM-side, so
    constructing this per call is cheap).

    Atomic marker swap uses FileContext.rename(..., OVERWRITE) — the
    HDFS-atomic overwrite rename (public Hadoop API).  On object
    stores without atomic rename the swap degrades to
    delete+copy-visible semantics; the tiny marker file makes the
    non-atomic window milliseconds, and a reader that catches it
    treats the store as "no version committed" and retries.

    Local-filesystem fast path: every JVM-backed op
    here costs 3-8 py4j driver roundtrips; a partitioned-store merge
    does O(touched buckets) of them per batch (measured: the 255-bucket
    commit loop alone was 30-43 s/batch at sf0.01, ~all py4j latency).
    When a path RESOLVES to the local filesystem — an explicit
    ``file:`` scheme, or no scheme while ``fs.defaultFS`` is ``file:``
    (checked once per instance) — the op runs as plain POSIX Python
    (µs, semantically identical: ``os.replace`` is the atomic
    overwrite-rename, ``os.rename`` the same-FS move Hadoop's
    RawLocalFileSystem delegates to).  Scheme-qualified remote paths
    (``hdfs://``, ``s3a://``, ``abfs://``) keep the Hadoop API
    unchanged, so the commit protocol is still storage-agnostic at
    cluster scale.

    Falls back to POSIX os calls when no SparkSession is active (pure
    unit tests, offline vacuum of a local store).
    """

    def __init__(self, spark: SparkSession | None = None):
        self._spark = spark or SparkSession.getActiveSession()
        self._jvm_ready = False
        if self._spark is None:
            self._default_local = True
        else:
            # cache the fs.defaultFS locality probe ON the session
            # object (dies with it) — _Fs() is constructed per marker
            # read and the probe is 2 py4j roundtrips
            cached = getattr(self._spark, "_heatmap_fs_default_local", None)
            if cached is None:
                sc = self._spark.sparkContext
                cached = str(
                    sc._jsc.hadoopConfiguration().get("fs.defaultFS", "file:///")
                ).startswith("file:")
                self._spark._heatmap_fs_default_local = cached
            self._default_local = cached

    def _ensure_jvm(self) -> None:
        if not self._jvm_ready:
            sc = self._spark.sparkContext
            self._jvm = sc._jvm
            self._conf = sc._jsc.hadoopConfiguration()
            self._Path = self._jvm.org.apache.hadoop.fs.Path
            self._gateway = sc._gateway
            self._jvm_ready = True

    def _posix(self, path: str) -> str | None:
        """The plain OS path when ``path`` lives on the local
        filesystem (see class docstring), else None → use the JVM."""
        import re

        m = re.match(r"^([A-Za-z][A-Za-z0-9+.-]*):", path)
        if m is None:
            return path if (self._spark is None or self._default_local) else None
        if m.group(1) != "file":
            return None
        p = path[len("file:") :]
        if p.startswith("//"):  # file:///x or file://host/x → strip authority
            p = "/" + p[2:].split("/", 1)[1] if "/" in p[2:] else "/"
        return p

    # -- JVM-backed implementations -------------------------------------
    def _fs(self, path: str):
        self._ensure_jvm()
        return self._Path(path).getFileSystem(self._conf)

    def exists(self, path: str) -> bool:
        lp = self._posix(path)
        if lp is not None:
            import os

            return os.path.exists(lp)
        return self._fs(path).exists(self._Path(path))

    def is_dir(self, path: str) -> bool:
        lp = self._posix(path)
        if lp is not None:
            import os

            return os.path.isdir(lp)
        fs, p = self._fs(path), self._Path(path)
        return fs.exists(p) and fs.getFileStatus(p).isDirectory()

    def read_text(self, path: str) -> str:
        lp = self._posix(path)
        if lp is not None:
            with open(lp, encoding="utf-8") as f:
                return f.read()
        stream = self._fs(path).open(self._Path(path))
        try:
            return self._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()

    def write_text_atomic(self, path: str, text: str) -> None:
        """Write ``text`` to ``path`` via a sibling temp file + an
        overwriting rename — readers see the old content or the new,
        never a partial write."""
        lp = self._posix(path)
        if lp is not None:
            import os

            tmp = lp + ".tmp"
            with open(tmp, "w", encoding="utf-8") as f:
                f.write(text)
            os.replace(tmp, lp)
            return
        tmp = path + ".tmp"
        out = self._fs(path).create(self._Path(tmp), True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()
        fc = self._jvm.org.apache.hadoop.fs.FileContext.getFileContext(self._conf)
        Rename = self._jvm.org.apache.hadoop.fs.Options.Rename
        opts = self._gateway.new_array(Rename, 1)
        opts[0] = Rename.OVERWRITE
        fc.rename(self._Path(tmp), self._Path(path), opts)

    def list_names(self, path: str) -> list[str]:
        """Child entry names of a directory ([] if missing)."""
        lp = self._posix(path)
        if lp is not None:
            import os

            return os.listdir(lp) if os.path.isdir(lp) else []
        fs, p = self._fs(path), self._Path(path)
        if not fs.exists(p):
            return []
        return [st.getPath().getName() for st in fs.listStatus(p)]

    def delete(self, path: str) -> None:
        """Recursive delete; missing path is a no-op."""
        lp = self._posix(path)
        if lp is not None:
            import os
            import shutil

            if os.path.isdir(lp) and not os.path.islink(lp):
                shutil.rmtree(lp, ignore_errors=True)
            else:
                try:
                    os.remove(lp)
                except OSError:
                    pass
            return
        self._fs(path).delete(self._Path(path), True)

    def rename(self, src: str, dst: str) -> bool:
        """Move src → dst (dst must not exist).  Directory moves are
        metadata-only on HDFS/local; a copy on S3A — correct either
        way because the marker swap AFTER this is the commit point."""
        lsrc, ldst = self._posix(src), self._posix(dst)
        if lsrc is not None and ldst is not None:
            import os

            os.rename(lsrc, ldst)
            return True
        return self._fs(src).rename(self._Path(src), self._Path(dst))

    def mkdirs(self, path: str) -> None:
        lp = self._posix(path)
        if lp is not None:
            import os

            os.makedirs(lp, exist_ok=True)
            return
        self._fs(path).mkdirs(self._Path(path))

    def mtime(self, path: str) -> float | None:
        """Modification time (epoch seconds), None if missing/racing."""
        lp = self._posix(path)
        if lp is not None:
            import os

            try:
                return os.path.getmtime(lp)
            except OSError:
                return None
        fs, p = self._fs(path), self._Path(path)
        try:
            return fs.getFileStatus(p).getModificationTime() / 1000.0
        except Exception:
            return None  # vanished under a racing writer


def _read_last_batch(store_path: str) -> int:
    """The committed batch marker, -1 if nothing committed."""
    fs = _Fs()
    marker = _join(store_path, _LATEST)
    if not fs.exists(marker):
        return -1
    return int(fs.read_text(marker).strip())


def _batch_id(path: str) -> int:
    return int(path.rsplit("batch=", 1)[1])


def _committed_batches(
    store_path: str, sub: str, min_batch: int = -1
) -> list[str]:
    """Paths of ``sub``'s per-batch dirs with ``min_batch`` < id ≤ the
    committed marker (uncommitted/partial dirs from a crashed attempt
    are ignored; dirs already folded into a compacted base are skipped
    via ``min_batch`` so a crash between the base-marker swap and the
    partial deletes can never double-count — deletion is pure GC)."""
    fs = _Fs()
    last = _read_last_batch(store_path)
    out = []
    for d in fs.list_names(_join(store_path, sub)):
        if d.startswith("batch="):
            if min_batch < int(d.split("=", 1)[1]) <= last:
                out.append(_join(store_path, sub, d))
    return sorted(out)


def _parse_base_marker(text: str) -> tuple[int, int]:
    """Base-marker payload ``"<ver>"`` (legacy) or
    ``"<ver>:<folded_batch>"`` → (version, max folded batch id)."""
    parts = text.strip().split(":")
    return int(parts[0]), (int(parts[1]) if len(parts) > 1 else -1)


def commit_batch(
    spark: SparkSession,
    store_path: str,
    batch_id: int,
    write: Callable[[Callable[[str], str]], object],
) -> bool:
    """Replay guard → write → ``_LATEST``.  ``write`` is handed
    ``dest(sub)`` — the batch's dir under ``sub`` — and writes every
    per-batch dir of the batch.  Returns False (nothing written) on
    replay of a committed batch."""
    if batch_id <= _read_last_batch(store_path):
        return False
    write(lambda sub: _join(store_path, sub, f"batch={batch_id}"))
    _Fs(spark).write_text_atomic(_join(store_path, _LATEST), str(batch_id))
    return True


def _identity(df: DataFrame) -> DataFrame:
    return df


@dataclass(frozen=True)
class LogStore:
    """One store's protocol: partials under ``<grain>/``, compacted
    base under ``<grain>_base/``, and ``fold`` — the merge that maps
    (base ∪ partials) back to the grain.  ``fold`` must be a function
    of its input rows alone and associative over batches, so that
    fold(base ∪ later partials) equals folding the whole history; a
    concatenating store keeps the identity.  ``layout`` names the
    columns the compacted base is repartitioned by when it is written;
    reads never shuffle for it.  A store whose fold needs to know which
    batch a row came from tags rows as they are read by overriding
    ``_fold`` (graph_store's edge log)."""

    grain: str
    fold: Callable[[DataFrame], DataFrame] = _identity
    layout: tuple[str, ...] = ()

    def _base_dir(self, store_path: str) -> str:
        return _join(store_path, f"{self.grain}_base")

    def base(
        self, spark: SparkSession, store_path: str
    ) -> tuple[DataFrame | None, int, int]:
        """(compacted base, its version, max batch id folded into it) —
        (None, -1, -1) if never compacted."""
        fs = _Fs()
        marker = _join(self._base_dir(store_path), _LATEST)
        if not fs.exists(marker):
            return None, -1, -1
        ver, folded = _parse_base_marker(fs.read_text(marker))
        return (
            spark.read.parquet(_join(self._base_dir(store_path), f"v={ver}")),
            ver,
            folded,
        )

    def _fold(
        self, spark: SparkSession, partials: list[str], base: DataFrame | None
    ) -> DataFrame | None:
        parts = [spark.read.parquet(*partials)] if partials else []
        if base is not None:
            parts.append(base)
        if not parts:
            return None
        return self.fold(reduce(DataFrame.unionByName, parts))

    def accumulated(self, spark: SparkSession, store_path: str) -> DataFrame | None:
        """fold(base ∪ committed partials newer than its fold) — the
        store's full-history grain, None if nothing is committed."""
        base, _, folded = self.base(spark, store_path)
        return self._fold(
            spark, _committed_batches(store_path, self.grain, folded), base
        )

    def commit(
        self,
        spark: SparkSession,
        store_path: str,
        batch_id: int,
        write: DataFrame | Callable[[Callable[[str], str]], object],
    ) -> bool:
        """:func:`commit_batch`, where ``write`` may also be the batch's
        grain partial itself."""
        if isinstance(write, DataFrame):
            partial = write

            def write(dest):
                partial.write.mode("overwrite").parquet(dest(self.grain))

        return commit_batch(spark, store_path, batch_id, write)

    def compact(self, spark: SparkSession, store_path: str) -> int:
        """LSM compaction: fold base ∪ unfolded partials into
        ``v=<n+1>``, commit it with a ``"<n+1>:<folded>"`` marker, then
        delete every partial ≤ folded (pure GC — stragglers of a crashed
        earlier compaction included).  Returns the number of partials
        folded.  Run with no concurrent compactor; safe against a
        concurrent writer (a partial committed after the listing is not
        folded and survives for the next compaction)."""
        fs = _Fs(spark)
        base, ver, folded = self.base(spark, store_path)
        partials = _committed_batches(store_path, self.grain, min_batch=folded)
        if partials:
            base_dir = self._base_dir(store_path)
            folded = max(_batch_id(p) for p in partials)
            merged = self._fold(spark, partials, base)
            if self.layout:
                merged = merged.repartition(*self.layout)
            merged.write.mode("overwrite").parquet(_join(base_dir, f"v={ver + 1}"))
            fs.write_text_atomic(_join(base_dir, _LATEST), f"{ver + 1}:{folded}")
        for p in _committed_batches(store_path, self.grain):
            if _batch_id(p) <= folded:
                fs.delete(p)
        return len(partials)


def foreach_batch(
    stream: DataFrame,
    checkpoint_path: str,
    fn: Callable[[SparkSession, DataFrame, int], object],
):
    """Start ``stream`` with ``fn(spark, batch_df, batch_id)`` on every
    non-empty micro-batch.  Returns the started StreamingQuery
    (availableNow trigger: drains pending input then stops — call
    ``.awaitTermination()``)."""
    spark = stream.sparkSession

    def _run(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            fn(spark, batch_df, batch_id)

    return (
        stream.writeStream.foreachBatch(_run)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
