"""Streaming pyramid maintenance into a persistent parquet tile store.

The missing production write path: the reference recomputes the whole
pyramid per run and upserts rows into Cassandra (reference
heatmap.py:128-137,156-157).  Here the same outcome is incremental —
each micro-batch of locations becomes a DELTA pyramid, merged into the
stored base with :func:`heatmap_spark.operators.pyramid.pyramid_merge`
(sum is reassociative, so merge = union + re-aggregate), and the new
base is written Z-ordered so bbox reads over the store prune row
groups (operators/layout.py).

Two layouts share one commit protocol (versioned directories + a
``_LATEST`` marker, swapped only after the new version's write
succeeds — readers never observe a partial version):

* **partitioned** (production default): per-spatial-bucket versions, a
  micro-batch rewrites only the coarse cells it touches — per-batch
  cost tracks batch locality, not store size.
* **flat**: one version dir for the whole store — simplest possible
  layout, kept for sub-``BUCKET_ZOOM`` pyramids and as the minimal
  reference implementation of the protocol.  Its merge is O(store)
  per batch, so it is NOT the path for a large store.

All marker/staging metadata I/O goes through the Hadoop FileSystem
API via the JVM gateway (:class:`_Fs`), so the store works on any
Hadoop-supported URI (``hdfs://``, ``s3a://``, ``abfs://``, local
paths) — not just driver-local POSIX.  On rename-as-copy stores
(S3A without a committer) the directory promote is slower but still
correct: the marker swap remains the commit point.

On a real deployment this versioning is what an ACID table format
(Delta/Iceberg/Hudi) provides; the merge/layout logic here is
format-agnostic and would move over unchanged.

Exactly-once: the marker records (version, last merged batch_id).  A
micro-batch replayed after a crash (checkpoint not yet committed but
marker already swapped) is detected by ``batch_id <= last`` and
skipped, so a delta is never merged twice; a crash BEFORE the swap
leaves an orphan version dir the next write simply overwrites.

Scale shape per batch: the delta shuffles only the micro-batch's
aggregates, the merge shuffles (base ∪ delta) AGGREGATE rows — never
raw event history — and the base row count is bounded by the live tile
set, so steady-state cost is O(batch + live tiles of touched buckets),
independent of total history (the property that matters at 100 TB/day).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from heatmap_spark.operators.layout import cluster_by_zorder
from heatmap_spark.operators.pyramid import build_pyramid, pyramid_merge
from heatmap_spark.streaming.logstore import _Fs, _join

_LATEST = "_LATEST"


def _read_marker(store_path: str) -> tuple[int, int]:
    """(version, last_batch_id), (-1, -1) if nothing committed."""
    fs = _Fs()
    marker = _join(store_path, _LATEST)
    if not fs.exists(marker):
        return -1, -1
    version, batch = fs.read_text(marker).strip().split(":")
    return int(version), int(batch)


def read_tile_store(spark: SparkSession, store_path: str) -> DataFrame | None:
    """Current pyramid in the store, or None if no version committed.

    Layout-dispatching: a flat ``_LATEST`` marker wins; otherwise any
    live ``bucket=`` dirs are read through the partitioned path — so
    readers need not know which layout the writer used."""
    version, _ = _read_marker(store_path)
    if version >= 0:
        return spark.read.parquet(_join(store_path, f"v={version}"))
    return read_partitioned_store(spark, store_path)


def merge_delta_into_store(
    spark: SparkSession, delta: DataFrame, store_path: str, batch_id: int = 0
) -> bool:
    """Flat-layout merge: write a new whole-store Z-ordered version
    dir, then atomically swap the marker.  Returns False (no-op) if
    ``batch_id`` was already merged — the replay guard.

    O(store) per batch — use :func:`merge_delta_into_partitioned_store`
    (the production default) unless the pyramid has zoom levels below
    ``BUCKET_ZOOM``."""
    version, last_batch = _read_marker(store_path)
    if batch_id <= last_batch:
        return False
    base = read_tile_store(spark, store_path)
    merged = delta if base is None else pyramid_merge(base, delta)
    nxt = version + 1
    out = cluster_by_zorder(
        merged, num_partitions=max(2, spark.sparkContext.defaultParallelism // 4)
    )
    out.write.mode("overwrite").parquet(_join(store_path, f"v={nxt}"))
    _Fs(spark).write_text_atomic(_join(store_path, _LATEST), f"{nxt}:{batch_id}")
    return True


def stream_pyramid_to_store(
    locations: DataFrame,
    store_path: str,
    checkpoint_path: str,
    min_zoom: int = 6,
    max_zoom: int = 21,
    layout: str = "auto",
):
    """Maintain the tile store from a locations stream via foreachBatch.

    Returns the started StreamingQuery (availableNow trigger drains all
    pending input then stops — call ``.awaitTermination()``).  Each
    micro-batch runs the BATCH pyramid build on the batch DataFrame and
    merges under the replay guard.

    ``layout``: ``"auto"`` (default) uses the bucket-PARTITIONED store
    whenever ``min_zoom >= BUCKET_ZOOM`` — the production path whose
    per-batch cost tracks batch locality instead of store size — and
    falls back to the flat store only for coarser pyramids;
    ``"partitioned"`` / ``"flat"`` force a layout.
    :func:`read_tile_store` reads either layout transparently.
    """
    if layout not in ("auto", "partitioned", "flat"):
        raise ValueError(f"unknown layout {layout!r}")
    if layout == "partitioned" or (layout == "auto" and min_zoom >= BUCKET_ZOOM):
        return stream_pyramid_to_partitioned_store(
            locations, store_path, checkpoint_path, min_zoom, max_zoom
        )
    spark = locations.sparkSession

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        delta = build_pyramid(batch_df, mode="explode", min_zoom=min_zoom, max_zoom=max_zoom)
        merge_delta_into_store(spark, delta, store_path, batch_id)

    return (
        locations.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------------------
# Partition-pruned store: per-spatial-bucket versions, so a localized
# micro-batch rewrites only the buckets it touches.
# ---------------------------------------------------------------------------

BUCKET_ZOOM = 4  # 2^4 × 2^4 = 256 coarse cells


def spatial_bucket(bucket_zoom: int = BUCKET_ZOOM):
    """Coarse-cell id of a pyramid row: its zoom-``bucket_zoom``
    ancestor tile, flattened to row*2^B + col.  Pure integer shifts of
    the grouping keys — requires every stored row to have
    zoom >= bucket_zoom (asserted by callers via min_zoom)."""
    from pyspark.sql import functions as F

    b = 1 << bucket_zoom
    # SQL shiftright accepts a column shift amount (the Python helper
    # F.shiftright is literal-only).  A zoom below bucket_zoom would be
    # Java-masked (shiftright(row, -2) == shiftright(row, 30)) and
    # silently collapse rows into bucket 0 — raise per-row instead.
    expr = F.expr(
        f"CAST(shiftright(row, CAST(zoom - {bucket_zoom} AS INT)) * {b}"
        f" + shiftright(col, CAST(zoom - {bucket_zoom} AS INT)) AS INT)"
    )
    return F.when(
        F.col("zoom") < bucket_zoom,
        F.raise_error(
            F.concat(
                F.lit(f"spatial_bucket: zoom "),
                F.col("zoom").cast("string"),
                F.lit(f" < bucket_zoom {bucket_zoom}"),
            )
        ).cast("int"),
    ).otherwise(expr)


def _bucket_marker_path(store_path: str, bucket: int) -> str:
    return _join(store_path, f"bucket={bucket}", _LATEST)


def _read_bucket_marker(store_path: str, bucket: int) -> tuple[int, int]:
    fs = _Fs()
    marker = _bucket_marker_path(store_path, bucket)
    if not fs.exists(marker):
        return -1, -1
    version, batch = fs.read_text(marker).strip().split(":")
    return int(version), int(batch)


def _live_buckets(store_path: str) -> list[int]:
    fs = _Fs()
    out = []
    for d in fs.list_names(store_path):
        if d.startswith("bucket="):
            k = int(d.split("=", 1)[1])
            if _read_bucket_marker(store_path, k)[0] >= 0:
                out.append(k)
    return sorted(out)


def read_partitioned_store(
    spark: SparkSession, store_path: str, buckets: list[int] | None = None
) -> DataFrame | None:
    """Current pyramid across ``buckets`` (default: all live buckets).

    Passing an explicit bucket list is DIRECTORY-level partition
    pruning: a bbox serving read maps its viewport to coarse cells and
    never opens the other buckets' files (row-group Z-order skipping
    then applies within — operators/layout.py)."""
    live = _live_buckets(store_path)
    ks = live if buckets is None else [k for k in buckets if k in set(live)]
    if not ks:
        return None
    paths = [
        _join(store_path, f"bucket={k}", f"v={_read_bucket_marker(store_path, k)[0]}")
        for k in ks
    ]
    return spark.read.parquet(*paths)


def merge_delta_into_partitioned_store(
    spark: SparkSession,
    delta: DataFrame,
    store_path: str,
    batch_id: int = 0,
    bucket_zoom: int = BUCKET_ZOOM,
    drop_zeros: bool = False,
) -> int:
    """Merge one delta pyramid, rewriting ONLY the spatial buckets it
    touches.  Returns the number of buckets committed (0 = replay
    no-op).

    This is the steady-state answer to the whole-store rewrite the
    flat store pays per batch: per-batch cost is O(delta + live tiles
    of TOUCHED buckets).  A localized batch (one city) touches a
    handful of the 256 zoom-4 cells, so merge cost tracks batch
    locality instead of store size — the property that makes
    incremental maintenance viable at 100 TB of history.  (An ACID
    table format with MERGE INTO + partition pruning gives the same
    shape; this is the format-agnostic spelling.)

    Exactly-once under crash-replay, per bucket: each bucket dir has
    its own (version, last_batch) marker, swapped atomically AFTER its
    new version directory is in place.  A replayed batch skips buckets
    whose marker already records it and re-merges only the ones that
    had not committed — a bucket is never merged twice and never
    skipped, regardless of where the previous attempt died.  Markers
    move strictly forward because streaming batch ids are monotone.
    """
    from pyspark.sql import functions as F

    from pyspark.storagelevel import StorageLevel

    fs = _Fs(spark)
    # two actions consume the delta (touched-bucket collect + staging
    # write) — cut lineage once so the micro-batch pyramid is built
    # once, not twice (same DISK_ONLY discipline as the cascade)
    d = delta.withColumn(
        "bucket", spatial_bucket(bucket_zoom)
    ).localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    touched = sorted(r.bucket for r in d.select("bucket").distinct().collect())
    pending = [k for k in touched if _read_bucket_marker(store_path, k)[1] < batch_id]
    if not pending:
        return 0
    d_pending = d.where(F.col("bucket").isin(pending))
    base = read_partitioned_store(spark, store_path, buckets=pending)
    # Merge = union + re-aggregate on the pyramid key — but repartition
    # by bucket FIRST and fold bucket into the grouping key (bucket is
    # a pure function of (zoom, row, col), so groups are unchanged):
    # HashPartitioning(bucket) satisfies the aggregation's required
    # distribution AND is exactly the layout partitionBy(bucket) wants,
    # so the whole merge+stage pipeline runs with ONE store-size
    # shuffle instead of two (r12, guide §2.4 — same subtree-prefix
    # trick as the pyramid rollup).
    u = d_pending if base is None else base.withColumn(
        "bucket", spatial_bucket(bucket_zoom)
    ).unionByName(d_pending)
    merged = (
        u.repartition("bucket")
        .groupBy("bucket", "user_group", "timespan", "zoom", "row", "col")
        .agg(F.sum("visits").alias("visits"))
    )
    if drop_zeros:
        # RETRACTION support: a delta carrying negated visits cancels
        # tiles to exactly zero (unit integer weights — exact in
        # double); dropping them makes deletion ≡ rebuild-without-
        # slice, the q_heatmap_retraction algebra flowing through the
        # serving store.
        merged = merged.where(F.col("visits") != 0)
    staging = _join(store_path, f"_staging_{batch_id}")
    (
        merged.sortWithinPartitions("bucket", "zoom", "row", "col")
        .write.mode("overwrite")
        # Committer v2 (task-commit renames straight into the output
        # dir) is safe for the STAGING write because staging is not
        # the commit point — the per-bucket marker swap below is; a
        # partial staging dir after a crash is simply overwritten on
        # replay.  v1's sequential driver-side commitJob renamed all
        # ~256 bucket dirs one by one (measured 13.6 → 7.4 s at
        # sf0.01, r12 guide §6).
        .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
        .partitionBy("bucket")
        .parquet(staging)
    )
    committed = 0
    for k in pending:
        src = _join(staging, f"bucket={k}")
        if not fs.is_dir(src):
            if drop_zeros:
                # a fully-cancelled bucket: every tile retracted to
                # zero, so the staged dir legitimately has no rows —
                # commit an EMPTY (schema-bearing) version so readers
                # see zero tiles for this bucket
                ver, _ = _read_bucket_marker(store_path, k)
                dst = _join(store_path, f"bucket={k}", f"v={ver + 1}")
                if fs.is_dir(dst):
                    fs.delete(dst)
                merged.drop("bucket").limit(0).write.mode("overwrite").parquet(dst)
                fs.write_text_atomic(
                    _bucket_marker_path(store_path, k), f"{ver + 1}:{batch_id}"
                )
                committed += 1
                continue
            # Unreachable with the additive delta algebra (visits are
            # sums of positive weights, so a touched bucket's merge is
            # never empty) — if the staged dir is gone, something
            # external removed it (e.g. a concurrent vacuum).  FAIL the
            # batch so the stream restarts and replays it; silently
            # skipping would commit the checkpoint with the delta never
            # merged.
            raise RuntimeError(
                f"staged bucket dir vanished before commit: {src}"
            )
        ver, _ = _read_bucket_marker(store_path, k)
        dstdir = _join(store_path, f"bucket={k}")
        fs.mkdirs(dstdir)
        dst = _join(dstdir, f"v={ver + 1}")
        if fs.is_dir(dst):  # orphan from a crashed attempt
            fs.delete(dst)
        fs.rename(src, dst)
        fs.write_text_atomic(_bucket_marker_path(store_path, k), f"{ver + 1}:{batch_id}")
        committed += 1
    fs.delete(staging)
    return committed


def stream_pyramid_to_partitioned_store(
    locations: DataFrame,
    store_path: str,
    checkpoint_path: str,
    min_zoom: int = 6,
    max_zoom: int = 21,
    bucket_zoom: int = BUCKET_ZOOM,
):
    """Partitioned-store twin of :func:`stream_pyramid_to_store`."""
    if min_zoom < bucket_zoom:
        raise ValueError(
            f"min_zoom {min_zoom} must be >= bucket_zoom {bucket_zoom} "
            "(every stored row needs a zoom-level-B ancestor)"
        )
    spark = locations.sparkSession

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        delta = build_pyramid(batch_df, mode="explode", min_zoom=min_zoom, max_zoom=max_zoom)
        merge_delta_into_partitioned_store(
            spark, delta, store_path, batch_id, bucket_zoom
        )

    return (
        locations.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def read_resultset(
    spark: SparkSession,
    store_path: str,
    user_group: str,
    timespan: str,
    rs_tile_id: str,
    delta: int = 5,
    bucket_zoom: int = BUCKET_ZOOM,
) -> DataFrame:
    """Point SERVING read: the single result set (user_group, timespan,
    parent tile) a tile UI requests, from the partitioned store — the
    production request path of the reference's heatmaps table
    (reference heatmap.py:120-129 packages these; a UI fetches one per
    viewport tile).

    Pruning story, the whole point: the parent id "z_r_c" resolves
    DRIVER-side to the coarse cell(s) its detail tiles can live in —
    exactly ONE bucket when z >= bucket_zoom (every detail tile shares
    the parent's zoom-B ancestor), 4^(B-z) cells otherwise — so the
    scan opens ONE bucket directory of 256, and inside it the
    zoom/row/col range predicates push to parquet row-group stats
    (the store is written sorted by (bucket, zoom, row, col)).  Cost
    is O(one bucket's row groups), independent of store size.

    Output: one (user_group, timespan, rs_zoom, rs_row, rs_col,
    heatmap, rs_tile_id) row (empty if the key has no visits), plus
    the sink-shape JSON via :func:`heatmap_table` composes on top.
    """
    from pyspark.sql import functions as F

    from heatmap_spark.operators.pyramid import resultsets

    z, r, c = (int(x) for x in rs_tile_id.split("_"))
    dz = z + delta
    if z >= bucket_zoom:
        buckets = [(r >> (z - bucket_zoom)) * (1 << bucket_zoom) + (c >> (z - bucket_zoom))]
    else:
        span = 1 << (bucket_zoom - z)
        buckets = [
            br * (1 << bucket_zoom) + bc
            for br in range(r * span, (r + 1) * span)
            for bc in range(c * span, (c + 1) * span)
        ]
    base = read_partitioned_store(spark, store_path, buckets=buckets)
    if base is None:
        return spark.createDataFrame(
            [],
            "user_group string, timespan string, rs_zoom int, rs_row bigint,"
            " rs_col bigint, heatmap map<string,double>, rs_tile_id string",
        )
    detail = base.where(
        (F.col("zoom") == dz)
        & (F.col("user_group") == user_group)
        & (F.col("timespan") == timespan)
        & F.col("row").between(r << delta, ((r + 1) << delta) - 1)
        & F.col("col").between(c << delta, ((c + 1) << delta) - 1)
    )
    return resultsets(detail, delta)


def vacuum_partitioned_store(
    store_path: str, keep: int = 1, staging_age_s: float = 3600.0
) -> int:
    """Delete superseded version directories, keeping the latest
    ``keep`` versions per bucket (the Delta VACUUM analogue for this
    layout).  Returns the number of directories removed.

    Safety: the marker is the commit record — only versions strictly
    below (latest − keep + 1) are removed, so concurrent readers that
    resolved the marker before the vacuum still find their version as
    long as ``keep`` ≥ 1 covers their read window; crash-orphaned
    staging dirs (no marker pointing at them) are also swept.  Pure
    driver-side FileSystem metadata calls — no Spark job.

    Concurrency contract (same as Delta VACUUM's retention caveat):
    run with no ACTIVE writer on this store.  As a belt-and-braces
    guard, staging dirs are only swept when their mtime is older than
    ``staging_age_s`` (default 1 h) — a live merge's fresh staging dir
    survives an accidentally-concurrent vacuum; only genuinely
    crash-orphaned staging is reclaimed.  If a merge DOES outlive the
    age threshold and its staging is swept, it FAILS LOUDLY (raises
    before committing any marker) rather than losing the batch, and
    the failed batch then relies on stream restart/replay.  Pass
    ``staging_age_s=0`` for the old sweep-everything behavior."""
    import time

    fs = _Fs()
    removed = 0
    now = time.time()
    for d in fs.list_names(store_path):
        p = _join(store_path, d)
        if d.startswith("_staging_") and fs.is_dir(p):
            mt = fs.mtime(p)
            if mt is None:
                continue  # racing writer just committed/removed it
            if now - mt >= staging_age_s:
                fs.delete(p)
                removed += 1
            continue
        if not d.startswith("bucket="):
            continue
        k = int(d.split("=", 1)[1])
        latest, _ = _read_bucket_marker(store_path, k)
        if latest < 0:
            continue
        floor = latest - keep + 1
        for v in fs.list_names(p):
            if not v.startswith("v="):
                continue
            ver = int(v.split("=", 1)[1])
            if ver < floor:
                fs.delete(_join(p, v))
                removed += 1
    return removed
