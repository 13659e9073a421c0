"""Streaming pyramid maintenance into a persistent parquet tile store.

The missing production write path: the reference recomputes the whole
pyramid per run and upserts rows into Cassandra (reference
heatmap.py:128-137,156-157).  Here the same outcome is incremental —
each micro-batch of locations becomes a DELTA pyramid, merged into the
stored rows (sum is reassociative, so merge = union + re-aggregate).

Layout: one directory per spatial bucket — the zoom-``BUCKET_ZOOM``
ancestor cell of a row, 256 of them — holding versioned dirs
``bucket=<k>/v=<n>`` and a ``bucket=<k>/_LATEST`` marker
``"<n>:<last merged batch id>"``, swapped only after the new version's
directory is in place (readers never observe a partial version).  A
micro-batch rewrites only the buckets it touches, so per-batch cost
tracks batch locality, not store size.  Each version's files are
sorted by (zoom, row, col), so bbox reads inside a bucket prune row
groups by their footer min/max stats.

All marker/staging metadata I/O goes through the Hadoop FileSystem
API via the JVM gateway (:class:`_Fs`), so the store works on any
Hadoop-supported URI (``hdfs://``, ``s3a://``, ``abfs://``, local
paths) — not just driver-local POSIX.  On rename-as-copy stores
(S3A without a committer) the directory promote is slower but still
correct: the marker swap remains the commit point.

On a real deployment this versioning is what an ACID table format
(Delta/Iceberg/Hudi) provides; the merge/layout logic here is
format-agnostic and would move over unchanged.

Exactly-once: each bucket's marker records (version, last merged
batch_id).  A micro-batch replayed after a crash (checkpoint not yet
committed but some markers already swapped) skips the buckets whose
marker records it, so a delta is never merged twice into a bucket; a
crash BEFORE a bucket's swap leaves an orphan version dir the replay
simply overwrites.

Scale shape per batch: the delta shuffles only the micro-batch's
aggregates, the merge shuffles (touched buckets ∪ delta) AGGREGATE
rows — never raw event history — and the stored row count is bounded
by the live tile set, so steady-state cost is O(batch + live tiles of
touched buckets), independent of total history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from heatmap_spark.operators.pyramid import build_pyramid
from heatmap_spark.streaming.logstore import (
    _Fs,
    _join,
    _parse_base_marker,
    foreach_batch,
)

_LATEST = "_LATEST"
BUCKET_ZOOM = 4  # 2^4 × 2^4 = 256 coarse cells
# the stored pyramid (PYRAMID_COLS) — declared, so a read launches no
# schema-inference job
STORE_SCHEMA = (
    "user_group string, timespan string, zoom int, row bigint, col bigint, visits double"
)


def spatial_bucket():
    """Coarse-cell id of a pyramid row: its zoom-``BUCKET_ZOOM``
    ancestor tile, flattened to row*2^B + col.  Pure integer shifts of
    the grouping keys — requires every stored row to have
    zoom >= BUCKET_ZOOM (asserted by callers via min_zoom)."""
    from pyspark.sql import functions as F

    b = 1 << BUCKET_ZOOM
    # SQL shiftright accepts a column shift amount (the Python helper
    # F.shiftright is literal-only).  A zoom below BUCKET_ZOOM would be
    # Java-masked (shiftright(row, -2) == shiftright(row, 30)) and
    # silently collapse rows into bucket 0 — raise per-row instead.
    expr = F.expr(
        f"CAST(shiftright(row, CAST(zoom - {BUCKET_ZOOM} AS INT)) * {b}"
        f" + shiftright(col, CAST(zoom - {BUCKET_ZOOM} AS INT)) AS INT)"
    )
    return F.when(
        F.col("zoom") < BUCKET_ZOOM,
        F.raise_error(
            F.concat(
                F.lit("spatial_bucket: zoom "),
                F.col("zoom").cast("string"),
                F.lit(f" < bucket_zoom {BUCKET_ZOOM}"),
            )
        ).cast("int"),
    ).otherwise(expr)


def _bucket_marker_path(store_path: str, bucket: int) -> str:
    return _join(store_path, f"bucket={bucket}", _LATEST)


def _committed(
    store_path: str, buckets: list[int] | None = None
) -> dict[int, tuple[int, int]]:
    """``{bucket: (committed version, last merged batch id)}`` for the
    committed buckets among ``buckets``.  Opens one marker per
    requested bucket; only ``buckets=None`` (a full read, or vacuum)
    lists the store for its ``bucket=`` dirs."""
    fs = _Fs()
    if buckets is None:
        buckets = [
            int(d.split("=", 1)[1])
            for d in fs.list_names(store_path)
            if d.startswith("bucket=")
        ]
    out = {}
    for k in sorted(set(buckets)):
        marker = _bucket_marker_path(store_path, k)
        if fs.exists(marker):
            out[k] = _parse_base_marker(fs.read_text(marker))
    return out


def _read_versions(
    spark: SparkSession, store_path: str, live: dict[int, tuple[int, int]]
) -> DataFrame | None:
    if not live:
        return None
    return spark.read.schema(STORE_SCHEMA).parquet(
        *(_join(store_path, f"bucket={k}", f"v={ver}") for k, (ver, _) in live.items())
    )


def read_partitioned_store(
    spark: SparkSession, store_path: str, buckets: list[int] | None = None
) -> DataFrame | None:
    """Current pyramid across ``buckets`` (default: all committed
    buckets), or None if none of them is committed.

    Passing an explicit bucket list is DIRECTORY-level partition
    pruning: a bbox serving read maps its viewport to coarse cells and
    never opens the other buckets' markers or files; inside a bucket,
    zoom/row/col predicates prune row groups (the files are sorted by
    (zoom, row, col))."""
    return _read_versions(spark, store_path, _committed(store_path, buckets))


def merge_delta_into_partitioned_store(
    spark: SparkSession,
    delta: DataFrame,
    store_path: str,
    batch_id: int = 0,
    drop_zeros: bool = False,
) -> int:
    """Merge one delta pyramid, rewriting ONLY the spatial buckets it
    touches.  Returns the number of buckets committed (0 = replay
    no-op).

    Per-batch cost is O(delta + live tiles of TOUCHED buckets).  A
    localized batch (one city) touches a handful of the 256 zoom-4
    cells, so merge cost tracks batch locality instead of store size —
    the property that makes incremental maintenance viable at 100 TB
    of history.  (An ACID table format with MERGE INTO + partition
    pruning gives the same shape; this is the format-agnostic
    spelling.)

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
    d = delta.withColumn("bucket", spatial_bucket()).localCheckpoint(
        eager=True, storageLevel=StorageLevel.DISK_ONLY
    )
    touched = [r.bucket for r in d.select("bucket").distinct().collect()]
    live = _committed(store_path, touched)
    pending = sorted(k for k in touched if live.get(k, (-1, -1))[1] < batch_id)
    if not pending:
        return 0
    d_pending = d.where(F.col("bucket").isin(pending))
    base = _read_versions(
        spark, store_path, {k: live[k] for k in pending if k in live}
    )
    # Merge = union + re-aggregate on the pyramid key — but repartition
    # by bucket FIRST and fold bucket into the grouping key (bucket is
    # a pure function of (zoom, row, col), so groups are unchanged):
    # HashPartitioning(bucket) satisfies the aggregation's required
    # distribution AND is exactly the layout partitionBy(bucket) wants,
    # so the whole merge+stage pipeline runs with ONE store-size
    # shuffle instead of two (r12, guide §2.4 — same subtree-prefix
    # trick as the pyramid rollup).
    u = d_pending if base is None else base.withColumn(
        "bucket", spatial_bucket()
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
        nxt = live.get(k, (-1, -1))[0] + 1
        src = _join(staging, f"bucket={k}")
        dst = _join(store_path, f"bucket={k}", f"v={nxt}")
        staged = fs.is_dir(src)
        if not staged and not drop_zeros:
            # Unreachable with the additive delta algebra (visits are
            # sums of positive weights, so a touched bucket's merge is
            # never empty) — if the staged dir is gone, something
            # external removed it (e.g. a concurrent vacuum).  FAIL the
            # batch so the stream restarts and replays it; silently
            # skipping would commit the checkpoint with the delta never
            # merged.
            raise RuntimeError(f"staged bucket dir vanished before commit: {src}")
        if fs.is_dir(dst):  # orphan from a crashed attempt
            fs.delete(dst)
        if staged:
            fs.mkdirs(_join(store_path, f"bucket={k}"))
            fs.rename(src, dst)
        else:
            # a fully-cancelled bucket: every tile retracted to zero,
            # so the staged dir legitimately has no rows — commit an
            # EMPTY (schema-bearing) version so readers see zero tiles
            # for this bucket
            merged.drop("bucket").limit(0).write.mode("overwrite").parquet(dst)
        fs.write_text_atomic(_bucket_marker_path(store_path, k), f"{nxt}:{batch_id}")
        committed += 1
    fs.delete(staging)
    return committed


def stream_pyramid_to_partitioned_store(
    locations: DataFrame,
    store_path: str,
    checkpoint_path: str,
    min_zoom: int = 6,
    max_zoom: int = 21,
):
    """Maintain the tile store from a locations stream: every non-empty
    micro-batch runs the BATCH pyramid build and merges it under the
    per-bucket replay guard.  Returns the started StreamingQuery
    (availableNow trigger drains all pending input then stops — call
    ``.awaitTermination()``)."""
    if min_zoom < BUCKET_ZOOM:
        raise ValueError(
            f"min_zoom {min_zoom} must be >= BUCKET_ZOOM {BUCKET_ZOOM} "
            "(every stored row needs a zoom-level-B ancestor)"
        )

    def _merge(spark: SparkSession, batch_df: DataFrame, batch_id: int) -> None:
        delta = build_pyramid(batch_df, mode="explode", min_zoom=min_zoom, max_zoom=max_zoom)
        merge_delta_into_partitioned_store(spark, delta, store_path, batch_id)

    return foreach_batch(locations, checkpoint_path, _merge)


def read_resultset(
    spark: SparkSession,
    store_path: str,
    user_group: str,
    timespan: str,
    rs_tile_id: str,
    delta: int = 5,
) -> DataFrame:
    """Point SERVING read: the single result set (user_group, timespan,
    parent tile) a tile UI requests, from the store — the production
    request path of the reference's heatmaps table (reference
    heatmap.py:120-129 packages these; a UI fetches one per viewport
    tile).

    Pruning story, the whole point: the parent id "z_r_c" resolves
    DRIVER-side to the coarse cell(s) its detail tiles can live in —
    exactly ONE bucket when z >= BUCKET_ZOOM (every detail tile shares
    the parent's zoom-B ancestor), 4^(B-z) cells otherwise — so the
    read opens only those buckets' markers and directories, and inside
    them the zoom/row/col range predicates push to parquet row-group
    stats (each version is sorted by (zoom, row, col)).  Cost is
    O(requested buckets' row groups), independent of store size.

    Output: one (user_group, timespan, rs_zoom, rs_row, rs_col,
    heatmap, rs_tile_id) row (empty if the key has no visits), plus
    the sink-shape JSON via :func:`heatmap_table` composes on top.
    """
    from pyspark.sql import functions as F

    from heatmap_spark.operators.pyramid import resultsets

    z, r, c = (int(x) for x in rs_tile_id.split("_"))
    dz = z + delta
    if z >= BUCKET_ZOOM:
        buckets = [(r >> (z - BUCKET_ZOOM)) * (1 << BUCKET_ZOOM) + (c >> (z - BUCKET_ZOOM))]
    else:
        span = 1 << (BUCKET_ZOOM - z)
        buckets = [
            br * (1 << BUCKET_ZOOM) + bc
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
    # the predicates pin the one result-set key, so one partition can
    # hold the whole group: SinglePartition satisfies the aggregation and
    # a one-bucket read is one Spark job with no exchange.  A read of
    # many buckets keeps its parallel scan: a z=1 read (64 buckets) ran
    # ~20% slower in one task.
    if len(buckets) == 1:
        detail = detail.coalesce(1)
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
    for k, (latest, _) in _committed(store_path).items():
        p = _join(store_path, f"bucket={k}")
        floor = latest - keep + 1
        for v in fs.list_names(p):
            if not v.startswith("v="):
                continue
            ver = int(v.split("=", 1)[1])
            if ver < floor:
                fs.delete(_join(p, v))
                removed += 1
    return removed
