"""The heatmap pyramid: multi-zoom hierarchical rollup + result-set packaging.

Re-expresses the reference's entire dataflow (reference heatmap.py:107-129)
as DataFrames.  Keys stay as *separate typed columns*
(user_group, timespan, zoom, row, col) end-to-end — the reference's
``|``-joined composite string (heatmap.py:18,54-55) is materialized only
as a sink-side presentation column, which removes the key-corruption
class of bug (SURVEY.md §1.4) and keeps grouping keys integer-typed for
cheap hashing at 100 TB.

Two physical strategies with one output contract (SURVEY.md §2.5 C1):

* ``pyramid_explode`` — explode each ingested point into all 16
  (zoom, row, col) ancestors via integer shifts, then ONE
  groupBy(user_group, timespan, zoom, row, col).  A single exchange;
  map-side partial aggregation absorbs the 16× row expansion before the
  shuffle (coarse zooms combine heavily).  This is the 100 TB path.
* ``pyramid_cascade`` — aggregate zoom 21 from points, then each coarser
  zoom from the previous level's aggregates (partial-aggregate reuse,
  the reference's structure at heatmap.py:109-117) with explicit
  ``persist()`` per level (the reference relies on implicit shuffle-file
  reuse; SURVEY.md §2.5).  16 exchanges, but each over already-reduced
  data — wins when the tile count per level is far below the point count.

Semantics fixes vs the reference (pinned in tests/test_pyramid.py):
  Q1 (heatmap.py:76 early return) — multi-timespan emission works here.
  Q2 (heatmap.py:64-70 re-expansion every level) — user groups expand
  exactly ONCE at ingest; coarser zooms are pure rollups, so 'all' is
  the true sum of its children rather than ~3×-inflated per level.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from heatmap_spark.functions.tiles import (
    DETAIL_MAX_ZOOM,
    DETAIL_ZOOM_DELTA,
    tile_col,
    tile_id_from_zrc,
    tile_row,
)
from heatmap_spark.functions.timespans import DEFAULT_TIMESPANS, timespan_labels

MIN_PYRAMID_ZOOM = DETAIL_ZOOM_DELTA + 1  # 6 — reference heatmap.py:109 range stop


def user_groups_expr(user_id: Column | str) -> Column:
    """array<string> of user groups for one location row.

    Reference rules (heatmap.py:64-70): every row counts into 'all';
    user ids starting 'x' are test users (no per-user heatmap,
    heatmap.py:65); ids starting 'rt-' pool under synthetic user
    'route' (heatmap.py:66-67); everyone else also gets a per-user
    heatmap.  Applied once at ingest — see module docstring (Q2).
    """
    u = F.col(user_id) if isinstance(user_id, str) else user_id
    return (
        F.when(u.startswith("x"), F.array(F.lit("all")))
        .when(u.startswith("rt-"), F.array(F.lit("all"), F.lit("route")))
        .otherwise(F.array(F.lit("all"), u))
    )


def ingest_locations(
    locations: DataFrame,
    detail_zoom: int = DETAIL_MAX_ZOOM,
    partition_prefix_zoom: int = MIN_PYRAMID_ZOOM,
) -> DataFrame:
    """P1 (reference heatmap.py:25-36): drop 'background' rows, quantize
    (lat, lon) to integer (row, col) at the detail zoom, project.

    Pure filter+project — pushes down to the scan; no UDF.  ``source``
    is non-null in our fixtures so ``!=`` matches the reference's
    Python ``!=`` (null-keeping note in SURVEY.md §2.2).

    Parallelism guard: a small locations file arrives as ONE input
    split, which would serialize the 16× zoom explode and the map-side
    partial aggregation onto a single core.  When the source has fewer
    partitions than the cluster's default parallelism, spread it first
    (the reshuffle of the filtered input costs far less than running
    the expansion single-threaded; at 100 TB the input naturally has
    thousands of splits and this is a no-op).

    The spread is HASH-partitioned on the ``partition_prefix_zoom``
    ancestor tile (row >> Δ, col >> Δ), materialized as the
    ``_pref_row`` / ``_pref_col`` columns, not round-robin (r12, guide
    §2.3-2.5 + §8): every pyramid tile key at zoom ≥ prefix_zoom is a
    function of that prefix, so when :func:`_level_agg` includes the
    prefix columns in its grouping keys (groups are unchanged — the
    prefix is determined by (zoom, row, col)), HashPartitioning on the
    prefix SATISFIES the aggregation's required distribution and
    Catalyst plans the whole 16-level rollup with ZERO further
    exchanges: the one spread shuffle carries raw points (5 narrow
    columns), and the per-level partial shuffles disappear outright
    (guide §2.4 "remove shuffles").  It also skips round-robin's
    mandatory local sort (spark.sql.execution.sortBeforeRepartition).
    Balance: the default prefix (zoom 6) has 4096 distinct tiles ≈
    128× the 32-way local parallelism — past the 20-100× guideline;
    geographic hotspots at 100 TB can warrant a finer prefix
    (``partition_prefix_zoom``), trading a bounded re-duplication of
    coarse-zoom partials for spread.

    At 100 TB the input naturally has more splits than cores, the
    spread elides, and the aggregation keeps its classic partial →
    exchange → final shape (no prefix columns are attached, so the
    exchange carries nothing extra).
    """
    filtered = locations.where(F.col("source") != "background")
    # guard the Mercator domain: NaN / out-of-range coordinates would
    # quantize to null or absurd tiles and pollute the pyramid at scale
    # (no-op on the fixtures, which are generated in-domain)
    filtered = filtered.where(
        F.col("latitude").between(-85.05112878, 85.05112878)
        & F.col("longitude").between(-180.0, 180.0)
    )
    quantized = filtered.select(
        tile_row("latitude", detail_zoom).alias("row"),
        tile_col("longitude", detail_zoom).alias("col"),
        F.col("ts"),
        F.col("user_id"),
        F.col("weight"),
    )
    if not locations.isStreaming:  # inputFiles is undefined on streaming plans
        target = locations.sparkSession.sparkContext.defaultParallelism
        # spread decision from file-split count — NOT .rdd.getNumPartitions(),
        # which would force an RDD conversion into the lineage of every
        # batch build.  inputFiles() is plan metadata (no job); it
        # undercounts multi-rowgroup files, which only over-spreads.
        # 0 files = in-memory relation → spread unconditionally (cheap).
        if len(locations.inputFiles()) < target:
            shift = max(0, detail_zoom - partition_prefix_zoom)
            quantized = (
                quantized.withColumn("_pref_row", F.shiftright("row", shift))
                .withColumn("_pref_col", F.shiftright("col", shift))
                .repartition(target, F.col("_pref_row"), F.col("_pref_col"))
            )
    return quantized


def expand_groups_and_timespans(
    ingested: DataFrame, timespans: tuple[str, ...] = DEFAULT_TIMESPANS
) -> DataFrame:
    """P2 (reference heatmap.py:57-77) done once at ingest: one row per
    (user_group × timespan label)."""
    pref = _pref_cols(ingested)
    return ingested.select(
        F.explode(user_groups_expr("user_id")).alias("user_group"),
        F.col("row"),
        F.col("col"),
        F.col("ts"),
        F.col("weight"),
        *pref,
    ).select(
        "user_group",
        F.explode(timespan_labels("ts", timespans)).alias("timespan"),
        "row",
        "col",
        "weight",
        *pref,
    )


PREF_COLS = ("_pref_row", "_pref_col")

# the pyramid's output contract — prefix partition columns never leak
PYRAMID_COLS = ("user_group", "timespan", "zoom", "row", "col", "visits")


def _pref_cols(df: DataFrame) -> list[str]:
    return [c for c in PREF_COLS if c in df.columns]


def _level_agg(df: DataFrame) -> DataFrame:
    """groupBy over the pyramid key.  When the subtree-prefix partition
    columns are present (small-input spread path, see ingest_locations)
    they join the grouping key: the prefix is a pure function of
    (zoom, row, col) at zoom ≥ prefix_zoom, so the groups are
    IDENTICAL, but HashPartitioning(_pref_row, _pref_col) now satisfies
    the aggregation's ClusteredDistribution (partitioning expressions ⊆
    grouping keys) and Catalyst plans the rollup without any exchange
    (guide §2.4)."""
    return df.groupBy(*_pref_cols(df), "user_group", "timespan", "zoom", "row", "col").agg(
        F.sum("weight").alias("visits")
    )


def pyramid_explode(
    expanded: DataFrame,
    min_zoom: int = MIN_PYRAMID_ZOOM,
    max_zoom: int = DETAIL_MAX_ZOOM,
    keep_prefix: bool = False,
    detail_zoom: int | None = None,
) -> DataFrame:
    """All zoom levels in ONE aggregation (SURVEY.md §2.5 strategy 1).

    Ancestor (row, col) at zoom z is an exact integer shift of the
    detail (row, col) (see functions/tiles.py exactness note), so the
    explode is pure codegen arithmetic: no re-quantization float math,
    no string keys, one exchange for the whole 16-level pyramid.

    ``detail_zoom`` is the zoom of the INPUT rows (defaults to
    ``max_zoom``, the historical single-band call shape); pass it
    explicitly when emitting a band that stops below the detail level
    (q_heatmap_table_stats' zoom 6-10 band) — the ancestor shift is
    ``detail_zoom - z``, not ``max_zoom - z``.
    """
    if detail_zoom is None:
        detail_zoom = max_zoom
    z = F.col("zoom")
    delta = (F.lit(detail_zoom) - z).cast("int")
    pref = _pref_cols(expanded)
    leveled = expanded.select(
        "user_group",
        "timespan",
        F.explode(F.sequence(F.lit(min_zoom), F.lit(max_zoom))).alias("zoom"),
        "row",
        "col",
        "weight",
        *pref,
    ).select(
        "user_group",
        "timespan",
        "zoom",
        F.floor(F.col("row") / F.pow(F.lit(2.0), delta)).alias("row"),
        F.floor(F.col("col") / F.pow(F.lit(2.0), delta)).alias("col"),
        "weight",
        *pref,
    )
    out = _level_agg(leveled)
    if keep_prefix:
        # caller stacks further prefix-keyed aggregations on top
        # (q_heatmap_table_stats) — hand the partition columns through
        return out.select(*PYRAMID_COLS, *pref)
    return out.select(*PYRAMID_COLS)


RELIABLE_CHECKPOINT_CONF = "heatmap.cascade.reliableCheckpoint"


def _cut_lineage(df: DataFrame) -> DataFrame:
    """Materialize ``df`` and truncate its lineage.

    Reliable ``checkpoint()`` when ``heatmap.cascade.reliableCheckpoint``
    is true and the SparkContext has a checkpoint dir configured
    (cluster jobs: blocks survive executor loss), else eager DISK_ONLY
    ``localCheckpoint`` (local mode: no DFS round-trip, blocks on
    local disk)."""
    from pyspark.storagelevel import StorageLevel

    spark = df.sparkSession
    if (
        spark.conf.get(RELIABLE_CHECKPOINT_CONF, "false") == "true"
        and spark.sparkContext.getCheckpointDir() is not None
    ):
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)


def pyramid_cascade(
    expanded: DataFrame,
    min_zoom: int = MIN_PYRAMID_ZOOM,
    max_zoom: int = DETAIL_MAX_ZOOM,
    persist: bool = True,
    checkpoint_stride: int = 8,
) -> DataFrame:
    """Level-by-level rollup with partial-aggregate reuse
    (reference heatmap.py:107-118, strategy 2 of SURVEY.md §2.5).

    Valid because sum is reassociative: zoom z = groupBy over zoom z+1.

    Lineage discipline (the SURVEY §2.5 "what's hard" item, learned the
    hard way): ``persist()`` alone does NOT truncate the logical plan,
    so level 6 would nest all 15 prior aggregations — a plan tree big
    enough that AQE's plan-string logging alone OOMs a default-sized
    driver.  Each level is therefore ``localCheckpoint``ed: lineage cut
    to a materialized RDD, plans stay O(1) deep, and each level is
    computed exactly once.  (On a fault-tolerant cluster job, swap for
    reliable ``checkpoint()`` with a checkpoint dir — localCheckpoint
    blocks are lost with an executor.)

    ``checkpoint_stride`` is the CHUNK height: from each materialized
    level, the next ``stride`` coarser levels are produced by exploding
    deltas 1..stride and aggregating them in ONE shuffle (zoom is part
    of the grouping key, exactly like explode mode), then the chunk's
    bottom level seeds the next chunk.  Reuse is preserved — each chunk
    reads the previous chunk's AGGREGATE, never raw points — but the
    16-level build costs ceil(16/stride)+1 shuffle stages and barriers
    instead of 16 sequential shuffles: the level-by-level spelling
    measured 8.3-10.4 s at sf0.1 and 55-78 s at the 10M-point probe;
    this chunked form measures 2.5-4.2 s and 45-63 s (with explode
    mode at 86.4 s in the same session — the chunked cascade is the
    faster strategy at probe scale, the first time cascade beats
    explode, because each chunk aggregates pre-shrunk partials).

    Stride choice (measured warm, same session): at sf0.1 fewer
    barriers win outright (stride 4/8/16 → 3.6/3.0/2.5 s — the
    aggregates are tiny, checkpoint latency dominates); at the
    10M-point probe the explode factor of a point-sized chunk matters
    too (62.8/45.2/56.6 s).  Stride 8 is fastest-or-close at BOTH
    scales and stays the default; pass 4 when intermediate levels are
    huge relative to memory, 16 when the corpus is small.

    DISK_ONLY checkpoints (not heap): fine zoom levels don't shrink
    until ~4^z exceeds the point count, so chunk outputs are
    point-sized — heap-caching them OOMs at 10M+ points, and lineage
    must be CUT (persist alone nests plans deep enough that AQE's plan
    logging OOMs a default driver — SURVEY.md §2.5).

    Checkpoint reliability: localCheckpoint blocks die with their
    executor — fine on local[k] (one JVM), unacceptable for a long
    cluster job.  If the SparkContext has a checkpoint directory set
    (``sc.setCheckpointDir('hdfs://…')``), each chunk uses reliable
    ``checkpoint()`` to that directory instead, so a lost executor
    recomputes nothing — same plan shape, storage swaps from local
    disk blocks to the DFS.
    """
    # The zoom-21 seed aggregation rides the ingest spread's subtree-
    # prefix partitioning (exchange-free, see _level_agg); the prefix
    # columns are then DROPPED before the first checkpoint: chunk
    # inputs are checkpointed RDDs whose partitioning is unknown to
    # Catalyst (localCheckpoint loses it), so the chunk aggregations
    # re-exchange regardless and carrying the prefix would only fatten
    # every checkpoint and chunk shuffle by two long columns (measured
    # +22% shuffle / +27% checkpoint re-read bytes at sf0.1).
    cur = _level_agg(expanded.withColumn("zoom", F.lit(max_zoom))).select(*PYRAMID_COLS)
    pref: list[str] = []
    parts = []
    z = max_zoom
    first = True
    while z > min_zoom:
        if persist and first:
            # later iterations: cur is a narrow filter of the previous
            # checkpointed chunk — already materialized, no new barrier
            cur = _cut_lineage(cur)
        first = False
        parts.append(cur)
        step = min(checkpoint_stride, z - min_zoom)
        d = F.col("delta").cast("int")
        shifted = cur.select(
            "user_group",
            "timespan",
            F.explode(F.sequence(F.lit(1), F.lit(step))).alias("delta"),
            "row",
            "col",
            F.col("visits").alias("weight"),
            *pref,
        ).select(
            "user_group",
            "timespan",
            (F.lit(z) - d).alias("zoom"),
            F.floor(F.col("row") / F.pow(F.lit(2.0), d)).alias("row"),
            F.floor(F.col("col") / F.pow(F.lit(2.0), d)).alias("col"),
            "weight",
            *pref,
        )
        chunk = _level_agg(shifted)  # levels z-1 .. z-step
        if persist:
            chunk = _cut_lineage(chunk)
        parts.append(chunk.where(F.col("zoom") > z - step))
        cur = chunk.where(F.col("zoom") == z - step)  # filter of the checkpoint
        z -= step
    parts.append(cur)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(*PYRAMID_COLS)


def build_pyramid(
    locations: DataFrame,
    mode: str = "explode",
    timespans: tuple[str, ...] = DEFAULT_TIMESPANS,
    min_zoom: int = MIN_PYRAMID_ZOOM,
    max_zoom: int = DETAIL_MAX_ZOOM,
) -> DataFrame:
    """locations → (user_group, timespan, zoom, row, col, visits)."""
    expanded = expand_groups_and_timespans(
        ingest_locations(locations, max_zoom, partition_prefix_zoom=min_zoom),
        timespans,
    )
    if mode == "explode":
        return pyramid_explode(expanded, min_zoom, max_zoom)
    if mode == "cascade":
        return pyramid_cascade(expanded, min_zoom, max_zoom)
    raise ValueError(f"unknown pyramid mode {mode!r}")


def resultsets(pyramid: DataFrame, delta: int = DETAIL_ZOOM_DELTA) -> DataFrame:
    """Package detail counts under their result-set parent tile
    (reference heatmap.py:79-90,112,120-126: A2 re-key + A3 collect).

    Output: (user_group, timespan, rs_zoom, rs_row, rs_col, rs_tile_id,
    heatmap map<detail_tile_id, visits>).  The parent is ``delta`` (=5)
    zooms up — exact integer shift of the detail (row, col).  Entries
    are sorted by detail (row, col) so downstream JSON is deterministic.

    Shuffle diet: the collect_list entry is (row, col, visits) — three
    numerics.  All entries of a result set share one detail zoom
    (rs_zoom + delta, part of the grouping key), so the zoom and the
    "z_r_c" tile-id STRING are reconstructed from the group key AFTER
    the exchange, in a post-aggregation transform over the much smaller
    result-set stream.  Measured at sf0.1: the collect exchange drops
    ~98 → ~87 MB (~11% — UnsafeRow string padding makes the
    preformatted id fatter than two longs); the saving is proportional
    at 100 TB and the post-shuffle transform adds no measurable time.
    """
    rs = pyramid.select(
        "user_group",
        "timespan",
        (F.col("zoom") - delta).alias("rs_zoom"),
        F.shiftright("row", delta).alias("rs_row"),
        F.shiftright("col", delta).alias("rs_col"),
        F.struct("row", "col", "visits").alias("entry"),
    )
    detail_key = lambda s: tile_id_from_zrc(
        F.col("rs_zoom") + delta, s["row"], s["col"]
    )
    return (
        rs.groupBy("user_group", "timespan", "rs_zoom", "rs_row", "rs_col")
        .agg(F.array_sort(F.collect_list("entry")).alias("entries"))
        .select(
            "user_group",
            "timespan",
            "rs_zoom",
            "rs_row",
            "rs_col",
            F.map_from_entries(
                F.transform(
                    "entries",
                    lambda s: F.struct(
                        detail_key(s).alias("tile_id"), s["visits"].alias("visits")
                    ),
                )
            ).alias("heatmap"),
            tile_id_from_zrc(F.col("rs_zoom"), F.col("rs_row"), F.col("rs_col")).alias(
                "rs_tile_id"
            ),
        )
    )


def heatmap_table(rsets: DataFrame) -> DataFrame:
    """Final sink shape (id, heatmap) (reference heatmap.py:128-129,156-157):
    id = 'userGroup|timespan|rsTileId', heatmap = JSON object string."""
    return rsets.select(
        F.concat_ws("|", "user_group", "timespan", "rs_tile_id").alias("id"),
        F.to_json("heatmap").alias("heatmap"),
    )


def pyramid_merge(existing: DataFrame, delta: DataFrame) -> DataFrame:
    """Incremental maintenance: merge a delta pyramid into an existing
    one (sum is reassociative, so merge = union + re-aggregate on the
    same keys).  This is the production update path — a nightly batch
    adds one day of points without recomputing history; at 100 TB the
    delta is orders of magnitude smaller than the base, and the merge
    shuffles only (base ∪ delta) aggregates, never raw points.
    """
    return _level_agg(
        existing.unionByName(delta).select(
            "user_group",
            "timespan",
            "zoom",
            "row",
            "col",
            F.col("visits").alias("weight"),
        )
    )


# 3x3 smoothing kernel: center 4, edges 2, corners 1 (integer weights —
# exact decimal arithmetic end-to-end, so the convolution is
# partition-order independent and oracle-checkable)
SMOOTH_KERNEL = tuple(
    (dr, dc, 4 if (dr == 0 and dc == 0) else 2 if (dr == 0 or dc == 0) else 1)
    for dr in (-1, 0, 1)
    for dc in (-1, 0, 1)
)


def smooth_tiles(pyramid: DataFrame, zoom: int) -> DataFrame:
    """3x3 weighted smoothing of one pyramid level — the rendering blur
    heatmap consumers apply, pushed into the engine as a distributed
    convolution.

    Each tile scatters its (visits × weight) contribution to its 9
    neighbors via one explode (no self-join of the level against
    itself: a join on 9 shifted keys would shuffle both sides; the
    scatter form shuffles once and aggregates map-side first).  Counts
    ride DECIMAL so the kernel sum is exact; out-of-range neighbor
    targets at the world edge are dropped (kernel support is clipped,
    matching raster-convolution edge handling).

    Reference: none — SURVEY.md §2.8 (tile-pyramid extension; the
    reference ships raw counts and lets the client blur).
    """
    n = 2**zoom
    level = pyramid.where(F.col("zoom") == zoom)
    offsets = F.array(
        *[
            F.struct(F.lit(dr).alias("dr"), F.lit(dc).alias("dc"), F.lit(w).alias("w"))
            for dr, dc, w in SMOOTH_KERNEL
        ]
    )
    scattered = level.select(
        "user_group",
        "timespan",
        F.explode(offsets).alias("o"),
        "row",
        "col",
        F.col("visits").cast("decimal(20,4)").alias("v"),
    ).select(
        "user_group",
        "timespan",
        (F.col("row") + F.col("o.dr")).alias("row"),
        (F.col("col") + F.col("o.dc")).alias("col"),
        (F.col("v") * F.col("o.w")).alias("wv"),
    ).where(
        (F.col("row") >= 0) & (F.col("row") < n)
        & (F.col("col") >= 0) & (F.col("col") < n)
    )
    return scattered.groupBy("user_group", "timespan", "row", "col").agg(
        F.sum("wv").cast("double").alias("smoothed")
    )


def dense_regions(
    locations: DataFrame, zoom: int = 6, min_count: int = 3
) -> DataFrame:
    """Grid-DBSCAN dense-region detection on the tile grid: cells with
    ≥ ``min_count`` points are core cells; core cells touching
    (8-neighborhood) merge into one region via connected components.

    This is the spatial-clustering query the reference's heatmap
    domain actually asks ("where are the hotspots?") — DBSCAN
    semantics with the tile grid as the index, so there is no
    pairwise-distance join anywhere: density is one groupBy on the
    quantized keys (map-side combinable), adjacency is an equi-join of
    the dense-cell set against its 8 shifted copies (dense cells ≪
    points, and the join key is exact integers), and the iterative
    min-label propagation runs on the tiny dense-cell graph
    (operators/dedup.connected_components, O(diameter) rounds).
    Output: one row per dense cell with its region label and point
    count; region_id = min cell_id in the region (deterministic).

    Reference: none — SURVEY.md §2.8 extension of the reference's own
    geo domain.

    r12 (guide §5): the dense-cell graph is bounded by GEOMETRY, not
    input size — a zoom-z grid has at most 4^z cells (zoom 6 → 4,096
    nodes, ≤ 16k undirected 8-neighbor edges) no matter how many
    points feed it.  For zoom ≤ 8 (≤ 65,536 cells) the component merge
    therefore runs as union-find on the driver over the collected edge
    list — the same model-sized-driver-state pattern as the IVF/OPQ
    codebooks — replacing the measured 21 iterative join rounds
    (~2 s/round of job latency at any scale) with one collect.  Labels
    are identical: union-by-min-root yields region_id = min cell_id in
    the component, exactly the distributed algorithm's fixpoint.
    Deeper zooms keep the distributed pointer-jumping CC.
    """
    from heatmap_spark.operators.dedup import connected_components

    side = F.lit(1 << zoom).cast("long")
    cells = (
        locations.where(F.col("source") != "background")
        .select(
            tile_row(F.col("latitude"), zoom).alias("row"),
            tile_col(F.col("longitude"), zoom).alias("col"),
        )
        .groupBy("row", "col")
        .agg(F.count("*").alias("n_points"))
        .where(F.col("n_points") >= min_count)
        .withColumn("cell_id", F.col("row") * side + F.col("col"))
    )
    offsets = [(dr, dc) for dr in (-1, 0, 1) for dc in (-1, 0, 1) if (dr, dc) != (0, 0)]
    shifted = cells.select(
        "cell_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("row") + dr).alias("nr"), (F.col("col") + dc).alias("nc")
                    )
                    for dr, dc in offsets
                ]
            )
        ).alias("nb"),
    ).select("cell_id", F.col("nb.nr").alias("row"), F.col("nb.nc").alias("col"))
    edges = (
        shifted.join(cells.select("row", "col", F.col("cell_id").alias("cell_b")), ["row", "col"])
        .where(F.col("cell_id") < F.col("cell_b"))
        .select(F.col("cell_id").alias("cell_a"), "cell_b")
        .distinct()
    )
    if (1 << (2 * zoom)) <= (1 << 16):
        # bounded grid: union-find on the driver (≤ 4^zoom nodes)
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = root, parent[x]
            return root

        for r in edges.collect():
            ra, rb = find(r.cell_a), find(r.cell_b)
            if ra != rb:  # attach the larger root under the smaller →
                if ra > rb:  # root is always the component's min id
                    ra, rb = rb, ra
                parent[rb] = ra
        rows = [(int(n), int(find(n))) for n in parent]
        labels = F.broadcast(
            cells.sparkSession.createDataFrame(
                rows, schema="cell_id long, region_id long"
            )
        )
    else:
        labels = connected_components(edges, a="cell_a", b="cell_b").select(
            F.col("doc_id").alias("cell_id"), F.col("cluster_id").alias("region_id")
        )
    return (
        cells.join(labels, "cell_id", "left")
        .select(
            "cell_id",
            "row",
            "col",
            "n_points",
            F.coalesce("region_id", F.col("cell_id")).alias("region_id"),
        )
    )
