"""Streaming KLL quantile-sketch drift store: the drift family's
bounded-state half.

The exact drift store (streaming/drift.py) keeps the distinct-value
table — exact KS/MWU/W1, state linear in distinct values.  This store
keeps a KLL quantile sketch per (event_type, stream-half) instead:
state is FIXED-SIZE per key (a few KB at the default k=200) no matter
how many distinct values the stream produces, and the served
statistics are approximate with the KLL rank-error guarantee
(~1.33% double-sided at k=200).  Together the two arms cover the
drift design space: quantized/low-cardinality values → exact arm;
continuous/unbounded values → this sketch arm.

Mergeability is the whole design: KLL sketches merge associatively
(``kll_merge_agg_double``), so per-batch partials written to the
shared log-structured store protocol sum-fold exactly like the count
tables every other store here keeps:

* ``sk/batch=<id>``   — per (event_type) row: the batch's two half
  sketches (binary), plus exact n/min/max per half (cheap exact
  side-channels the serve-time invariants check against).
* ``sk_base/v=<n>``   — LSM compaction target (sketch-merge-folded).
* ``bins/batch=<id>`` — per-batch equal-frequency boundary snapshots
  (``emit_binning_snapshot``): bins-sized timeline rows the compactor
  never GCs, so boundary history outlives the sketch partials it was
  computed from.
* ``hist/batch=<id>`` — per-batch bin populations vs that batch's own
  snapshot (``emit_binning_histogram``): the histogram-over-time half
  of the binning dashboard, read with an L1-vs-uniform drift signal.
* ``_LATEST``         — marker-committed exactly-once, the same
  replay semantics as every store in this package.

Serving inverts the sketches on a literal rank grid (Spark's
``kll_sketch_get_rank/quantile`` require foldable arguments, so the
empirical CDFs are reconstructed from each half's quantile function
— native array expressions, no UDF): the approximate two-sample KS is
``max_x |F̂_A(x) − F̂_B(x)|`` over the union of both grids, within
2·(rank_err + 1/grid) of the exact statistic.  Unlike the exact arm
the served value is NOT bit-identical to a one-shot computation (the
compactor is randomized and merge trees differ) — the in-registry
query pins the error bound against the exact KS instead.

The store now serves the full drift trio the exact arm serves
(KS / W₁ / MWU).  The MWU arm (``serve_kll_mwu``) estimates the
normalized rank-sum statistic — the AUC effect size
θ = P(A > B) + ½·P(A = B) = U_A/(na·nb) — as the grid average of
1 − F̂_A over B's quantile grid.  Soundness caveat, and why MWU is
the weakest of the trio to sketch: a quantile sketch observes RANKS,
not tie structure, so the ½-credit on exact ties is unrecoverable —
the estimator's bias is bounded by half the largest tie mass, which
is 0 for continuous distributions (this arm's design regime) but can
reach ½·max_x P(X = x) under heavy quantization; for quantized
values use the exact arm (streaming/drift.py serve_drift_mwu), whose
distinct-value table handles ties exactly.  On continuous data the
grid/rank error bound is the same 2·(rank_err + 1/grid) ≈ 0.037 as
KS; the registry query pins 0.08.

Reference: none — SURVEY.md §2.8 streaming-store + profiling
families; KLL per Karnin/Lang/Liberty, "Optimal Quantile
Approximation in Streams" (FOCS 2016), via Spark's built-in
DataSketches bindings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from heatmap_spark.streaming.logstore import (
    LogStore,
    _committed_batches,
    _Fs,
    _join,
    _read_last_batch,
    foreach_batch,
)

#: literal rank grid resolution for CDF inversion at serve time —
#: matched to the default sketch k=200 so grid error (1/g) stays
#: below the sketch's own rank error rather than dominating it.
GRID = 200


def _half_sketch_partial(labeled_batch: DataFrame) -> DataFrame:
    """One row per event_type: KLL sketch + exact n/min/max for each
    stream half.  The sketch aggs skip the other half's NULLs, so one
    scan of the batch builds both."""
    va = F.when(F.col("is_a") == 1, F.col("value"))
    vb = F.when(F.col("is_a") == 0, F.col("value"))
    return labeled_batch.groupBy("event_type").agg(
        F.kll_sketch_agg_double(va).alias("sk_a"),
        F.kll_sketch_agg_double(vb).alias("sk_b"),
        F.count(va).alias("na"),
        F.count(vb).alias("nb"),
        F.min(va).alias("min_a"),
        F.max(va).alias("max_a"),
        F.min(vb).alias("min_b"),
        F.max(vb).alias("max_b"),
    )


def _sketch_fold(df: DataFrame) -> DataFrame:
    return df.groupBy("event_type").agg(
        F.kll_merge_agg_double("sk_a").alias("sk_a"),
        F.kll_merge_agg_double("sk_b").alias("sk_b"),
        F.sum("na").alias("na"),
        F.sum("nb").alias("nb"),
        F.min("min_a").alias("min_a"),
        F.max("max_a").alias("max_a"),
        F.min("min_b").alias("min_b"),
        F.max("max_b").alias("max_b"),
    )


_SK = LogStore("sk", _sketch_fold)


def merge_batch_into_kll_store(
    spark: SparkSession,
    labeled_batch: DataFrame,
    store_path: str,
    batch_id: int,
) -> bool:
    """Ingest one labeled micro-batch (event_type, is_a, value): write
    its per-type half-sketch partial, then commit the marker.  Cost is
    one hash aggregate over the batch; the partial is sketch-sized
    (KBs per event_type), not batch-sized.  Returns False (no-op) on
    replay of a committed batch."""
    return _SK.commit(
        spark, store_path, batch_id, _half_sketch_partial(labeled_batch)
    )


def accumulated_sketches(
    spark: SparkSession, store_path: str
) -> DataFrame | None:
    """(event_type, sk_a, sk_b, na, nb, min/max per half) merged over
    compacted base + partials since its fold.  The exact counters
    (n/min/max) sum/min/max-merge exactly; the sketches merge with the
    KLL guarantee."""
    return _SK.accumulated(spark, store_path)


def compact_kll_store(spark: SparkSession, store_path: str) -> int:
    """LSM compaction: sketch-merge committed partials into a new base.
    Returns the number of partials folded."""
    return _SK.compact(spark, store_path)


def stream_binning(
    labeled_stream: DataFrame,
    store_path: str,
    checkpoint_path: str,
    n_bins: int = 10,
):
    """Maintain the full binning dashboard from a labeled
    (event_type, is_a, value) stream via foreachBatch (availableNow
    trigger): each micro-batch merges its sketch partial, then emits
    the boundary snapshot and the batch's histogram against it — the
    same per-batch cadence the declared query drives by hand.  On a
    restart replay every step is a no-op (marker guard on the merge,
    directory guards on the emits) — EXCEPT a crash that landed
    between the merge commit and the emits, which the replay heals:
    the merge no-ops but the store is still AT this batch, so the
    missing snapshot/histogram are emitted then (an older replayed
    batch skips the emits entirely — its snapshot window has
    passed)."""

    def _merge(spark: SparkSession, batch_df: DataFrame, batch_id: int) -> None:
        merge_batch_into_kll_store(spark, batch_df, store_path, batch_id)
        if batch_id == _read_last_batch(store_path):
            emit_binning_snapshot(spark, store_path, batch_id, n_bins)
            emit_binning_histogram(
                spark,
                store_path,
                batch_df.select("event_type", "value"),
                batch_id,
            )

    return foreach_batch(labeled_stream, checkpoint_path, _merge)


def _acc_or_raise(spark: SparkSession, store_path: str) -> DataFrame:
    """Serve-path accumulation with the explicit empty-store error the
    other stores raise (ann_store's 'no committed codes' pattern) —
    otherwise an uncommitted store surfaces as an opaque
    AttributeError on None."""
    acc = accumulated_sketches(spark, store_path)
    if acc is None:
        raise ValueError("KLL store has no committed batches")
    return acc


def _quantile_grid(sk_col: str, grid: int = GRID):
    """Array of the sketch's quantiles at ranks 1/g .. (g-1)/g — the
    rank arguments must be literals (Spark's DataSketches bindings
    reject non-foldable ranks), so the grid is built as g-1 scalar
    calls; quantile arrays are monotone by the KLL contract."""
    return F.array(
        *[
            F.kll_sketch_get_quantile_double(sk_col, F.lit(i / grid))
            for i in range(1, grid)
        ]
    )


def serve_kll_quantiles(
    spark: SparkSession, store_path: str
) -> DataFrame:
    """Per (event_type, half): n (exact), p50/p90/p99 from the merged
    sketch — the store's basic monitoring read."""
    acc = _acc_or_raise(spark, store_path)
    rows = []
    for half, sk, n in (("a", "sk_a", "na"), ("b", "sk_b", "nb")):
        rows.append(
            acc.select(
                "event_type",
                F.lit(half).alias("half"),
                F.col(n).cast("bigint").alias("n_seen"),
                *[
                    F.round(
                        F.kll_sketch_get_quantile_double(sk, F.lit(p)), 6
                    ).alias(name)
                    for p, name in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99"))
                ],
            )
        )
    return rows[0].unionByName(rows[1])


def serve_kll_drift(
    spark: SparkSession, store_path: str, grid: int = GRID
) -> DataFrame:
    """Approximate two-sample KS per event_type from the merged
    sketches: reconstruct each half's empirical CDF from its quantile
    function on a literal rank grid, evaluate both CDFs on the UNION
    of the two grids, and take the max gap — all native array
    expressions.  Error vs the exact KS is bounded by
    2·(kll_rank_err + 1/grid) ≈ 0.037 at the defaults; the registry
    query pins 0.08.  Also returns the exact per-half counts the
    invariant checks use."""
    acc = _acc_or_raise(spark, store_path)
    g = float(grid)
    qa = _quantile_grid("sk_a", grid)
    qb = _quantile_grid("sk_b", grid)
    with_grids = acc.select(
        "event_type",
        F.col("na").cast("bigint").alias("na"),
        F.col("nb").cast("bigint").alias("nb"),
        qa.alias("qa"),
        qb.alias("qb"),
    )

    def cdf(grid_col, x):
        # F̂(x) from the quantile grid: fraction of grid ranks whose
        # quantile is <= x (grid arrays are sorted/monotone)
        return F.size(F.filter(grid_col, lambda v: v <= x)) / F.lit(g)

    gap = F.array_max(
        F.transform(
            F.array_union("qa", "qb"),
            lambda x: F.abs(cdf(F.col("qa"), x) - cdf(F.col("qb"), x)),
        )
    )
    return with_grids.select(
        "event_type",
        "na",
        "nb",
        F.round(gap, 6).alias("ks_approx"),
    )


def _pooled_sketch():
    """Both halves merged, tolerating a one-sided type: the binning
    arms pool the halves anyway (the half label is the DRIFT family's
    concern), so a type whose rows all landed in one half must not
    produce a NULL pooled sketch (kll_sketch_merge_double is
    NULL-propagating).  Merging a half with itself preserves every
    quantile — duplicating each item scales ranks uniformly — so the
    coalesced spelling is exact, not an approximation."""
    return F.kll_sketch_merge_double(
        F.coalesce("sk_a", "sk_b"), F.coalesce("sk_b", "sk_a")
    )


def serve_kll_bins(
    spark: SparkSession,
    store_path: str,
    rows: DataFrame,
    n_bins: int = 10,
) -> DataFrame:
    """Equal-frequency binning with boundaries served from the merged
    sketches — the bounded-state arm of profiling.quantile_binning
    (its docstring names this exact swap): boundaries are the pooled
    sketch's quantiles at j/n_bins (the two halves merged, literal
    ranks), broadcast to the row scan for the same map-only native
    binning tail.  Bin populations are equal within the KLL rank
    error instead of exactly; everything downstream of the boundary
    source is unchanged.  ``rows`` must carry (event_type, value)."""
    acc = _acc_or_raise(spark, store_path)
    pooled = _pooled_sketch()
    bnd = acc.select(
        "event_type",
        F.array_sort(
            F.array_distinct(
                F.array(
                    *[
                        F.kll_sketch_get_quantile_double(
                            pooled, F.lit(j / n_bins)
                        )
                        for j in range(1, n_bins)
                    ]
                )
            )
        ).alias("bounds"),
    )
    binned = rows.join(F.broadcast(bnd), "event_type").select(
        "event_type",
        "value",
        (
            F.lit(1)
            + F.size(F.filter("bounds", lambda b: b < F.col("value")))
        ).cast("int").alias("bin"),
    )
    return binned.groupBy("event_type", "bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.round(F.min("value"), 6).alias("lo"),
        F.round(F.max("value"), 6).alias("hi"),
    )


def serve_kll_w1(
    spark: SparkSession, store_path: str, grid: int = GRID
) -> DataFrame:
    """Approximate 1-Wasserstein drift per event_type from the merged
    sketches — the sketch arm of serve_drift_w1: reconstruct both
    CDFs on the sorted union of the two quantile grids and integrate
    the gap, W₁ ≈ Σ_i |F̂_A(x_i) − F̂_B(x_i)|·(x_{i+1} − x_i).  All
    native array expressions.  Error vs the exact statistic is
    bounded by 2·(rank_err + 1/grid)·(vmax − vmin) ≈ 0.037·range at
    the defaults; the registry query pins 0.05·range."""
    acc = _acc_or_raise(spark, store_path)
    g = float(grid)
    qa = _quantile_grid("sk_a", grid)
    qb = _quantile_grid("sk_b", grid)
    with_grids = acc.select(
        "event_type",
        F.col("na").cast("bigint").alias("na"),
        F.col("nb").cast("bigint").alias("nb"),
        F.array_sort(F.array_union(qa, qb)).alias("xs"),
        qa.alias("qa"),
        qb.alias("qb"),
    )

    def cdf(grid_col, x):
        return F.size(F.filter(grid_col, lambda v: v <= x)) / F.lit(g)

    xs = F.col("xs")
    w1 = F.aggregate(
        F.sequence(F.lit(1), F.size(xs) - 1),
        F.lit(0.0),
        lambda acc_, i: acc_
        + F.abs(
            cdf(F.col("qa"), F.element_at(xs, i))
            - cdf(F.col("qb"), F.element_at(xs, i))
        )
        * (F.element_at(xs, i + 1) - F.element_at(xs, i)),
    )
    return with_grids.select(
        "event_type",
        "na",
        "nb",
        F.round(w1, 6).alias("w1_approx"),
    )


def serve_kll_mwu(
    spark: SparkSession, store_path: str, grid: int = GRID
) -> DataFrame:
    """Approximate Mann–Whitney effect size per event_type from the
    merged sketches — the sketch arm of serve_drift_mwu, completing
    the KS/W₁/MWU trio on the bounded-state side.

    Served statistic: the AUC / common-language effect size
    θ = P(A > B) + ½·P(A = B) = U_A/(na·nb), estimated as the grid
    average of 1 − F̂_A(x) over B's quantile grid (each of B's g−1
    grid quantiles carries mass 1/g of B; F̂_A is the same
    grid-reconstructed CDF the KS serve uses).  All native array
    expressions over the sketch relation — no row data touched.

    Error: rank/grid error ≤ 2·(kll_rank_err + 1/grid) ≈ 0.037 at the
    defaults, PLUS a tie bias ≤ ½·max tie mass that a rank sketch
    cannot observe (module docstring) — sound on continuous values,
    the exact arm owns quantized ones.  The registry query pins 0.08
    against the exact U₂/(2·na·nb)."""
    acc = _acc_or_raise(spark, store_path)
    g = float(grid)
    qa = _quantile_grid("sk_a", grid)
    qb = _quantile_grid("sk_b", grid)
    with_grids = acc.select(
        "event_type",
        F.col("na").cast("bigint").alias("na"),
        F.col("nb").cast("bigint").alias("nb"),
        qa.alias("qa"),
        qb.alias("qb"),
    )

    def cdf_a(x):
        return F.size(F.filter(F.col("qa"), lambda v: v <= x)) / F.lit(g)

    theta = F.aggregate(
        F.col("qb"),
        F.lit(0.0),
        lambda acc_, x: acc_ + (F.lit(1.0) - cdf_a(x)),
    ) / F.lit(g)
    return with_grids.select(
        "event_type",
        "na",
        "nb",
        F.round(theta, 6).alias("auc_approx"),
    )


def emit_binning_snapshot(
    spark: SparkSession,
    store_path: str,
    batch_id: int,
    n_bins: int = 10,
) -> bool:
    """Streaming arm of equal-frequency binning (VERDICT r11 item 8):
    append the store's CURRENT pooled bin boundaries as a
    ``bins/batch=<id>`` timeline row — one row per event_type holding
    n_bins−1 pooled-sketch quantiles plus the exact n/min/max
    side-channels.  Call immediately AFTER
    ``merge_batch_into_kll_store`` commits the batch (the equality
    guard enforces it), the same post-commit cadence as the ANN
    store's drift monitor.

    The timeline row is BINS-sized (a handful of doubles per type),
    not sketch-sized, so the LSM compactor never touches ``bins/`` —
    boundary HISTORY survives the compaction that deletes the
    per-batch sketch partials each snapshot was computed from.
    Downstream consumers re-bin against the latest snapshot and use
    :func:`read_binning_timeline`'s ``boundary_shift`` to decide when
    boundaries have converged enough to freeze (or, on a spike, that
    the value distribution moved and historical bins are stale).

    Returns False (no-op) when this batch's snapshot already exists —
    the replay guard every store ingest here shares.  ``n_bins`` must
    stay constant over a store's lifetime (the reader's shift metric
    zips consecutive boundary vectors positionally)."""
    fs = _Fs(spark)
    dest = _join(store_path, "bins", f"batch={batch_id}")
    if fs.exists(dest):
        return False
    last = _read_last_batch(store_path)
    if batch_id != last:
        raise ValueError(
            f"cannot snapshot batch {batch_id}: the sketch log is at "
            f"batch {last} — emit immediately after the batch's merge "
            f"commit, before the next merge"
        )
    acc = _acc_or_raise(spark, store_path)
    pooled = _pooled_sketch()
    acc.select(
        F.lit(batch_id).cast("int").alias("batch_id"),
        "event_type",
        (F.col("na") + F.col("nb")).cast("bigint").alias("n_seen"),
        F.lit(n_bins).cast("int").alias("n_bins"),
        F.array(
            *[
                F.kll_sketch_get_quantile_double(pooled, F.lit(j / n_bins))
                for j in range(1, n_bins)
            ]
        ).alias("bounds"),
        F.least("min_a", "min_b").alias("vmin"),
        F.greatest("max_a", "max_b").alias("vmax"),
    ).write.mode("overwrite").parquet(dest)
    return True


def emit_binning_histogram(
    spark: SparkSession,
    store_path: str,
    batch_df: DataFrame,
    batch_id: int,
) -> bool:
    """The histogram half of the binning dashboard: bin THIS batch's
    (event_type, value) rows against the batch's own boundary snapshot
    (which pools everything seen so far, this batch included) and
    append the bins-sized counts as a ``hist/batch=<id>`` row set.

    Under a stationary stream each batch lands ≈uniformly in the
    current equal-frequency bins, so the per-batch share vector is
    ≈1/n_bins everywhere; when the distribution moves, the incoming
    batch concentrates in a few bins and
    :func:`read_binning_histogram`'s ``l1_vs_uniform`` spikes — the
    same staleness signal as ``boundary_shift``, read off POPULATIONS
    instead of boundary positions (a shift the boundaries absorb
    slowly still shows up immediately in where the new rows fall).

    Cost per batch: one broadcast of the bins-sized boundary row set
    + one hash aggregate over the batch — map-only, O(batch), no
    state beyond the appended counts.  Call after
    :func:`emit_binning_snapshot` for the same batch (the guard
    checks the snapshot exists); replay is a no-op."""
    fs = _Fs(spark)
    dest = _join(store_path, "hist", f"batch={batch_id}")
    if fs.exists(dest):
        return False
    snap_dir = _join(store_path, "bins", f"batch={batch_id}")
    if not fs.exists(snap_dir):
        raise ValueError(
            f"no boundary snapshot for batch {batch_id}: emit the "
            f"snapshot before its histogram"
        )
    bnd = spark.read.parquet(snap_dir).select(
        "event_type", "n_bins", "bounds"
    )
    _histogram_rows(batch_df, bnd, batch_id).write.mode(
        "overwrite"
    ).parquet(dest)
    return True


def _histogram_rows(
    batch_df: DataFrame, bnd: DataFrame, batch_id: int
) -> DataFrame:
    """The emit's plan: broadcast the bins-sized boundary relation into
    the batch scan (a shuffle join here would re-partition every batch
    at scale — plan-pinned in tests/test_plans.py), native binning
    tail, one hash aggregate down to (type, bin) counts."""
    binned = batch_df.join(F.broadcast(bnd), "event_type").select(
        F.lit(batch_id).cast("int").alias("batch_id"),
        "event_type",
        "n_bins",
        (
            F.lit(1)
            + F.size(F.filter("bounds", lambda b: b < F.col("value")))
        ).cast("int").alias("bin"),
    )
    return binned.groupBy("batch_id", "event_type", "n_bins", "bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows")
    )


def read_binning_histogram(spark: SparkSession, store_path: str) -> DataFrame:
    """The committed histogram-over-time dashboard: per (event_type,
    batch_id), each bin's share of the batch plus ``l1_vs_uniform`` =
    Σ_bins |share − 1/n_bins| — 0 when the batch falls exactly
    uniformly into the current equal-frequency bins (the stationary
    expectation), approaching 2·(1 − 1/n_bins) when the batch
    concentrates in one bin (a hard distribution break).  Bins a
    batch produced no rows for count as share 0 (the sequence fill
    below), so one-sided concentration can't hide.  All aggregation
    runs over the hist log — (batches × types × bins) rows."""
    dirs = _committed_batches(store_path, "hist")
    if not dirs:
        raise ValueError("KLL store has no committed histogram batches")
    hist = spark.read.parquet(*dirs)
    per_batch = hist.groupBy("batch_id", "event_type", "n_bins").agg(
        F.sum("n_rows").alias("n_batch"),
        F.map_from_entries(
            F.array_sort(
                F.collect_list(F.struct(F.col("bin"), F.col("n_rows")))
            )
        ).alias("by_bin"),
    )
    share = F.transform(
        F.sequence(F.lit(1), F.col("n_bins")),
        lambda b: F.coalesce(
            F.element_at("by_bin", b).cast("double"), F.lit(0.0)
        )
        / F.col("n_batch"),
    )
    return per_batch.select(
        "batch_id",
        "event_type",
        "n_bins",
        F.col("n_batch").cast("bigint").alias("n_batch"),
        F.round(
            F.aggregate(
                share,
                F.lit(0.0),
                lambda acc_, s: acc_
                + F.abs(s - F.lit(1.0) / F.col("n_bins")),
            ),
            6,
        ).alias("l1_vs_uniform"),
    )


def read_binning_timeline(spark: SparkSession, store_path: str) -> DataFrame:
    """The committed boundary timeline with its stability metric:
    per (event_type, batch_id), ``boundary_shift`` = max over bin
    edges of |b_j − previous snapshot's b_j| normalized by the exact
    value range seen so far — ≈0 once a stationary stream's
    boundaries converge, spiking when the value distribution moves
    (the signal that downstream bin assignments have gone stale).
    NULL on each type's first snapshot, and on a (misuse) n_bins
    change mid-store; serve-side pins treat non-first NULLs as
    violations.  The lag window runs over the timeline relation —
    (batches × types) rows, bins-sized — never over row data."""
    from pyspark.sql import Window

    dirs = _committed_batches(store_path, "bins")
    if not dirs:
        raise ValueError("KLL store has no committed binning snapshots")
    snaps = spark.read.parquet(*dirs)
    w = Window.partitionBy("event_type").orderBy("batch_id")
    prev = F.lag("bounds").over(w)
    shift = F.when(
        prev.isNotNull() & (F.size(prev) == F.size("bounds")),
        F.array_max(F.zip_with("bounds", prev, lambda b, p: F.abs(b - p)))
        / F.greatest(F.col("vmax") - F.col("vmin"), F.lit(1e-300)),
    )
    return snaps.select(
        "batch_id",
        "event_type",
        "n_seen",
        "n_bins",
        "bounds",
        "vmin",
        "vmax",
        F.round(shift, 6).alias("boundary_shift"),
    )
