"""Physical-layout operators: Z-order clustering + row-group skipping.

The reference ships results to a point-lookup KV store (reference
heatmap.py:137,156-157), so it never faces the scan-layout problem.  A
parquet/object-store deployment of the same engine does: a bbox read
(`q_heatmap_bbox`-style) over tile data written in arrival order touches
every file, because each row group's (row, col) min/max spans the whole
map.  Writing the same rows ordered by the Morton key
(:func:`heatmap_spark.functions.tiles.z_value`) makes each row group
cover a compact 2-D region, so parquet footer min/max stats on the
plain ``row``/``col`` columns prune most of the scan — no index
structure, no extra storage, just ordering.

At 100 TB this is THE difference between a bbox query costing a full
scan and costing a few files: `repartitionByRange` on the key gives
non-overlapping per-file key ranges cluster-wide, and the in-partition
sort gives clustered row groups within each file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from heatmap_spark.functions.tiles import z_value

_ZCOL = "__zorder__"


def cluster_by_zorder(
    df: DataFrame,
    row: str = "row",
    col: str = "col",
    bits: int = 21,
    num_partitions: int | None = None,
) -> DataFrame:
    """Return ``df`` re-laid-out along the Z-order curve of (row, col),
    ready for ``.write.parquet`` — range-partitioned by the Morton key
    (non-overlapping key ranges per output file, one shuffle with a
    sampled range boundary pass) and sorted by it within partitions
    (clustered row groups within each file).  The key itself is dropped:
    skipping works off the ORIGINAL row/col min/max footer stats.
    """
    keyed = df.withColumn(_ZCOL, z_value(row, col, bits))
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    return (
        keyed.repartitionByRange(parts, _ZCOL)
        .sortWithinPartitions(_ZCOL)
        .drop(_ZCOL)
    )


def row_group_skip_stats(
    path: str,
    row: str = "row",
    col: str = "col",
    row_range: tuple[int, int] = (0, 0),
    col_range: tuple[int, int] = (0, 0),
) -> dict:
    """Fraction of parquet row groups a bbox read must touch, judged by
    footer min/max stats alone — the same pruning decision Spark's
    parquet reader (and any engine's) makes before reading pages.

    Driver-side metadata inspection (pyarrow), linear in #row groups —
    this is a diagnostic, not a data path.
    """
    import pyarrow.dataset as ds

    total = 0
    overlapping = 0
    for frag in ds.dataset(path, format="parquet").get_fragments():
        for rg in frag.row_groups:
            total += 1
            stats_r = rg.statistics.get(row)
            stats_c = rg.statistics.get(col)
            if stats_r is None or stats_c is None:
                overlapping += 1  # no stats → can't prune
                continue
            r_lo, r_hi = row_range
            c_lo, c_hi = col_range
            if stats_r["min"] <= r_hi and stats_r["max"] >= r_lo and (
                stats_c["min"] <= c_hi and stats_c["max"] >= c_lo
            ):
                overlapping += 1
    return {
        "row_groups": total,
        "overlapping": overlapping,
        "fraction": overlapping / total if total else 0.0,
    }


def merge_upsert(
    base: DataFrame,
    changes: DataFrame,
    keys: list[str],
    op_col: str = "op",
    seq_col: str | None = None,
    broadcast_changes: bool = False,
) -> DataFrame:
    """MERGE INTO emulation on plain parquet relations (the pyspark
    guide's "CDC / SCD2" v1 pattern): apply a change set of upserts
    ('U') and deletes ('D') to a base table.

    Steps, all set-oriented (no driver loop, no row-at-a-time):
      1. if ``seq_col`` is given, keep only each key's LATEST change
         (row_number over the key ordered by seq desc — one shuffle);
      2. anti-join base against change keys (removes updated AND
         deleted rows); pass ``broadcast_changes=True`` only when the
         caller KNOWS the change set is small — the default leaves the
         join strategy to the planner/AQE, which broadcasts small sides
         on its own and degrades gracefully to a shuffled join for
         large CDC batches (a forced hint would OOM there);
      3. union the 'U' payloads back in.
    Replaying the same change set is a no-op (idempotent), which is
    what makes retry-safe ingestion possible; the heavy base relation
    is never shuffled, only scanned.

    With ``seq_col=None`` the change set is applied AS GIVEN: multiple
    change rows for one key emit multiple upsert rows (there is no
    ordering to pick a winner by).  CDC feeds with per-key multiplicity
    must supply ``seq_col`` so step 1 can keep the latest row.

    Reference: none — SURVEY.md §2.8 (maintenance/CDC extension;
    tile_store's pyramid_merge is the domain-specific instance).
    """
    from pyspark.sql.window import Window as W

    if seq_col is not None:
        w = W.partitionBy(*keys).orderBy(F.desc(seq_col))
        changes = (
            changes.withColumn("__rn__", F.row_number().over(w))
            .where(F.col("__rn__") == 1)
            .drop("__rn__")
        )
    payload_cols = [c for c in base.columns]
    change_keys = changes.select(*keys)
    if broadcast_changes:
        change_keys = F.broadcast(change_keys)
    survivors = base.join(change_keys, keys, "left_anti")
    upserts = changes.where(F.col(op_col) == "U").select(*payload_cols)
    return survivors.unionByName(upserts)
