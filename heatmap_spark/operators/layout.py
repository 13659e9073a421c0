"""Physical-layout operators: MERGE INTO on plain parquet relations.

The reference ships results to a point-lookup KV store (reference
heatmap.py:137,156-157) and upserts by primary key.  A parquet/object-
store deployment of the same engine needs the set-oriented spelling of
that upsert, :func:`merge_upsert`.  Tile ordering for data skipping
lives with its one writer: streaming/tile_store.py sorts each bucket's
files by (zoom, row, col).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


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
