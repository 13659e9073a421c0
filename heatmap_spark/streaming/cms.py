"""Streaming count-min sketch store: incremental frequency summaries.

CMS grids are MERGEABLE (cellwise sum), which makes the sketch the
textbook incremental frequency summary: each micro-batch contributes a
fixed-size (depth × width) partial, and the accumulated sketch is the
cellwise sum of base + partials — O(cells) per batch regardless of
batch or corpus size.  This store instantiates the repo's shared
log-structured protocol (streaming/logstore.py: per-batch dirs,
`_LATEST` marker committed last so replays are no-ops, LSM compaction
with a folded-batch marker making partial deletes pure GC) for the
sketch:

* ``cells/batch=<id>``  — the batch's (j, col, cnt) grid.
* ``cells_base/v=<n>``  — compaction target.

Estimates off the accumulated grid are EXACTLY the one-shot batch
sketch of the concatenated stream (the mergeability identity), so the
streaming query shares the batch query's DuckDB oracle verbatim —
the value hash certifies incremental maintenance end-to-end.

Reference: none — SURVEY.md §2.8 sketch + streaming-store families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from heatmap_spark.operators.profiling import cms_cells
from heatmap_spark.streaming.logstore import LogStore

_CELLS = LogStore(
    "cells",
    lambda df: df.groupBy("j", "col").agg(F.sum("cnt").cast("bigint").alias("cnt")),
)


def accumulated_sketch(spark: SparkSession, store_path: str) -> DataFrame | None:
    """(j, col, cnt) summed over compacted base + partials since its
    fold — the cellwise-merge identity."""
    return _CELLS.accumulated(spark, store_path)


def merge_batch_into_cms_store(
    spark: SparkSession, batch_docs: DataFrame, store_path: str, batch_id: int,
    depth: int = 4, width: int = 256,
) -> bool:
    """Ingest one (doc_id, text) micro-batch: write its fixed-size cell
    grid, then commit the marker.  Returns False (no-op) on replay of
    a committed batch."""
    from heatmap_spark.operators.textops import _all_tokens

    tok = batch_docs.select(F.explode(_all_tokens()).alias("token"))
    return _CELLS.commit(spark, store_path, batch_id, cms_cells(tok, depth, width))


def compact_cms_store(spark: SparkSession, store_path: str) -> int:
    """LSM compaction: fold committed cell partials into a new base
    (cellwise sum).  Returns the number of partials folded."""
    return _CELLS.compact(spark, store_path)


def estimate_heavy_hitters(
    spark: SparkSession, store_path: str, candidates: DataFrame,
    depth: int = 4, width: int = 256,
) -> DataFrame:
    """Frequency estimates for a (token, true_cnt) candidate relation
    off the ACCUMULATED sketch: est = min_j cell[j][h_j(token)].

    The cell lookup is a LEFT join with a 0 fallback: the store only
    materializes cells at least one ingested token hashed into, so a
    candidate the corpus never saw lands on unmaterialized cells — its
    CMS estimate is 0 (the sketch's answer for a never-incremented
    counter), not a silently dropped row.  An inner join here would
    also drop a seen token whose OTHER rows all collide, inflating
    min_j over the surviving subset."""
    cells = accumulated_sketch(spark, store_path)
    if cells is None:
        raise ValueError("CMS store has no committed batches")
    ch = F.md5(F.col("token"))
    rows_j = F.explode(F.array(*[F.lit(j) for j in range(depth)])).alias("j")
    cand = candidates.select(
        "token",
        "true_cnt",
        F.conv(F.substring(ch, 1, 12), 16, 10).cast("bigint").alias("h1"),
        F.conv(F.substring(ch, 13, 12), 16, 10).cast("bigint").alias("h2"),
    ).select("token", "true_cnt", rows_j, "h1", "h2")
    est = (
        cand.join(
            F.broadcast(cells),
            (cells["j"] == cand["j"])
            & (cells["col"] == (cand["h1"] + cand["j"] * cand["h2"]) % width),
            "left",
        )
        .groupBy("token", "true_cnt")
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("cms_est"))
    )
    return est.select(
        "token",
        F.col("true_cnt").cast("bigint").alias("true_cnt"),
        F.col("cms_est").cast("bigint").alias("cms_est"),
        (F.col("cms_est") - F.col("true_cnt")).cast("bigint").alias("overestimate"),
    )
