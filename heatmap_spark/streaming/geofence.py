"""Streaming geofence store: incremental per-fence visit counts with
distinct visitors.

Another instance of the shared log-structured protocol (logstore.py),
chosen to show the grain trick for DISTINCT aggregates: per-fence
visit counts are sum-mergeable, but distinct visitors are not — so the
per-batch partial is kept at the (fence, user_id) grain (one row per
visitor per fence per batch, already aggregated within the batch).
Summing that grain across batches is exact for n_points, and the
distinct-visitor count falls out of the same relation for free.  State
is bounded by |fences| × |active users|, not by event volume — the
standard incremental-distinct layout.

The accumulated read equals the one-shot classification of the whole
stream (sum/distinct mergeability), so the streaming query SHARES
q_geofence's generated oracle — the value hash certifies incremental
maintenance end-to-end.

* ``hits/batch=<id>``  — the batch's (fence, user_id, n_points) grain.
* ``hits_base/v=<n>``  — compaction target (same grain, summed).

Reference: none — SURVEY.md §2.8 geo + streaming-store families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from heatmap_spark.operators.geo import GEOFENCES, point_in_polygon
from heatmap_spark.streaming.logstore import LogStore


def _classify(batch_locations: DataFrame) -> DataFrame:
    lon, lat = F.col("longitude"), F.col("latitude")
    flags = F.array(
        *[
            F.struct(
                F.lit(name).alias("fence"),
                point_in_polygon(lon, lat, poly).alias("inside"),
            )
            for name, poly in GEOFENCES
        ]
    )
    return (
        batch_locations.select("user_id", F.explode(flags).alias("f"))
        .where(F.col("f.inside"))
        .groupBy(F.col("f.fence").alias("fence"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )


_HITS = LogStore(
    "hits",
    lambda df: df.groupBy("fence", "user_id").agg(
        F.sum("n_points").alias("n_points")
    ),
)


def merge_batch_into_geofence_store(
    spark: SparkSession,
    batch_locations: DataFrame,
    store_path: str,
    batch_id: int,
) -> bool:
    """Ingest one locations micro-batch: classify, aggregate to the
    (fence, user_id) grain, write the partial, commit the marker.
    Returns False (no-op) on replay of a committed batch."""
    return _HITS.commit(spark, store_path, batch_id, _classify(batch_locations))


def compact_geofence_store(spark: SparkSession, store_path: str) -> int:
    """LSM compaction: fold committed hit partials into a new base
    (grain-preserving sum).  Returns the number of partials folded."""
    return _HITS.compact(spark, store_path)


def read_geofence_counts(spark: SparkSession, store_path: str) -> DataFrame:
    """Per-fence totals off the accumulated (fence, user) grain —
    n_points by sum, n_users by distinct, and every declared fence
    present (zero-hit fences report 0, matching the batch query)."""
    fences = spark.createDataFrame(
        [(name,) for name, _ in GEOFENCES], "fence string"
    )
    hits = _HITS.accumulated(spark, store_path)
    if hits is None:
        return fences.select(
            "fence",
            F.lit(0).cast("bigint").alias("n_points"),
            F.lit(0).cast("bigint").alias("n_users"),
        )
    agg = hits.groupBy("fence").agg(
        F.sum("n_points").cast("bigint").alias("n_points"),
        F.count_distinct("user_id").cast("bigint").alias("n_users"),
    )
    return fences.join(agg, "fence", "left").select(
        "fence",
        F.coalesce("n_points", F.lit(0)).cast("bigint").alias("n_points"),
        F.coalesce("n_users", F.lit(0)).cast("bigint").alias("n_users"),
    )
