"""Incremental (streaming) heatmap + event-window operators.

The reference is batch-only; its entrypoint name ``batchMain``
(reference heatmap.py:152) implies a streaming sibling existed outside
the repo.  This module is that sibling, built on Structured Streaming:
the same tile/group/timespan expressions as the batch pyramid feed
watermarked windowed aggregations, so a heatmap stays fresh as events
arrive — update/complete mode to the heatmaps sink.

Scale notes: state is bounded by the watermark (late rows beyond it are
dropped); the aggregation key (window × user_group × tile) partitions
the state store exactly like the batch shuffle.  For 100 TB/day streams
the tile explode happens before the stateful agg, so state size is
per-(window, tile), not per-event.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from heatmap_spark.operators.pyramid import user_groups_expr
from heatmap_spark.functions.tiles import tile_col, tile_id_from_zrc, tile_row
from heatmap_spark.sources.tables import events_schema, normalize_events

def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events fixture (one-file directory
    stream; production would be Kafka — same downstream code).

    The read schema and the nanos→micros normalisation are the batch
    loader's (:func:`heatmap_spark.sources.tables.events_schema`,
    decided from the parquet footer, no Spark job), so downstream code
    always sees TimestampType micros.
    """
    schema = events_schema(spark, os.path.join(sf_dir, "events.parquet"))
    return normalize_events(
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )


def derive_locations_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of sources/locations.py (same arithmetic)."""
    return events.select(
        (F.expr("CAST(mod(event_id * 104729, 170000) AS DOUBLE)") / 1000.0 - 85.0).alias(
            "latitude"
        ),
        (F.expr("CAST(mod(event_id * 7919, 360000) AS DOUBLE)") / 1000.0 - 180.0).alias(
            "longitude"
        ),
        "ts",
        F.when(F.col("user_id") % 37 == 0, F.concat(F.lit("x"), F.col("user_id").cast("string")))
        .when(F.col("user_id") % 11 == 0, F.concat(F.lit("rt-"), F.col("user_id").cast("string")))
        .otherwise(F.concat(F.lit("u"), F.col("user_id").cast("string")))
        .alias("user_id"),
        F.when(F.col("event_id") % 20 == 0, F.lit("background")).otherwise(F.lit("gps")).alias(
            "source"
        ),
        F.lit(1.0).alias("weight"),
    )


def streaming_tile_counts(
    locations: DataFrame,
    zoom: int = 10,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked tumbling-window heatmap at one zoom:
    (window, user_group, tile_id) → visits.  The incremental pyramid
    level — run one per zoom, or explode zooms exactly like batch."""
    pts = (
        locations.where(F.col("source") != "background")
        .withWatermark("ts", watermark)
        .select(
            F.col("ts"),
            F.explode(user_groups_expr("user_id")).alias("user_group"),
            tile_row("latitude", zoom).alias("row"),
            tile_col("longitude", zoom).alias("col"),
            "weight",
        )
    )
    return (
        pts.groupBy(F.window("ts", window).alias("w"), "user_group", "row", "col")
        .agg(F.sum("weight").alias("visits"))
        .select(
            F.col("w.start").alias("window_start"),
            "user_group",
            tile_id_from_zrc(F.lit(zoom), F.col("row"), F.col("col")).alias("tile_id"),
            "visits",
        )
    )


def streaming_tumbling_counts(
    events: DataFrame, window: str = "5 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Streaming twin of sessions.tumbling_window_counts."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


def streaming_session_stats(
    events: DataFrame, gap: str = "60 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Native session windows (gap-based) per user — the streaming form
    of operators/sessions.sessionize."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            # decimal sum → double: partition-order-independent (exact),
            # so results are reproducible and oracle-comparable
            F.sum(F.col("value").cast("decimal(12,4)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )


def streaming_click_view_join(events: DataFrame) -> DataFrame:
    """Stream-stream interval join: every click paired with the same
    user's views from the preceding 10 minutes.

    Both sides carry watermarks and the join condition bounds event time,
    so the state store holds at most ~watermark+interval of each side per
    user — bounded state no matter how long the stream runs (the scale
    requirement for a 100 TB/day stream).  Emitted in append mode; the
    joined row set is a pure function of the data, so the DuckDB oracle
    can hash-match it.
    """
    clicks = (
        events.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "30 minutes")
    )
    views = (
        events.where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "30 minutes")
    )
    return (
        clicks.join(
            views,
            (F.col("user_id") == F.col("v_user_id"))
            & (F.col("view_ts") >= F.col("click_ts") - F.expr("INTERVAL 10 MINUTES"))
            & (F.col("view_ts") <= F.col("click_ts")),
        )
        .select(
            "user_id",
            "click_id",
            "view_id",
            (F.unix_millis("click_ts") - F.unix_millis("view_ts")).alias("delay_ms"),
        )
    )


def streaming_distinct_pairs(events: DataFrame) -> DataFrame:
    """Streaming deduplication: the distinct (user_id, event_type) pairs
    seen so far, via dropDuplicatesWithinWatermark (state per key is
    evicted once the watermark passes, unlike plain dropDuplicates whose
    state grows forever).  Projecting the key columns only makes the
    emitted set deterministic — WHICH physical row arrived first is
    racy, but the key set is not."""
    return (
        events.select("user_id", "event_type", "ts")
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )


def streaming_static_enrich(
    events: DataFrame, customer: DataFrame, n_cust: int
) -> DataFrame:
    """Stream-static enrichment join: purchase events decorated with
    their customer dimension row (the classic streaming lookup).

    The static side is re-planned per micro-batch, so dimension
    updates between batches are picked up automatically, and Spark
    broadcasts it when small — no state store, no watermark needed for
    an inner stream-static equi-join, so state is ZERO no matter how
    long the stream runs.  the integer user_id maps onto c_custkey
    via user_id % n_cust + 1 — deterministic arithmetic the DuckDB oracle
    reproduces, so the enriched row set is hash-checked.
    """
    purchases = events.where(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "value",
        (F.col("user_id").cast("bigint") % n_cust + 1).alias("ck"),
    )
    dim = customer.select("c_custkey", "c_name", "c_nationkey")
    return purchases.join(dim, purchases.ck == dim.c_custkey).select(
        "event_id", "user_id", "value", "c_custkey", "c_name", "c_nationkey"
    )
