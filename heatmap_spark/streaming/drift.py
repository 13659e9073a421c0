"""Streaming drift store: the exact rank tests' incremental arm.

KS and Mann–Whitney both rank over the distinct-value table
(event_type, value, da, db) — per-half counts at each observed value
(operators/profiling.py drift_value_table).  That table is an
EXACTLY-mergeable summary: counts SUM across batches (commutative,
associative; replays are excluded by the shared marker protocol, and
compaction's sum-fold is the same operation).  So a monitoring
pipeline can ingest labeled events batch by batch, keep only the
value-table grain, and serve KS/MWU statistics that are BIT-IDENTICAL
to a one-shot computation over the full history — the streamed
queries (queries.py q_streaming_drift_ks / _mwu) share the batch
queries' DuckDB oracles verbatim, so the driver value-hash certifies
incremental maintenance of an exact order statistic.

Store layout on the shared log-structured protocol (logstore.py):

* ``vals/batch=<id>``  — the batch's (event_type, value, da, db)
  partial, one row per distinct (type, value) IN THE BATCH.
* ``vals_base/v=<n>``  — compaction target (sum-folded).

At 100 TB: per-batch work is one hash aggregate over the batch (keys
spread across (type, value) — a hot type fans out), state is bounded
by distinct values seen, reads span (1 base + recent partials), and
the served statistic still sorts only the distinct-value table.

Unlike HLL/KMV this summary is EXACT, not an estimator — the trade is
state linear in distinct values rather than fixed-size, the right
half of the drift-monitoring design space when values are quantized
(sensor grids, price ticks, binned features).

Reference: none — SURVEY.md §2.8 streaming-store + profiling families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from heatmap_spark.operators.profiling import (
    ks_from_value_table,
    mwu_from_value_table,
    w1_from_value_table,
)
from heatmap_spark.streaming.logstore import LogStore


_VALS = LogStore(
    "vals",
    lambda df: df.groupBy("event_type", "value").agg(
        F.sum("da").alias("da"), F.sum("db").alias("db")
    ),
)


def merge_batch_into_drift_store(
    spark: SparkSession,
    labeled_batch: DataFrame,
    store_path: str,
    batch_id: int,
) -> bool:
    """Ingest one labeled micro-batch (event_type, is_a, value): write
    its distinct-value partial, then commit the marker.  ``is_a`` is
    the stream-half label (1 = reference window) — the caller owns the
    split policy, the store only maintains the counts.  Returns False
    (no-op) on replay of a committed batch."""
    partial = labeled_batch.groupBy("event_type", "value").agg(
        F.sum("is_a").alias("da"),
        F.sum(F.lit(1) - F.col("is_a")).alias("db"),
    )
    return _VALS.commit(spark, store_path, batch_id, partial)


def accumulated_value_table(
    spark: SparkSession, store_path: str
) -> DataFrame | None:
    """(event_type, value, da, db) sum-merged over compacted base +
    partials since its fold — equal to drift_value_table over the full
    ingested history by the sum-merge identity."""
    return _VALS.accumulated(spark, store_path)


def compact_drift_store(spark: SparkSession, store_path: str) -> int:
    """LSM compaction: sum-fold committed partials into a new base.
    Returns the number of partials folded."""
    return _VALS.compact(spark, store_path)


def _acc_or_raise(spark: SparkSession, store_path: str) -> DataFrame:
    """Serve-path accumulation with the explicit empty-store error the
    other stores raise (the ann/kll 'no committed' pattern) — otherwise
    an uncommitted store surfaces as an AttributeError on None."""
    acc = accumulated_value_table(spark, store_path)
    if acc is None:
        raise ValueError("drift store has no committed batches")
    return acc


def serve_drift_ks(spark: SparkSession, store_path: str) -> DataFrame:
    """Exact two-sample KS from the accumulated value table —
    bit-identical to the one-shot ks_test over the same history."""
    return ks_from_value_table(_acc_or_raise(spark, store_path))


def serve_drift_mwu(spark: SparkSession, store_path: str) -> DataFrame:
    """Exact tie-corrected Mann–Whitney U from the accumulated value
    table — bit-identical to the one-shot mann_whitney."""
    return mwu_from_value_table(_acc_or_raise(spark, store_path))


def serve_drift_w1(spark: SparkSession, store_path: str) -> DataFrame:
    """Exact-quantized 1-Wasserstein drift from the accumulated value
    table — bit-identical to the one-shot wasserstein_drift."""
    return w1_from_value_table(_acc_or_raise(spark, store_path))
