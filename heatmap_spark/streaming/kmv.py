"""Streaming KMV (θ-sketch) store: incremental set-cardinality /
set-algebra summaries — the sketch family's incremental arm beside the
HLL register store (hll.py).

A KMV sketch of a set is its k smallest portable hash values
(operators/profiling.py kmv_hashes: 48-bit md5 prefix as bigint).
Mergeability is exact: any hash in the k smallest of a UNION has fewer
than k hashes below it globally, hence fewer than k below it in its
own batch, hence survives its batch's top-k — so

    top-k( ∪ per-batch top-k )  ==  top-k(whole set)

bit-for-bit, not approximately.  Merge is therefore commutative,
associative, and idempotent (distinct folds replays away), which slots
straight into the repo's shared log-structured store protocol
(streaming/logstore.py: per-batch dirs, `_LATEST` committed last so
replays are no-ops, LSM compaction with a folded-batch marker making
partial deletes pure GC):

* ``sk/batch=<id>``  — the batch's (event_type, hv) top-k partial,
  ≤ k rows per event type regardless of batch size.
* ``sk_base/v=<n>`` — compaction target.

Because the accumulated sketch is BIT-IDENTICAL to the one-shot sketch
of the whole stream, the streamed estimates share a deterministic
DuckDB oracle (queries.py q_streaming_kmv) — the driver value-hash
certifies incremental maintenance end-to-end, extending the portable
HLL's store-the-sketch argument from cardinality to SET ALGEBRA: keep
k-row sketches per type/day and answer any later distinct-count or
pairwise-overlap question without rescanning raw events.

At 100 TB: per-batch work is one distinct + per-type top-k over the
BATCH (a WindowGroupLimit — only k rows per type per partition reach
the exchange), reads span (1 base + recent partials) of k-row tables,
compaction is amortized.

Reference: none — SURVEY.md §2.8 sketch + streaming-store families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from heatmap_spark.operators.profiling import _KMV_K, _KMV_SCALE, kmv_hashes
from heatmap_spark.streaming.logstore import LogStore


def _topk(hashes: DataFrame, k: int) -> DataFrame:
    w = W.partitionBy("event_type").orderBy("hv")
    return (
        hashes.select(
            "event_type", "hv", F.row_number().over(w).alias("rn")
        )
        .where(F.col("rn") <= k)
        .select("event_type", "hv")
    )


def _store(k: int) -> LogStore:
    return LogStore("sk", lambda df: _topk(df.distinct(), k))


def merge_batch_into_kmv_store(
    spark: SparkSession,
    batch_events: DataFrame,
    store_path: str,
    batch_id: int,
    k: int = _KMV_K,
) -> bool:
    """Ingest one (event_type, user_id) micro-batch: write its ≤k-row
    per-type sketch partial, then commit the marker.  Returns False
    (no-op) on replay of a committed batch."""
    partial = _topk(kmv_hashes(batch_events, "user_id", ["event_type"]), k)
    return _store(k).commit(spark, store_path, batch_id, partial)


def accumulated_sketch(
    spark: SparkSession, store_path: str, k: int = _KMV_K
) -> DataFrame | None:
    """(event_type, hv) per-type k-minimum sketch over compacted base +
    partials since its fold — the exact KMV merge identity."""
    return _store(k).accumulated(spark, store_path)


def compact_kmv_store(
    spark: SparkSession, store_path: str, k: int = _KMV_K
) -> int:
    """LSM compaction: fold committed sketch partials into a new base
    (distinct + per-type top-k).  Returns the number of partials
    folded."""
    return _store(k).compact(spark, store_path)


def serve_kmv_estimates(
    spark: SparkSession, store_path: str, k: int = _KMV_K
) -> DataFrame:
    """Distinct-cardinality estimates per event type from the
    accumulated sketches, plus a '__all__' row whose sketch is the KMV
    UNION of the per-type sketches (valid because every user hashes
    identically across types, so the union of per-type hash sets IS
    the global hash set and union-of-sketches is its exact top-k).

    Estimator (Beyer et al. 2007): fewer than k values ⇒ the sketch is
    the whole set (exact); otherwise (k−1)/r_k with r_k = kth smallest
    / 2^48.  One double division, round@4 — value-hashes cross-engine.
    Everything runs on k-row relations."""
    sk = accumulated_sketch(spark, store_path, k)
    if sk is None:
        raise ValueError("KMV store has no committed batches")
    merged = _topk(
        sk.select(F.lit("__all__").alias("event_type"), "hv").distinct(), k
    )
    allsk = sk.unionByName(merged)
    w = W.partitionBy("event_type").orderBy("hv")
    ranked = allsk.select(
        "event_type", "hv", F.row_number().over(w).alias("rn")
    )
    agg = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("m"),
        F.max(F.when(F.col("rn") == k, F.col("hv"))).alias("kth"),
    )
    est = F.when(F.col("m") < k, F.col("m").cast("double")).otherwise(
        F.lit(float(k - 1)) / (F.col("kth").cast("double") / F.lit(_KMV_SCALE))
    )
    return agg.select(
        "event_type",
        F.col("m").cast("int").alias("sketch_size"),
        F.round(est, 4).alias("kmv_users"),
    )
