"""Streaming vocabulary-drift monitoring over a document stream.

A tokenizer trained on yesterday's corpus silently degrades when the
crawl's vocabulary moves (new domains, new languages, spam bursts).
This store maintains token-frequency partials per micro-batch —
log-structured, O(batch vocabulary) per batch, same marker-committed
exactly-once protocol as every logstore.py store — and computes a
DRIFT row per batch at ingest time, against the distribution
accumulated so far:

* ``vocab/batch=<id>``  — (token, c): the batch's token counts.
* ``drift/batch=<id>``  — one row of drift metrics for the batch.
* ``vocab_base/v=<n>``  — LSM compaction target (folded-batch marker,
  crash-safe GC — the logstore.py protocol).

Drift metrics (all exact-arithmetic, so the whole log is value-hash
oracle-checkable):

* ``n_tokens`` / ``n_types``         — batch occurrence/type counts.
* ``n_new_types`` / ``oov_rate``     — types never seen before, and the
  fraction of batch OCCURRENCES carrying them (one integer division).
* ``l1_drift``                       — L1 distance between the batch's
  and the prior corpus's token distributions, computed on the exact
  cross products |c_b·N_prior − c_prior·N_batch| in decimal(38,0)
  (order-independent, no int64 wrap at corpus² magnitudes) with a
  single final division — 0.0 for the first batch.

At 100 TB/day: the per-batch join is batch-vocab × accumulated-vocab
(vocabulary-sized, sublinear in corpus under Zipf), never corpus-sized;
compaction folds partials so reads stay bounded by (1 base + recent
partials) regardless of stream age.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from heatmap_spark.streaming.logstore import (
    LogStore,
    _committed_batches,
    foreach_batch,
)

_VOCAB = LogStore(
    "vocab",
    lambda df: df.groupBy("token").agg(F.sum("c").cast("bigint").alias("c")),
)


def _token_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → (token, c): lowercased alnum tokens, the same
    normalization as the passage detector so oracles share it."""
    toks = F.filter(
        F.split(F.lower("text"), "[^a-z0-9]+"), lambda x: x != F.lit("")
    )
    return (
        docs.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("bigint").alias("c"))
    )


def accumulated_vocab(spark: SparkSession, store_path: str) -> DataFrame | None:
    """(token, c) accumulated over every committed batch: compacted
    base + partials written since its fold, summed per token."""
    return _VOCAB.accumulated(spark, store_path)


DRIFT_SCHEMA = (
    "batch_id int, n_tokens bigint, n_types bigint, n_new_types bigint, "
    "oov_rate double, l1_drift double"
)


def _drift_row(
    spark: SparkSession, batch_counts: DataFrame, prior: DataFrame | None,
    batch_id: int,
) -> DataFrame:
    """One drift row for a batch given the prior accumulated vocab.
    Exact integer arithmetic until the two final divisions."""
    b = batch_counts.select("token", F.col("c").alias("cb"))
    if prior is None:
        p = spark.createDataFrame([], "token string, cp bigint")
    else:
        p = prior.select("token", F.col("c").alias("cp"))
    j = (
        b.join(p, "token", "full_outer")
        .select(
            F.coalesce("cb", F.lit(0)).alias("cb"),
            F.coalesce("cp", F.lit(0)).alias("cp"),
        )
    )
    # scalar totals are two bounded numbers — driver-side is fine
    totals = j.agg(
        F.sum("cb").cast("bigint").alias("nb"),
        F.sum("cp").cast("bigint").alias("np"),
    ).first()
    nb, np_ = int(totals["nb"] or 0), int(totals["np"] or 0)
    agg = j.agg(
        F.sum(F.when(F.col("cb") > 0, 1).otherwise(0)).cast("bigint").alias("n_types"),
        F.sum(F.when((F.col("cb") > 0) & (F.col("cp") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("n_new_types"),
        F.sum(F.when(F.col("cp") == 0, F.col("cb")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("new_occ"),
        # decimal(38,0), not bigint: the cross product c·N is token
        # count × corpus occurrence total, which exceeds 2^63 well
        # below this store's design scale (~1e9-token batches against a
        # ~1e10-token history); Spark's non-ANSI bigint would wrap
        # SILENTLY.  decimal(38,0) is exact to ~1e38 (≫ any corpus²)
        # and the DuckDB oracle mirrors it with HUGEINT.
        F.sum(
            F.abs(
                F.col("cb").cast("decimal(38,0)") * F.lit(np_)
                - F.col("cp").cast("decimal(38,0)") * F.lit(nb)
            )
        )
        .cast("decimal(38,0)")
        .alias("l1_num"),
    ).first()
    oov = round(int(agg["new_occ"]) / nb, 6) if nb else 0.0
    l1 = (
        round(int(agg["l1_num"]) / (float(nb) * np_), 6)
        if nb and np_
        else 0.0
    )
    return spark.createDataFrame(
        [
            (
                batch_id,
                nb,
                int(agg["n_types"]),
                int(agg["n_new_types"]),
                oov,
                l1,
            )
        ],
        DRIFT_SCHEMA,
    )


def merge_batch_into_vocab_store(
    spark: SparkSession, batch_docs: DataFrame, store_path: str, batch_id: int
) -> bool:
    """Ingest one micro-batch of (doc_id, text) rows: write the batch's
    token-count partial AND its drift row (computed against the vocab
    accumulated BEFORE this batch), then commit the marker.  Returns
    False (no-op) on replay of a committed batch."""

    def write(dest):
        _token_counts(batch_docs).write.mode("overwrite").parquet(dest("vocab"))
        written = spark.read.parquet(dest("vocab"))
        prior = accumulated_vocab(spark, store_path)
        _drift_row(spark, written, prior, batch_id).write.mode(
            "overwrite"
        ).parquet(dest("drift"))

    return _VOCAB.commit(spark, store_path, batch_id, write)


def stream_vocab_drift(
    docs_stream: DataFrame, store_path: str, checkpoint_path: str
):
    """Maintain the vocab store from a (doc_id, text) stream via
    foreachBatch (availableNow trigger)."""
    return foreach_batch(
        docs_stream,
        checkpoint_path,
        lambda spark, df, b: merge_batch_into_vocab_store(spark, df, store_path, b),
    )


def read_vocab_drift(spark: SparkSession, store_path: str) -> DataFrame:
    """The committed drift log — one row per ingested batch."""
    dirs = _committed_batches(store_path, "drift")
    if not dirs:
        return spark.createDataFrame([], DRIFT_SCHEMA)
    return spark.read.parquet(*dirs)


def compact_vocab_store(spark: SparkSession, store_path: str) -> int:
    """LSM compaction: fold committed vocab partials into a new base
    (summed per token).  Returns the number of partials folded.  Drift
    rows are an immutable log and are never touched."""
    return _VOCAB.compact(spark, store_path)
