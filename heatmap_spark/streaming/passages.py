"""Incremental duplicated-passage detection over a document stream.

The batch detector (operators/dedup.py duplicated_passages — the
ExactSubstr signal of Lee et al. 2022) recomputes window document
frequencies over the whole corpus per run.  This module maintains the
same result INCREMENTALLY as documents stream in, so the "which
passages are duplicated" signal stays fresh without ever re-scanning
history — the log-structured design a 100 TB/day ingest needs:

* ``docs/batch=<id>``     — the batch's doc ids (the doc universe).
* ``postings/batch=<id>`` — (doc_id, h, cnt): per-doc window-hash
  multiplicities of THAT batch only — O(batch) to produce, append-only.
* ``df/batch=<id>``       — (h, df): per-batch document frequencies —
  the partial the dup set sums over.
* ``df_base/v=<n>``       — LSM-style compaction target:
  :func:`compact_passage_store` folds all df partials into a new base
  version (marker-committed), so reads touch ≤ (1 base + recent
  partials) regardless of stream age.

Per-batch cost is O(batch) — each micro-batch writes only its own
postings/df partial; nothing per-batch is proportional to history.
The merge work that IS proportional to accumulated distinct hashes
lives in the explicit compaction (amortized, schedulable off-peak),
exactly the LSM trade every log-structured store makes.

Exactly-once under crash/replay: every per-batch directory write is
mode("overwrite") keyed by batch_id (a replayed batch rewrites
byte-identical content), and the ``_LATEST`` marker — swapped
atomically AFTER all three directories land, the shared protocol of
:mod:`heatmap_spark.streaming.logstore` — records the last committed
batch.  Replays of committed batches are skipped; readers only trust
batch dirs ≤ the marker, so a crash mid-write is invisible.

Docs are assumed to arrive EXACTLY ONCE across batches (each doc in
one batch) — the same contract as incremental_dedup; re-ingesting a
doc would double its windows, as it would in any append-only log.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from heatmap_spark.operators.dedup import passage_windows
from heatmap_spark.streaming.logstore import (
    LogStore,
    _committed_batches,
    foreach_batch,
)

_DF = LogStore(
    "df",
    lambda df: df.groupBy("h").agg(F.sum("df").cast("bigint").alias("df")),
)


def merge_batch_into_passage_store(
    spark: SparkSession, batch_docs: DataFrame, store_path: str, batch_id: int,
    w: int = 8,
) -> bool:
    """Ingest one micro-batch of (doc_id, text) rows.  Returns False
    (no-op) when ``batch_id`` was already committed — the replay guard."""

    def write(dest):
        postings = passage_windows(batch_docs, w).groupBy("doc_id", "h").agg(
            F.count("*").cast("bigint").alias("cnt")
        )
        postings.write.mode("overwrite").parquet(dest("postings"))
        # df partial reads the postings JUST WRITTEN (not the lazy window
        # stream), so tokenize+hash runs once per batch
        written = spark.read.parquet(dest("postings"))
        written.groupBy("h").agg(
            F.count("*").cast("bigint").alias("df")
        ).write.mode("overwrite").parquet(dest("df"))
        batch_docs.select("doc_id").write.mode("overwrite").parquet(dest("docs"))

    return _DF.commit(spark, store_path, batch_id, write)


def stream_duplicated_passages(
    docs_stream: DataFrame,
    store_path: str,
    checkpoint_path: str,
    w: int = 8,
):
    """Maintain the passage store from a (doc_id, text) stream via
    foreachBatch.  Returns the started StreamingQuery (availableNow
    trigger — call ``.awaitTermination()``)."""
    return foreach_batch(
        docs_stream,
        checkpoint_path,
        lambda spark, df, b: merge_batch_into_passage_store(
            spark, df, store_path, b, w
        ),
    )


def dup_hashes(spark: SparkSession, store_path: str) -> DataFrame:
    """(h) of every window hash whose ACCUMULATED document frequency is
    ≥ 2 — the live duplicated-passage set: compacted base + the df
    partials written since, summed per hash.  One shuffle over
    (recent partials + base), never over raw postings or text."""
    acc = _DF.accumulated(spark, store_path)
    if acc is None:
        return spark.createDataFrame([], "h string")
    return acc.where(F.col("df") >= 2).select("h")


def compact_passage_store(spark: SparkSession, store_path: str) -> int:
    """LSM compaction: fold every committed df partial into a new df
    base version, then delete the folded partials (pure GC — see
    :meth:`~heatmap_spark.streaming.logstore.LogStore.compact` for the
    crash and concurrent-writer contract).  Returns the number of
    partials folded."""
    return _DF.compact(spark, store_path)


def read_duplicated_passages(spark: SparkSession, store_path: str) -> DataFrame:
    """Per-document duplicated-passage stats over everything committed
    so far — IDENTICAL output contract to the batch
    ``duplicated_passages`` (doc_id, n_windows, n_dup_windows,
    dup_frac), so the two are interchangeable and one oracle gates
    both.  Cost: one aggregate over stored postings + a hash join with
    the (small) dup set; the raw text is never re-read."""
    doc_dirs = _committed_batches(store_path, "docs")
    post_dirs = _committed_batches(store_path, "postings")
    docs = spark.read.parquet(*doc_dirs)
    postings = spark.read.parquet(*post_dirs)
    dup = dup_hashes(spark, store_path).withColumn("is_dup", F.lit(1))
    agg = (
        postings.join(dup.select("h", "is_dup"), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_windows"),
            F.sum(
                F.when(F.col("is_dup") == 1, F.col("cnt")).otherwise(F.lit(0))
            ).alias("n_dup_windows"),
        )
    )
    return (
        docs.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_windows", F.lit(0)).alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            F.round(
                F.when(
                    F.col("n_windows") > 0,
                    F.col("n_dup_windows") / F.col("n_windows"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("dup_frac"),
        )
    )
