"""Streaming incremental-crawl dedup: an LSH signature store that
flags every arriving document batch against the accumulated corpus.

The batch half (operators/dedup.incremental_dedup) splits ONE corpus
into old/new at a threshold; this module is the production shape — a
persistent store of LSH band postings that grows batch by batch, so a
crawler flags each ingest at arrival time without ever re-signing
history:

* ``postings/batch=<id>`` — (doc_id, band, band_sig) LSH band postings
  of that batch only — O(batch) to produce, append-only.  The banding
  is :func:`heatmap_spark.operators.dedup.lsh_band_postings`, the SAME
  relation candidate generation uses.
* ``postings_base/v=<n>`` — LSM compaction target:
  :func:`compact_crawl_store` folds the per-batch postings partials
  into a base version (marker-committed, clustered by the join
  key), so membership joins read one base + recent partials
  regardless of crawl age.
* ``flags/batch=<id>`` — (doc_id, batch, status) decided AT INGEST:
  ``dup_of_corpus`` (shares an LSH bucket with any earlier-batch doc),
  else ``dup_in_batch`` (shares a bucket with a lower doc_id in the
  same batch), else ``new``.  Flags are immutable once written — the
  crawler's decision log.

Per-batch cost: sign the batch (linear), one equi-join of the batch's
postings against stored postings on (band, band_sig) — at 100 TB the
stored side is bucketed by band_sig prefix so the join shuffles only
the batch side — and one self-join within the batch.  Nothing
re-scans or re-signs history.

Exactly-once: the shared marker protocol of logstore.py (overwrite
per-batch dirs keyed by batch id; ``_LATEST`` committed last; replays
of committed batches skipped; readers trust only dirs ≤ the marker).

Unlike candidate generation (which caps hot buckets at 64 members
before pair expansion — a training-dedup cost control), membership
flagging has no cap: a hot bucket means "definitely duplicated", and
the join emits one flag per doc regardless of bucket size (the
distinct aggregate absorbs the fan-in).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from heatmap_spark.operators.dedup import lsh_band_postings
from heatmap_spark.streaming.logstore import (
    LogStore,
    _committed_batches,
    foreach_batch,
)

# docs arrive exactly once, so postings fold by plain concatenation;
# compaction writes the base clustered by the join key (each file holds
# a disjoint set of buckets), reads stay a plain union
_POSTINGS = LogStore("postings", layout=("band", "band_sig"))


def compact_crawl_store(spark: SparkSession, store_path: str) -> int:
    """LSM compaction: fold every committed per-batch postings dir into
    a new postings base version — membership joins read ONE base +
    recent partials regardless of crawl age.  Returns the number of
    partials folded.  Flags are untouched (they are the immutable
    log)."""
    return _POSTINGS.compact(spark, store_path)


def merge_batch_into_lsh_store(
    spark: SparkSession, batch_docs: DataFrame, store_path: str, batch_id: int
) -> bool:
    """Ingest one batch of (doc_id, text) rows: write its postings and
    its ingest-time flags, then commit the marker.  Returns False
    (no-op) when ``batch_id`` was already committed."""

    def write(dest):
        lsh_band_postings(batch_docs).write.mode("overwrite").parquet(
            dest("postings")
        )
        written = spark.read.parquet(dest("postings"))
        prior = _POSTINGS.accumulated(spark, store_path)
        if prior is not None:
            vs_corpus = (
                written.join(prior, ["band", "band_sig"])
                .select(written["doc_id"])
                .distinct()
                .withColumn("dup_corpus", F.lit(1))
            )
        else:
            vs_corpus = spark.createDataFrame([], "doc_id long, dup_corpus int")
        a = written.select(F.col("doc_id").alias("doc_a"), "band", "band_sig")
        b = written.select(F.col("doc_id").alias("doc_b"), "band", "band_sig")
        in_batch = (
            a.join(b, ["band", "band_sig"])
            .where(F.col("doc_a") < F.col("doc_b"))
            .select(F.col("doc_b").alias("doc_id"))
            .distinct()
            .withColumn("dup_batch", F.lit(1))
        )
        flags = (
            batch_docs.select("doc_id")
            .join(vs_corpus, "doc_id", "left")
            .join(in_batch, "doc_id", "left")
            .select(
                "doc_id",
                F.lit(batch_id).alias("batch"),
                F.when(F.col("dup_corpus") == 1, F.lit("dup_of_corpus"))
                .when(F.col("dup_batch") == 1, F.lit("dup_in_batch"))
                .otherwise(F.lit("new"))
                .alias("status"),
            )
        )
        flags.write.mode("overwrite").parquet(dest("flags"))

    return _POSTINGS.commit(spark, store_path, batch_id, write)


def stream_lsh_dedup(
    docs_stream: DataFrame, store_path: str, checkpoint_path: str
):
    """Maintain the crawl store from a (doc_id, text) stream via
    foreachBatch (availableNow trigger — call ``.awaitTermination()``).
    Batch arrival order IS the corpus order — the stream's batch ids
    define "earlier"."""
    return foreach_batch(
        docs_stream,
        checkpoint_path,
        lambda spark, df, b: merge_batch_into_lsh_store(spark, df, store_path, b),
    )


def read_crawl_flags(spark: SparkSession, store_path: str) -> DataFrame:
    """(doc_id, batch, status) for every committed batch — the
    crawler's complete, immutable decision log."""
    return spark.read.parquet(*_committed_batches(store_path, "flags"))
