"""Inverted-index serving store: term-bucketed postings on disk.

The text twin of the partitioned tile store (tile_store.py): an
offline build writes postings partitioned by a crc32 term bucket, and
a query-time point read opens ONLY the bucket directories of its query
terms — O(query terms), independent of index size.  This is the
serving layout every search/retrieval pipeline needs once the corpus
outgrows a single machine: the index is a directory tree whose first
level IS the coarse hash of the lookup key.

Layout::

    store/
      postings/bucket=B/*.parquet   (term, doc_id, tf)   sorted by term
      terms/bucket=B/*.parquet      (term, df)           sorted by term
      stats/*.parquet               (n_docs)             one row

Determinism: tf/df/n_docs are exact integers; scoring is
tf · ln(n_docs/df) summed in FIXED term order (the bm25_search
pivot-column policy), so serving results value-hash against a DuckDB
oracle that never sees the store.

Scale shape: the build is the plain exact-dedup-style shuffle
(groupBy (term, doc_id), then groupBy term for df); the write
repartitions by bucket so each bucket directory is one task's output,
sorted by term for row-group pruning within the bucket.  Serving
reads ≤ n_query_term buckets of 64 and pushes the term equality
into the parquet scan.

Reference: none — SURVEY.md §2.8 extension (serving-store family:
tile store, rowstore, ANN store; this is the text-retrieval member).
"""

from __future__ import annotations

import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

N_BUCKETS = 64


def term_bucket_col(term: F.Column) -> F.Column:
    """JVM-side bucket: crc32(term) % N_BUCKETS (Spark's crc32 over
    the UTF-8 bytes ≡ zlib.crc32 driver-side)."""
    return (F.crc32(term.cast("binary")) % N_BUCKETS).cast("int")


def term_bucket(term: str) -> int:
    """Driver-side twin of :func:`term_bucket_col` for query routing."""
    return zlib.crc32(term.encode("utf-8")) % N_BUCKETS


def build_inverted_index(docs: DataFrame, store_path: str) -> None:
    """Build the store from a (doc_id, text) relation.

    One token-stream pass: postings = groupBy (term, doc_id); df =
    groupBy term over the postings; n_docs = one count.  Both bucketed
    relations repartition on bucket (64 writer tasks, one directory
    each) and sort by term within partitions so serving-point lookups
    prune row groups on the term min/max stats.
    """
    from heatmap_spark.operators.textops import _all_tokens

    toks = docs.select("doc_id", F.explode(_all_tokens()).alias("term"))
    postings = (
        toks.groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("bucket", term_bucket_col(F.col("term")))
    )
    (
        postings.repartition("bucket")
        .sortWithinPartitions("bucket", "term", "doc_id")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(store_path + "/postings")
    )
    terms = (
        postings.groupBy("term", "bucket")
        .agg(F.count(F.lit(1)).alias("df"))
        .repartition("bucket")
        .sortWithinPartitions("bucket", "term")
    )
    terms.write.mode("overwrite").partitionBy("bucket").parquet(store_path + "/terms")
    docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs")).write.mode(
        "overwrite"
    ).parquet(store_path + "/stats")


def search_index(
    spark: SparkSession, store_path: str, query_terms: list[str], k: int = 20
) -> DataFrame:
    """Point serving read: tf-idf top-k for ``query_terms``.

    Routing happens DRIVER-side: the query terms hash to their buckets
    and the scan opens only those ``bucket=B`` directories (≤ one per
    term) of postings and terms — the directory tree is the coarse
    index.  Scores sum per-term pivot columns in fixed order, so the
    result is engine-exact.
    """
    buckets = sorted({term_bucket(t) for t in query_terms})
    post_dirs = [f"{store_path}/postings/bucket={b}" for b in buckets]
    term_dirs = [f"{store_path}/terms/bucket={b}" for b in buckets]
    postings = spark.read.parquet(*post_dirs).where(
        F.col("term").isin(*query_terms)
    )
    dfs = spark.read.parquet(*term_dirs).where(F.col("term").isin(*query_terms))
    stats = spark.read.parquet(store_path + "/stats")
    scored = postings.join(F.broadcast(dfs), "term").crossJoin(F.broadcast(stats))
    contrib = F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df"))
    per_term = scored.groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.col("term") == t, contrib)).alias(f"s_{t}")
            for t in query_terms
        ]
    )
    score = F.round(
        sum(
            (F.coalesce(F.col(f"s_{t}"), F.lit(0.0)) for t in query_terms),
            F.lit(0.0),
        ),
        6,
    )
    n_terms = sum(
        (F.col(f"s_{t}").isNotNull().cast("int") for t in query_terms),
        F.lit(0),
    )
    return (
        per_term.select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            score.alias("tfidf"),
            n_terms.cast("int").alias("n_terms"),
        )
        .orderBy(F.desc("tfidf"), F.asc("doc_id"))
        .limit(k)
    )


# --------------------------------------------------------------------------
# Incremental maintenance (the recrawl path): per-batch postings
# partials under the shared log-structured store protocol
# --------------------------------------------------------------------------


def merge_batch_into_index(
    spark: SparkSession, batch_docs: DataFrame, store_path: str, batch_id: int
) -> bool:
    """Ingest one (doc_id, text) micro-batch into the incremental
    index: the batch's postings and doc count land under
    ``inc/batch=<id>`` (bucket-partitioned like the one-shot build),
    committed by the shared ``_LATEST`` marker protocol (replays of
    committed batches are no-ops).  Batches carry disjoint doc_ids, so
    accumulation is pure union — postings never rewrite; df/n_docs
    re-aggregate at read or fold at compaction."""
    from heatmap_spark.operators.textops import _all_tokens
    from heatmap_spark.streaming.logstore import _join, commit_batch

    def write(dest):
        toks = batch_docs.select("doc_id", F.explode(_all_tokens()).alias("term"))
        postings = (
            toks.groupBy("term", "doc_id")
            .agg(F.count(F.lit(1)).alias("tf"))
            .withColumn("bucket", term_bucket_col(F.col("term")))
        )
        (
            postings.repartition("bucket")
            .sortWithinPartitions("bucket", "term", "doc_id")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(_join(dest("inc"), "postings"))
        )
        batch_docs.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs")
        ).write.mode("overwrite").parquet(_join(dest("inc"), "stats"))

    return commit_batch(spark, store_path, batch_id, write)


def search_incremental_index(
    spark: SparkSession, store_path: str, query_terms: list[str], k: int = 20
) -> DataFrame:
    """Point serving read over the ACCUMULATED index: per committed
    batch, open only the query terms' bucket directories (≤ terms ×
    batches dirs — batch count stays small under compaction), sum tf
    per (term, doc) across partials (disjoint docs ⇒ pure union), and
    score with the same fixed-order tf-idf as the one-shot
    search_index — by mergeability the result is IDENTICAL to a
    one-shot build over the concatenated batches, so the two paths
    share one oracle."""
    from heatmap_spark.streaming.logstore import _committed_batches, _join

    batches = _committed_batches(store_path, "inc")
    if not batches:
        raise ValueError(f"no committed batches under {store_path}")
    buckets = sorted({term_bucket(t) for t in query_terms})
    import os

    # a batch legitimately misses a bucket dir when none of its terms
    # hashed there — skip driver-side (local/posix paths, like the
    # marker protocol)
    post_dirs = [
        d
        for b in batches
        for bk in buckets
        if os.path.isdir(d := f"{b}/postings/bucket={bk}")
    ]
    if not post_dirs:
        raise ValueError(f"query terms absent from every batch: {query_terms}")
    postings = spark.read.parquet(*post_dirs).where(
        F.col("term").isin(*query_terms)
    )
    tf = postings.groupBy("term", "doc_id").agg(F.sum("tf").alias("tf"))
    dfs = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats_dirs = [f"{b}/stats" for b in batches]
    stats = (
        spark.read.parquet(*stats_dirs)
        .agg(F.sum("n_docs").cast("bigint").alias("n_docs"))
    )
    scored = tf.join(F.broadcast(dfs), "term").crossJoin(F.broadcast(stats))
    contrib = F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df"))
    per_term = scored.groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.col("term") == t, contrib)).alias(f"s_{t}")
            for t in query_terms
        ]
    )
    score = F.round(
        sum(
            (F.coalesce(F.col(f"s_{t}"), F.lit(0.0)) for t in query_terms),
            F.lit(0.0),
        ),
        6,
    )
    n_terms = sum(
        (F.col(f"s_{t}").isNotNull().cast("int") for t in query_terms),
        F.lit(0),
    )
    return (
        per_term.select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            score.alias("tfidf"),
            n_terms.cast("int").alias("n_terms"),
        )
        .orderBy(F.desc("tfidf"), F.asc("doc_id"))
        .limit(k)
    )
