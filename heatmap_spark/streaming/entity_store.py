"""Incremental entity resolution over a record stream.

A master-data ingest doesn't re-run ER over the whole universe per
batch: each arriving record batch is blocked and compared against the
ACCUMULATED records (plus itself), and only the discovered match edges
are appended.  Because every cross-batch pair is examined exactly when
its later batch arrives, the union of per-batch edge sets equals the
edge set a one-shot ER over all records would produce — so the final
assignment (connected components over the union) is IDENTICAL to
:func:`heatmap_spark.operators.entity.entity_resolution`, and the SAME
DuckDB oracle gates both.

Store layout (the shared protocol of streaming/logstore.py):

* ``records/batch=<id>`` — the batch's records (append-only log).
* ``edges/batch=<id>``   — match edges discovered AT INGEST: batch-
  internal pairs plus batch-vs-history pairs (the batch side probes
  bands {b-1, b, b+1}, so banding stays lossless in the asymmetric
  join; only the batch replicates ×3, never the history).
* ``records_base/v=<n>`` — LSM compaction target, written clustered
  by the block key; folded-batch marker, crash-safe GC.
* ``_LATEST``            — marker-committed exactly-once; replays of
  committed batches are no-ops.

Per-batch cost: O(batch × its block partners) — the history side is
touched only through the block-key equi-join, never scanned pairwise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from heatmap_spark.operators.dedup import connected_components
from heatmap_spark.operators.entity import er_candidate_pairs
from heatmap_spark.streaming.logstore import LogStore, _committed_batches

# records arrive exactly once, so they fold by plain concatenation;
# compaction writes the base clustered by the block key, reads stay a
# plain union
_RECORDS = LogStore("records", layout=("nation", "segment"))

_REC_SCHEMA = (
    "rec_id bigint, name string, nation int, segment string, "
    "bal double, source string"
)


def accumulated_records(spark: SparkSession, store_path: str) -> DataFrame | None:
    return _RECORDS.accumulated(spark, store_path)


def _cross_batch_pairs(
    batch: DataFrame,
    hist: DataFrame,
    band_width: float,
    max_name_dist: int,
    max_bal_diff: float,
) -> DataFrame:
    """Match edges between a batch and the accumulated history: the
    batch side probes bands {b-1, b, b+1} (covering every |bal gap| ≤
    threshold regardless of which side sits higher), equi-joined to
    the history's own band — the history is never replicated."""

    def norm(df):
        return df.select(
            "rec_id",
            F.lower("name").alias("lname"),
            "nation",
            "segment",
            "bal",
            F.floor(F.col("bal") / F.lit(band_width)).cast("bigint").alias("band"),
        )

    b = norm(batch).select(
        "rec_id",
        "lname",
        "nation",
        "segment",
        "bal",
        F.explode(
            F.array(F.col("band") - 1, F.col("band"), F.col("band") + 1)
        ).alias("probe_band"),
    )
    h = norm(hist).select(*[F.col(c).alias(f"h_{c}") for c in norm(hist).columns])
    j = b.join(
        h,
        (b.nation == F.col("h_nation"))
        & (b.segment == F.col("h_segment"))
        & (b.probe_band == F.col("h_band"))
        & (b.rec_id != F.col("h_rec_id")),
    )
    sim = j.where(
        (F.abs(F.col("bal") - F.col("h_bal")) <= F.lit(max_bal_diff))
        & (F.levenshtein("lname", "h_lname") <= F.lit(max_name_dist))
    )
    return sim.select(
        F.least("rec_id", "h_rec_id").alias("u"),
        F.greatest("rec_id", "h_rec_id").alias("v"),
    ).distinct()


def merge_batch_into_entity_store(
    spark: SparkSession,
    batch_records: DataFrame,
    store_path: str,
    batch_id: int,
    band_width: float = 50.0,
    max_name_dist: int = 1,
    max_bal_diff: float = 1.0,
) -> bool:
    """Ingest one batch of records: append the batch, discover its
    match edges (internal + vs history), commit the marker.  Returns
    False (no-op) on replay of a committed batch."""

    def write(dest):
        hist = accumulated_records(spark, store_path)
        batch_records.select(
            "rec_id", "name", "nation", "segment", "bal", "source"
        ).write.mode("overwrite").parquet(dest("records"))
        written = spark.read.parquet(dest("records"))
        edges = er_candidate_pairs(
            written, band_width, max_name_dist, max_bal_diff
        )
        if hist is not None:
            edges = edges.unionByName(
                _cross_batch_pairs(
                    written, hist, band_width, max_name_dist, max_bal_diff
                )
            ).distinct()
        edges.write.mode("overwrite").parquet(dest("edges"))

    return _RECORDS.commit(spark, store_path, batch_id, write)


def read_entity_assignments(spark: SparkSession, store_path: str) -> DataFrame:
    """The CURRENT entity assignment over everything committed —
    IDENTICAL output contract (and values) to the batch
    ``entity_resolution``: (rec_id, source, entity_id, n_members,
    n_sources).  Cost: CC over the accumulated edge relation (match
    edges ≪ records) + two joins; raw records are re-blocked never."""
    recs = accumulated_records(spark, store_path)
    if recs is None:
        return spark.createDataFrame(
            [], _REC_SCHEMA + ", entity_id bigint, n_members bigint, n_sources bigint"
        ).select("rec_id", "source", "entity_id", "n_members", "n_sources")
    edge_dirs = _committed_batches(store_path, "edges")
    edges = spark.read.parquet(*edge_dirs) if edge_dirs else None
    if edges is not None and not edges.isEmpty():
        cc = connected_components(edges.distinct(), "u", "v")
        assigned = recs.join(
            cc.select(
                F.col("doc_id").alias("rec_id"), F.col("cluster_id").alias("eid")
            ),
            "rec_id",
            "left",
        )
    else:
        assigned = recs.withColumn("eid", F.lit(None).cast("bigint"))
    assigned = assigned.select(
        "rec_id", "source", F.coalesce("eid", "rec_id").alias("entity_id")
    )
    stats = assigned.groupBy("entity_id").agg(
        F.count("*").cast("bigint").alias("n_members"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
    )
    return assigned.join(stats, "entity_id").select(
        "rec_id", "source", "entity_id", "n_members", "n_sources"
    )


def compact_entity_store(spark: SparkSession, store_path: str) -> int:
    """Fold committed record partials into a block-key-clustered
    base.  Returns the number of partials folded.  Edges are an
    immutable log and are never folded."""
    return _RECORDS.compact(spark, store_path)
