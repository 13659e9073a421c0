"""Declared query registry: name → (Spark impl, DuckDB oracle SQL).

This is the engine's public query surface and its correctness contract
(SURVEY.md §2, BASELINE.json).  Every entry's Spark implementation and
oracle SQL produce identical column names, and the arithmetic is chosen
to be *bit-identical* across engines (exact decimal sums, integer tile
shifts, sequential-fold dot products, portable md5 hashing — see
functions/exact.py and the operator docstrings).

Oracle dialect notes: tables region/nation/customer/supplier/part/
orders/lineitem/events/documents/embeddings are pre-registered DuckDB
views over the same parquet files the Spark side reads.

Rows-only queries (``err: "no_oracle"`` in CORRECTNESS_r{N}.json): the
driver writes that string for every declared query WITHOUT an
``oracle_sql()`` entry — it is the intended encoding for
"rows-only-by-design", NOT a failure.  The entries below are declared
rows-only, each because its output is an approximation or a
model-dependent artifact no ANSI-SQL oracle can reproduce, and each
carries an IN-REGISTRY quality pin that raises on regression
(tests/test_oracle.py checks this list against the registry):

* q_approx_distinct, q_approx_quantiles, q_hll_sketches,
  q_kll_quantiles, q_streaming_kll_drift,
  q_streaming_binning_timeline (sketch error pins; the KLL store's
  sketch binaries are randomized);
* q_knn_cosine_ivf, q_knn_ivf_recall, q_knn_pq_recall,
  q_knn_opq_recall, q_knn_ivfpq_recall, q_knn_ivfpq_opq_recall,
  q_knn_graph_recall, q_ml_brp_neighbors, q_streaming_ann_index,
  q_streaming_ann_opq, q_streaming_graph_ann (ANN recall pins vs the
  exact top-k);
* q_ml_minhash_lsh (probabilistic LSH pair-recall pin);
* q_bpe_merges, q_bpe_token_counts, q_unigram_vocab (pytest-side
  exact-match oracle vs a pure-Python trainer; iterative EM/merge loops
  are the SQL-inexpressible class);
* q_media_features (decoded-pixel feature stats pinned against the
  codec's own hypothesis round-trip suite).

The portable sketch family (q_hll_portable, q_streaming_hll,
q_kmv_overlap, q_knn_binary) is deliberately NOT in this list — those
estimators are deterministic md5/integer constructions, so their
estimates value-hash.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from heatmap_spark.functions import tiles as tl
from heatmap_spark.operators import (
    dedup,
    entity,
    geo,
    graph,
    multimodal,
    profiling,
    relational,
    sessions,
    similarity,
    skew,
    textops,
    timeseries,
)
from heatmap_spark.operators import pyramid as pyr
from heatmap_spark.sources.locations import load_locations, locations_sql
from heatmap_spark.sources.tables import register_sf_view
from heatmap_spark.streaming.bpe_drift import frozen_merge_replace_chain_sql


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL; None → driver does rows-only check
    headline: bool = False  # included in bench.py


def _scratch_dir(prefix: str) -> str:
    """Per-invocation temp dir for queries that materialize a store on
    disk, removed at interpreter exit (the returned DataFrame reads the
    store lazily, so cleanup can't happen inside the query — atexit is
    the earliest safe point).  A SIGKILLed process can't run atexit,
    so creation also GCs STALE same-prefix siblings (>2 h old — far
    beyond any query run) left by killed runs; repeated driver/bench
    runs therefore leave no orphaned /tmp trees behind."""
    import atexit
    import glob
    import os
    import shutil
    import tempfile
    import time

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, True)

    def _newest_mtime(root: str) -> float:
        # Staleness = newest DIRECTORY mtime in the tree, not the
        # top-level mtime: nested store writes (store/codes/batch=N)
        # refresh their parent dir but not the root, so a root-mtime
        # check could GC the scratch tree of a still-running >2 h
        # query (e.g. a large-tier probe) out from under it.  Dir
        # mtimes alone suffice (adding a file updates its dir) and
        # keep the scan O(#dirs), not O(#files).
        newest = 0.0
        try:
            newest = os.path.getmtime(root)
            for base, dirs, _files in os.walk(root):
                for sub in dirs:
                    try:
                        newest = max(newest, os.path.getmtime(os.path.join(base, sub)))
                    except OSError:
                        pass
        except OSError:
            pass
        return newest

    now = time.time()
    for p in glob.glob(os.path.join(tempfile.gettempdir(), prefix + "*")):
        try:
            if p != d and now - _newest_mtime(p) > 2 * 3600:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass
    return d


# ---------------------------------------------------------------------------
# Shared DuckDB SQL fragments (heatmap family)
# ---------------------------------------------------------------------------

_LOC_CTE = f"locations AS ({locations_sql('duckdb')})"

# zoom-21 quantization — operation order matches functions/tiles.py exactly
_PTS_CTE = """pts AS (
  SELECT
    CAST(floor((1 - ln(tan(latitude*pi()/180) + 1/cos(latitude*pi()/180))/pi())/2 * 2097152.0) AS BIGINT) AS row21,
    CAST(floor((longitude + 180.0)/360.0 * 2097152.0) AS BIGINT) AS col21,
    ts, user_id, weight
  FROM locations WHERE source <> 'background')"""

_EXPANDED_CTE = """expanded AS (
  SELECT
    unnest(CASE WHEN user_id LIKE 'x%' THEN ['all']
                WHEN user_id LIKE 'rt-%' THEN ['all','route']
                ELSE ['all', user_id] END) AS user_group,
    'alltime' AS timespan, row21, col21, ts, weight
  FROM pts)"""

_LEVELED_AGG = """SELECT user_group, timespan, CAST(z.zoom AS INTEGER) AS zoom,
       CAST(floor(row21 / pow(2.0, CAST(21 - z.zoom AS DOUBLE))) AS BIGINT) AS row,
       CAST(floor(col21 / pow(2.0, CAST(21 - z.zoom AS DOUBLE))) AS BIGINT) AS col,
       sum(weight) AS visits
FROM expanded CROSS JOIN generate_series(6, 21) AS z(zoom)
GROUP BY 1, 2, 3, 4, 5"""

_PYRAMID_SQL = f"WITH {_LOC_CTE},\n{_PTS_CTE},\n{_EXPANDED_CTE}\n{_LEVELED_AGG}"

_DEC = "DECIMAL(12,4)"
_ONE = f"CAST(1 AS {_DEC})"


def _d(col: str) -> str:
    return f"CAST({col} AS {_DEC})"


def _ml():
    """Deferred import: spark.ml pulls in numpy-heavy modules."""
    from heatmap_spark.operators import ml_lsh

    return ml_lsh


# ---------------------------------------------------------------------------
# Heatmap family Spark impls
# ---------------------------------------------------------------------------


def q_locations(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_locations(spark, sf_dir)


def q_media_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directory-ingestion round trip: render the documents as real
    media files (PNG/WAV/AVI/GIF/BMP by doc_id%5) into a scratch dir with the
    distributed writer, then scan them back through Spark's built-in
    binaryFile source and content-sniff each payload through the
    native codecs (multimodal.media_ingest_dir)."""
    from heatmap_spark.operators.multimodal import (
        media_ingest_dir,
        write_media_dir,
    )

    d = _scratch_dir("mediadir_q_") + "/files"
    write_media_dir(spark, sf_dir, d)
    return media_ingest_dir(spark, d)


def q_rowstore_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's connector path, RUNNABLE: write the locations
    table into the heatmap_rowstore format (Python DataSource API —
    Arrow task files + atomic manifest commit, bucketed by user_id
    like a Cassandra partition key, reference heatmap.py:137) and
    read it back through the registered batch reader.  The oracle is
    the locations derivation itself, so the hash certifies the full
    write→commit→scan loop is lossless."""
    from heatmap_spark.sources.rowstore import read_rowstore, write_rowstore

    store = _scratch_dir("rowstore_q_") + "/locations"
    write_rowstore(
        load_locations(spark, sf_dir), store, bucket_key="user_id",
        mode="overwrite",
    )
    return read_rowstore(spark, store)


def q_rowstore_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed point read against the row store: equality predicate on
    the bucket key.  With pushdown enabled the reader prunes to
    crc32('u1')'s single bucket before any row moves (asserted
    reader-level in tests/test_rowstore.py); with a plain session the
    same plan reads all buckets and Spark filters — identical rows
    either way, which is exactly the pushed-filters contract."""
    from heatmap_spark.sources.rowstore import read_rowstore, write_rowstore

    store = _scratch_dir("rowstore_q_") + "/locations"
    write_rowstore(
        load_locations(spark, sf_dir), store, bucket_key="user_id",
        mode="overwrite",
    )
    return read_rowstore(spark, store).where(F.col("user_id") == "u1")


def q_rowstore_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel on the row store's manifest log: commit slice A
    (version 1), append slice B (version 2), then read `VERSION AS OF
    1` — the snapshot must be EXACTLY slice A, which the oracle
    derives independently.  The manifest records the adding version
    per file, so the as-of read is a pure metadata filter (no data
    rewrite, the Delta/Iceberg semantics native to this store)."""
    from heatmap_spark.sources.rowstore import (
        read_rowstore,
        rowstore_history,
        write_rowstore,
    )

    store = _scratch_dir("rowstore_q_") + "/locations"
    loc = load_locations(spark, sf_dir)
    half = F.substring(F.md5("user_id"), 1, 1) <= "7"
    write_rowstore(loc.where(half), store, bucket_key="user_id", mode="overwrite")
    write_rowstore(loc.where(~half), store, bucket_key="user_id", mode="append")
    hist = rowstore_history(store)
    assert [h["version"] for h in hist] == [1, 2], hist
    return read_rowstore(spark, store, as_of_version=1)


def q_rowstore_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO the row store: upsert doubled-weight rows for ~1/4
    of the users (md5-selected), then read the merged table.  Only the
    touched buckets rewrite; the commit's manifest swap soft-deletes
    their prior files (add/remove log), so the oracle — the locations
    derivation with the same CASE — hash-certifies Delta-style MERGE
    end-to-end through the Python DataSource write path."""
    from heatmap_spark.sources.rowstore import (
        merge_upsert_rowstore,
        read_rowstore,
        write_rowstore,
    )

    store = _scratch_dir("rowstore_q_") + "/locations"
    loc = load_locations(spark, sf_dir)
    write_rowstore(loc, store, bucket_key="user_id", mode="overwrite")
    updates = loc.where(F.substring(F.md5("user_id"), 1, 1) <= "3").withColumn(
        "weight", F.col("weight") * 2
    )
    merge_upsert_rowstore(spark, updates, store)
    return read_rowstore(spark, store)


def q_rowstore_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive schema evolution end-to-end: write locations (v1),
    then append a md5-selected subset that ADDS an ingest_tag column
    and OMITS the nullable weight column (v2 — the store widens; the
    commit is one manifest swap).  The read returns the union schema:
    v1 rows null-fill ingest_tag, v2 rows null-fill weight.  The
    oracle derives both generations directly, so the hash certifies
    widen-at-commit + null-fill-at-read + null-fill-at-write through
    the Python DataSource path."""
    from heatmap_spark.sources.rowstore import read_rowstore, write_rowstore

    store = _scratch_dir("rowstore_q_") + "/locations"
    loc = load_locations(spark, sf_dir)
    write_rowstore(loc, store, bucket_key="user_id", mode="overwrite")
    late = (
        loc.where(F.substring(F.md5("user_id"), 1, 1) <= "3")
        .withColumn("ingest_tag", F.lit("backfill"))
        .drop("weight")
    )
    write_rowstore(late, store, bucket_key="user_id", mode="append")
    return read_rowstore(spark, store)


def q_rowstore_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data skipping (per-file column stats) made driver-visible:
    write locations FRAGMENTED — three time-interleaved appends, so
    every file spans the full timestamp range and a time predicate
    can prune nothing — then run :func:`optimize_rowstore`
    (OPTIMIZE/ZORDER-style clustering by ``timestamp_ms``) and read
    the newest decile (``timestamp_ms >= mn + (mx-mn)*9 DIV 10``,
    exact integer arithmetic the oracle replicates).  Before
    returning, the registry PINS the skipping itself: the reader's
    planned partition count under the pushed range filter must be
    STRICTLY below the unfiltered plan.  File counts depend on range-
    partitioner sampling, so they are asserted (raise ⇒ driver turns
    red), not hashed; the hashed rows certify pruning never changes
    results.  At 100 TB this is the layout-maintenance + time-slice
    serving path: cluster the cold tail once, and every dashboard's
    "last N hours" scan touches only the files whose stats overlap."""
    from pyspark.sql.datasource import GreaterThanOrEqual

    from heatmap_spark.sources.rowstore import (
        make_rowstore_datasource,
        optimize_rowstore,
        read_rowstore,
        write_rowstore,
    )

    store = _scratch_dir("rowstore_q_") + "/locations"
    loc = load_locations(spark, sf_dir)
    thirds = [loc.where(F.expr("mod(timestamp_ms, 3)") == i) for i in range(3)]
    write_rowstore(
        thirds[0], store, bucket_key="user_id", n_buckets=2, mode="overwrite"
    )
    write_rowstore(thirds[1], store, mode="append")
    write_rowstore(thirds[2], store, mode="append")
    optimize_rowstore(spark, store, by="timestamp_ms", n_partitions=8)
    mn, mx = loc.agg(F.min("timestamp_ms"), F.max("timestamp_ms")).first()
    cut = mn + (mx - mn) * 9 // 10

    cls = make_rowstore_datasource()

    def _nparts(filters):
        # partitions == files (max_partition_bytes=1): the planned
        # file count is the skipping signal, same probe the reader
        # tests use (tests/test_rowstore.py data-skipping test)
        ds = cls(options={"path": store, "max_partition_bytes": "1",
                          "open_cost_bytes": "0"})
        r = ds.reader(ds.schema())
        if filters:
            r.pushFilters(filters)
        return len(r.partitions())

    full = _nparts([])
    pruned = _nparts([GreaterThanOrEqual(("timestamp_ms",), cut)])
    if not pruned < full:
        raise AssertionError(
            "data skipping regressed: the clustered range scan planned "
            f"{pruned} of {full} file partitions for the newest decile"
        )
    return read_rowstore(spark, store).where(F.col("timestamp_ms") >= F.lit(cut))


def q_rowstore_cdc_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The evolution × CDC seam end-to-end: a checkpointed commit-log
    stream drains the v1 store (7-column schema), the store then
    EVOLVES (append adds ingest_tag, omits nullable weight), and the
    SAME checkpoint resumes — the restarted stream binds to the
    widened union schema, replays only the post-checkpoint commit
    (offsets are manifest versions), and null-fills weight for the v2
    generation while the sink's v1 files null-fill ingest_tag at the
    merged read.  Oracle = the same union q_rowstore_evolution
    derives, so the hash certifies schema-drift handling through
    restart, replay, projection, and sink merge together."""
    from heatmap_spark.sources.rowstore import stream_rowstore, write_rowstore

    scratch = _scratch_dir("rowstore_q_")
    store, out, ckpt = (
        scratch + "/locations", scratch + "/out", scratch + "/ckpt"
    )
    loc = load_locations(spark, sf_dir)
    write_rowstore(loc, store, bucket_key="user_id", mode="overwrite")  # v1

    def _drain():
        q = (
            stream_rowstore(spark, store)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _drain()  # batch 1: the 7-column generation
    late = (
        loc.where(F.substring(F.md5("user_id"), 1, 1) <= "3")
        .withColumn("ingest_tag", F.lit("backfill"))
        .drop("weight")
    )
    write_rowstore(late, store, bucket_key="user_id", mode="append")  # v2
    _drain()  # batch 2: resumes from the checkpoint, union schema
    return spark.read.option("mergeSchema", "true").parquet(out)


def q_rowstore_conditional_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL conditional MERGE grammar end-to-end (Delta's WHEN
    MATCHED AND cond DELETE / WHEN MATCHED AND cond UPDATE SET / WHEN
    NOT MATCHED INSERT) through the bucket-rewrite commit path: one
    md5-keyed source deletes the '0'-'1' users, adds +2.5 weight to
    the '2'-'7' users (unlisted columns keep target values), and
    inserts one synthetic 'ins-' row per '8' user with literal insert
    values.  The oracle derives all three arms relationally, so the
    hash certifies clause precedence (DELETE before UPDATE), partial
    SET, null-filled inserts, and untouched-row passthrough in one
    read-back."""
    from heatmap_spark.sources.rowstore import (
        merge_into_rowstore,
        read_rowstore,
        write_rowstore,
    )

    store = _scratch_dir("rowstore_q_") + "/locations"
    loc = load_locations(spark, sf_dir)
    write_rowstore(loc, store, bucket_key="user_id", mode="overwrite")
    h = F.substring(F.md5("user_id"), 1, 1)
    users = loc.select("user_id").distinct()
    src = (
        users.where(h <= "7")
        .select(
            "user_id",
            F.when(h <= "1", F.lit("del")).otherwise(F.lit("upd")).alias("action"),
            F.lit(2.5).alias("delta"),
        )
        .unionByName(
            users.where(h == "8").select(
                F.concat(F.lit("ins-"), F.col("user_id")).alias("user_id"),
                F.lit("new").alias("action"),
                F.lit(1.0).alias("delta"),
            )
        )
    )
    merge_into_rowstore(
        spark,
        src,
        store,
        matched_update={"weight": "t.weight + s.delta"},
        matched_update_cond="s.action = 'upd'",
        matched_delete_cond="s.action = 'del'",
        insert_values={
            "user_id": "s.user_id",
            "latitude": "0.0",
            "longitude": "0.0",
            "ts": "timestamp'1970-01-01 00:00:00'",
            "timestamp_ms": "0",
            "source": "'merge'",
            "weight": "s.delta",
        },
    )
    return read_rowstore(spark, store)


def q_rowstore_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed DELETE (GDPR-erasure shape): drop every row of the
    md5-selected victim users via the bucket-rewrite path, then read
    the current snapshot.  The oracle derives the remaining rows
    directly, so the hash certifies logical erasure end-to-end (the
    pre-delete snapshot stays readable until vacuum — the auditable
    pattern, covered in tests)."""
    from heatmap_spark.sources.rowstore import (
        delete_from_rowstore,
        read_rowstore,
        write_rowstore,
    )

    store = _scratch_dir("rowstore_q_") + "/locations"
    loc = load_locations(spark, sf_dir)
    write_rowstore(loc, store, bucket_key="user_id", mode="overwrite")
    victims = loc.where(F.substring(F.md5("user_id"), 1, 1) <= "1").select(
        "user_id"
    ).distinct()
    delete_from_rowstore(spark, victims, store)
    return read_rowstore(spark, store)


def q_rowstore_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The store's commit log as a stream: two separate append commits
    (even/odd event split), then one availableNow drain through the
    SimpleDataSourceStreamReader (offsets = manifest versions).  The
    union of both commits must equal the full locations relation —
    same oracle as the batch roundtrip, exercised through the
    streaming read path."""
    from heatmap_spark.sources.rowstore import stream_rowstore, write_rowstore

    loc = load_locations(spark, sf_dir)
    scratch = _scratch_dir("rowstore_q_")
    store, out = scratch + "/locations", scratch + "/out"
    halves = [
        loc.where(F.expr("mod(timestamp_ms, 2)") == i) for i in (0, 1)
    ]
    write_rowstore(halves[0], store, bucket_key="user_id", mode="overwrite")
    write_rowstore(halves[1], store, mode="append")
    q = (
        stream_rowstore(spark, store)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", scratch + "/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out)


def q_rowstore_stream_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sink side of the CDC pipe: locations arrive as a parquet
    FILE STREAM (3 files → up to 3 micro-batch epochs) and land in the
    row store through its writeStream path — one epoch-idempotent
    manifest commit per batch.  The batch read-back must equal the
    full relation, same oracle as the batch roundtrip."""
    from heatmap_spark.sources.rowstore import (
        read_rowstore,
        stream_write_rowstore,
    )

    loc = load_locations(spark, sf_dir)
    scratch = _scratch_dir("rowstore_q_")
    src, store, ckpt = scratch + "/src", scratch + "/locations", scratch + "/ckpt"
    loc.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(loc.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = stream_write_rowstore(stream, store, ckpt, bucket_key="user_id")
    q.awaitTermination()
    return read_rowstore(spark, store)


def q_inverted_index_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the term-bucketed inverted index into scratch, then run
    the point SERVING read for the fixed 3-term query — the scan opens
    only the query terms' bucket directories (≤3 of 64; asserted in
    tests/test_plans.py).  The oracle computes the same tf-idf top-20
    straight from documents, so the hash certifies the store build +
    routed read end-to-end."""
    from heatmap_spark.sources.tables import load_table
    from heatmap_spark.streaming.text_index import (
        build_inverted_index,
        search_index,
    )

    store = _scratch_dir("textindex_q_") + "/index"
    docs = load_table(spark, sf_dir, "documents")
    build_inverted_index(docs, store)
    return search_index(spark, store, ["spark", "join", "table"], k=20)


def q_heatmap_retraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pyramid RETRACTION: remove a user slice from an existing pyramid
    by unioning the slice with negated weights and re-aggregating —
    the additive-algebra path an incremental store uses for deletes /
    GDPR erasure (no rebuild: the delta is slice-sized, and at 100 TB
    the re-aggregate touches only the slice's tiles when composed with
    merge_delta_into_store).  Tiles whose count reaches zero drop out.
    The oracle builds the pyramid of the REMAINING slice directly, so
    the hash proves retraction ≡ rebuild-without-slice (weights are
    unit counts — integer sums in double, cancellation exact)."""
    loc = load_locations(spark, sf_dir)
    gone = F.substring(F.md5("user_id"), 1, 1) <= "3"
    retract = loc.where(gone).withColumn("weight", -F.col("weight"))
    merged = loc.unionByName(retract)
    pyr_df = pyr.build_pyramid(merged, mode="explode")
    return pyr_df.where(F.col("visits") != 0)


def q_streaming_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental inverted-index maintenance (the recrawl path): the
    documents table arrives as 3 deterministic batches; each batch
    appends its bucket-partitioned postings partial under the shared
    marker protocol.  The routed serving read accumulates partials —
    by mergeability (disjoint docs, tf/df/n_docs re-aggregate) the
    result is IDENTICAL to the one-shot index, so this SHARES
    q_inverted_index_serving's oracle."""
    from heatmap_spark.sources.tables import load_table
    from heatmap_spark.streaming.text_index import (
        merge_batch_into_index,
        search_incremental_index,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mx = docs.agg(F.max("doc_id")).first()[0] + 1
    store = _scratch_dir("textindex_inc_q_") + "/index"
    for b in range(3):
        batch = docs.where(F.expr(f"CAST(doc_id * 3 DIV {mx} AS INT)") == b)
        merge_batch_into_index(spark, batch, store, b)
    return search_incremental_index(spark, store, ["spark", "join", "table"], k=20)


def q_heatmap_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ing = pyr.ingest_locations(load_locations(spark, sf_dir))
    return ing.select(
        tl.tile_id_from_zrc(F.lit(21), F.col("row"), F.col("col")).alias("tile_id"),
        "user_id",
        "ts",
        "weight",
    )


def q_heatmap_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pyr.build_pyramid(load_locations(spark, sf_dir), mode="explode")


def q_heatmap_pyramid_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pyr.build_pyramid(load_locations(spark, sf_dir), mode="cascade")


def q_heatmap_timespans(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = pyr.build_pyramid(
        load_locations(spark, sf_dir),
        mode="explode",
        timespans=("alltime", "year", "month", "day"),
        min_zoom=10,
        max_zoom=10,
    )
    return df.select(
        "user_group",
        "timespan",
        tl.tile_id_from_zrc(F.col("zoom"), F.col("row"), F.col("col")).alias("tile_id"),
        "visits",
    )


def q_heatmap_resultsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    rs = pyr.resultsets(pyr.build_pyramid(load_locations(spark, sf_dir), mode="explode"))
    return rs.select(
        "user_group",
        "timespan",
        "rs_tile_id",
        F.explode("heatmap").alias("detail_tile_id", "visits"),
    )


def q_heatmap_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink-table statistics (entry count + total visits per result
    set) as a DIRECT grouped aggregation over the pyramid.

    The stats never need the heatmap map itself, so this path skips
    the collect-to-map ObjectHashAggregate (exercised by
    q_heatmap_resultsets / q_heatmap_table instead): count/sum
    partial-aggregate map-side.  visits are integer-valued doubles
    (sums of 1.0 weights), so the sum is order-exact and hash-matches
    DuckDB.

    r12 (guide §2.4): when the small-input ingest spread is active the
    pyramid is built in two zoom bands over the same spread exchange.
    For zoom ≥ 11 the result-set tile (rs_zoom = zoom-5 ≥ 6) determines
    the zoom-6 subtree prefix, so BOTH stacked aggregations (pyramid
    rollup, then rs stats) keep the spread's prefix partitioning and
    run with zero further exchanges; only the five coarse levels
    (zoom 6-10, whose rs tiles are coarser than the prefix) take the
    classic partial→exchange→final shape over their own small row set.
    Group sets are disjoint by rs_zoom, so the union is the identical
    result (hash-verified).  Measured at sf0.1: total shuffle 126 MB
    (inherited) → 54 MB (prefix rollup) → ~3 MB (this split).

    At cluster scale the spread elides (input splits ≥ cores), no
    prefix columns exist, and the split would only buy a second scan
    of the raw input — so the query keeps the single-band r11 shape
    there (one scan, partial→exchange→final twice, the rs exchange
    carrying ~result-set-count partial rows)."""
    expanded = pyr.expand_groups_and_timespans(
        pyr.ingest_locations(load_locations(spark, sf_dir))
    )

    def rs_stats(p: DataFrame, pref: tuple[str, ...]) -> DataFrame:
        return (
            p.groupBy(
                *pref,
                "user_group",
                "timespan",
                (F.col("zoom") - 5).alias("rs_zoom"),
                F.shiftright("row", 5).alias("rs_row"),
                F.shiftright("col", 5).alias("rs_col"),
            )
            .agg(
                F.count("*").cast("int").alias("n_entries"),
                F.sum("visits").alias("total_visits"),
            )
            .select(
                F.concat_ws(
                    "|",
                    "user_group",
                    "timespan",
                    tl.tile_id_from_zrc(
                        F.col("rs_zoom"), F.col("rs_row"), F.col("rs_col")
                    ),
                ).alias("id"),
                "n_entries",
                "total_visits",
            )
        )

    pref = tuple(c for c in pyr.PREF_COLS if c in expanded.columns)
    if not pref:
        # cluster scale: no spread, no prefix — single-band shape
        return rs_stats(pyr.pyramid_explode(expanded, 6, 21), ())
    split = 11  # rs_zoom = zoom-5 ≥ 6 keeps the subtree prefix
    hi = pyr.pyramid_explode(expanded, split, 21, keep_prefix=True)
    lo = pyr.pyramid_explode(expanded, 6, split - 1, detail_zoom=21)
    return rs_stats(hi, pref).unionByName(rs_stats(lo, ()))


def q_heatmap_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink shape (id, heatmap JSON).  Map entries are emitted in
    sorted-key order on both sides, so the JSON string is byte-stable
    and the DuckDB oracle hash-matches it (CORRECTNESS_r02: hash pass);
    content is additionally pinned by tests/test_pyramid.py golden
    comparison."""
    return pyr.heatmap_table(
        pyr.resultsets(pyr.build_pyramid(load_locations(spark, sf_dir), mode="explode"))
    )


def q_rowstore_reference_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ENTIRE dataflow through the connector path
    (heatmap.py:131–158): locations are loaded from a keyed row store
    (the `rhom.locations` analogue), the 16-level pyramid → result
    sets → (id, heatmap JSON) table is built, APPENDED to a second
    row store (the `rhom.heatmaps` append at heatmap.py:149–150), and
    read back through the registered format.  The oracle is the
    q_heatmap_table SQL verbatim — both rowstore hops must be
    lossless for the hash to survive."""
    from heatmap_spark.sources.rowstore import (
        append_heatmaps_rowstore,
        read_locations_rowstore,
        read_rowstore,
        write_rowstore,
    )

    scratch = _scratch_dir("rowstore_q_")
    loc_store, hm_store = scratch + "/locations", scratch + "/heatmaps"
    write_rowstore(
        load_locations(spark, sf_dir), loc_store, bucket_key="user_id",
        mode="overwrite",
    )
    loc = read_locations_rowstore(spark, loc_store)
    table = pyr.heatmap_table(
        pyr.resultsets(pyr.build_pyramid(loc, mode="explode"))
    )
    append_heatmaps_rowstore(table, hm_store)
    return read_rowstore(spark, hm_store)


def q_tile_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    loc = load_locations(spark, sf_dir)
    t16 = loc.where(F.col("source") != "background").select(
        tl.tile_row("latitude", 16).alias("row"), tl.tile_col("longitude", 16).alias("col")
    ).distinct()
    tid = tl.tile_id_from_zrc(F.lit(16), F.col("row"), F.col("col"))
    return t16.select(
        tid.alias("tile_id"),
        tl.tile_parent(tid, 1).alias("parent_id"),
        F.round(tl.lat_from_row(F.col("row"), 16), 9).alias("lat_north"),
        F.round(tl.lat_from_row(F.col("row") + F.lit(1), 16), 9).alias("lat_south"),
        F.round(tl.lon_from_col(F.col("col"), 16), 9).alias("lon_west"),
        F.round(tl.lon_from_col(F.col("col") + F.lit(1), 16), 9).alias("lon_east"),
    )


def q_streaming_tile_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the locations stream through the versioned tile store
    (foreachBatch delta-pyramid merge, zooms 8-12, 3 micro-batches) and
    return the final store contents — which must equal the batch
    pyramid over the same rows (the oracle).  Uses the production
    default layout (auto → bucket-partitioned, since min_zoom=8 >=
    BUCKET_ZOOM): per-batch merge cost tracks batch locality, not
    store size."""
    from heatmap_spark.streaming.tile_store import (
        read_tile_store,
        stream_pyramid_to_store,
    )

    loc = load_locations(spark, sf_dir)
    d = _scratch_dir("tile_store_q_")
    src, store, ckpt = f"{d}/in", f"{d}/store", f"{d}/ckpt"
    loc.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(loc.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = stream_pyramid_to_store(stream, store, ckpt, min_zoom=8, max_zoom=12)
    q.awaitTermination(timeout=600)
    return read_tile_store(spark, store)


def q_streaming_tile_store_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned-store twin of q_streaming_tile_store: the same
    3-micro-batch drain through the bucket-partitioned store (per-
    spatial-cell versions — localized batches rewrite only touched
    cells).  The final store must equal the batch pyramid, so the
    SAME oracle gates both layouts."""
    from heatmap_spark.streaming.tile_store import (
        read_partitioned_store,
        stream_pyramid_to_partitioned_store,
    )

    loc = load_locations(spark, sf_dir)
    d = _scratch_dir("tile_store_part_q_")
    src, store, ckpt = f"{d}/in", f"{d}/store", f"{d}/ckpt"
    loc.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(loc.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = stream_pyramid_to_partitioned_store(stream, store, ckpt, min_zoom=8, max_zoom=12)
    q.awaitTermination(timeout=600)
    return read_partitioned_store(spark, store)


def q_streaming_tile_retraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDPR-style retraction through the PARTITIONED serving store:
    batch 0 merges the full pyramid; batch 1 merges the victim slice's
    pyramid with NEGATED visits under drop_zeros — cancelled tiles
    leave the store (a fully-cancelled bucket commits an empty
    version).  The final serving read must equal the pyramid of the
    REMAINING users — the q_heatmap_retraction algebra flowing through
    the store's per-bucket exactly-once commit protocol."""
    from heatmap_spark.streaming.tile_store import (
        merge_delta_into_partitioned_store,
        read_partitioned_store,
    )

    loc = load_locations(spark, sf_dir)
    store = _scratch_dir("tile_store_retract_q_") + "/store"
    full = pyr.build_pyramid(loc, mode="explode")
    merge_delta_into_partitioned_store(spark, full, store, batch_id=0)
    victims = loc.where(F.substring(F.md5("user_id"), 1, 1) <= "3")
    retract = pyr.build_pyramid(victims, mode="explode").withColumn(
        "visits", -F.col("visits")
    )
    merge_delta_into_partitioned_store(
        spark, retract, store, batch_id=1, drop_zeros=True
    )
    return read_partitioned_store(spark, store)


_DUP_PASSAGES_SQL = """WITH tl AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents),
wins AS (
  SELECT doc_id, unnest(list_transform(range(1, len(toks) - 6),
    i -> md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' ||
             toks[i+4] || ' ' || toks[i+5] || ' ' || toks[i+6] || ' ' || toks[i+7]))) AS h
  FROM tl),
dup AS (
  SELECT h FROM (SELECT DISTINCT doc_id, h FROM wins) GROUP BY h HAVING count(*) >= 2),
agg AS (
  SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_windows,
    CAST(sum(CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows
  FROM wins w LEFT JOIN dup d ON w.h = d.h
  GROUP BY w.doc_id)
SELECT doc.doc_id,
  COALESCE(a.n_windows, 0) AS n_windows,
  COALESCE(a.n_dup_windows, 0) AS n_dup_windows,
  round(CASE WHEN COALESCE(a.n_windows, 0) > 0
             THEN CAST(a.n_dup_windows AS DOUBLE) / a.n_windows ELSE 0.0 END, 6) AS dup_frac
FROM documents doc LEFT JOIN agg a USING (doc_id)"""


def q_streaming_duplicated_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the documents table as a 3-micro-batch stream through the
    log-structured passage store (per-batch postings/df partials,
    marker-committed), run an LSM compaction of the df partials, and
    return the final per-doc duplicated-passage stats — which must
    equal the batch detector over the same rows (the shared oracle).
    Mid-history compaction + replay idempotence are pinned by
    tests/test_passages.py."""
    from heatmap_spark.sources.tables import load_table
    from heatmap_spark.streaming.passages import (
        compact_passage_store,
        read_duplicated_passages,
        stream_duplicated_passages,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    d = _scratch_dir("passage_store_q_")
    src, store, ckpt = f"{d}/in", f"{d}/store", f"{d}/ckpt"
    docs.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = stream_duplicated_passages(stream, store, ckpt)
    q.awaitTermination(timeout=600)
    compact_passage_store(spark, store)
    return read_duplicated_passages(spark, store)


def q_tile_store_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production SERVING request path end-to-end under the hash
    gate: build the partitioned tile store from the batch pyramid
    (zooms 8-12), then fetch ONE result set — the busiest zoom-7
    parent tile for ('all', 'alltime'), chosen deterministically
    (max total visits, ties to lowest row/col) — via
    :func:`read_resultset`'s bucket-pruned point read, and emit the
    sink-shape (id, heatmap JSON) row.  The oracle recomputes the same
    selection and the byte-identical JSON."""
    from heatmap_spark.streaming.tile_store import (
        merge_delta_into_partitioned_store,
        read_resultset,
    )

    pyr12 = pyr.build_pyramid(
        load_locations(spark, sf_dir), mode="explode", min_zoom=8, max_zoom=12
    )
    store = _scratch_dir("tile_store_serve_q_") + "/store"
    merge_delta_into_partitioned_store(spark, pyr12, store, batch_id=0)
    top = (
        pyr12.where(
            (F.col("zoom") == 12)
            & (F.col("user_group") == "all")
            & (F.col("timespan") == "alltime")
        )
        .groupBy(
            F.shiftright("row", 5).alias("r"), F.shiftright("col", 5).alias("c")
        )
        .agg(F.sum("visits").alias("total"))
        .orderBy(F.desc("total"), F.asc("r"), F.asc("c"))
        .limit(1)
        .collect()[0]
    )
    rs = read_resultset(
        spark, store, "all", "alltime", f"7_{top['r']}_{top['c']}"
    )
    return pyr.heatmap_table(rs)


def q_streaming_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawler-shape incremental dedup: the documents table arrives as
    3 deterministic batches (doc_id thirds); each batch is flagged AT
    INGEST against the accumulated LSH store — dup_of_corpus (bucket
    shared with an earlier batch), dup_in_batch (bucket shared with a
    lower doc_id in the same batch), else new.  The flags log is
    immutable; the oracle recomputes the same order-dependent statuses
    from the banding relation."""
    from heatmap_spark.sources.tables import load_table
    from heatmap_spark.streaming.crawl import (
        merge_batch_into_lsh_store,
        read_crawl_flags,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mx = docs.agg(F.max("doc_id")).first()[0] + 1
    store = _scratch_dir("crawl_store_q_") + "/store"
    for b in range(3):
        batch = docs.where(F.expr(f"CAST(doc_id * 3 DIV {mx} AS INT)") == b)
        merge_batch_into_lsh_store(spark, batch, store, b)
    return read_crawl_flags(spark, store)


def q_streaming_vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-drift monitoring over a streamed corpus: the
    documents table arrives as 3 deterministic batches (doc_id
    thirds); each batch's token counts land in the log-structured
    vocab store and a drift row — new-type counts, OOV occurrence
    rate, exact-integer L1 distance vs the accumulated distribution —
    is computed AT INGEST.  The oracle recomputes the same
    order-dependent log from the full relation with a per-token
    cumulative window."""
    from heatmap_spark.sources.tables import load_table
    from heatmap_spark.streaming.vocab import (
        merge_batch_into_vocab_store,
        read_vocab_drift,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mx = docs.agg(F.max("doc_id")).first()[0] + 1
    store = _scratch_dir("vocab_store_q_") + "/store"
    for b in range(3):
        batch = docs.where(F.expr(f"CAST(doc_id * 3 DIV {mx} AS INT)") == b)
        merge_batch_into_vocab_store(spark, batch, store, b)
    return read_vocab_drift(spark, store)


def q_streaming_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental count-min sketch maintenance: the documents table
    arrives as 3 deterministic batches (doc_id thirds); each batch
    writes its fixed-size cell-grid partial into the log-structured
    sketch store, with an LSM compaction after batch 1 so the final
    read spans (compacted base + 1 partial).  Estimates off the
    accumulated grid equal the one-shot sketch of the whole corpus by
    the mergeability identity, so this SHARES q_cms_heavy_hitters'
    oracle — the value hash certifies incremental maintenance."""
    from heatmap_spark.operators.textops import _all_tokens
    from heatmap_spark.sources.tables import load_table
    from heatmap_spark.streaming.cms import (
        compact_cms_store,
        estimate_heavy_hitters,
        merge_batch_into_cms_store,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mx = docs.agg(F.max("doc_id")).first()[0] + 1
    store = _scratch_dir("cms_store_q_") + "/store"
    for b in range(3):
        batch = docs.where(F.expr(f"CAST(doc_id * 3 DIV {mx} AS INT)") == b)
        merge_batch_into_cms_store(spark, batch, store, b)
        if b == 1:
            compact_cms_store(spark, store)
    tok = docs.select(F.explode(_all_tokens()).alias("token"))
    candidates = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), F.asc("token"))
        .limit(20)
    )
    return estimate_heavy_hitters(spark, store, candidates)


# Shared oracle for the portable HLL (q_hll_portable) and its streamed
# register store (q_streaming_hll): the md5-register sketch is fully
# deterministic, so BOTH the one-shot build and the 3-batch incremental
# store must hash-match this SQL — see operators/profiling.py
# hll_register_table for the bit-compatibility contract.
_HLL_PORTABLE_SQL = """WITH parts AS (
  SELECT event_type,
    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2) AS BIGINT) AS bucket,
    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 3, 14) AS BIGINT) AS w
  FROM events),
regs AS (
  SELECT event_type, bucket,
    max(CASE WHEN w = 0 THEN 57 ELSE 57 - length(bin(w)) END) AS rho
  FROM parts GROUP BY 1, 2),
merged AS (
  SELECT event_type, bucket, rho FROM regs
  UNION ALL
  SELECT '__all__' AS event_type, bucket, max(rho) AS rho FROM regs GROUP BY 2),
est AS (
  SELECT event_type,
    CAST(count(*) AS INTEGER) AS registers_set,
    sum(CAST(1 AS BIGINT) << (57 - rho)) AS s_present
  FROM merged GROUP BY 1),
fin AS (
  SELECT event_type, registers_set,
    CAST(s_present + (256 - registers_set) * CAST(144115188075855872 AS HUGEINT)
         AS DOUBLE) AS s
  FROM est),
ex AS (
  SELECT event_type, count(DISTINCT user_id) AS exact_users FROM events GROUP BY 1
  UNION ALL
  SELECT '__all__' AS event_type, count(DISTINCT user_id) FROM events)
SELECT f.event_type,
  CAST(ex.exact_users AS BIGINT) AS exact_users,
  round(CASE WHEN CAST(0.7213 AS DOUBLE) / (1.0 + CAST(1.079 AS DOUBLE) / 256.0)
                  * 65536.0 / (s / CAST(144115188075855872 AS DOUBLE)) <= 640.0
              AND registers_set < 256
         THEN 256.0 * ln(256.0 / CAST(256 - registers_set AS DOUBLE))
         ELSE CAST(0.7213 AS DOUBLE) / (1.0 + CAST(1.079 AS DOUBLE) / 256.0)
              * 65536.0 / (s / CAST(144115188075855872 AS DOUBLE)) END, 4) AS hll_users,
  registers_set
FROM fin f JOIN ex USING (event_type)"""


def q_streaming_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental distinct-user sketching: events arrive as 3
    deterministic batches (event_id thirds); each batch writes its
    ≤256-row-per-type register partial into the log-structured HLL
    store, with an LSM compaction after batch 1 so the final read spans
    (compacted base + 1 partial).  Accumulated registers equal the
    one-shot sketch of the whole table by the max-merge identity, so
    this SHARES q_hll_portable's oracle — the value hash certifies
    incremental sketch maintenance end-to-end."""
    from heatmap_spark.operators.profiling import hll_estimate
    from heatmap_spark.sources.tables import load_table
    from heatmap_spark.streaming.hll import (
        accumulated_registers,
        compact_hll_store,
        merge_batch_into_hll_store,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id", "event_id"
    )
    mx = ev.agg(F.max("event_id")).first()[0] + 1
    store = _scratch_dir("hll_store_q_") + "/store"
    for b in range(3):
        batch = ev.where(F.expr(f"CAST(event_id * 3 DIV {mx} AS INT)") == b).select(
            "event_type", "user_id"
        )
        merge_batch_into_hll_store(spark, batch, store, b)
        if b == 1:
            compact_hll_store(spark, store)
    regs = accumulated_registers(spark, store)
    merged = (
        regs.groupBy("bucket")
        .agg(F.max("rho").alias("rho"))
        .select(F.lit("__all__").alias("event_type"), "bucket", "rho")
    )
    est = hll_estimate(regs.unionByName(merged), ["event_type"])
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    exact_all = ev.agg(F.count_distinct("user_id").alias("exact_users")).select(
        F.lit("__all__").alias("event_type"), "exact_users"
    )
    return est.join(exact.unionByName(exact_all), "event_type").select(
        "event_type",
        F.col("exact_users").cast("bigint").alias("exact_users"),
        "hll_users",
        "registers_set",
    )


def q_streaming_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental KMV (θ-sketch) cardinality store: events arrive as
    3 deterministic batches (event_id thirds); each batch writes its
    ≤64-row-per-type k-minimum-values partial into the log-structured
    sketch store, with an LSM compaction after batch 1 so the final
    read spans (compacted base + 1 partial).  The accumulated sketch
    equals the one-shot sketch of the whole table by the exact KMV
    merge identity (top-k of unioned top-ks == top-k of the set), so
    the streamed ESTIMATES are bit-identical to a batch build and the
    DuckDB oracle replays them from raw events — the value hash
    certifies incremental sketch maintenance end-to-end, extending the
    HLL store's argument from registers to set-algebra sketches."""
    from heatmap_spark.sources.tables import load_table
    from heatmap_spark.streaming.kmv import (
        compact_kmv_store,
        merge_batch_into_kmv_store,
        serve_kmv_estimates,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id", "event_id"
    )
    mx = ev.agg(F.max("event_id")).first()[0] + 1
    store = _scratch_dir("kmv_store_q_") + "/store"
    for b in range(3):
        batch = ev.where(
            F.expr(f"CAST(event_id * 3 DIV {mx} AS INT)") == b
        ).select("event_type", "user_id")
        merge_batch_into_kmv_store(spark, batch, store, b)
        if b == 1:
            compact_kmv_store(spark, store)
    est = serve_kmv_estimates(spark, store)
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    exact_all = ev.agg(F.count_distinct("user_id").alias("exact_users")).select(
        F.lit("__all__").alias("event_type"), "exact_users"
    )
    return est.join(exact.unionByName(exact_all), "event_type").select(
        "event_type",
        F.col("exact_users").cast("bigint").alias("exact_users"),
        "kmv_users",
        "sketch_size",
    )


def _drift_store_build(spark: SparkSession, sf_dir: str) -> str:
    """Shared harness for the streaming drift twins: label events with
    the median-ts split (the caller-owned policy — computed once, like
    q_streaming_hll's max event_id), ingest as 3 deterministic
    event_id-third batches into the value-table store with an LSM
    compaction after batch 1, and return the store path."""
    from heatmap_spark.sources.tables import load_table
    from heatmap_spark.streaming.drift import (
        compact_drift_store,
        merge_batch_into_drift_store,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "ts", "value", "event_id"
    )
    split = ev.agg(F.expr("percentile(unix_timestamp(ts), 0.5)")).first()[0]
    mx = ev.agg(F.max("event_id")).first()[0] + 1
    labeled = ev.select(
        "event_type",
        F.when(F.unix_timestamp("ts") <= F.lit(split), F.lit(1))
        .otherwise(F.lit(0))
        .alias("is_a"),
        "value",
        "event_id",
    )
    store = _scratch_dir("drift_store_q_") + "/store"
    for b in range(3):
        batch = labeled.where(
            F.expr(f"CAST(event_id * 3 DIV {mx} AS INT)") == b
        ).select("event_type", "is_a", "value")
        merge_batch_into_drift_store(spark, batch, store, b)
        if b == 1:
            compact_drift_store(spark, store)
    return store


def q_streaming_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally maintained exact KS drift monitor: events arrive
    as 3 deterministic batches into the (type, value, per-half counts)
    store — an exactly sum-mergeable summary — and the served
    statistic is BIT-IDENTICAL to the one-shot ks_test, so this shares
    q_ks_test's oracle verbatim: the driver value-hash certifies
    incremental maintenance of an exact order statistic."""
    from heatmap_spark.streaming.drift import serve_drift_ks

    return serve_drift_ks(spark, _drift_store_build(spark, sf_dir))


def q_streaming_drift_mwu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally maintained exact Mann–Whitney U from the same
    value-table store — shares q_mann_whitney's oracle verbatim (see
    q_streaming_drift_ks)."""
    from heatmap_spark.streaming.drift import serve_drift_mwu

    return serve_drift_mwu(spark, _drift_store_build(spark, sf_dir))


def q_streaming_kll_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drift family's BOUNDED-STATE half: the same labeled stream
    as the exact drift twins (median-ts split, 3 event_id-third
    batches, mid-stream compaction), but the store keeps one KLL
    quantile sketch per (event_type, half) — state is fixed-size per
    key (KBs at k=200) instead of linear in distinct values — and
    serves an approximate KS by reconstructing both CDFs from literal
    rank grids (streaming/kll_store.py).

    Rows-only with raise pins (the KLL compactor is randomized and
    engine-specific — DataSketches binary images have no DuckDB
    replay, so no cross-engine value oracle can exist):
    (1) the store's per-half counts must EQUAL the exact labeled
    counts (the n side-channel is exact by construction);
    (2) per type, |ks_approx − ks_exact| ≤ 0.08 — the theoretical
    bound is 2·(rank_err + 1/grid) ≈ 0.037 at k=200/grid=200, pinned
    with slack (the exact KS comes from the value-table path the
    oracle-gated q_ks_test certifies);
    (3) the served approximate W₁ (CDF-gap integral over the same
    grids) within 0.05·(value range) of the exact q_wasserstein_drift
    statistic — the sketch arm of serve_drift_w1;
    (4) the served approximate MWU effect size (grid-averaged AUC,
    serve_kll_mwu) within 0.08 of the exact U₂/(2·na·nb) from
    mwu_from_value_table — the sketch arm of serve_drift_mwu,
    completing the KS/W₁/MWU trio (tie-bias caveat in the module
    docstring; events.value is continuous, the sound regime);
    (5) served quantiles are monotone p50 ≤ p90 ≤ p99 per half.
    A NULL served statistic (a degenerate one-sided type would
    aggregate all NULLs) counts as a VIOLATION, not a silent pass —
    the predicate guards three-valued logic explicitly."""
    from heatmap_spark.operators.profiling import (
        ks_from_value_table,
        mwu_from_value_table,
        w1_from_value_table,
    )
    from heatmap_spark.sources.tables import load_table
    from heatmap_spark.streaming.kll_store import (
        compact_kll_store,
        merge_batch_into_kll_store,
        serve_kll_drift,
        serve_kll_mwu,
        serve_kll_quantiles,
        serve_kll_w1,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "ts", "value", "event_id"
    )
    split = ev.agg(F.expr("percentile(unix_timestamp(ts), 0.5)")).first()[0]
    mx = ev.agg(F.max("event_id")).first()[0] + 1
    labeled = ev.select(
        "event_type",
        F.when(F.unix_timestamp("ts") <= F.lit(split), F.lit(1))
        .otherwise(F.lit(0))
        .alias("is_a"),
        "value",
        "event_id",
    )
    store = _scratch_dir("kll_store_q_") + "/store"
    for b in range(3):
        batch = labeled.where(
            F.expr(f"CAST(event_id * 3 DIV {mx} AS INT)") == b
        ).select("event_type", "is_a", "value")
        merge_batch_into_kll_store(spark, batch, store, b)
        if b == 1:
            compact_kll_store(spark, store)
    out = (
        serve_kll_drift(spark, store)
        .join(
            serve_kll_w1(spark, store).select("event_type", "w1_approx"),
            "event_type",
        )
        .join(
            serve_kll_mwu(spark, store).select("event_type", "auc_approx"),
            "event_type",
        )
        .localCheckpoint(eager=True)
    )

    per_val = labeled.groupBy("event_type", "value").agg(
        F.sum("is_a").alias("da"),
        F.sum(F.lit(1) - F.col("is_a")).alias("db"),
    )
    exact = ks_from_value_table(per_val).select(
        "event_type", F.col("ks_d").alias("ks_exact")
    )
    exact_w1 = w1_from_value_table(per_val).select(
        "event_type", F.col("w1").alias("w1_exact")
    )
    exact_mwu = mwu_from_value_table(per_val).select(
        "event_type",
        (
            F.col("u2").cast("double")
            / (
                F.lit(2.0)
                * F.col("n_first_half").cast("double")
                * F.col("n_second_half").cast("double")
            )
        ).alias("auc_exact"),
    )
    exact_n = labeled.groupBy("event_type").agg(
        F.sum("is_a").alias("na_x"),
        F.sum(F.lit(1) - F.col("is_a")).alias("nb_x"),
        (F.max("value") - F.min("value")).alias("vrange"),
    )
    bad = (
        out.join(exact, "event_type")
        .join(exact_w1, "event_type")
        .join(exact_mwu, "event_type")
        .join(exact_n, "event_type")
        .where(
            (F.col("na") != F.col("na_x"))
            | (F.col("nb") != F.col("nb_x"))
            # NULL served statistics are violations, not three-valued
            # silent passes (ADVICE r11): guard before comparing
            | F.col("ks_approx").isNull()
            | F.col("w1_approx").isNull()
            | F.col("auc_approx").isNull()
            | (F.abs(F.col("ks_approx") - F.col("ks_exact")) > 0.08)
            | (
                F.abs(F.col("w1_approx") - F.col("w1_exact"))
                > 0.05 * F.col("vrange")
            )
            | (F.abs(F.col("auc_approx") - F.col("auc_exact")) > 0.08)
        )
        .count()
    )
    if bad:
        raise AssertionError(
            f"KLL drift store invariant (exact half counts / non-NULL "
            f"served stats / KS within the 0.08 sketch bound / W1 "
            f"within 0.05·range / MWU AUC within 0.08) violated "
            f"for {bad} type(s)"
        )
    mono = serve_kll_quantiles(spark, store).where(
        (F.col("p50") > F.col("p90")) | (F.col("p90") > F.col("p99"))
    ).count()
    if mono:
        raise AssertionError(
            f"KLL drift store served non-monotone quantiles for {mono} "
            f"(type, half) row(s)"
        )
    return out


def q_streaming_binning_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming equal-frequency binning (the r11 verdict's item-8
    pick): every committed batch re-emits the KLL store's pooled bin
    boundaries as a bins-sized ``bins/batch=<id>`` timeline row, so
    boundary HISTORY survives the LSM compactor that deletes the
    per-batch sketches each snapshot was computed from (the compactor
    runs mid-stream here to prove it).  ``boundary_shift`` — max
    boundary movement vs the previous snapshot, normalized by the
    exact value range — is the convergence/staleness metric: ≈0 once
    a stationary stream's boundaries settle (freeze-safe), spiking
    when the distribution moves (tests/test_kll_store.py plants a
    shift that trips it while this stationary stream stays low).

    The dashboard's second half reads POPULATIONS instead of boundary
    positions: each batch's rows are binned against the batch's own
    snapshot at ingest (``emit_binning_histogram``, map-only) and
    ``l1_vs_uniform`` = Σ|share − 1/n_bins| measures how far the
    incoming batch sits from the equal-frequency expectation — a
    distribution move the slowly-absorbing boundaries haven't caught
    yet shows up immediately in where the new rows land.

    Rows-only with raise pins (sketch binaries have no DuckDB
    replay):
    (1) history completeness — exactly one snapshot AND one histogram
        row set per (type, batch) for all 3 batches, compaction
        notwithstanding;
    (2) rank accuracy — the exact empirical CDF at each FINAL
        boundary is within 0.05 of its target rank j/n_bins
        (measured 0.005 at sf0.01; sketch rank error ≈1.7% at
        k=200);
    (3) stationarity, boundary arm — every type's final
        boundary_shift ≤ 0.04 + 2/√n_seen of the value range: the
        additive floor is the k=200 sketch rank-error envelope, the
        √n term the empirical-quantile fluctuation of the batches
        themselves (measured 0.062 at sf0.001/n≈200 vs pin 0.181,
        0.018 at sf0.01/n≈2000 vs 0.085, 0.015 at the 10M probe vs
        0.041 — ~3-5× margin at every scale);
    (4) stationarity, population arm — every (type, batch)
        l1_vs_uniform ≤ 0.10 + 6/√n_batch: multinomial L1 noise is
        ≈2.4/√n (n_bins·E|p̂−p| at p=1/n_bins) and the floor is the
        sketch-boundary error's contribution (measured 0.324 at
        sf0.001/n≈63 vs pin 0.856, 0.118 at sf0.01/n≈650 vs 0.335,
        0.049 at the 10M probe's drifted batches vs 0.103);
    (5) NULL/shape guards — a non-first snapshot with NULL shift,
        non-monotone bounds, or a NULL l1 is a violation (three-
        valued logic made loud, per the r11 advice pattern)."""
    from heatmap_spark.sources.tables import load_table
    from heatmap_spark.streaming.kll_store import (
        compact_kll_store,
        emit_binning_histogram,
        emit_binning_snapshot,
        merge_batch_into_kll_store,
        read_binning_histogram,
        read_binning_timeline,
    )

    n_bins = 10
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "value", "event_id"
    )
    mx = ev.agg(F.max("event_id")).first()[0] + 1
    store = _scratch_dir("bintl_q_") + "/store"
    for b in range(3):
        # binning pools both halves, so the half label is free — parity
        # keeps the store schema without a second pass over the rows
        batch = ev.where(
            F.expr(f"CAST(event_id * 3 DIV {mx} AS INT)") == b
        ).select(
            "event_type",
            F.pmod(F.hash("event_id"), F.lit(2)).cast("int").alias("is_a"),
            "value",
        )
        merge_batch_into_kll_store(spark, batch, store, b)
        emit_binning_snapshot(spark, store, b, n_bins)
        emit_binning_histogram(
            spark, store, batch.select("event_type", "value"), b
        )
        if b == 1:
            compact_kll_store(spark, store)
    hist = read_binning_histogram(spark, store).localCheckpoint(eager=True)
    out = (
        read_binning_timeline(spark, store)
        .join(
            hist.select(
                "batch_id", "event_type", "n_batch", "l1_vs_uniform"
            ),
            ["batch_id", "event_type"],
        )
        .localCheckpoint(eager=True)
    )

    n_types = ev.select("event_type").distinct().count()
    n_rows = out.count()
    if n_rows != 3 * n_types or hist.count() != 3 * n_types:
        raise AssertionError(
            f"binning timeline incomplete: {n_rows} joined snapshots / "
            f"{hist.count()} histogram rows, expected {3 * n_types} "
            f"each (history must survive compaction)"
        )
    final = out.where(F.col("batch_id") == 2).select(
        "event_type", F.posexplode("bounds").alias("j", "b")
    )
    bad_rank = (
        ev.join(F.broadcast(final), "event_type")
        .groupBy("event_type", "j", "b")
        .agg(
            (
                F.sum(F.when(F.col("value") <= F.col("b"), 1).otherwise(0))
                / F.count(F.lit(1))
            ).alias("cdf")
        )
        .where(
            F.abs(F.col("cdf") - (F.col("j") + 1) / F.lit(float(n_bins)))
            > 0.05
        )
        .count()
    )
    if bad_rank:
        raise AssertionError(
            f"{bad_rank} final boundary(ies) beyond the 0.05 rank-"
            f"accuracy pin"
        )
    bad_shape = out.where(
        ((F.col("batch_id") > 0) & F.col("boundary_shift").isNull())
        | (
            (F.col("batch_id") == 2)
            & (
                F.col("boundary_shift")
                > F.lit(0.04) + F.lit(2.0) / F.sqrt("n_seen")
            )
        )
        | (F.to_json("bounds") != F.to_json(F.array_sort("bounds")))
        | F.col("l1_vs_uniform").isNull()
        | (
            F.col("l1_vs_uniform")
            > F.lit(0.10) + F.lit(6.0) / F.sqrt("n_batch")
        )
    ).count()
    if bad_shape:
        raise AssertionError(
            f"{bad_shape} snapshot(s) violate the stationarity/shape "
            f"pins (final shift ≤ 0.04+2/√n_seen, non-first shift "
            f"non-NULL, monotone bounds, per-batch L1 vs uniform ≤ "
            f"0.10+6/√n_batch)"
        )
    return out.select(
        "batch_id",
        "event_type",
        "n_seen",
        "boundary_shift",
        "l1_vs_uniform",
        F.round(F.element_at("bounds", 1), 6).alias("b_first"),
        F.round(F.element_at("bounds", -1), 6).alias("b_last"),
    ).orderBy("event_type", "batch_id")


def q_streaming_geofence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally maintained geofence dashboard: locations arrive as
    3 deterministic batches (hash thirds); each batch's (fence, user)
    hit grain lands in the log-structured store, with an LSM compaction
    after batch 1.  The grain makes visit sums AND distinct-visitor
    counts exactly mergeable, so the accumulated read equals the
    one-shot classification and this SHARES q_geofence's generated
    oracle — the value hash certifies incremental maintenance."""
    from heatmap_spark.sources.locations import load_locations
    from heatmap_spark.streaming.geofence import (
        compact_geofence_store,
        merge_batch_into_geofence_store,
        read_geofence_counts,
    )

    loc = load_locations(spark, sf_dir).where(F.col("source") != "background")
    split = F.pmod(F.hash("user_id", "ts"), F.lit(3))
    store = _scratch_dir("geo_store_q_") + "/store"
    for b in range(3):
        merge_batch_into_geofence_store(spark, loc.where(split == b), store, b)
        if b == 1:
            compact_geofence_store(spark, store)
    return read_geofence_counts(spark, store)


def q_streaming_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally maintained orders ⋈ lineitem view: each side
    arrives as 3 deterministic batches whose thirds are MISALIGNED
    (orders by o_orderkey range, lineitem by l_orderkey mod 3), so
    every (left-batch, right-batch) combination contributes pairs and
    all three delta-join terms fire; view compaction runs mid-stream
    after batch 1.  The delta rule emits each pair exactly once, so
    the monthly aggregate over the maintained view equals the same
    aggregate over a one-shot join — the oracle is the plain SQL
    join, and the value hash certifies incremental maintenance."""
    from heatmap_spark.sources.tables import load_table
    from heatmap_spark.streaming.joinview import (
        compact_join_view,
        merge_batch_into_join_view,
        read_join_view,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"), "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"), "l_extendedprice", "l_discount"
    )
    mx = orders.agg(F.max("okey")).first()[0] + 1
    store = _scratch_dir("jv_store_q_") + "/store"
    for b in range(3):
        od = orders.where(F.expr(f"CAST(okey * 3 DIV {mx} AS INT)") == b)
        ld = li.where(F.col("okey") % 3 == b)
        merge_batch_into_join_view(spark, store, b, od, ld, ["okey"])
        if b == 1:
            compact_join_view(spark, store)
    view = read_join_view(spark, store)
    rev = (
        F.col("l_extendedprice").cast(_DEC)
        * (F.lit(1).cast(_DEC) - F.col("l_discount").cast(_DEC))
    )
    return (
        view.groupBy(
            F.year("o_orderdate").cast("int").alias("yr"),
            F.month("o_orderdate").cast("int").alias("mo"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(rev).cast("double").alias("revenue"),
        )
    )


def q_streaming_bpe_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-health monitoring: the documents table arrives as 3
    deterministic batches (doc_id thirds); each batch is encoded
    through the FROZEN BPE merge list at ingest and appends one
    metrics row — fertility (BPE tokens per word), fragmentation
    count, and fertility drift vs all prior batches pooled.  The
    oracle re-tokenizes with the same frozen merges expressed as a
    static chain of non-overlapping replace() calls (provably the
    same semantics as the fold — see streaming/bpe_drift.py)."""
    from heatmap_spark.sources.tables import load_table
    from heatmap_spark.streaming.bpe_drift import (
        merge_batch_into_bpe_store,
        read_bpe_drift,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mx = docs.agg(F.max("doc_id")).first()[0] + 1
    store = _scratch_dir("bpe_store_q_") + "/store"
    for b in range(3):
        batch = docs.where(F.expr(f"CAST(doc_id * 3 DIV {mx} AS INT)") == b)
        merge_batch_into_bpe_store(spark, batch, store, b)
    return read_bpe_drift(spark, store)


def q_streaming_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental entity resolution: the dirty multi-source record set
    arrives as 3 deterministic batches (rec_id mod 3, so most variants
    land in a different batch than their original — the cross-batch
    match is the point); each batch's edges are discovered at ingest
    against the accumulated store, with a mid-stream compaction.  The
    final assignment must equal the one-shot batch ER — the SAME
    DuckDB oracle hash-gates both."""
    from heatmap_spark.operators.entity import dirty_customer_records
    from heatmap_spark.streaming.entity_store import (
        compact_entity_store,
        merge_batch_into_entity_store,
        read_entity_assignments,
    )

    records = dirty_customer_records(spark, sf_dir)
    store = _scratch_dir("entity_store_q_") + "/store"
    for b in range(3):
        batch = records.where(F.col("rec_id") % 3 == b)
        merge_batch_into_entity_store(spark, batch, store, b)
        if b == 1:
            compact_entity_store(spark, store)
    return read_entity_assignments(spark, store)


def q_streaming_graph_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental GRAPH-ANN index maintenance (the streaming HNSW
    twin of q_streaming_ann_index's IVFPQ store): embeddings arrive as
    3 deterministic batches; batch 0 seeds a full NN-Descent build,
    later batches run the batched insertion search (coarse reps →
    graph-neighborhood expansion → random-bucket draw) and refresh
    only the touched old nodes — per-batch cost O(batch·degree²),
    nothing proportional to accumulated edges.  Serving brute-forces
    the hash-promoted coarse member set as the entry selector and
    beam-searches the maintained graph (compaction folded mid-stream,
    so the read spans base + partial).  Rows-only with a raise pin:
    recall@5 vs exact brute force must stay ≥ 0.8 (measured 0.98/1.00
    at the two fixtures — the incremental insertion search scores
    MORE direct candidates per node than the one-shot build's 0.96)."""
    from heatmap_spark.operators.similarity import knn_cosine_df
    from heatmap_spark.sources.tables import load_table
    from heatmap_spark.streaming.graph_store import (
        compact_graph_store,
        merge_batch_into_graph_store,
        search_graph_store,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    mx = emb.agg(F.max("vec_id")).first()[0] + 1
    store = _scratch_dir("graph_store_q_") + "/store"
    for b in range(3):
        batch = emb.where(F.expr(f"CAST(vec_id * 3 DIV {mx} AS INT)") == b)
        merge_batch_into_graph_store(spark, batch, store, b)
        if b == 1:
            # mid-stream LSM fold — the serving read below spans
            # (compacted base + 1 partial), like the sibling stores
            compact_graph_store(spark, store)
    exact = knn_cosine_df(emb, 10, 5).select("query_id", "neighbor_id")
    n_exact = exact.count()
    got = search_graph_store(spark, store)
    hits = exact.join(
        got.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]
    ).count()
    recall = round(hits / n_exact, 6)
    if recall < 0.8:
        raise AssertionError(
            f"streamed graph-ANN recall@5 is {recall} < pinned 0.8"
        )
    return spark.createDataFrame([(3, recall)], "n_batches int, recall double")


def q_streaming_ann_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN-index maintenance: embeddings arrive as 3
    deterministic batches (vec_id ranges); batch 0 trains the frozen
    IVFPQ model, every batch encodes through it into the codes store.
    Because the model is frozen and encode is per-row deterministic,
    the store must be BIT-IDENTICAL to a one-shot ivfpq_build trained
    on the same prefix — asserted here on every run (the
    raise-on-regression gate for this rows-only query).  Returns
    per-bucket code counts."""
    from heatmap_spark.operators.similarity import ivfpq_build
    from heatmap_spark.sources.tables import load_table
    from heatmap_spark.streaming.ann_store import (
        compact_ann_store,
        merge_batch_into_ann_store,
        read_ann_codes,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    n = emb.count()
    n0 = (n + 2) // 3
    store = _scratch_dir("ann_store_q_") + "/store"
    bounds = [(0, n0), (n0, 2 * n0), (2 * n0, n + 1)]
    for b, (lo, hi) in enumerate(bounds):
        batch = emb.where((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        merge_batch_into_ann_store(spark, batch, store, b)
    compact_ann_store(spark, store)
    got = read_ann_codes(spark, store).select("vec_id", "bucket", "codes")
    _, _, want = ivfpq_build(emb, train_iters=1, train_sample_n=n0)
    want = want.select("vec_id", "bucket", "codes")
    if not (got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()):
        raise AssertionError(
            "streamed ANN store diverged from the one-shot frozen-model build"
        )
    return (
        got.groupBy("bucket")
        .agg(F.count("*").cast("bigint").alias("n_vecs"))
        .select(F.col("bucket").cast("int"), "n_vecs")
    )


def q_streaming_ann_opq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming ANN store's OPQ arm (the FAISS ``OPQ,IVF,PQ``
    chain as an incremental index): batch 0 trains the frozen model
    INCLUDING the learned residual rotation, every batch
    rotates-then-encodes through it — per-batch cost identical to the
    plain-IVFPQ arm because the rotation fuses into the encode scan.

    Rows-only with two raise pins: (1) the streamed codes must be
    BIT-IDENTICAL to a one-shot ivfpq_opq_build trained on the same
    prefix (frozen model + per-row-deterministic encode, the same
    contract q_streaming_ann_index pins for the unrotated arm — no
    DuckDB oracle can replay the learned SVD rotation, which is why
    this is rows-only); (2) a search served from the store (rotation
    reloaded from parquet, handed to ivfpq_topk's R= hook) must clear
    the family's recall floor vs exact brute force.  Returns
    per-bucket code counts."""
    from heatmap_spark.operators.similarity import (
        ivfpq_opq_build,
        knn_cosine_df,
    )
    from heatmap_spark.sources.tables import load_table
    from heatmap_spark.streaming.ann_store import (
        ann_store_topk,
        compact_ann_store,
        merge_batch_into_ann_store,
        read_ann_codes,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    n = emb.count()
    n0 = (n + 2) // 3
    store = _scratch_dir("ann_opq_store_q_") + "/store"
    bounds = [(0, n0), (n0, 2 * n0), (2 * n0, n + 1)]
    for b, (lo, hi) in enumerate(bounds):
        batch = emb.where((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        merge_batch_into_ann_store(
            spark, batch, store, b, opq=True, opq_iters=2
        )
        if b == 1:
            compact_ann_store(spark, store)
    got = read_ann_codes(spark, store).select("vec_id", "bucket", "codes")
    _, _, _, want = ivfpq_opq_build(
        emb, opq_iters=2, train_iters=1, train_sample_n=n0
    )
    want = want.select("vec_id", "bucket", "codes")
    if not (got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()):
        raise AssertionError(
            "streamed OPQ ANN store diverged from the one-shot "
            "frozen-model ivfpq_opq_build"
        )
    exact = knn_cosine_df(emb, 10, 5).select("query_id", "neighbor_id")
    n_exact = exact.count()
    # full probe: measures the frozen OPQ quantizer's quality (the
    # family bar ivfpq_opq_recall pins at 0.75 full-probe when trained
    # on the whole corpus; the store trains on the FIRST THIRD, so the
    # floor carries the prefix-training discount)
    served = ann_store_topk(spark, store, emb, nprobe=8)
    hits = exact.join(
        served.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]
    ).count()
    if n_exact and hits / n_exact < 0.6:
        raise AssertionError(
            f"OPQ-store served recall@5 {hits / n_exact:.3f} < pinned 0.6"
        )
    return (
        got.groupBy("bucket")
        .agg(F.count("*").cast("bigint").alias("n_vecs"))
        .select(F.col("bucket").cast("int"), "n_vecs")
    )


def q_dense_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-DBSCAN hotspots at zoom 6: dense cells (≥3 points) merged
    into regions via 8-neighbor connected components."""
    return pyr.dense_regions(load_locations(spark, sf_dir), zoom=6, min_count=3)


def q_curation_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE pretraining-data refresh as one Catalyst plan:
    quality gate (lang/length) → benchmark decontamination (5-gram
    broadcast semi-join) → MinHash-LSH near-dup removal (keep lowest
    id) → deterministic md5 split → RAG chunking.

    Every stage is one of this repo's operators chained as DataFrames,
    so the optimizer sees the whole DAG: the quality predicates push
    into the scan, the benchmark-shingle and dupe sets ride broadcast
    joins, and the chunker is a map-only tail.  Output: one row per
    surviving CHUNK with its split assignment — exactly what a
    downstream tokenizer job consumes.  The DuckDB oracle runs the
    identical five stages, so the end-to-end composition (not just
    each stage) is hash-checked."""
    from heatmap_spark.operators.textops import chunk_documents_df
    from heatmap_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    keep = docs.where((F.col("lang") == "en") & (F.col("n_chars") >= 150))
    clean = (
        dedup.decontaminate(spark, sf_dir).where(F.col("keep")).select("doc_id")
    )
    dupes = (
        dedup.minhash_lsh_candidates(spark, sf_dir)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    surv = keep.join(clean, "doc_id", "left_semi").join(
        F.broadcast(dupes), "doc_id", "left_anti"
    )
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    split = (
        F.when(h <= "c", F.lit("train"))
        .when(h <= "e", F.lit("val"))
        .otherwise(F.lit("test"))
    )
    chunks = chunk_documents_df(surv.select("doc_id", "text"))
    return chunks.join(
        surv.select("doc_id", split.alias("split")), "doc_id"
    ).select("doc_id", "split", "chunk_idx", "chunk_text", "n_chunk_tokens")


def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton keys for the distinct zoom-12 tile set — the layout key
    operators/layout.cluster_by_zorder writes by (pure integer
    interleave, bit-identical in DuckDB)."""
    loc = load_locations(spark, sf_dir)
    t12 = (
        loc.where(F.col("source") != "background")
        .select(
            tl.tile_row("latitude", 12).alias("row"),
            tl.tile_col("longitude", 12).alias("col"),
        )
        .distinct()
    )
    return t12.select("row", "col", tl.z_value("row", "col", 12).alias("zkey"))


def q_hilbert_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert keys for the distinct zoom-12 tile set — the
    locality-preserving layout twin of q_zorder_key (see
    functions/tiles.hilbert_value)."""
    loc = load_locations(spark, sf_dir)
    t12 = (
        loc.where(F.col("source") != "background")
        .select(
            tl.tile_row("latitude", 12).alias("row"),
            tl.tile_col("longitude", 12).alias("col"),
        )
        .distinct()
    )
    return t12.select("row", "col", tl.hilbert_value("row", "col", 12).alias("hkey"))


def q_heatmap_topk_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 densest tiles at zoom 12 ('all' group): pyramid + top-k."""
    df = pyr.build_pyramid(
        load_locations(spark, sf_dir), mode="explode", min_zoom=12, max_zoom=12
    )
    return (
        df.where(F.col("user_group") == "all")
        .orderBy(F.desc("visits"), "row", "col")
        .limit(10)
        .select(
            tl.tile_id_from_zrc(F.col("zoom"), F.col("row"), F.col("col")).alias("tile_id"),
            "visits",
        )
    )


def q_heatmap_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unique users per zoom-8 tile (the SURVEY §2.8 'unique visitors'
    variant — exact count distinct; the HLL twin is q_approx_distinct)."""
    ing = pyr.ingest_locations(load_locations(spark, sf_dir), detail_zoom=8)
    return ing.groupBy("row", "col").agg(
        F.countDistinct("user_id").alias("n_users"), F.sum("weight").alias("visits")
    ).select(
        tl.tile_id_from_zrc(F.lit(8), F.col("row"), F.col("col")).alias("tile_id"),
        "n_users",
        "visits",
    )


def q_heatmap_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental pyramid maintenance: split locations into a 'base'
    half and a 'delta' half (by event parity via timestamp_ms), build
    each pyramid independently, then merge — the result must equal the
    full recompute, which IS the oracle (_PYRAMID_SQL)."""
    loc = load_locations(spark, sf_dir)
    base = pyr.build_pyramid(loc.where(F.col("timestamp_ms") % 2 == 0), mode="explode")
    delta = pyr.build_pyramid(loc.where(F.col("timestamp_ms") % 2 == 1), mode="explode")
    return pyr.pyramid_merge(base, delta)


def q_heatmap_bbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read-path query: visit counts for tiles intersecting a lat/lon
    bounding box at zoom 12 — the serving-side lookup a map client does
    (tile-range predicate = integer row/col between bounds, sargable)."""
    lat_n, lat_s, lon_w, lon_e = 40.0, -40.0, -90.0, 90.0
    df = pyr.build_pyramid(
        load_locations(spark, sf_dir), mode="explode", min_zoom=12, max_zoom=12
    )
    r_min = tl.tile_row(F.lit(lat_n), 12)  # north edge → smaller row
    r_max = tl.tile_row(F.lit(lat_s), 12)
    c_min = tl.tile_col(F.lit(lon_w), 12)
    c_max = tl.tile_col(F.lit(lon_e), 12)
    return df.where(
        (F.col("user_group") == "all")
        & F.col("row").between(r_min, r_max)
        & F.col("col").between(c_min, c_max)
    ).select(
        tl.tile_id_from_zrc(F.col("zoom"), F.col("row"), F.col("col")).alias("tile_id"),
        "visits",
    )


def q_heatmap_drilldown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read-path drill-down: the 4 children (zoom 9) of every zoom-8
    tile with ≥ 2 visits, with the parent id attached — the quadtree
    navigation step (children = integer (2r+{0,1}, 2c+{0,1}), exact
    per functions/tiles.tile_children).  Threshold 2 = the sf0.01
    maximum (VERDICT r10: the old ≥20 matched the oracle only on
    empty results), so the join logic is exercised at driver scale.
    """
    df = pyr.build_pyramid(
        load_locations(spark, sf_dir), mode="explode", min_zoom=8, max_zoom=9
    )
    hot = df.where((F.col("zoom") == 8) & (F.col("user_group") == "all") & (F.col("visits") >= 2)).select(
        F.col("row").alias("p_row"), F.col("col").alias("p_col")
    )
    kids = df.where((F.col("zoom") == 9) & (F.col("user_group") == "all"))
    return kids.join(
        F.broadcast(hot),
        (F.shiftright(kids.row, 1) == hot.p_row) & (F.shiftright(kids.col, 1) == hot.p_col),
    ).select(
        tl.tile_id_from_zrc(F.lit(8), F.col("p_row"), F.col("p_col")).alias("parent_id"),
        tl.tile_id_from_zrc(F.lit(9), F.col("row"), F.col("col")).alias("child_id"),
        "visits",
    )


def _run_stream(spark: SparkSession, stream_df, name: str, mode: str):
    """Drive a stream through the memory sink and return the batch table.

    Stateful streaming disables AQE, so the state-store partition count
    comes straight from spark.sql.shuffle.partitions — 200 on a plain
    driver session, which is 200 tiny state tasks per micro-batch at
    fixture scale.  Pin a sane count for the stream's lifetime and
    restore the caller's setting afterwards (results are partition-count
    independent by construction).
    """
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "32")
    try:
        q = (
            stream_df.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    return spark.table(name)


def _run_stream_to_table(spark: SparkSession, stream_df, name: str):
    return _run_stream(spark, stream_df, name, "complete")


def q_streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming tumbling-window counts, driven to completion
    through the memory sink and returned as a batch result — the
    streaming path IS the declared query."""
    from heatmap_spark.streaming import incremental as S

    return _run_stream_to_table(
        spark,
        S.streaming_tumbling_counts(S.read_events_stream(spark, sf_dir)),
        "q_streaming_tumbling_sink",
    )


def q_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session_window aggregation (gap 60 min) via memory sink."""
    from heatmap_spark.streaming import incremental as S

    return _run_stream_to_table(
        spark,
        S.streaming_session_stats(S.read_events_stream(spark, sf_dir), gap="60 minutes"),
        "q_streaming_sessions_sink",
    )


def q_streaming_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental windowed heatmap at zoom 10 via memory sink."""
    from heatmap_spark.streaming import incremental as S

    return _run_stream_to_table(
        spark,
        S.streaming_tile_counts(
            S.derive_locations_stream(S.read_events_stream(spark, sf_dir)),
            zoom=10,
            window="60 minutes",
        ),
        "q_streaming_heatmap_sink",
    )


def q_streaming_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user cumulative counts; with one micro-batch over the fixture
    the converged state equals the batch groupBy — the oracle."""
    from heatmap_spark.streaming import incremental as S
    from heatmap_spark.streaming.stateful import running_user_counts

    return _run_stream(
        spark,
        running_user_counts(S.read_events_stream(spark, sf_dir)),
        "q_streaming_stateful_sink",
        "update",
    )


def q_streaming_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming funnel state machine (applyInPandasWithState): with one
    micro-batch over the fixture the converged per-user stage
    timestamps equal the batch funnel windows — the oracle."""
    from heatmap_spark.streaming import incremental as S
    from heatmap_spark.streaming.stateful import funnel_states

    return _run_stream(
        spark,
        funnel_states(S.read_events_stream(spark, sf_dir)),
        "q_streaming_funnel_sink",
        "update",
    )


def _run_stream_append(spark: SparkSession, stream_df, name: str):
    """Drive an append-mode stream (joins, dedup) through the memory sink."""
    return _run_stream(spark, stream_df, name, "append")


def q_streaming_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join (clicks × prior views),
    emitted append-mode through the memory sink."""
    from heatmap_spark.streaming import incremental as S

    return _run_stream_append(
        spark,
        S.streaming_click_view_join(S.read_events_stream(spark, sf_dir)),
        "q_streaming_join_sink",
    )


def q_streaming_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: purchase events joined per micro-batch
    to the (broadcastable) customer dimension — zero streaming state."""
    from heatmap_spark.sources.tables import load_table
    from heatmap_spark.streaming import incremental as S

    customer = load_table(spark, sf_dir, "customer")
    n_cust = customer.count()
    return _run_stream_append(
        spark,
        S.streaming_static_enrich(
            S.read_events_stream(spark, sf_dir), customer, n_cust
        ),
        "q_streaming_enrich_sink",
    )


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicatesWithinWatermark over (user_id, event_type)."""
    from heatmap_spark.streaming import incremental as S

    return _run_stream_append(
        spark,
        S.streaming_distinct_pairs(S.read_events_stream(spark, sf_dir)),
        "q_streaming_dedup_sink",
    )


_SPARK_PYRAMID_SQL = """
WITH pts AS (
  SELECT
    CAST(floor((1 - ln(tan(latitude*pi()/180) + 1/cos(latitude*pi()/180))/pi())/2 * 2097152.0) AS BIGINT) AS row21,
    CAST(floor((longitude + 180.0)/360.0 * 2097152.0) AS BIGINT) AS col21,
    user_id, weight
  FROM {locations} WHERE source <> 'background'),
grouped AS (
  SELECT explode(CASE WHEN user_id LIKE 'x%' THEN array('all')
                      WHEN user_id LIKE 'rt-%' THEN array('all', 'route')
                      ELSE array('all', user_id) END) AS user_group,
         row21, col21, weight
  FROM pts),
leveled AS (
  SELECT user_group, 'alltime' AS timespan, zoom,
         CAST(floor(row21 / pow(2.0, CAST(21 - zoom AS DOUBLE))) AS BIGINT) AS row,
         CAST(floor(col21 / pow(2.0, CAST(21 - zoom AS DOUBLE))) AS BIGINT) AS col,
         weight
  FROM grouped LATERAL VIEW explode(sequence(6, 21)) z AS zoom)
SELECT user_group, timespan, zoom, row, col, sum(weight) AS visits
FROM leveled GROUP BY user_group, timespan, zoom, row, col
"""


def q_heatmap_pyramid_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full pyramid through the raw SQL-string surface (spark.sql
    over a registered locations view) — every engine capability is
    reachable from SQL, not just the DataFrame API."""
    v = register_sf_view(load_locations(spark, sf_dir), "__hs_locations", sf_dir)
    return spark.sql(_SPARK_PYRAMID_SQL.format(locations=v))


_SPARK_RECURSIVE_PYRAMID = """
WITH RECURSIVE pts AS (
  SELECT
    CAST(floor((1 - ln(tan(latitude*pi()/180) + 1/cos(latitude*pi()/180))/pi())/2 * 2097152.0) AS BIGINT) AS row21,
    CAST(floor((longitude + 180.0)/360.0 * 2097152.0) AS BIGINT) AS col21,
    weight
  FROM {locations} WHERE source <> 'background'),
seed AS (
  SELECT row21 AS row, col21 AS col, sum(weight) AS visits
  FROM pts GROUP BY row21, col21),
walk(zoom, row, col, visits) AS (
  SELECT 21 AS zoom, row, col, visits FROM seed
  UNION ALL
  SELECT zoom - 1, shiftright(row, 1), shiftright(col, 1), visits
  FROM walk WHERE zoom > 6)
SELECT CAST(zoom AS INTEGER) AS zoom, row, col, sum(visits) AS visits
FROM walk GROUP BY zoom, row, col
"""


def q_recursive_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tile rollup expressed as a WITH RECURSIVE CTE (new SQL
    surface in Spark 4): seed = zoom-21 per-tile sums, each step halves
    row/col (integer-shift parent, functions/tiles.py F8), final
    aggregate collapses each level.  Same iterative-rollup semantics as
    the reference's driver loop (reference heatmap.py:107-118) but
    declared in one SQL statement; DuckDB runs the identical recursion
    as the oracle.  The DataFrame cascade (operators/pyramid.py) remains
    the production path — this pins the SQL-recursion capability."""
    v = register_sf_view(load_locations(spark, sf_dir), "__hs_locations", sf_dir)
    return spark.sql(_SPARK_RECURSIVE_PYRAMID.format(locations=v))


# shingle postings CTE shared by the dedup oracles
_SHINGLES_CTE = """toks AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
    range(1, len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) - 1),
    i -> list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')[i] || ' ' ||
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')[i+1] || ' ' ||
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')[i+2]))) AS token
  FROM documents)"""

# MinHash signatures → bands → capped candidate pairs, shared by every
# LSH-derived oracle.  Mirrors operators/dedup exactly: one md5 per
# shingle split into two 48-bit ints (Kirsch–Mitzenmacher double
# hashing), hash_i = (h1 + i·h2) mod 2^48, 4 bands × 4 rows, buckets
# capped at 64 members before pair expansion.
_LSH_CAND_CTE = """sigs AS (
  SELECT doc_id, s.salt,
    min((CAST(('0x' || substr(md5(token), 1, 12)) AS BIGINT)
         + s.salt * CAST(('0x' || substr(md5(token), 13, 12)) AS BIGINT))
        % 281474976710656) AS minhash
  FROM toks CROSS JOIN generate_series(0, 15) AS s(salt)
  GROUP BY doc_id, s.salt),
bands AS (
  SELECT doc_id, CAST(salt // 4 AS INTEGER) AS band,
    string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY salt) AS band_sig
  FROM sigs GROUP BY doc_id, CAST(salt // 4 AS INTEGER)),
ok_buckets AS (
  SELECT band, band_sig FROM bands
  GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND 64),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
  JOIN ok_buckets ob ON ob.band = a.band AND ob.band_sig = a.band_sig
  GROUP BY 1, 2)"""


# Deterministic IVF multi-bucketed candidate pairs over the embeddings
# table — shared by the embedding near-dup and semantic-dedup oracles.
# Mirrors operators/similarity.embedding_near_dup_pairs_df exactly: seed
# codebook = per-coordinate means over vec_id % 8 groups, each vector
# assigned to its top-2 buckets by dot affinity (ties to the lowest
# bucket), pairs restricted to shared buckets.
_EMB_PAIRS_CTE = """emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
pos AS (
  SELECT vec_id % 8 AS b, generate_subscripts(vec, 1) AS i, unnest(vec) AS x
  FROM emb),
cent AS (SELECT b, i, avg(x) AS m FROM pos GROUP BY 1, 2),
cvec AS (SELECT b, list(m ORDER BY i) AS centroid FROM cent GROUP BY b),
affs AS (
  SELECT e.vec_id, e.vec, c.b,
    list_sum(list_transform(range(1, len(e.vec) + 1), i -> e.vec[i] * c.centroid[i])) AS aff
  FROM emb e CROSS JOIN cvec c),
assigned AS (
  SELECT vec_id, vec, b AS bucket FROM (
    SELECT vec_id, vec, b,
      row_number() OVER (PARTITION BY vec_id ORDER BY aff DESC, b) AS rn
    FROM affs) WHERE rn <= 2),
pairs AS (
  SELECT DISTINCT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
    list_sum(list_transform(range(1, len(a.vec) + 1), i -> a.vec[i] * b.vec[i])) /
    (sqrt(list_sum(list_transform(range(1, len(a.vec) + 1), i -> a.vec[i] * a.vec[i]))) *
     sqrt(list_sum(list_transform(range(1, len(b.vec) + 1), i -> b.vec[i] * b.vec[i])))) AS raw
  FROM assigned a JOIN assigned b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

def _sql_tile_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile aggregation written as a raw SQL string over the SQL-function
    surface (functions/sqludf.py) — proves the engine's tile math is
    reachable from spark.sql with no Python on the hot path."""
    from heatmap_spark.functions.sqludf import register_sql_functions

    register_sql_functions(spark)
    v = register_sf_view(load_locations(spark, sf_dir), "__hm_loc_sqludf", sf_dir)
    return spark.sql(
        f"""
        SELECT tile_id(latitude, longitude, 7) AS tid,
               tile_parent(tile_id(latitude, longitude, 7), 3) AS parent_tid,
               count(*) AS n_points
        FROM {v}
        WHERE source <> 'background'
        GROUP BY 1, 2
        """
    )


def _tile_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8-F10 as a declared query: parent, children (reference
    tile.py:88-98 quadrant order), and ancestor count for the distinct
    zoom-5 tiles of the corpus."""
    loc = load_locations(spark, sf_dir).where(F.col("source") != "background")
    t5 = loc.select(tl.tile_id("latitude", "longitude", 5).alias("tid")).distinct()
    return t5.select(
        "tid",
        tl.tile_parent(F.col("tid"), 1).alias("parent_tid"),
        F.concat_ws(",", tl.tile_children(F.col("tid"))).alias("children_csv"),
        F.size(
            tl.tile_ancestors(F.col("tid"), max_zoom=4, min_zoom=0)
        ).alias("n_ancestors"),
    )


def _recursive_cte_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pyramid rollup as a TRUE SQL recursive CTE (Spark 4's WITH
    RECURSIVE): each zoom-10 tile recursively emits its ancestors down
    to zoom 6 (pure projection in the recursive term — standard SQL
    forbids aggregation there), aggregated once outside.  Declarative
    twin of the iterative DataFrame cascade (operators/pyramid) and of
    the driver-side loop in q_recursive_pyramid; DuckDB runs the
    identical statement, so the recursion itself is hash-checked.

    Scale note: the recursive explode is the same row expansion as
    pyramid_explode (bounded by zoom depth), but Spark materializes
    each recursion step — the single-aggregation explode stays the
    production plan; this pins the SQL surface."""
    from heatmap_spark.sources.locations import load_locations

    v = register_sf_view(load_locations(spark, sf_dir), "__hm_loc_rec", sf_dir)
    return spark.sql(
        f"""
        WITH RECURSIVE base AS (
          SELECT 10 AS zoom,
                 CAST(floor((1 - ln(tan(radians(latitude)) + 1/cos(radians(latitude)))/pi())/2 * 1024.0) AS BIGINT) AS row,
                 CAST(floor((longitude + 180.0)/360.0 * 1024.0) AS BIGINT) AS col,
                 weight
          FROM {v} WHERE source <> 'background'),
        lineage AS (
          SELECT zoom, row, col, weight FROM base
          UNION ALL
          SELECT zoom - 1, CAST(floor(row / 2.0) AS BIGINT),
                 CAST(floor(col / 2.0) AS BIGINT), weight
          FROM lineage WHERE zoom > 6)
        SELECT zoom, row, col, sum(weight) AS visits
        FROM lineage GROUP BY 1, 2, 3
        """
    )


def _param_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter SQL (spark.sql(..., args=...)): parameters bind
    as literals into the plan — same pushdown/pruning as hand-inlined
    SQL, no string splicing.  The oracle is the identical statement
    with the literals written out."""
    from heatmap_spark.sources.tables import load_table

    v = register_sf_view(
        load_table(spark, sf_dir, "lineitem"), "__hm_li_param", sf_dir
    )
    return spark.sql(
        f"""
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS total_qty
        FROM {v}
        WHERE l_quantity >= :min_qty AND l_discount BETWEEN :lo AND :hi
        GROUP BY l_returnflag
        """,
        args={"min_qty": 25, "lo": 0.02, "hi": 0.08},
    )


def _group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modern SQL surface: GROUP BY ALL (grouping keys inferred from
    the non-aggregate select items) — runs identically in Spark 4 and
    DuckDB, so the surface itself is hash-checked."""
    from heatmap_spark.sources.tables import load_table

    v = register_sf_view(
        load_table(spark, sf_dir, "orders"), "__hm_ord_gba", sf_dir
    )
    return spark.sql(
        f"""
        SELECT *, round(avg_price / 1000.0, 6) AS avg_price_k
        FROM (
          SELECT o_orderpriority, o_orderstatus,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total,
                 CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_price
          FROM {v}
          GROUP BY ALL)
        """
    )


def _cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO emulation (operators/layout.merge_upsert) applied to a
    deterministic change set: every orderkey ending in 0 is deleted,
    every one ending in 1 is re-priced +1000."""
    from heatmap_spark.operators.layout import merge_upsert
    from heatmap_spark.sources.tables import load_table

    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    changes = (
        load_table(spark, sf_dir, "orders")
        .where((F.col("o_orderkey") % 10).isin(0, 1))
        .select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 10 == 0, F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("op"),
            "o_orderstatus",
            (F.col("o_totalprice") + 1000.0).alias("o_totalprice"),
        )
    )
    return merge_upsert(base, changes, keys=["o_orderkey"], op_col="op")


def _approx_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitters via approx_top_k (SQL-only in Spark 4.1): one pass,
    bounded sketch state per partition.  With k >= the column's true
    cardinality the sketch is exact, which makes this oracle-checkable;
    at real scale (top URLs over 100 TB) the same call with k << NDV
    returns the approximate heavy hitters with fixed memory."""
    from heatmap_spark.sources.tables import load_table

    v = register_sf_view(
        load_table(spark, sf_dir, "events"), "__hm_ev_topk", sf_dir
    )
    # assert_true guards the exactness precondition (k=5 >= true NDV of
    # event_type): if the fixture ever grows a sixth event type, the
    # query FAILS LOUDLY instead of silently diverging from the exact
    # oracle.  assert_true(true) is NULL, so the WHERE is a no-op.
    return spark.sql(
        f"""
        SELECT t.item AS event_type, t.count AS cnt
        FROM (SELECT explode(approx_top_k(event_type, 5)) AS t
              FROM {v})
        WHERE assert_true(
            (SELECT count(DISTINCT event_type) FROM {v}) <= 5,
            'approx_top_k exactness precondition: NDV(event_type) > k'
        ) IS NULL
        """
    )


# Exact brute-force kNN oracle — shared by q_knn_cosine and
# q_knn_cosine_ivf_exact (nprobe=all IVF provably equals brute force).
_KNN_EXACT_SQL = """WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
q AS (SELECT vec_id AS query_id, vec AS qvec FROM emb WHERE vec_id < 10),
scored AS (
  SELECT query_id, e.vec_id AS neighbor_id,
    round(
      list_sum(list_transform(range(1, len(qvec) + 1), i -> qvec[i] * e.vec[i])) /
      (sqrt(list_sum(list_transform(range(1, len(qvec) + 1), i -> qvec[i] * qvec[i]))) *
       sqrt(list_sum(list_transform(range(1, len(e.vec) + 1), i -> e.vec[i] * e.vec[i])))),
      6) AS cosine
  FROM emb e CROSS JOIN q WHERE e.vec_id <> query_id),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
  FROM scored)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5"""


# Shared oracle for batch AND streaming entity resolution — the
# streamed store must produce the identical assignment.
_ER_ORACLE = """WITH RECURSIVE records AS (
  SELECT CAST(c_custkey AS BIGINT) AS rec_id, c_name AS name,
         CAST(c_nationkey AS INTEGER) AS nation, c_mktsegment AS segment,
         CAST(c_acctbal AS DOUBLE) AS bal, 'src' AS source
  FROM customer
  UNION ALL
  SELECT CAST(c_custkey + 2000000 AS BIGINT), lower(c_name) || 'x',
         CAST(c_nationkey AS INTEGER), c_mktsegment,
         CAST(c_acctbal AS DOUBLE) + 0.25, 'crm'
  FROM customer WHERE c_custkey % 3 = 0),
cand AS (
  SELECT a.rec_id AS u, b.rec_id AS v
  FROM records a JOIN records b
    ON a.nation = b.nation AND a.segment = b.segment AND a.rec_id < b.rec_id
   AND abs(a.bal - b.bal) <= 1.0
   AND levenshtein(lower(a.name), lower(b.name)) <= 1),
edges AS (SELECT u, v FROM cand UNION SELECT v, u FROM cand),
reach(node, lab) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
  UNION
  SELECT e.u, r.lab FROM edges e JOIN reach r ON e.v = r.node),
lab AS (SELECT node, min(lab) AS entity_id FROM reach GROUP BY node),
assigned AS (
  SELECT r.rec_id, r.source, COALESCE(l.entity_id, r.rec_id) AS entity_id
  FROM records r LEFT JOIN lab l ON r.rec_id = l.node),
stats AS (
  SELECT entity_id, CAST(count(*) AS BIGINT) AS n_members,
         CAST(count(DISTINCT source) AS BIGINT) AS n_sources
  FROM assigned GROUP BY entity_id)
SELECT a.rec_id, a.source, a.entity_id, s.n_members, s.n_sources
FROM assigned a JOIN stats s USING (entity_id)"""


# A4 (reference heatmap.py:128-129): shared by q_heatmap_table and the
# end-to-end rowstore pipeline twin — the engine builds the JSON via
# to_json over map_from_entries(array_sort(struct(row, col, visits))),
# so entry order is pinned to NUMERIC detail (row, col); string_agg
# with the same ORDER BY reproduces the byte-identical string.
_HEATMAP_TABLE_SQL = f"""WITH {_LOC_CTE},\n{_PTS_CTE},\n{_EXPANDED_CTE},
leveled AS ({_LEVELED_AGG})
SELECT user_group || '|' || timespan || '|' ||
         CAST(zoom - 5 AS VARCHAR) || '_' || CAST(CAST(floor(row/32.0) AS BIGINT) AS VARCHAR) || '_' || CAST(CAST(floor(col/32.0) AS BIGINT) AS VARCHAR) AS id,
       '{{' || string_agg(
           '"' || CAST(zoom AS VARCHAR) || '_' || CAST(row AS VARCHAR) || '_' || CAST(col AS VARCHAR) || '":' || CAST(visits AS VARCHAR),
           ',' ORDER BY row, col) || '}}' AS heatmap
FROM leveled GROUP BY 1"""

_PHASH_CTES = """m AS (
  SELECT doc_id, strlen(text) AS L, text,
         CAST((strlen(text) % 64) + 1 AS INTEGER) AS w
  FROM documents),
dims AS (
  SELECT doc_id, L, text, w,
         CAST(greatest(1, CAST(ceil(L / CAST(w AS DOUBLE)) AS BIGINT)) AS INTEGER) AS h
  FROM m),
big AS (SELECT * FROM dims WHERE h >= 8 AND w >= 8),
pix AS (
  SELECT doc_id, unnest(range(0, CAST(h AS BIGINT) * w)) AS k
  FROM big),
pv AS (
  SELECT b.doc_id, b.w, b.h,
    (8 * (k // b.w)) // b.h AS i, (8 * (k % b.w)) // b.w AS j,
    CASE WHEN k < b.L THEN ascii(substr(b.text, CAST(k + 1 AS INTEGER), 1))
         ELSE 32 END AS v
  FROM pix p JOIN big b ON p.doc_id = b.doc_id),
cells AS (
  SELECT doc_id, w, h, i, j, sum(v) AS s, count(*) AS cnt
  FROM pv GROUP BY 1, 2, 3, 4, 5),
cm AS (SELECT doc_id, w, h, i, j, s // cnt AS mean FROM cells),
thr AS (SELECT doc_id, sum(mean) // 64 AS thr FROM cm GROUP BY 1),
bits AS (
  SELECT cm.doc_id, w, h,
    string_agg(CASE WHEN mean > thr THEN '1' ELSE '0' END, ''
               ORDER BY i, j) AS phash,
    CAST(sum(CASE WHEN mean > thr THEN 1 ELSE 0 END) AS INTEGER) AS n_set
  FROM cm JOIN thr ON cm.doc_id = thr.doc_id GROUP BY 1, 2, 3)"""


_TFIDF_SERVE_ORACLE = """WITH toks AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents),
terms AS (SELECT doc_id, unnest(toks) AS term FROM toks),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM terms
  WHERE term IN ('spark', 'join', 'table') GROUP BY 1, 2),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
nd AS (SELECT count(*) AS n_docs FROM documents),
contrib AS (
  SELECT doc_id, term, tf * ln(CAST(n_docs AS DOUBLE) / df) AS c
  FROM tf JOIN dfq USING (term) CROSS JOIN nd),
per AS (
  SELECT doc_id,
    sum(CASE WHEN term = 'spark' THEN c END) AS s1,
    sum(CASE WHEN term = 'join' THEN c END) AS s2,
    sum(CASE WHEN term = 'table' THEN c END) AS s3
  FROM contrib GROUP BY doc_id)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  round(coalesce(s1, 0.0) + coalesce(s2, 0.0) + coalesce(s3, 0.0), 6) AS tfidf,
  CAST((s1 IS NOT NULL)::INTEGER + (s2 IS NOT NULL)::INTEGER
       + (s3 IS NOT NULL)::INTEGER AS INTEGER) AS n_terms
FROM per ORDER BY tfidf DESC, doc_id LIMIT 20"""


_CMS_ORACLE = """WITH toks AS (
  SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS tk
  FROM documents),
tok AS (SELECT unnest(tk) AS token FROM toks),
h AS (
  SELECT token,
    CAST(('0x' || substr(md5(token), 1, 12)) AS BIGINT) AS h1,
    CAST(('0x' || substr(md5(token), 13, 12)) AS BIGINT) AS h2
  FROM tok),
cells AS (
  SELECT j, (h1 + j * h2) % 256 AS col, count(*) AS cnt
  FROM h CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j)
  GROUP BY 1, 2),
true_cnt AS (
  SELECT token, count(*) AS true_cnt FROM tok GROUP BY 1
  ORDER BY true_cnt DESC, token LIMIT 20),
cand AS (
  SELECT token, true_cnt,
    CAST(('0x' || substr(md5(token), 1, 12)) AS BIGINT) AS h1,
    CAST(('0x' || substr(md5(token), 13, 12)) AS BIGINT) AS h2
  FROM true_cnt),
est AS (
  SELECT token, true_cnt, min(c.cnt) AS cms_est
  FROM cand CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j) jj
  JOIN cells c ON c.j = jj.j AND c.col = (h1 + jj.j * h2) % 256
  GROUP BY 1, 2)
SELECT token, CAST(true_cnt AS BIGINT) AS true_cnt,
  CAST(cms_est AS BIGINT) AS cms_est,
  CAST(cms_est - true_cnt AS BIGINT) AS overestimate
FROM est"""


# nDCG integer-scaled weight literals — generated from the SAME Python
# constants the Spark side sums, so both engines read identical values
_NDCG_W_SQL = "[" + ", ".join(str(x) for x in textops.NDCG_W_INT) + "]"
_NDCG_CUM_SQL = "[" + ", ".join(str(x) for x in textops.NDCG_CUM_INT) + "]"


# Shared oracles for the exact rank tests (q_ks_test / q_mann_whitney)
# and their streaming drift-store twins (q_streaming_drift_ks / _mwu):
# the (type, value, per-half counts) grain is exactly sum-mergeable,
# so the incremental build must hash-match the same SQL.
_KS_SQL = """WITH sp AS (SELECT median(epoch(ts)) AS split FROM events),
base AS (
  SELECT event_type,
    CASE WHEN epoch(ts) <= split THEN 1 ELSE 0 END AS is_a, value
  FROM events CROSS JOIN sp),
cum0 AS (
  SELECT event_type, value,
    sum(is_a) OVER (PARTITION BY event_type ORDER BY value
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
    sum(1 - is_a) OVER (PARTITION BY event_type ORDER BY value
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
  FROM base),
cum AS (
  SELECT event_type, value, max(ca) AS ca, max(cb) AS cb
  FROM cum0 GROUP BY 1, 2),
totals AS (
  SELECT event_type, sum(is_a) AS na, sum(1 - is_a) AS nb
  FROM base GROUP BY 1),
sup AS (
  SELECT c.event_type, na, nb, max(abs(ca * nb - cb * na)) AS sup_num
  FROM cum c JOIN totals USING (event_type) GROUP BY 1, 2, 3)
SELECT event_type,
  CAST(na AS BIGINT) AS n_first_half,
  CAST(nb AS BIGINT) AS n_second_half,
  CAST(sup_num AS BIGINT) AS sup_numerator,
  CAST(sup_num AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) AS ks_d,
  CAST(sup_num AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
    * sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
           / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))) AS ks_scaled
FROM sup"""

_MWU_SQL = """WITH sp AS (SELECT median(epoch(ts)) AS split FROM events),
base AS (
  SELECT event_type,
    CASE WHEN epoch(ts) <= split THEN 1 ELSE 0 END AS is_a, value
  FROM events CROSS JOIN sp),
ranked AS (
  SELECT event_type, is_a, value,
    rank() OVER (PARTITION BY event_type ORDER BY value) AS rk,
    count(*) OVER (PARTITION BY event_type, value) AS t
  FROM base),
agg AS (
  SELECT event_type,
    sum(CASE WHEN is_a = 1 THEN 2 * rk + t - 1 ELSE 0 END) AS r2a,
    sum(is_a) AS na, sum(1 - is_a) AS nb
  FROM ranked GROUP BY 1),
ties AS (
  SELECT event_type, sum(t * t * t - t) AS tie_term FROM (
    SELECT event_type, value, max(t) AS t FROM ranked GROUP BY 1, 2)
  GROUP BY 1)
SELECT a.event_type,
  CAST(na AS BIGINT) AS n_first_half,
  CAST(nb AS BIGINT) AS n_second_half,
  CAST(r2a - na * (na + 1) AS BIGINT) AS u2,
  CAST(tie_term AS BIGINT) AS tie_term,
  (CAST(r2a - na * (na + 1) AS DOUBLE)
     - CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
  / (2.0 * sqrt((CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0)
      * ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) + 1.0)
         - CAST(tie_term AS DOUBLE)
           / ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
              * (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 1.0))))) AS z
FROM agg a JOIN ties USING (event_type)"""


REGISTRY: dict[str, QuerySpec] = {
    # ---- heatmap family (the reference's own capability surface) ----
    "q_locations": QuerySpec(q_locations, locations_sql("duckdb")),
    # Python-DataSource row store (the runnable connector path):
    # batch write→commit→scan roundtrip, keyed pruned read, and the
    # manifest-version stream — all hash-gated against the same
    # locations derivation the store was loaded from.
    "q_rowstore_roundtrip": QuerySpec(q_rowstore_roundtrip, locations_sql("duckdb")),
    "q_rowstore_pruned_read": QuerySpec(
        q_rowstore_pruned_read,
        f"WITH {_LOC_CTE} SELECT * FROM locations WHERE user_id = 'u1'",
    ),
    "q_rowstore_time_travel": QuerySpec(
        q_rowstore_time_travel,
        f"""WITH {_LOC_CTE}
SELECT * FROM locations WHERE substr(md5(user_id), 1, 1) <= '7'""",
    ),
    "q_rowstore_merge": QuerySpec(
        q_rowstore_merge,
        f"""WITH {_LOC_CTE}
SELECT * REPLACE (CASE WHEN substr(md5(user_id), 1, 1) <= '3'
                       THEN weight * 2 ELSE weight END AS weight)
FROM locations""",
    ),
    # Full conditional MERGE (DELETE/UPDATE-with-cond/INSERT arms);
    # oracle derives all three arms relationally.
    "q_rowstore_conditional_merge": QuerySpec(
        q_rowstore_conditional_merge,
        f"""WITH {_LOC_CTE},
h AS (SELECT DISTINCT user_id, substr(md5(user_id), 1, 1) AS x FROM locations),
kept AS (
  SELECT l.latitude, l.longitude, l.ts, l.timestamp_ms, l.user_id, l.source,
         CASE WHEN hx.x BETWEEN '2' AND '7' THEN l.weight + 2.5
              ELSE l.weight END AS weight
  FROM locations l JOIN h hx USING (user_id)
  WHERE hx.x > '1'),
ins AS (
  SELECT 0.0 AS latitude, 0.0 AS longitude,
         TIMESTAMP '1970-01-01 00:00:00' AS ts,
         CAST(0 AS BIGINT) AS timestamp_ms,
         'ins-' || user_id AS user_id, 'merge' AS source,
         CAST(1.0 AS DOUBLE) AS weight
  FROM h WHERE x = '8')
SELECT * FROM kept UNION ALL SELECT * FROM ins""",
    ),
    # Clustering rewrite + per-file-stats pruning: the file-count drop
    # is raise-pinned in-registry (layout is sampler-dependent), the
    # rows are hash-gated — pruning must never change results.
    "q_rowstore_skipping": QuerySpec(
        q_rowstore_skipping,
        f"""WITH {_LOC_CTE},
b AS (SELECT min(timestamp_ms) + (max(timestamp_ms) - min(timestamp_ms)) * 9 // 10 AS cut
      FROM locations)
SELECT l.* FROM locations l, b WHERE l.timestamp_ms >= b.cut""",
    ),
    "q_rowstore_delete": QuerySpec(
        q_rowstore_delete,
        f"""WITH {_LOC_CTE}
SELECT * FROM locations WHERE substr(md5(user_id), 1, 1) > '1'""",
    ),
    # Additive schema evolution: v1 rows null-fill the new column, the
    # evolved append null-fills the omitted one; union schema at read.
    "q_rowstore_evolution": QuerySpec(
        q_rowstore_evolution,
        f"""WITH {_LOC_CTE}
SELECT latitude, longitude, ts, timestamp_ms, user_id, source, weight,
       CAST(NULL AS VARCHAR) AS ingest_tag
FROM locations
UNION ALL
SELECT latitude, longitude, ts, timestamp_ms, user_id, source,
       CAST(NULL AS DOUBLE) AS weight, 'backfill' AS ingest_tag
FROM locations WHERE substr(md5(user_id), 1, 1) <= '3'""",
    ),
    # Evolution × CDC: a checkpointed stream crossing the widen
    # boundary; same union oracle as q_rowstore_evolution.
    "q_rowstore_cdc_evolution": QuerySpec(
        q_rowstore_cdc_evolution,
        f"""WITH {_LOC_CTE}
SELECT latitude, longitude, ts, timestamp_ms, user_id, source, weight,
       CAST(NULL AS VARCHAR) AS ingest_tag
FROM locations
UNION ALL
SELECT latitude, longitude, ts, timestamp_ms, user_id, source,
       CAST(NULL AS DOUBLE) AS weight, 'backfill' AS ingest_tag
FROM locations WHERE substr(md5(user_id), 1, 1) <= '3'""",
    ),
    "q_rowstore_stream": QuerySpec(q_rowstore_stream, locations_sql("duckdb")),
    "q_rowstore_stream_sink": QuerySpec(
        q_rowstore_stream_sink, locations_sql("duckdb")
    ),
    "q_heatmap_ingest": QuerySpec(
        q_heatmap_ingest,
        f"""WITH {_LOC_CTE},\n{_PTS_CTE}
SELECT '21_' || CAST(row21 AS VARCHAR) || '_' || CAST(col21 AS VARCHAR) AS tile_id,
       user_id, ts, weight
FROM pts""",
    ),
    "q_heatmap_pyramid": QuerySpec(q_heatmap_pyramid, _PYRAMID_SQL, headline=True),
    # Retraction through the PARTITIONED serving store: negated-visit
    # delta + drop_zeros; oracle = pyramid of the remaining users
    # (shared CTE shape with q_heatmap_retraction).
    "q_streaming_tile_retraction": QuerySpec(
        q_streaming_tile_retraction,
        f"""WITH {_LOC_CTE},
{_PTS_CTE.replace("WHERE source <> 'background')",
                  "WHERE source <> 'background'"
                  " AND substr(md5(user_id), 1, 1) > '3')")},
{_EXPANDED_CTE}
{_LEVELED_AGG}""",
    ),
    # Retraction ≡ rebuild-without-slice: negated-weight union, zero
    # tiles dropped; oracle = pyramid of the remaining users only.
    "q_heatmap_retraction": QuerySpec(
        q_heatmap_retraction,
        f"""WITH {_LOC_CTE},
{_PTS_CTE.replace("WHERE source <> 'background')",
                  "WHERE source <> 'background'"
                  " AND substr(md5(user_id), 1, 1) > '3')")},
{_EXPANDED_CTE}
{_LEVELED_AGG}""",
    ),
    "q_heatmap_incremental": QuerySpec(q_heatmap_incremental, _PYRAMID_SQL),
    "q_heatmap_pyramid_cascade": QuerySpec(
        q_heatmap_pyramid_cascade, _PYRAMID_SQL, headline=True
    ),
    "q_heatmap_timespans": QuerySpec(
        q_heatmap_timespans,
        f"""WITH {_LOC_CTE},
pts AS (
  SELECT CAST(floor((1 - ln(tan(latitude*pi()/180) + 1/cos(latitude*pi()/180))/pi())/2 * 1024.0) AS BIGINT) AS row10,
         CAST(floor((longitude + 180.0)/360.0 * 1024.0) AS BIGINT) AS col10,
         ts, user_id, weight
  FROM locations WHERE source <> 'background'),
groups AS (
  SELECT unnest(CASE WHEN user_id LIKE 'x%' THEN ['all']
                     WHEN user_id LIKE 'rt-%' THEN ['all','route']
                     ELSE ['all', user_id] END) AS user_group,
         ts, row10, col10, weight
  FROM pts),
expanded AS (
  SELECT user_group,
         unnest(['alltime', strftime(ts, '%Y'), strftime(ts, '%Y-%m'), strftime(ts, '%Y-%m-%d')]) AS timespan,
         row10, col10, weight
  FROM groups)
SELECT user_group, timespan,
       '10_' || CAST(row10 AS VARCHAR) || '_' || CAST(col10 AS VARCHAR) AS tile_id,
       sum(weight) AS visits
FROM expanded GROUP BY 1, 2, 3""",
    ),
    "q_heatmap_resultsets": QuerySpec(
        q_heatmap_resultsets,
        f"""WITH {_LOC_CTE},\n{_PTS_CTE},\n{_EXPANDED_CTE},
leveled AS ({_LEVELED_AGG})
SELECT user_group, timespan,
       CAST(zoom - 5 AS VARCHAR) || '_' || CAST(CAST(floor(row/32.0) AS BIGINT) AS VARCHAR) || '_' || CAST(CAST(floor(col/32.0) AS BIGINT) AS VARCHAR) AS rs_tile_id,
       CAST(zoom AS VARCHAR) || '_' || CAST(row AS VARCHAR) || '_' || CAST(col AS VARCHAR) AS detail_tile_id,
       visits
FROM leveled""",
    ),
    "q_heatmap_table_stats": QuerySpec(
        q_heatmap_table_stats,
        f"""WITH {_LOC_CTE},\n{_PTS_CTE},\n{_EXPANDED_CTE},
leveled AS ({_LEVELED_AGG})
SELECT user_group || '|' || timespan || '|' ||
         CAST(zoom - 5 AS VARCHAR) || '_' || CAST(CAST(floor(row/32.0) AS BIGINT) AS VARCHAR) || '_' || CAST(CAST(floor(col/32.0) AS BIGINT) AS VARCHAR) AS id,
       CAST(count(*) AS INTEGER) AS n_entries,
       sum(visits) AS total_visits
FROM leveled GROUP BY 1""",
        headline=True,
    ),
    "q_heatmap_table": QuerySpec(
        q_heatmap_table,
        _HEATMAP_TABLE_SQL,
    ),
    # The reference's full source→pyramid→sink dataflow through the
    # Python-DataSource row store on BOTH ends — same oracle as
    # q_heatmap_table, so the hash certifies both hops lossless.
    "q_rowstore_reference_pipeline": QuerySpec(
        q_rowstore_reference_pipeline,
        _HEATMAP_TABLE_SQL,
    ),
    "q_tile_functions": QuerySpec(
        q_tile_functions,
        f"""WITH {_LOC_CTE},
t16 AS (
  SELECT DISTINCT
    CAST(floor((1 - ln(tan(latitude*pi()/180) + 1/cos(latitude*pi()/180))/pi())/2 * 65536.0) AS BIGINT) AS row,
    CAST(floor((longitude + 180.0)/360.0 * 65536.0) AS BIGINT) AS col
  FROM locations WHERE source <> 'background')
SELECT '16_' || CAST(row AS VARCHAR) || '_' || CAST(col AS VARCHAR) AS tile_id,
       '15_' || CAST(CAST(floor(row/2.0) AS BIGINT) AS VARCHAR) || '_' || CAST(CAST(floor(col/2.0) AS BIGINT) AS VARCHAR) AS parent_id,
       round(180.0/pi()*atan(0.5*(exp(pi() - 2.0*pi()*row/65536.0) - exp(-(pi() - 2.0*pi()*row/65536.0)))), 9) AS lat_north,
       round(180.0/pi()*atan(0.5*(exp(pi() - 2.0*pi()*(row+1)/65536.0) - exp(-(pi() - 2.0*pi()*(row+1)/65536.0)))), 9) AS lat_south,
       round(CAST(col AS DOUBLE)/65536.0*360.0 - 180.0, 9) AS lon_west,
       round(CAST(col+1 AS DOUBLE)/65536.0*360.0 - 180.0, 9) AS lon_east
FROM t16""",
    ),
    "q_zorder_key": QuerySpec(
        q_zorder_key,
        f"""WITH {_LOC_CTE},
t12 AS (
  SELECT DISTINCT
    CAST(floor((1 - ln(tan(latitude*pi()/180) + 1/cos(latitude*pi()/180))/pi())/2 * 4096.0) AS BIGINT) AS row,
    CAST(floor((longitude + 180.0)/360.0 * 4096.0) AS BIGINT) AS col
  FROM locations WHERE source <> 'background')
SELECT row, col, {tl.z_value_sql('row', 'col', 12)} AS zkey FROM t12""",
    ),
    # Hilbert key for the same tile set — the locality-preserving
    # layout alternative to the Morton key; the fold replays
    # bit-for-bit in DuckDB list_reduce.
    "q_hilbert_key": QuerySpec(
        q_hilbert_key,
        f"""WITH {_LOC_CTE},
t12 AS (
  SELECT DISTINCT
    CAST(floor((1 - ln(tan(latitude*pi()/180) + 1/cos(latitude*pi()/180))/pi())/2 * 4096.0) AS BIGINT) AS row,
    CAST(floor((longitude + 180.0)/360.0 * 4096.0) AS BIGINT) AS col
  FROM locations WHERE source <> 'background')
SELECT row, col, {tl.hilbert_value_sql('row', 'col', 12)} AS hkey FROM t12""",
    ),
    # ---- relational surface ----
    "q_tpch_q1": QuerySpec(
        relational.tpch_q1,
        f"""SELECT l_returnflag, l_linestatus,
  CAST(sum({_d('l_quantity')}) AS DOUBLE) AS sum_qty,
  CAST(sum({_d('l_extendedprice')}) AS DOUBLE) AS sum_base_price,
  CAST(CAST(sum({_d('l_extendedprice')} * ({_ONE} - {_d('l_discount')})) AS DECIMAL(18,6)) AS DOUBLE) AS sum_disc_price,
  CAST(CAST(sum({_d('l_extendedprice')} * ({_ONE} - {_d('l_discount')}) * ({_ONE} + {_d('l_tax')})) AS DECIMAL(18,6)) AS DOUBLE) AS sum_charge,
  CAST(sum({_d('l_quantity')}) AS DOUBLE) / count(l_quantity) AS avg_qty,
  CAST(sum({_d('l_extendedprice')}) AS DOUBLE) / count(l_extendedprice) AS avg_price,
  CAST(sum({_d('l_discount')}) AS DOUBLE) / count(l_discount) AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus""",
        headline=True,
    ),
    "q_tpch_q3": QuerySpec(
        relational.tpch_q3,
        f"""SELECT l_orderkey, o_orderdate, o_orderpriority,
  CAST(CAST(sum({_d('l_extendedprice')} * ({_ONE} - {_d('l_discount')})) AS DECIMAL(18,6)) AS DOUBLE) AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10""",
        headline=True,
    ),
    "q_tpch_q5": QuerySpec(
        relational.tpch_q5,
        f"""SELECT n_name,
  CAST(CAST(sum({_d('l_extendedprice')} * ({_ONE} - {_d('l_discount')})) AS DECIMAL(18,6)) AS DOUBLE) AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name""",
        headline=True,
    ),
    "q_tpch_q6": QuerySpec(
        relational.tpch_q6,
        f"""SELECT CAST(CAST(sum({_d('l_extendedprice')} * {_d('l_discount')}) AS DECIMAL(18,6)) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount >= 0.03 AND l_discount <= 0.07
  AND l_quantity < 24""",
        headline=True,
    ),
    "q_top_parts_per_brand": QuerySpec(
        relational.top_parts_per_brand,
        """SELECT p_brand, p_partkey, p_retailprice, CAST(rn AS INTEGER) AS rn FROM (
  SELECT p_brand, p_partkey, p_retailprice,
         row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rn
  FROM part) t WHERE rn <= 3""",
    ),
    "q_running_total": QuerySpec(
        relational.customer_running_total,
        f"""SELECT o_custkey, o_orderkey,
  CAST(sum({_d('o_totalprice')}) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
FROM orders""",
    ),
    "q_rollup_orders": QuerySpec(
        relational.rollup_orders,
        f"""SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders,
  CAST(sum({_d('o_totalprice')}) AS DOUBLE) AS total_price
FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)""",
    ),
    "q_cube_lineitem": QuerySpec(
        relational.cube_lineitem,
        f"""SELECT l_returnflag, l_linestatus, count(*) AS n_items,
  CAST(sum({_d('l_quantity')}) AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""",
    ),
    "q_semi_join": QuerySpec(
        relational.customers_with_orders,
        """SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",
    ),
    "q_anti_join": QuerySpec(
        relational.customers_without_orders,
        """SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",
    ),
    "q_except_nations": QuerySpec(
        relational.nations_without_suppliers,
        """SELECT n_nationkey FROM nation EXCEPT SELECT s_nationkey AS n_nationkey FROM supplier""",
    ),
    "q_intersect_nations": QuerySpec(
        relational.nations_with_both,
        """SELECT c_nationkey AS n_nationkey FROM customer
INTERSECT
SELECT s_nationkey AS n_nationkey FROM supplier""",
    ),
    "q_ship_latency": QuerySpec(
        relational.ship_latency,
        """SELECT o_orderpriority, count(*) AS n_items,
  CAST(sum(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))) AS DOUBLE) / count(*) AS avg_days,
  CAST(min(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))) AS INTEGER) AS min_days,
  CAST(max(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))) AS INTEGER) AS max_days
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority""",
    ),
    "q_distinct_users": QuerySpec(
        relational.distinct_users_per_type,
        """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
FROM events GROUP BY event_type""",
    ),
    "q_event_pivot": QuerySpec(
        relational.event_type_pivot,
        """SELECT user_id,
  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
FROM events GROUP BY user_id""",
    ),
    "q_approx_distinct": QuerySpec(relational.approx_distinct_parts, None),
    # ---- event-time operators ----
    "q_sessionize": QuerySpec(
        sessions.session_stats,
        f"""WITH flags AS (
  SELECT user_id, ts, event_id, value,
    CASE WHEN lag(ts) OVER w IS NULL
           OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 3600000
         THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sess AS (
  SELECT user_id, ts, event_id, value,
    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM flags)
SELECT user_id, session_id, count(*) AS n_events,
  min(ts) AS session_start, max(ts) AS session_end,
  CAST(sum({_d('value')}) AS DOUBLE) AS total_value
FROM sess GROUP BY user_id, session_id""",
        headline=True,
    ),
    # native session_window in BATCH (same operator as the streaming path;
    # new session when gap >= timeout, window_end = last_ts + timeout)
    "q_session_window_batch": QuerySpec(
        sessions.session_window_stats,
        f"""WITH flags AS (
  SELECT user_id, ts, event_id, value,
    CASE WHEN lag(ts) OVER w IS NULL
           OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) >= 3600000
         THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sess AS (
  SELECT user_id, ts, value,
    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flags)
SELECT user_id, min(ts) AS session_start,
  max(ts) + INTERVAL 1 HOUR AS window_end,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(sum({_d('value')}) AS DOUBLE) AS total_value
FROM sess GROUP BY user_id, sid""",
    ),
    "q_asof_join": QuerySpec(
        sessions.asof_join_last_signup,
        """SELECT p.event_id, p.ts AS purchase_ts,
  (SELECT max(s.ts) FROM events s
   WHERE s.event_type = 'signup' AND s.user_id = p.user_id AND s.ts <= p.ts) AS last_signup_ts
FROM events p WHERE p.event_type = 'purchase'""",
    ),
    "q_window_sliding": QuerySpec(
        sessions.sliding_window_counts,
        f"""SELECT time_bucket(INTERVAL '5 minutes', ts) - g.j * INTERVAL '5 minutes' AS window_start,
  event_type, count(*) AS n_events,
  CAST(sum({_d('value')}) AS DOUBLE) AS total_value
FROM events CROSS JOIN generate_series(0, 1) AS g(j)
GROUP BY 1, 2""",
    ),
    "q_window_tumbling": QuerySpec(
        sessions.tumbling_window_counts,
        f"""SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start, event_type,
  count(*) AS n_events, CAST(sum({_d('value')}) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2""",
    ),
    # ---- LLM-data-pipeline operators ----
    "q_dedup_exact": QuerySpec(
        dedup.exact_dedup,
        """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
FROM documents GROUP BY text""",
    ),
    "q_dedup_fingerprint": QuerySpec(
        dedup.fingerprint_dedup,
        """WITH fp AS (
  SELECT doc_id,
    md5(array_to_string(list_sort(list_distinct(
      list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''))), ' ')) AS fingerprint
  FROM documents)
SELECT fingerprint, min(doc_id) AS keep_id, count(*) AS n_members
FROM fp GROUP BY fingerprint""",
    ),
    "q_near_dup_jaccard": QuerySpec(
        dedup.jaccard_pairs,
        """WITH toks AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
    range(1, len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) - 1),
    i -> list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')[i] || ' ' ||
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')[i+1] || ' ' ||
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')[i+2]))) AS token
  FROM documents),
kept AS (
  SELECT t.doc_id, t.token FROM toks t
  JOIN (SELECT token, count(*) AS df FROM toks GROUP BY token) d USING (token)
  WHERE d.df <= 128),
sizes AS (SELECT doc_id, count(*) AS set_size FROM kept GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM kept a JOIN kept b ON a.token = b.token AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b,
  round(n_common / (sa.set_size + sb.set_size - n_common), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE n_common / (sa.set_size + sb.set_size - n_common) >= 0.2""",
    ),
    "q_dedup_minhash_lsh": QuerySpec(
        dedup.minhash_lsh_candidates,
        f"""WITH {_SHINGLES_CTE},
{_LSH_CAND_CTE}
SELECT doc_a, doc_b FROM cand""",
        headline=True,
    ),
    "q_recursive_cte_rollup": QuerySpec(
        _recursive_cte_rollup,
        f"""WITH RECURSIVE {_LOC_CTE},
base AS (
  SELECT 10 AS zoom,
         CAST(floor((1 - ln(tan(radians(latitude)) + 1/cos(radians(latitude)))/pi())/2 * 1024.0) AS BIGINT) AS row,
         CAST(floor((longitude + 180.0)/360.0 * 1024.0) AS BIGINT) AS col,
         weight
  FROM locations WHERE source <> 'background'),
lineage AS (
  SELECT zoom, row, col, weight FROM base
  UNION ALL
  SELECT zoom - 1, CAST(floor(row / 2.0) AS BIGINT),
         CAST(floor(col / 2.0) AS BIGINT), weight
  FROM lineage WHERE zoom > 6)
SELECT zoom, row, col, sum(weight) AS visits
FROM lineage GROUP BY 1, 2, 3""",
    ),
    "q_param_query": QuerySpec(
        _param_query,
        """SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n,
       CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE) AS total_qty
FROM lineitem
WHERE l_quantity >= 25 AND l_discount BETWEEN 0.02 AND 0.08
GROUP BY l_returnflag""",
    ),
    "q_link_prediction": QuerySpec(
        graph.link_prediction_common_neighbors,
        """WITH cand AS (
  SELECT DISTINCT a.l_partkey AS doc_a, b.l_partkey AS doc_b
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM cand
  UNION SELECT doc_b, doc_a FROM cand),
two_hop AS (
  SELECT e1.u AS doc_a, e2.v AS doc_b, count(*) AS common_neighbors
  FROM edges e1 JOIN edges e2 ON e1.v = e2.u
  WHERE e1.u < e2.v
  GROUP BY 1, 2),
non_edges AS (
  SELECT t.* FROM two_hop t
  LEFT JOIN cand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
  WHERE c.doc_a IS NULL),
ranked AS (
  SELECT CAST(row_number() OVER (ORDER BY common_neighbors DESC, doc_a, doc_b) AS INTEGER) AS rank,
         doc_a, doc_b, common_neighbors
  FROM non_edges)
SELECT rank, doc_a, doc_b, common_neighbors FROM ranked WHERE rank <= 20""",
    ),
    "q_group_by_all": QuerySpec(
        _group_by_all,
        """SELECT *, round(avg_price / 1000.0, 6) AS avg_price_k
FROM (
  SELECT o_orderpriority, o_orderstatus,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_price
  FROM orders
  GROUP BY ALL)""",
    ),
    "q_lang_id_metrics": QuerySpec(
        textops.lang_id_metrics,
        """WITH t AS (
  SELECT doc_id, lang,
    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents),
pred AS (
  SELECT doc_id,
    CASE WHEN lang = 'en' THEN 'en' ELSE 'other' END AS actual,
    CASE WHEN len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','on','for','with'], x))) / len(toks) > 0.05
         THEN 'en' ELSE 'other' END AS predicted
  FROM t),
classes(cls) AS (VALUES ('en'), ('other')),
agg AS (
  SELECT cls,
    CAST(count(*) FILTER (WHERE actual = cls) AS BIGINT) AS n_actual,
    CAST(count(*) FILTER (WHERE actual = cls AND predicted = cls) AS BIGINT) AS tp,
    CAST(count(*) FILTER (WHERE actual <> cls AND predicted = cls) AS BIGINT) AS fp,
    CAST(count(*) FILTER (WHERE actual = cls AND predicted <> cls) AS BIGINT) AS fn
  FROM pred CROSS JOIN classes GROUP BY cls)
SELECT cls, n_actual, tp, fp, fn,
  round(tp / greatest(tp + fp, 1), 6) AS precision,
  round(tp / greatest(tp + fn, 1), 6) AS recall,
  round(2.0 * tp / greatest(2 * tp + fp + fn, 1), 6) AS f1
FROM agg""",
    ),
    "q_jaccard_prefix_filter": QuerySpec(
        dedup.jaccard_prefix_filter,
        # brute-force shingle-set Jaccard — the prefix filter is EXACT,
        # so the smart candidate generation must reproduce this
        f"""WITH {_SHINGLES_CTE},
sizes AS (SELECT doc_id, count(*) AS set_size FROM toks GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM toks a JOIN toks b ON a.token = b.token AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b,
  round(n_common / (sa.set_size + sb.set_size - n_common), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE n_common / (sa.set_size + sb.set_size - n_common) >= 0.5""",
    ),
    "q_containment_pairs": QuerySpec(
        dedup.containment_pairs,
        f"""WITH {_SHINGLES_CTE},
kept AS (
  SELECT t.doc_id, t.token FROM toks t
  JOIN (SELECT token, count(*) AS df FROM toks GROUP BY token) d USING (token)
  WHERE d.df <= 128),
sizes AS (SELECT doc_id, count(*) AS set_size FROM kept GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM kept a JOIN kept b ON a.token = b.token AND a.doc_id <> b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b, round(n_common / sa.set_size, 6) AS containment
FROM inter JOIN sizes sa ON sa.doc_id = doc_a
WHERE n_common / sa.set_size >= 0.8""",
    ),
    "q_novelty": QuerySpec(
        textops.novelty_scores,
        f"""WITH {_SHINGLES_CTE},
first_seen AS (SELECT token, min(doc_id) AS first_doc FROM toks GROUP BY token)
SELECT t.doc_id,
  CAST(count(*) AS INTEGER) AS n_shingles,
  CAST(count(*) FILTER (WHERE f.first_doc = t.doc_id) AS INTEGER) AS n_novel,
  round(count(*) FILTER (WHERE f.first_doc = t.doc_id) / count(*), 6) AS novelty
FROM toks t JOIN first_seen f USING (token)
GROUP BY t.doc_id""",
    ),
    "q_weighted_sample": QuerySpec(
        profiling.weighted_sample,
        """WITH keyed AS (
  SELECT doc_id, source, n_chars,
    round(ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) + 1)
             / 281474976710657.0) / n_chars, 6) AS es_key
  FROM documents),
ranked AS (
  SELECT source, doc_id, n_chars, es_key,
    CAST(row_number() OVER (PARTITION BY source ORDER BY es_key DESC, doc_id) AS INTEGER) AS rank
  FROM keyed)
SELECT source, rank, doc_id, n_chars, es_key
FROM ranked WHERE rank <= 10""",
    ),
    "q_lsh_bucket_stats": QuerySpec(
        dedup.lsh_bucket_stats,
        f"""WITH {_SHINGLES_CTE},
sigs AS (
  SELECT doc_id, s.salt,
    min((CAST(('0x' || substr(md5(token), 1, 12)) AS BIGINT)
         + s.salt * CAST(('0x' || substr(md5(token), 13, 12)) AS BIGINT))
        % 281474976710656) AS minhash
  FROM toks CROSS JOIN generate_series(0, 15) AS s(salt)
  GROUP BY doc_id, s.salt),
bands AS (
  SELECT doc_id, CAST(salt // 4 AS INTEGER) AS band,
    string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY salt) AS band_sig
  FROM sigs GROUP BY doc_id, CAST(salt // 4 AS INTEGER)),
sizes AS (
  SELECT band, band_sig, count(*) AS bucket_size
  FROM bands GROUP BY 1, 2)
SELECT CAST(bucket_size AS INTEGER) AS bucket_size, count(*) AS n_buckets
FROM sizes GROUP BY 1""",
    ),
    "q_trending": QuerySpec(
        relational.trending_by_day,
        """WITH daily AS (
  SELECT date_trunc('day', ts) AS day, event_type, count(*) AS n
  FROM events GROUP BY 1, 2),
ranked AS (
  SELECT day, event_type, n,
    CAST(row_number() OVER (PARTITION BY day ORDER BY n DESC, event_type) AS INTEGER) AS rank
  FROM daily)
SELECT day, rank, event_type, n FROM ranked WHERE rank <= 3""",
    ),
    "q_attribution": QuerySpec(
        sessions.attribution_last_touch,
        """WITH tagged AS (
  SELECT user_id, ts, 0 AS side, event_id,
         event_id AS view_id, ts AS view_ts
  FROM events WHERE event_type = 'view'
  UNION ALL
  SELECT user_id, ts, 1 AS side, event_id,
         NULL AS view_id, NULL AS view_ts
  FROM events WHERE event_type = 'purchase'),
carried AS (
  SELECT user_id, ts, side, event_id,
    last_value(view_id IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY ts, side, event_id
      ROWS UNBOUNDED PRECEDING) AS attributed_view_id,
    last_value(view_ts IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY ts, side, event_id
      ROWS UNBOUNDED PRECEDING) AS attributed_view_ts
  FROM tagged)
SELECT event_id AS purchase_id, ts AS purchase_ts,
  attributed_view_id,
  CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(attributed_view_ts)) AS BIGINT) AS gap_s
FROM carried WHERE side = 1""",
    ),
    "q_conversion_latency": QuerySpec(
        sessions.conversion_latency,
        """WITH tagged AS (
  SELECT user_id, ts, 0 AS side, event_id,
         event_id AS view_id, ts AS view_ts
  FROM events WHERE event_type = 'view'
  UNION ALL
  SELECT user_id, ts, 1 AS side, event_id,
         NULL AS view_id, NULL AS view_ts
  FROM events WHERE event_type = 'purchase'),
carried AS (
  SELECT user_id, ts, side,
    last_value(view_ts IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY ts, side, event_id
      ROWS UNBOUNDED PRECEDING) AS attributed_view_ts
  FROM tagged),
gaps AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(attributed_view_ts)) AS BIGINT) AS gap_s
  FROM carried WHERE side = 1 AND attributed_view_ts IS NOT NULL)
SELECT CAST(count(*) AS BIGINT) AS n_attributed,
  round(quantile_cont(gap_s, 0.5), 6) AS p50_s,
  round(quantile_cont(gap_s, 0.9), 6) AS p90_s,
  max(gap_s) AS max_s
FROM gaps""",
    ),
    # PSI drift monitor between stream halves: bin shares smoothed,
    # each PSI term floor-quantized@1e-12 and summed as exact bigint
    # (round-on-double differs across engines; floor never does)
    "q_drift_report": QuerySpec(
        profiling.drift_report,
        """WITH sp AS (SELECT median(epoch(ts)) AS split FROM events),
base AS (
  SELECT event_type,
    CASE WHEN epoch(ts) <= split THEN 'a' ELSE 'b' END AS half, value
  FROM events CROSS JOIN sp),
rng AS (
  SELECT event_type, min(value) AS mn, max(value) AS mx
  FROM base GROUP BY 1),
binned AS (
  SELECT b.event_type, half, value,
    CASE WHEN mx > mn THEN CAST(least(floor((value - mn) / ((mx - mn) / 10.0)),
                                     9) AS INTEGER)
         ELSE 0 END AS bin
  FROM base b JOIN rng USING (event_type)),
per_bin AS (
  SELECT event_type, bin,
    sum(CASE WHEN half = 'a' THEN 1 ELSE 0 END) AS ca,
    sum(CASE WHEN half = 'b' THEN 1 ELSE 0 END) AS cb
  FROM binned GROUP BY 1, 2),
totals AS (
  SELECT event_type,
    sum(CASE WHEN half = 'a' THEN 1 ELSE 0 END) AS na,
    sum(CASE WHEN half = 'b' THEN 1 ELSE 0 END) AS nb,
    sum(CASE WHEN half = 'a' THEN CAST(value AS DECIMAL(12,4)) END) AS sa,
    sum(CASE WHEN half = 'b' THEN CAST(value AS DECIMAL(12,4)) END) AS sb
  FROM binned GROUP BY 1),
psi AS (
  SELECT p.event_type,
    sum(CAST(floor(
      ((CAST(ca AS DOUBLE) + 0.5) / (CAST(na AS DOUBLE) + 5.0)
       - (CAST(cb AS DOUBLE) + 0.5) / (CAST(nb AS DOUBLE) + 5.0))
      * ln(((CAST(ca AS DOUBLE) + 0.5) / (CAST(na AS DOUBLE) + 5.0))
           / ((CAST(cb AS DOUBLE) + 0.5) / (CAST(nb AS DOUBLE) + 5.0)))
      * 1e12) AS BIGINT)) AS psi_int
  FROM per_bin p JOIN totals t USING (event_type) GROUP BY 1)
SELECT t.event_type,
  CAST(na AS BIGINT) AS n_first_half,
  CAST(nb AS BIGINT) AS n_second_half,
  CAST(sa AS DOUBLE) AS value_sum_first,
  CAST(sb AS DOUBLE) AS value_sum_second,
  CAST(psi_int AS DOUBLE) / 1e12 AS psi
FROM totals t JOIN psi USING (event_type)""",
    ),
    # exact two-sample KS per type between stream halves: the sup of
    # |F̂_a − F̂_b| stays an INTEGER max (|ca·nb − cb·na|) until one
    # final division — the full-resolution companion to the PSI bins
    "q_ks_test": QuerySpec(
        profiling.ks_test,
        _KS_SQL,
    ),
    # streamed drift store twin: the (type, value, per-half counts)
    # grain is exactly sum-mergeable, so the 3-batch incremental build
    # serves a BIT-IDENTICAL statistic and shares q_ks_test's oracle
    "q_streaming_drift_ks": QuerySpec(q_streaming_drift_ks, _KS_SQL),
    "q_streaming_drift_mwu": QuerySpec(q_streaming_drift_mwu, _MWU_SQL),
    "q_streaming_kll_drift": QuerySpec(q_streaming_kll_drift, None),
    # streaming equal-frequency binning: per-batch boundary snapshots
    # (compaction-surviving timeline) + convergence metric; rows-only —
    # the boundaries come from randomized sketch binaries (no DuckDB
    # replay), pins are in-query raises (rank accuracy 0.05,
    # scale-aware stationarity bounds, history completeness, NULL
    # guards)
    "q_streaming_binning_timeline": QuerySpec(
        q_streaming_binning_timeline, None
    ),
    # χ² homogeneity on the categorical axis (event-type composition
    # between halves); cell terms floor-quantized@1e-9, exact-int sum
    "q_chi2_composition": QuerySpec(
        profiling.chi2_composition,
        """WITH sp AS (SELECT median(epoch(ts)) AS split FROM events),
counts AS (
  SELECT event_type,
    sum(CASE WHEN epoch(ts) <= split THEN 1 ELSE 0 END) AS oa,
    sum(CASE WHEN epoch(ts) > split THEN 1 ELSE 0 END) AS ob
  FROM events CROSS JOIN sp GROUP BY 1),
m AS (SELECT sum(oa) AS ta, sum(ob) AS tb FROM counts),
cells AS (
  SELECT event_type, oa, ob,
    CAST(floor((
      (CAST(oa AS DOUBLE) - (CAST(oa + ob AS DOUBLE)
         * (CAST(ta AS DOUBLE) / CAST(ta + tb AS DOUBLE))))
      * (CAST(oa AS DOUBLE) - (CAST(oa + ob AS DOUBLE)
         * (CAST(ta AS DOUBLE) / CAST(ta + tb AS DOUBLE))))
      / (CAST(oa + ob AS DOUBLE) * (CAST(ta AS DOUBLE) / CAST(ta + tb AS DOUBLE)))
      + (CAST(ob AS DOUBLE) - (CAST(oa + ob AS DOUBLE)
         * (CAST(tb AS DOUBLE) / CAST(ta + tb AS DOUBLE))))
      * (CAST(ob AS DOUBLE) - (CAST(oa + ob AS DOUBLE)
         * (CAST(tb AS DOUBLE) / CAST(ta + tb AS DOUBLE))))
      / (CAST(oa + ob AS DOUBLE) * (CAST(tb AS DOUBLE) / CAST(ta + tb AS DOUBLE)))
    ) * 1e9) AS BIGINT) AS contrib_nano
  FROM counts CROSS JOIN m),
per AS (
  SELECT event_type,
    CAST(oa AS BIGINT) AS n_first_half,
    CAST(ob AS BIGINT) AS n_second_half,
    contrib_nano AS chi2_contrib_nano,
    CAST(contrib_nano AS DOUBLE) / 1e9 AS chi2_contrib
  FROM cells)
SELECT * FROM per
UNION ALL
SELECT '__total__' AS event_type,
  CAST(sum(n_first_half) AS BIGINT),
  CAST(sum(n_second_half) AS BIGINT),
  CAST(sum(chi2_contrib_nano) AS BIGINT),
  CAST(sum(chi2_contrib_nano) AS DOUBLE) / 1e9
FROM per""",
    ),
    # Mann–Whitney U completes the drift trio: DOUBLED ranks keep tie
    # averages integer, so U2 = 2U and the tie term are exact bigints;
    # the tie-corrected z is the single float expression at the end
    "q_mann_whitney": QuerySpec(
        profiling.mann_whitney,
        _MWU_SQL,
    ),
    # 1-Wasserstein drift (integrated CDF gap — completes the family's
    # geometry beside PSI/KS/MWU/χ²); terms floor-quantized@1e-9 and
    # summed as exact bigint off the shared distinct-value table
    "q_wasserstein_drift": QuerySpec(
        profiling.wasserstein_drift,
        """WITH sp AS (SELECT median(epoch(ts)) AS split FROM events),
base AS (
  SELECT event_type,
    CASE WHEN epoch(ts) <= split THEN 1 ELSE 0 END AS is_a, value
  FROM events CROSS JOIN sp),
pv AS (
  SELECT event_type, value, sum(is_a) AS da, sum(1 - is_a) AS db
  FROM base GROUP BY 1, 2),
cum AS (
  SELECT event_type, value,
    sum(da) OVER w AS ca, sum(db) OVER w AS cb,
    lead(value) OVER (PARTITION BY event_type ORDER BY value) AS v_next
  FROM pv
  WINDOW w AS (PARTITION BY event_type ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
tot AS (SELECT event_type, sum(da) AS na, sum(db) AS nb FROM pv GROUP BY 1),
terms AS (
  SELECT c.event_type, na, nb,
    CAST(floor(CAST(abs(ca * nb - cb * na) AS DOUBLE)
      / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
      * (v_next - value) * 1e9) AS BIGINT) AS t
  FROM cum c JOIN tot USING (event_type) WHERE v_next IS NOT NULL)
SELECT event_type,
  CAST(na AS BIGINT) AS n_first_half,
  CAST(nb AS BIGINT) AS n_second_half,
  CAST(sum(t) AS BIGINT) AS w1_nano,
  CAST(sum(t) AS DOUBLE) / 1e9 AS w1
FROM terms GROUP BY 1, 2, 3""",
    ),
    # robust twin of q_zscore_outliers: median/MAD modified z-score —
    # statistics broadcast, stream never shuffles (3 scan passes)
    "q_mad_outliers": QuerySpec(
        profiling.mad_outliers,
        """WITH med AS (
  SELECT event_type, round(median(value), 9) AS med FROM events GROUP BY 1),
dev AS (
  SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
  FROM events e JOIN med m USING (event_type)),
mad AS (SELECT event_type, round(median(adev), 9) AS mad FROM dev GROUP BY 1),
fl AS (
  SELECT d.event_type, d.med, a.mad,
    CASE WHEN a.mad <> 0
         THEN CAST(0.6745 AS DOUBLE) * (d.value - d.med) / a.mad END AS rz
  FROM dev d JOIN mad a USING (event_type))
SELECT event_type, med, mad,
  CAST(count(*) AS BIGINT) AS n,
  CAST(sum(CASE WHEN abs(rz) > CAST(3.5 AS DOUBLE) THEN 1 ELSE 0 END)
       AS BIGINT) AS n_outliers,
  round(CAST(sum(CASE WHEN abs(rz) > CAST(3.5 AS DOUBLE) THEN 1 ELSE 0 END)
        AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS outlier_share
FROM fl GROUP BY 1, 2, 3""",
    ),
    "q_zscore_outliers": QuerySpec(
        profiling.zscore_outliers,
        """WITH stats AS (
  SELECT event_type, count(*) AS n,
    CAST(sum(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS s1,
    CAST(sum(CAST(value AS DECIMAL(12,4)) * CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS s2
  FROM events GROUP BY event_type),
m AS (
  SELECT event_type, s1 / n AS mean,
    sqrt(s2 / n - (s1 / n) * (s1 / n)) AS std
  FROM stats)
SELECT e.event_type, e.event_id,
  round(e.value, 6) AS value,
  round((e.value - m.mean) / m.std, 6) AS z
FROM events e JOIN m USING (event_type)
WHERE abs((e.value - m.mean) / m.std) >= 3.0""",
    ),
    "q_ewma": QuerySpec(
        timeseries.ewma_by_type,
        """WITH series AS (
  SELECT event_type, list(value ORDER BY ts, event_id) AS vals
  FROM events GROUP BY event_type)
SELECT event_type,
  CAST(len(vals) AS INTEGER) AS n,
  round(list_reduce(vals, (acc, x) -> 0.5 * x + 0.5 * acc), 6) AS ewma
FROM series""",
    ),
    # Exact per-domain token budgets (epoch construction): docs taken
    # in md5-shuffled order per lang until the budget is reached.
    "q_token_budget_mix": QuerySpec(
        textops.token_budget_mix,
        r"""WITH t AS (
  SELECT doc_id, lang,
    CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
    md5(CAST(doc_id AS VARCHAR)) AS rk
  FROM documents),
c AS (
  SELECT doc_id, lang, n_tokens,
    CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY rk, doc_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
  FROM t)
SELECT doc_id, lang, n_tokens, cum_tokens FROM c WHERE cum_tokens <= 2000""",
    ),
    # Holt linear-trend smoothing: the two-variable sequential
    # recurrence as an ordered fold, hash-checked via DuckDB
    # list_reduce over [x, 0] pairs.
    "q_holt_forecast": QuerySpec(
        timeseries.holt_by_type,
        """WITH series AS (
  SELECT event_type, list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS vals
  FROM events GROUP BY event_type),
st AS (
  SELECT event_type, len(vals) AS n,
    list_reduce(list_transform(vals, x -> [x, 0.0]),
      (s, x) -> [0.5 * x[1] + 0.5 * (s[1] + s[2]),
                 0.3 * ((0.5 * x[1] + 0.5 * (s[1] + s[2])) - s[1])
                   + 0.7 * s[2]]) AS h
  FROM series)
SELECT event_type, CAST(n AS INTEGER) AS n,
  round(h[1], 6) AS level, round(h[2], 6) AS trend,
  round(h[1] + 1.0 * h[2], 6) AS fc_1,
  round(h[1] + 2.0 * h[2], 6) AS fc_2,
  round(h[1] + 3.0 * h[2], 6) AS fc_3
FROM st""",
    ),
    # Holdout backtest: Holt (trained on the train slice only) vs the
    # seasonal-naive baseline, MASE-scaled — every sum a sequential
    # fold over index-ordered lists, so the whole model-selection
    # verdict value-hashes cross-engine.
    "q_forecast_backtest": QuerySpec(
        timeseries.forecast_backtest,
        """WITH series AS (
  SELECT event_type, list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS vals
  FROM events GROUP BY event_type),
base AS (
  SELECT event_type, len(vals) AS n, len(vals) - 5 AS ntr, vals,
         vals[1 : len(vals) - 5] AS train
  FROM series WHERE len(vals) > 12),
st AS (
  SELECT *, list_reduce(list_transform(train, x -> [x, 0.0]),
    (s, x) -> [0.5 * x[1] + 0.5 * (s[1] + s[2]),
               0.3 * ((0.5 * x[1] + 0.5 * (s[1] + s[2])) - s[1])
                 + 0.7 * s[2]]) AS hh
  FROM base),
er AS (
  SELECT event_type, n, ntr,
    list_transform(range(1, 6),
      i -> abs(vals[CAST(ntr + i AS INT)]
               - (hh[1] + CAST(i AS DOUBLE) * hh[2]))) AS he,
    list_transform(range(1, 6),
      i -> abs(vals[CAST(ntr + i AS INT)]
               - vals[CAST(ntr + i - 7 AS INT)])) AS se,
    list_transform(range(2, ntr + 1),
      i -> abs(train[CAST(i AS INT)] - train[CAST(i - 1 AS INT)])) AS ie
  FROM st),
sm AS (
  SELECT event_type, n, ntr,
    list_reduce(he, (a, b) -> a + b) AS sh,
    list_reduce(se, (a, b) -> a + b) AS ss,
    list_reduce(ie, (a, b) -> a + b) / CAST(ntr - 1 AS DOUBLE) AS scale
  FROM er)
SELECT event_type, CAST(n AS INTEGER) AS n, CAST(ntr AS INTEGER) AS n_train,
  round(sh / 5.0, 6) AS mae_holt,
  round(ss / 5.0, 6) AS mae_snaive,
  round(sh / 5.0 / scale, 6) AS mase_holt,
  CASE WHEN sh <= ss THEN 'holt' ELSE 'seasonal_naive' END AS winner
FROM sm""",
    ),
    # Additive Holt-Winters: level + trend + 7-slot seasonal state as
    # ONE list_reduce over [x, t] pairs (init state prepended as the
    # seed element).  DuckDB's indexed lambdas are 1-based vs Spark's
    # 0-based — aligned below.
    "q_holt_winters": QuerySpec(
        timeseries.holt_winters_by_type,
        """WITH series AS (
  SELECT event_type, list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS vals
  FROM events GROUP BY event_type),
st AS (
  SELECT event_type, len(vals) AS n,
    list_reduce(
      list_prepend([vals[1], 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0],
                   list_transform(vals[2:], (x, i) -> [x, CAST(i AS DOUBLE)])),
      (s, e) -> list_concat(
        [0.5 * (e[1] - s[(CAST(e[2] AS INT) % 7) + 3]) + 0.5 * (s[1] + s[2]),
         0.3 * ((0.5 * (e[1] - s[(CAST(e[2] AS INT) % 7) + 3])
                 + 0.5 * (s[1] + s[2])) - s[1]) + 0.7 * s[2]],
        list_transform(s[3:], (v, j) ->
          CASE WHEN j - 1 = CAST(e[2] AS INT) % 7
               THEN 0.2 * (e[1] - (0.5 * (e[1] - v) + 0.5 * (s[1] + s[2])))
                    + 0.8 * v
               ELSE v END))) AS hw
  FROM series)
SELECT event_type, CAST(n AS INTEGER) AS n,
  round(hw[1], 6) AS level, round(hw[2], 6) AS trend,
  round(hw[1] + 1.0 * hw[2] + hw[CAST((n - 1 + 1) % 7 AS INT) + 3], 6) AS fc_1,
  round(hw[1] + 2.0 * hw[2] + hw[CAST((n - 1 + 2) % 7 AS INT) + 3], 6) AS fc_2,
  round(hw[1] + 3.0 * hw[2] + hw[CAST((n - 1 + 3) % 7 AS INT) + 3], 6) AS fc_3
FROM st""",
    ),
    "q_ewma_segmented": QuerySpec(
        timeseries.ewma_segmented,
        # mirrors the two-level segmented scan operation-for-operation:
        # per-day in-array folds to (A, B), then ordered affine
        # composition — hierarchical float evaluation is bit-checked
        """WITH per_day AS (
  SELECT event_type, date_trunc('day', ts) AS day,
    list(value ORDER BY ts, event_id) AS vals
  FROM events GROUP BY 1, 2),
segs AS (
  SELECT event_type, day, len(vals) AS n,
    list_reduce(list_prepend(CAST(1.0 AS DOUBLE), list_transform(vals, x -> CAST(0.5 AS DOUBLE))), (acc, x) -> acc * x) AS seg_a,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), vals), (acc, x) -> 0.5 * acc + 0.5 * x) AS seg_b
  FROM per_day),
composed AS (
  SELECT event_type, CAST(sum(n) AS INTEGER) AS n,
    list_reduce(
      list_prepend(struct_pack(a := CAST(1.0 AS DOUBLE), b := CAST(0.0 AS DOUBLE)),
                   list(struct_pack(a := seg_a, b := seg_b) ORDER BY day)),
      (acc, s) -> struct_pack(a := s.a * acc.a, b := s.a * acc.b + s.b)) AS ab
  FROM segs GROUP BY event_type)
SELECT event_type, n, round(ab.b, 6) AS ewma FROM composed""",
    ),
    "q_data_expectations": QuerySpec(
        profiling.data_expectations,
        """SELECT 'orders.o_orderkey unique' AS check_name,
       CAST(count(*) AS BIGINT) AS n_checked,
       CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS n_violations,
       count(*) = count(DISTINCT o_orderkey) AS passed
FROM orders
UNION ALL
SELECT 'lineitem.l_quantity in [1,50]',
       CAST(count(*) AS BIGINT),
       CAST(count(*) FILTER (WHERE l_quantity NOT BETWEEN 1 AND 50) AS BIGINT),
       count(*) FILTER (WHERE l_quantity NOT BETWEEN 1 AND 50) = 0
FROM lineitem
UNION ALL
SELECT 'customer.c_custkey not null',
       CAST(count(*) AS BIGINT),
       CAST(count(*) FILTER (WHERE c_custkey IS NULL) AS BIGINT),
       count(*) FILTER (WHERE c_custkey IS NULL) = 0
FROM customer
UNION ALL
SELECT 'orders.o_custkey references customer',
       CAST((SELECT count(*) FROM orders) AS BIGINT),
       CAST((SELECT count(*) FROM orders o
             WHERE o.o_custkey NOT IN (SELECT c_custkey FROM customer)) AS BIGINT),
       (SELECT count(*) FROM orders o
        WHERE o.o_custkey NOT IN (SELECT c_custkey FROM customer)) = 0
UNION ALL
SELECT 'documents.n_chars = length(text)',
       CAST(count(*) AS BIGINT),
       CAST(count(*) FILTER (WHERE n_chars <> length(text)) AS BIGINT),
       count(*) FILTER (WHERE n_chars <> length(text)) = 0
FROM documents
UNION ALL
SELECT 'documents.text non-empty',
       CAST(count(*) AS BIGINT),
       CAST(count(*) FILTER (WHERE length(text) = 0) AS BIGINT),
       count(*) FILTER (WHERE length(text) = 0) = 0
FROM documents""",
    ),
    "q_pii_scrub": QuerySpec(
        textops.pii_scrub,
        r"""WITH t AS (
  SELECT doc_id,
    'contact: user' || CAST(doc_id AS VARCHAR) || '@example.com ph +1-555-'
      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      || ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1 ' || text AS raw
  FROM documents)
SELECT doc_id,
  CAST(len(regexp_extract_all(raw, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z][a-z]+')) AS INTEGER) AS n_emails,
  CAST(len(regexp_extract_all(raw, '\+1-555-[0-9][0-9][0-9][0-9]')) AS INTEGER) AS n_phones,
  CAST(len(regexp_extract_all(raw, '10\.0\.[0-9]+\.[0-9]+')) AS INTEGER) AS n_ips,
  md5(regexp_replace(regexp_replace(regexp_replace(raw,
        '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z][a-z]+', '<EMAIL>', 'g'),
        '\+1-555-[0-9][0-9][0-9][0-9]', '<PHONE>', 'g'),
        '10\.0\.[0-9]+\.[0-9]+', '<IP>', 'g')) AS scrubbed_md5
FROM t""",
    ),
    "q_mixing_sample": QuerySpec(
        textops.mixing_sample,
        """SELECT doc_id, source, lang, n_chars
FROM documents
WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) / 281474976710656.0
  < CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5 WHEN 'src2' THEN 0.25 ELSE 0.1 END""",
    ),
    "q_pack_sequences": QuerySpec(
        textops.pack_sequences,
        """WITH t AS (
  SELECT doc_id, CAST(doc_id % 16 AS INTEGER) AS bucket,
    len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS n_tokens
  FROM documents)
SELECT doc_id, bucket, CAST(n_tokens AS INTEGER) AS n_tokens,
  CAST(floor((sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id) - n_tokens) / 512.0) AS INTEGER) AS pack_id
FROM t""",
    ),
    "q_feature_hashing": QuerySpec(
        textops.feature_hashing,
        """WITH terms AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS term
  FROM documents)
SELECT doc_id,
  CAST(CAST(('0x' || substr(md5(term), 1, 12)) AS BIGINT) % 1024 AS INTEGER) AS bucket,
  count(*) AS count
FROM terms GROUP BY 1, 2""",
    ),
    "q_od_matrix": QuerySpec(
        sessions.od_matrix,
        f"""WITH {_LOC_CTE},
cells AS (
  SELECT user_id, ts, latitude, longitude,
    '6_' || CAST(CAST(floor((1 - ln(tan(latitude*pi()/180) + 1/cos(latitude*pi()/180))/pi())/2 * 64.0) AS BIGINT) AS VARCHAR)
     || '_' || CAST(CAST(floor((longitude + 180.0)/360.0 * 64.0) AS BIGINT) AS VARCHAR) AS cell
  FROM locations WHERE source <> 'background'),
trans AS (
  SELECT user_id,
    lag(cell) OVER (PARTITION BY user_id ORDER BY ts, latitude, longitude) AS from_cell,
    cell AS to_cell
  FROM cells)
SELECT from_cell, to_cell, count(*) AS n_transitions
FROM trans WHERE from_cell IS NOT NULL
GROUP BY 1, 2""",
    ),
    "q_trajectory_similarity": QuerySpec(
        similarity.trajectory_similarity,
        f"""WITH {_LOC_CTE},
cells AS (
  SELECT DISTINCT user_id,
    '6_' || CAST(CAST(floor((1 - ln(tan(latitude*pi()/180) + 1/cos(latitude*pi()/180))/pi())/2 * 64.0) AS BIGINT) AS VARCHAR)
     || '_' || CAST(CAST(floor((longitude + 180.0)/360.0 * 64.0) AS BIGINT) AS VARCHAR) AS cell
  FROM locations WHERE source <> 'background'),
kept AS (
  SELECT c.user_id, c.cell FROM cells c
  JOIN (SELECT cell, count(*) AS df FROM cells GROUP BY cell) d USING (cell)
  WHERE d.df <= 64),
sizes AS (SELECT user_id, count(*) AS n_cells FROM kept GROUP BY user_id),
inter AS (
  SELECT a.user_id AS user_a, b.user_id AS user_b, count(*) AS n_common
  FROM kept a JOIN kept b ON a.cell = b.cell AND a.user_id < b.user_id
  GROUP BY 1, 2)
SELECT user_a, user_b,
  round(n_common / (sa.n_cells + sb.n_cells - n_common), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.user_id = user_a
JOIN sizes sb ON sb.user_id = user_b
ORDER BY jaccard DESC, user_a, user_b LIMIT 20""",
    ),
    "q_knn_cosine": QuerySpec(
        similarity.knn_cosine,
        _KNN_EXACT_SQL,
        headline=True,
    ),
    # Integer fixed-point Lloyd k-means (diversity clustering): the
    # oracle replays both iterations CTE-for-CTE — quantize, exact
    # integer centroids (// ≡ Spark div, both truncate toward zero),
    # exact HUGEINT distances, argmin tie-broken toward the lowest
    # cluster — so an ITERATIVE algorithm carries a full value hash.
    "q_kmeans_embeddings": QuerySpec(
        similarity.kmeans_embeddings,
        """WITH q AS (
  SELECT vec_id,
    list_transform(embedding,
      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000000.0) AS BIGINT)) AS qv
  FROM embeddings),
a0 AS (SELECT vec_id, CAST(vec_id % 8 AS INTEGER) AS cluster, qv FROM q),
s1 AS (
  SELECT cluster, pos, SUM(x) AS s, COUNT(*) AS n
  FROM (SELECT cluster, unnest(qv) AS x, generate_subscripts(qv, 1) AS pos
        FROM a0)
  GROUP BY 1, 2),
c1 AS (SELECT cluster, list(CAST(s // n AS BIGINT) ORDER BY pos) AS cv
       FROM s1 GROUP BY 1),
d1 AS (
  SELECT q.vec_id, c.cluster, q.qv,
    list_aggregate(list_transform(list_zip(q.qv, c.cv),
      p -> CAST(p[1] - p[2] AS HUGEINT) * (p[1] - p[2])), 'sum') AS dist
  FROM q CROSS JOIN c1 c),
a1 AS (
  SELECT vec_id, cluster, qv
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dist, cluster) AS rn
        FROM d1)
  WHERE rn = 1),
s2 AS (
  SELECT cluster, pos, SUM(x) AS s, COUNT(*) AS n
  FROM (SELECT cluster, unnest(qv) AS x, generate_subscripts(qv, 1) AS pos
        FROM a1)
  GROUP BY 1, 2),
c2n AS (SELECT cluster, list(CAST(s // n AS BIGINT) ORDER BY pos) AS cv
        FROM s2 GROUP BY 1),
c2 AS (SELECT c1.cluster, COALESCE(c2n.cv, c1.cv) AS cv
       FROM c1 LEFT JOIN c2n ON c1.cluster = c2n.cluster),
d2 AS (
  SELECT q.vec_id, c.cluster, q.qv,
    list_aggregate(list_transform(list_zip(q.qv, c.cv),
      p -> CAST(p[1] - p[2] AS HUGEINT) * (p[1] - p[2])), 'sum') AS dist
  FROM q CROSS JOIN c2 c),
a2 AS (
  SELECT vec_id, cluster
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dist, cluster) AS rn
        FROM d2)
  WHERE rn = 1)
SELECT vec_id, cluster,
  CAST(count(*) OVER (PARTITION BY cluster) AS BIGINT) AS cluster_size
FROM a2""",
    ),
    # Filtered vector search (pre-filter, exact): corpus restricted to
    # lang='en' docs via a pushed predicate + keyed join.
    "q_knn_filtered": QuerySpec(
        similarity.knn_cosine_filtered,
        """WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
q AS (SELECT vec_id AS query_id, vec AS qvec FROM emb WHERE vec_id < 10),
c AS (SELECT e.vec_id, e.vec FROM emb e
      JOIN documents d ON e.vec_id = d.doc_id WHERE d.lang = 'en'),
scored AS (
  SELECT query_id, e.vec_id AS neighbor_id,
    round(
      list_sum(list_transform(range(1, len(qvec) + 1), i -> qvec[i] * e.vec[i])) /
      (sqrt(list_sum(list_transform(range(1, len(qvec) + 1), i -> qvec[i] * qvec[i]))) *
       sqrt(list_sum(list_transform(range(1, len(e.vec) + 1), i -> e.vec[i] * e.vec[i])))),
      6) AS cosine
  FROM c e CROSS JOIN q WHERE e.vec_id <> query_id),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
  FROM scored)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5""",
    ),
    "q_knn_cosine_ivf": QuerySpec(similarity.knn_cosine_ivf, None),
    # PQ-ADC compressed-domain search + exact re-rank; rows-only with
    # an in-registry recall pin (raises below 0.85) like q_knn_ivf_recall.
    "q_knn_pq_recall": QuerySpec(similarity.pq_recall, None),
    # OPQ: learned-rotation PQ at 8 B/vec (64x compression) — rows-only
    # with an in-registry pin (raises below 0.8); the returned row also
    # carries plain-PQ recall at the same budget for the comparison.
    "q_knn_opq_recall": QuerySpec(similarity.opq_recall, None),
    # IVFADC (FAISS IVFPQ architecture): coarse inverted lists + PQ on
    # residuals — the recall/cost dial rows (nprobe 1/half/all) with
    # candidate fractions; raises below 0.6 full-probe recall.
    "q_knn_ivfpq_recall": QuerySpec(similarity.ivfpq_recall, None),
    # OPQ rotation composed INTO the IVFPQ residual encode (the FAISS
    # OPQ..,IVF..,PQ.. chain) — rows-only with an in-registry raise:
    # full-probe recall@5 at 16x re-rank oversample measured 0.86
    # (plain IVFPQ comparison row 0.90 — on isotropic fixtures the
    # residual rotation's gain shows at tight shortlists, 0.76 vs
    # 0.72 at 8x, and washes out at deeper re-rank; clustered real
    # corpora shift the gain up), pinned >= 0.75 at both fixture
    # tiers.
    "q_knn_ivfpq_opq_recall": QuerySpec(similarity.ivfpq_opq_recall, None),
    # Graph ANN (the HNSW analogue): layered NN-Descent graphs +
    # hierarchy-descent beam search, recall raise-pinned at 0.8
    # (measured 0.96 at both fixtures; 0.94 at the 20k probe).
    "q_knn_graph_recall": QuerySpec(similarity.knn_graph_recall, None),
    # nprobe = all buckets ⇒ IVF output provably equals brute force, so
    # the whole IVF machinery rides the exact oracle's hash-match gate
    "q_knn_cosine_ivf_exact": QuerySpec(
        similarity.knn_cosine_ivf_exact, _KNN_EXACT_SQL
    ),
    # rows-only, but the query itself raises below recall@5 = 0.3 at
    # nprobe=1 (and below 1.0 at nprobe=all) — quality pinned in-registry
    "q_knn_ivf_recall": QuerySpec(similarity.knn_ivf_recall, None),
    "q_text_stats": QuerySpec(
        textops.text_stats,
        """WITH t AS (
  SELECT doc_id, text,
    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents)
SELECT doc_id,
  CAST(length(text) AS INTEGER) AS n_chars,
  CAST(len(toks) AS INTEGER) AS n_tokens,
  CAST(len(list_distinct(toks)) AS INTEGER) AS n_distinct_tokens,
  round(len(list_distinct(toks)) / len(toks), 6) AS ttr,
  round(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','on','for','with'], x))) / len(toks), 6) AS stopword_ratio,
  round(length(text) / len(toks), 6) AS avg_token_span
FROM t""",
    ),
    "q_lang_id": QuerySpec(
        textops.lang_id,
        """WITH t AS (
  SELECT doc_id, lang,
    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents)
SELECT doc_id, lang,
  round(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','on','for','with'], x))) / len(toks), 6) AS en_stop_ratio,
  CASE WHEN len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','on','for','with'], x))) / len(toks) > 0.05
       THEN 'en' ELSE 'other' END AS predicted_lang
FROM t""",
    ),
    "q_token_counts": QuerySpec(
        textops.token_counts,
        r"""SELECT doc_id,
  CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS INTEGER) AS n_ws_tokens,
  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INTEGER) AS n_bpe_tokens
FROM documents""",
    ),
    # Real BPE merge training (Sennrich 2016): iterative — the
    # SQL-inexpressible class, so rows-only with in-registry invariant
    # raises; exact-match oracle vs a pure-Python trainer in
    # tests/test_bpe.py.  The only corpus-scale pass is the word-count
    # aggregate; the merge loop runs on the vocabulary table.
    "q_bpe_merges": QuerySpec(textops.bpe_merges, None),
    # unigram-LM (SentencePiece-style) vocabulary: iterative EM like
    # BPE (rows-only + in-query raise pins; exact-match vs a
    # pure-python trainer in tests/test_unigram.py)
    "q_unigram_vocab": QuerySpec(textops.unigram_vocab, None),
    # Arrow-batched BPE encode under freshly trained merges (bounds-
    # pinned rows-only; per-word exact agreement pinned in tests).
    "q_bpe_token_counts": QuerySpec(textops.bpe_token_counts, None),
    "q_multimodal_meta": QuerySpec(
        textops.multimodal_meta,
        """SELECT doc_id, CAST(strlen(text) AS INTEGER) AS n_bytes, md5(text) AS content_md5,
  lang AS meta_lang, source AS meta_source
FROM documents""",
    ),
    # ---- analytics extensions ----
    "q_percentiles": QuerySpec(
        relational.value_percentiles,
        """SELECT event_type,
  round(quantile_cont(value, 0.5), 6) AS p50,
  round(quantile_cont(value, 0.9), 6) AS p90,
  round(min(value), 6) AS vmin,
  round(max(value), 6) AS vmax
FROM events GROUP BY event_type""",
    ),
    "q_json_extract": QuerySpec(
        relational.json_extract_events,
        """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
FROM events""",
    ),
    "q_grouping_sets": QuerySpec(
        relational.grouping_sets_lineitem,
        """SELECT l_returnflag, l_linestatus, count(*) AS n_items
FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""",
    ),
    "q_string_functions": QuerySpec(
        relational.string_functions,
        """SELECT c_custkey,
  upper(c_name) AS name_upper,
  substr(c_name, 1, 8) AS name_prefix,
  CAST(length(c_name) AS INTEGER) AS name_len,
  regexp_replace(c_name, '[0-9]+', '#', 'g') AS name_masked,
  reverse(c_name) AS name_rev,
  'c-' || CAST(c_custkey AS VARCHAR) AS name_key
FROM customer""",
    ),
    # ---- more heatmap-derived queries ----
    "q_heatmap_topk_tiles": QuerySpec(
        q_heatmap_topk_tiles,
        f"""WITH {_LOC_CTE},
pts AS (
  SELECT CAST(floor((1 - ln(tan(latitude*pi()/180) + 1/cos(latitude*pi()/180))/pi())/2 * 4096.0) AS BIGINT) AS row,
         CAST(floor((longitude + 180.0)/360.0 * 4096.0) AS BIGINT) AS col,
         weight
  FROM locations WHERE source <> 'background'),
agg AS (SELECT row, col, sum(weight) AS visits FROM pts GROUP BY 1, 2)
SELECT '12_' || CAST(row AS VARCHAR) || '_' || CAST(col AS VARCHAR) AS tile_id, visits
FROM agg ORDER BY visits DESC, row, col LIMIT 10""",
    ),
    "q_heatmap_unique_users": QuerySpec(
        q_heatmap_unique_users,
        f"""WITH {_LOC_CTE},
pts AS (
  SELECT CAST(floor((1 - ln(tan(latitude*pi()/180) + 1/cos(latitude*pi()/180))/pi())/2 * 256.0) AS BIGINT) AS row,
         CAST(floor((longitude + 180.0)/360.0 * 256.0) AS BIGINT) AS col,
         user_id, weight
  FROM locations WHERE source <> 'background')
SELECT '8_' || CAST(row AS VARCHAR) || '_' || CAST(col AS VARCHAR) AS tile_id,
       count(DISTINCT user_id) AS n_users, sum(weight) AS visits
FROM pts GROUP BY row, col""",
    ),
    # ---- streaming (driven to completion through the memory sink) ----
    "q_streaming_tumbling": QuerySpec(
        q_streaming_tumbling,
        """SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start, event_type,
  count(*) AS n_events
FROM events GROUP BY 1, 2""",
    ),
    "q_streaming_join": QuerySpec(
        q_streaming_join,
        """SELECT c.user_id, c.event_id AS click_id, v.event_id AS view_id,
  epoch_ms(c.ts) - epoch_ms(v.ts) AS delay_ms
FROM events c JOIN events v
  ON c.user_id = v.user_id
 AND v.ts >= c.ts - INTERVAL 10 MINUTE AND v.ts <= c.ts
WHERE c.event_type = 'click' AND v.event_type = 'view'""",
    ),
    "q_streaming_dedup": QuerySpec(
        q_streaming_dedup,
        """SELECT DISTINCT user_id, event_type FROM events""",
    ),
    "q_streaming_tile_store": QuerySpec(
        q_streaming_tile_store,
        f"""WITH {_LOC_CTE},\n{_PTS_CTE},\n{_EXPANDED_CTE}\n"""
        + _LEVELED_AGG.replace("generate_series(6, 21)", "generate_series(8, 12)"),
    ),
    "q_streaming_tile_store_partitioned": QuerySpec(
        q_streaming_tile_store_partitioned,
        f"""WITH {_LOC_CTE},\n{_PTS_CTE},\n{_EXPANDED_CTE}\n"""
        + _LEVELED_AGG.replace("generate_series(6, 21)", "generate_series(8, 12)"),
    ),
    "q_streaming_enrich": QuerySpec(
        q_streaming_enrich,
        """SELECT e.event_id, e.user_id, e.value, c.c_custkey, c.c_name, c.c_nationkey
FROM events e
JOIN customer c
  ON c.c_custkey = CAST(e.user_id AS BIGINT) % (SELECT count(*) FROM customer) + 1
WHERE e.event_type = 'purchase'""",
    ),
    "q_streaming_sessions": QuerySpec(
        q_streaming_sessions,
        f"""WITH flags AS (
  SELECT user_id, ts, event_id, value,
    CASE WHEN lag(ts) OVER w IS NULL
           OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 3600000
         THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sess AS (
  SELECT user_id, ts, event_id, value,
    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM flags)
SELECT min(ts) AS session_start,
       max(ts) + INTERVAL 60 MINUTE AS session_end,
       user_id, count(*) AS n_events,
       CAST(sum({_d('value')}) AS DOUBLE) AS total_value
FROM sess GROUP BY user_id, session_id""",
    ),
    "q_streaming_heatmap": QuerySpec(
        q_streaming_heatmap,
        f"""WITH {_LOC_CTE},
pts AS (
  SELECT time_bucket(INTERVAL '60 minutes', ts) AS window_start,
         CAST(floor((1 - ln(tan(latitude*pi()/180) + 1/cos(latitude*pi()/180))/pi())/2 * 1024.0) AS BIGINT) AS row,
         CAST(floor((longitude + 180.0)/360.0 * 1024.0) AS BIGINT) AS col,
         user_id, weight
  FROM locations WHERE source <> 'background'),
expanded AS (
  SELECT window_start, row, col, weight,
    unnest(CASE WHEN user_id LIKE 'x%' THEN ['all']
                WHEN user_id LIKE 'rt-%' THEN ['all','route']
                ELSE ['all', user_id] END) AS user_group
  FROM pts)
SELECT window_start, user_group,
       '10_' || CAST(row AS VARCHAR) || '_' || CAST(col AS VARCHAR) AS tile_id,
       sum(weight) AS visits
FROM expanded GROUP BY 1, 2, 3""",
    ),
    # ---- more dedup / similarity / text ----
    "q_simhash": QuerySpec(
        dedup.simhash,
        f"""WITH {_SHINGLES_CTE},
hs AS (SELECT doc_id, md5(token) AS h FROM toks),
bits AS (
  SELECT doc_id, b.bit_idx,
    CAST(floor((strpos('0123456789abcdef', substr(h, CAST(b.bit_idx // 4 AS INTEGER) + 1, 1)) - 1)
         / pow(2.0, CAST(b.bit_idx % 4 AS DOUBLE))) AS BIGINT) % 2 AS bit
  FROM hs CROSS JOIN generate_series(0, 31) AS b(bit_idx)),
per_bit AS (
  SELECT doc_id, bit_idx,
    CASE WHEN sum(bit * 2 - 1) >= 0 THEN '1' ELSE '0' END AS b
  FROM bits GROUP BY 1, 2)
SELECT doc_id, string_agg(b, '' ORDER BY bit_idx) AS simhash_bits
FROM per_bit GROUP BY doc_id""",
    ),
    "q_embedding_near_dup": QuerySpec(
        similarity.embedding_near_dup_pairs,
        # mirrors the engine's deterministic IVF multi-bucketing (seed
        # codebook = per-coordinate means over vec_id % 8 groups, each
        # vector assigned to its top-2 buckets by dot affinity, ties to
        # the lowest bucket), then scores only shared-bucket pairs —
        # the approximation itself is hash-checked.
        f"""WITH {_EMB_PAIRS_CTE}
SELECT vec_id_a, vec_id_b, round(raw, 6) AS cosine
FROM pairs WHERE raw >= 0.4""",
    ),
    "q_repetition_metrics": QuerySpec(
        textops.repetition_metrics,
        """WITH t AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents),
tri AS (
  SELECT doc_id, toks, len(toks) AS n_tokens,
    list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS tris
  FROM t),
base AS (
  SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
    round(1.0 - len(list_distinct(toks)) / n_tokens, 6) AS dup_token_frac,
    round(1.0 - len(list_distinct(tris)) / greatest(len(tris), 1), 6) AS dup_trigram_frac
  FROM tri),
bg AS (
  SELECT doc_id, unnest(list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
                                       i -> toks[i] || ' ' || toks[i+1])) AS bigram
  FROM t),
bgc AS (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2),
topbg AS (SELECT doc_id, max(c) AS top_c FROM bgc GROUP BY 1)
SELECT b.doc_id, b.n_tokens, b.dup_token_frac, b.dup_trigram_frac,
  round(2.0 * top_c / b.n_tokens, 6) AS top_bigram_frac
FROM base b JOIN topbg USING (doc_id)""",
    ),
    "q_gopher_quality": QuerySpec(
        textops.gopher_quality,
        """WITH t AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents),
s AS (
  SELECT doc_id,
    CAST(len(toks) AS INTEGER) AS n_tokens,
    round(list_sum(list_transform(toks, x -> length(x))) / len(toks), 6) AS mean_word_len,
    round(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) / len(toks), 6) AS alpha_frac,
    CAST(len(list_distinct(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','on','for','with'], x)))) AS INTEGER) AS n_distinct_stopwords
  FROM t)
SELECT doc_id, n_tokens, mean_word_len, alpha_frac, n_distinct_stopwords,
  n_tokens BETWEEN 50 AND 100000 AS ok_token_count,
  mean_word_len BETWEEN 3.0 AND 10.0 AS ok_mean_word_len,
  alpha_frac >= 0.8 AS ok_alpha_frac,
  n_distinct_stopwords >= 2 AS ok_stopwords,
  (n_tokens BETWEEN 50 AND 100000) AND (mean_word_len BETWEEN 3.0 AND 10.0)
    AND alpha_frac >= 0.8 AND n_distinct_stopwords >= 2 AS keep
FROM s""",
    ),
    "q_decontaminate": QuerySpec(
        dedup.decontaminate,
        """WITH t AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents),
sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 3),
    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]))) AS token
  FROM t),
bench AS (SELECT DISTINCT token FROM sh WHERE doc_id % 97 = 0),
cont AS (
  SELECT DISTINCT doc_id FROM sh
  WHERE doc_id % 97 <> 0 AND token IN (SELECT token FROM bench))
SELECT d.doc_id,
  CASE WHEN d.doc_id % 97 = 0 THEN 'benchmark'
       WHEN c.doc_id IS NOT NULL THEN 'contaminated'
       ELSE 'clean' END AS status,
  (d.doc_id % 97 <> 0 AND c.doc_id IS NULL) AS keep
FROM documents d LEFT JOIN cont c USING (doc_id)""",
    ),
    "q_tfidf_top_terms": QuerySpec(
        textops.tfidf_top_terms,
        """WITH terms AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
idf AS (SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY 1),
n AS (SELECT count(*) AS n FROM documents),
scored AS (
  SELECT doc_id, term, round(tf * ln((n + 1.0) / (df + 1.0)), 6) AS tfidf
  FROM tf JOIN idf USING (term) CROSS JOIN n),
ranked AS (
  SELECT doc_id, term, tfidf,
    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
  FROM scored)
SELECT doc_id, term, tfidf FROM ranked WHERE rn = 1""",
    ),
    # ---- multimodal plumbing (mapInPandas — no SQL twin) ----
    "q_media_features": QuerySpec(multimodal.media_features, None),
    # Nearest-neighbor thumbnail resize over the stub-decoded grid —
    # the resize math is REAL and byte-hash-gated (ASCII payloads let
    # DuckDB rebuild the identical pixel buffer by char indexing).
    "q_media_resize": QuerySpec(
        multimodal.media_resize,
        """WITH m AS (
  SELECT doc_id, length(text) AS L,
         CAST((length(text) % 64) + 1 AS INTEGER) AS src_w,
         CAST((length(text) % 48) + 1 AS INTEGER) AS src_h,
         text
  FROM documents)
SELECT doc_id, src_w, src_h,
  CASE WHEN L = 0 THEN md5('') ELSE
  md5(array_to_string(list_transform(range(0, 256),
    i -> substr(text,
                CAST((((i // 16) * src_h // 16) * src_w
                      + ((i % 16) * src_w // 16)) % L AS INTEGER) + 1,
                1)), '')) END AS resized_md5
FROM m""",
    ),
    # REAL media decode: documents → real PNG bitstreams (stdlib zlib
    # encoder, filters 0-4) → real decoder (CRC check, inflate,
    # unfilter).  The oracle reconstructs the expected raster from the
    # raw text, so the hash match certifies every decoded pixel.
    "q_media_decode": QuerySpec(
        multimodal.media_decode_png,
        """WITH m AS (
  SELECT doc_id, strlen(text) AS L, text,
         CAST((strlen(text) % 64) + 1 AS INTEGER) AS width
  FROM documents),
dims AS (
  SELECT doc_id, L, text, width,
         CAST(greatest(1, CAST(ceil(L / CAST(width AS DOUBLE)) AS BIGINT)) AS INTEGER) AS height
  FROM m)
SELECT doc_id, width, height,
  CAST(width * height AS INTEGER) AS n_pixels,
  CAST(COALESCE(list_sum(list_transform(range(1, CAST(L AS INTEGER) + 1),
         i -> ascii(substr(text, CAST(i AS INTEGER), 1)))), 0)
       + 32 * (width * height - L) AS BIGINT) AS pixel_sum,
  md5(text || repeat(' ', CAST(width * height - L AS INTEGER))) AS pixel_md5
FROM dims""",
    ),
    # TRUECOLOR decode through the generalized codec (gray/RGB ×
    # 8/16-bit): md5 over the decoded pixel buffer in row-major
    # channel order == the padded byte string the oracle rebuilds.
    "q_media_decode_rgb": QuerySpec(
        multimodal.media_decode_rgb,
        """WITH m AS (
  SELECT doc_id, strlen(text) AS L, text,
         CAST((strlen(text) % 32) + 1 AS INTEGER) AS width
  FROM documents),
dims AS (
  SELECT doc_id, L, text, width,
         CAST(greatest(1, CAST(ceil(L / CAST(3 * width AS DOUBLE)) AS BIGINT)) AS INTEGER) AS height
  FROM m)
SELECT doc_id, width, height,
  CAST(3 AS INTEGER) AS channels, CAST(8 AS INTEGER) AS depth,
  CAST(COALESCE(list_sum(list_transform(range(1, CAST(L AS INTEGER) + 1),
         i -> ascii(substr(text, CAST(i AS INTEGER), 1)))), 0)
       + 32 * (3 * width * height - L) AS BIGINT) AS pixel_sum,
  md5(text || repeat(' ', CAST(3 * width * height - L AS INTEGER))) AS pixel_md5
FROM dims""",
    ),
    # Palette + Adam7 decode: text bytes (mod 64) → index raster →
    # interlaced PLTE PNG → expanded RGB; oracle replays the analytic
    # palette expansion value-for-value (q_media_wav md5 idiom).
    "q_media_adam7_palette": QuerySpec(
        multimodal.media_decode_adam7,
        """WITH m AS (SELECT doc_id, strlen(text) AS L, text FROM documents),
dims AS (
  SELECT doc_id, L, text,
    CAST((L % 24) + 1 AS INTEGER) AS width,
    CAST(greatest(1, CAST(ceil(L / CAST((L % 24) + 1 AS DOUBLE)) AS BIGINT))
         AS INTEGER) AS height
  FROM m),
px AS (
  SELECT doc_id, width, height,
    flatten(list_transform(
      range(1, width * height + 1),
      i -> CASE WHEN i <= CAST(L AS INTEGER)
                THEN [ascii(substr(text, CAST(i AS INTEGER), 1)) % 64 * 5 % 256,
                      ascii(substr(text, CAST(i AS INTEGER), 1)) % 64 * 11 % 256,
                      ascii(substr(text, CAST(i AS INTEGER), 1)) % 64 * 17 % 256]
                ELSE [0, 0, 0] END)) AS vals
  FROM dims)
SELECT doc_id, width, height,
  CAST(3 AS INTEGER) AS channels, CAST(8 AS INTEGER) AS depth,
  CAST(list_sum(vals) AS BIGINT) AS pixel_sum,
  md5(array_to_string(vals, ',')) AS pixel_md5
FROM px""",
    ),
    # BMP under the value hash, both encode arms (24-bit BGR bottom-up
    # + 8-bit paletted); oracle replays both expansions analytically.
    "q_media_bmp": QuerySpec(
        multimodal.media_decode_bmp,
        """WITH m AS (SELECT doc_id, strlen(text) AS L, text FROM documents),
rgb AS (
  SELECT doc_id, L, text, 'rgb24' AS kind,
    CAST((L % 16) + 1 AS INTEGER) AS width,
    CAST(greatest(1, CAST(ceil(L / CAST(3 * ((L % 16) + 1) AS DOUBLE)) AS BIGINT))
         AS INTEGER) AS height
  FROM m),
rgb_px AS (
  SELECT doc_id, kind, width, height,
    list_transform(range(1, 3 * width * height + 1),
      i -> CASE WHEN i <= CAST(L AS INTEGER)
                THEN ascii(substr(text, CAST(i AS INTEGER), 1))
                ELSE 32 END) AS vals
  FROM rgb),
pal AS (
  SELECT doc_id, L, text, 'pal8' AS kind,
    CAST((L % 20) + 1 AS INTEGER) AS width,
    CAST(greatest(1, CAST(ceil(L / CAST((L % 20) + 1 AS DOUBLE)) AS BIGINT))
         AS INTEGER) AS height
  FROM m),
pal_px AS (
  SELECT doc_id, kind, width, height,
    flatten(list_transform(range(1, width * height + 1),
      i -> CASE WHEN i <= CAST(L AS INTEGER)
        THEN [ascii(substr(text, CAST(i AS INTEGER), 1)) % 64 * 6 % 256,
              ascii(substr(text, CAST(i AS INTEGER), 1)) % 64 * 10 % 256,
              ascii(substr(text, CAST(i AS INTEGER), 1)) % 64 * 14 % 256]
        ELSE [0, 0, 0] END)) AS vals
  FROM pal),
u AS (SELECT * FROM rgb_px UNION ALL SELECT * FROM pal_px)
SELECT doc_id, kind, width, height,
  CAST(list_sum(vals) AS BIGINT) AS pixel_sum,
  md5(array_to_string(vals, ',')) AS pixel_md5
FROM u""",
    ),
    # Animated GIF under the value hash: LZW is lossless, so the
    # oracle replays the per-frame palette expansion analytically
    # (frame 1 shifts indices +7 mod 64; delay = 3 + 4*frame_idx).
    "q_media_gif": QuerySpec(
        multimodal.media_decode_gif,
        """WITH m AS (SELECT doc_id, strlen(text) AS L, text FROM documents),
dims AS (
  SELECT doc_id, L, text, CAST((L % 20) + 1 AS INTEGER) AS width,
    CAST(greatest(1, CAST(ceil(L / CAST((L % 20) + 1 AS DOUBLE)) AS BIGINT))
         AS INTEGER) AS height
  FROM m),
f AS (SELECT doc_id, L, text, width, height, CAST(i AS INTEGER) AS frame_idx
      FROM dims CROSS JOIN range(0, 2) t(i)),
px AS (
  SELECT doc_id, frame_idx, width, height,
    flatten(list_transform(
      range(1, width * height + 1),
      i -> CASE WHEN i <= CAST(L AS INTEGER)
        THEN [(ascii(substr(text, CAST(i AS INTEGER), 1)) % 64 + frame_idx * 7) % 64 * 4 % 256,
              (ascii(substr(text, CAST(i AS INTEGER), 1)) % 64 + frame_idx * 7) % 64 * 7 % 256,
              (ascii(substr(text, CAST(i AS INTEGER), 1)) % 64 + frame_idx * 7) % 64 * 13 % 256]
        ELSE [frame_idx * 7 % 64 * 4 % 256,
              frame_idx * 7 % 64 * 7 % 256,
              frame_idx * 7 % 64 * 13 % 256] END)) AS vals
  FROM f)
SELECT doc_id, frame_idx,
  CAST(3 + 4 * frame_idx AS INTEGER) AS delay,
  width, height,
  CAST(list_sum(vals) AS BIGINT) AS pixel_sum,
  md5(array_to_string(vals, ',')) AS pixel_md5
FROM px""",
    ),
    # Real JPEG decode under the value hash: constant 8×8 blocks are
    # EXACT through unit-quant SOF0 (DC-only, integer), so the oracle
    # replays the decoded block levels straight from the text; a
    # non-constant decoded block raises in-kernel.
    "q_media_jpeg": QuerySpec(
        multimodal.media_decode_jpeg,
        """WITH m AS (SELECT doc_id, strlen(text) AS L, text FROM documents),
dims AS (
  SELECT doc_id, L, text, CAST((L % 12) + 1 AS INTEGER) AS bw,
    CAST(greatest(1, CAST(ceil(L / CAST((L % 12) + 1 AS DOUBLE)) AS BIGINT))
         AS INTEGER) AS bh
  FROM m),
codes AS (
  SELECT doc_id, bw, bh,
    list_transform(range(1, bw * bh + 1),
      i -> CASE WHEN i <= CAST(L AS INTEGER)
                THEN ascii(substr(text, CAST(i AS INTEGER), 1))
                ELSE 32 END) AS cs
  FROM dims)
SELECT doc_id,
  CAST(bw * 8 AS INTEGER) AS width, CAST(bh * 8 AS INTEGER) AS height,
  CAST(bw * bh AS INTEGER) AS n_blocks,
  CAST(64 * list_sum(cs) AS BIGINT) AS pixel_sum,
  md5(array_to_string(cs, ',')) AS blocks_md5
FROM codes""",
    ),
    # Real AUDIO decode: text bytes → int16 PCM in a real RIFF/WAV
    # container → parsed back; oracle reconstructs sample values from
    # ascii codes.
    # audio FEATURE extraction over the decoded WAV samples: exact
    # integer energy/peak/ZCR around the clip mean + floor-quantized
    # RMS — the oracle rebuilds every feature from the generation
    # formula, certifying decode AND feature math
    "q_media_audio_features": QuerySpec(
        multimodal.media_audio_features,
        """WITH m AS (SELECT doc_id, strlen(text) AS L, text FROM documents),
s AS (
  SELECT doc_id, CAST(L AS BIGINT) AS n_samples,
    list_transform(range(1, CAST(L AS INTEGER) + 1),
                   i -> ascii(substr(text, CAST(i AS INTEGER), 1))) AS c
  FROM m WHERE L > 0),
st AS (
  SELECT doc_id, n_samples, c,
    CAST(list_sum(c) // n_samples AS BIGINT) AS mean_sample
  FROM s),
f AS (
  SELECT doc_id, n_samples, mean_sample,
    CAST(list_sum(list_transform(c,
      x -> (x - mean_sample) * (x - mean_sample))) AS BIGINT) AS energy,
    CAST(list_max(list_transform(c, x -> abs(x - mean_sample)))
      AS BIGINT) AS peak_dev,
    CAST(COALESCE(list_sum(list_transform(
      range(1, CAST(n_samples AS INTEGER)),
      i -> CASE WHEN (c[CAST(i AS INTEGER)] - mean_sample)
                   * (c[CAST(i AS INTEGER) + 1] - mean_sample) < 0
           THEN 1 ELSE 0 END)), 0) AS BIGINT) AS zcr
  FROM st)
SELECT doc_id, n_samples, mean_sample, energy, peak_dev, zcr,
  floor(sqrt(CAST(energy AS DOUBLE) / CAST(n_samples AS DOUBLE)) * 1000000.0)
    / 1000000.0 AS rms
FROM f""",
    ),
    "q_media_wav": QuerySpec(
        multimodal.media_decode_wav,
        """WITH m AS (SELECT doc_id, strlen(text) AS L, text FROM documents),
s AS (
  SELECT doc_id, L,
    list_transform(range(1, CAST(L AS INTEGER) + 1),
                   i -> ascii(substr(text, CAST(i AS INTEGER), 1))) AS codes
  FROM m)
SELECT doc_id,
  CAST(L AS BIGINT) AS n_samples,
  CAST(8000 AS INTEGER) AS sample_rate,
  CAST(COALESCE(list_sum(codes), 0) AS BIGINT) AS sample_sum,
  md5(COALESCE(array_to_string(codes, ','), '')) AS samples_md5
FROM s""",
    ),
    "q_media_frames": QuerySpec(
        multimodal.media_frames,
        """WITH m AS (SELECT doc_id, strlen(text) AS n_bytes, text FROM documents),
f AS (SELECT doc_id, n_bytes, text, CAST(i AS INTEGER) AS frame_idx
      FROM m CROSS JOIN range(0, 4) t(i)),
sliced AS (
  SELECT doc_id, frame_idx,
    substr(text,
           frame_idx * (CAST(floor(n_bytes / 4.0) AS INTEGER) + 1) + 1,
           CAST(floor(n_bytes / 4.0) AS INTEGER) + 1) AS frame
  FROM f)
SELECT doc_id, frame_idx,
  CAST(strlen(frame) AS INTEGER) AS frame_len,
  md5(frame) AS frame_md5
FROM sliced""",
    ),
    # Video frame sampling over real AVI/MJPEG payloads: the Spark side
    # builds AVI containers, walks RIFF, and fully decodes every 2nd
    # frame (container → MJPEG → pixels — the emitted dims come from
    # the DECODED frames); the oracle re-derives the structural fields
    # from the fixture's byte-length geometry (strlen = byte length in
    # DuckDB).  Pixel content is pinned by the codec property tests
    # (JPEG is lossy, so no value-hash on pixels by design).
    "q_media_video_frames": QuerySpec(
        multimodal.media_video_frames,
        """WITH m AS (SELECT doc_id, strlen(text) AS L FROM documents),
g AS (SELECT doc_id,
        CAST(L % 24 + 8 AS INTEGER) AS width,
        CAST(L % 5 + 2 AS INTEGER) AS n_frames
      FROM m)
SELECT doc_id,
  CAST(2 * i AS INTEGER) AS frame_idx,
  width,
  CAST(8 AS INTEGER) AS height,
  n_frames
FROM g CROSS JOIN range(0, 3) t(i)
WHERE 2 * i < n_frames""",
    ),
    # Directory ingestion through Spark's built-in binaryFile source:
    # documents render to real PNG/WAV/AVI/GIF/BMP FILES (distributed writer),
    # the scan reads them back file-per-partition, and decode_real
    # content-sniffs each payload through the native codecs.  The
    # oracle re-derives the typed metadata from the fixture geometry —
    # a hash match certifies file write → binaryFile scan → sniff →
    # decode end-to-end.
    "q_media_ingest": QuerySpec(
        q_media_ingest,
        """WITH m AS (SELECT doc_id, strlen(text) AS L FROM documents)
SELECT doc_id,
  CASE doc_id % 5 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
       WHEN 4 THEN 'image' ELSE 'video' END AS kind,
  CASE doc_id % 5 WHEN 0 THEN CAST(L % 64 + 1 AS INTEGER)
                  WHEN 2 THEN CAST(L % 24 + 8 AS INTEGER)
                  WHEN 3 THEN CAST(L % 16 + 4 AS INTEGER)
                  WHEN 4 THEN CAST(L % 10 + 2 AS INTEGER) END AS width,
  CASE doc_id % 5
       WHEN 0 THEN CAST(greatest(1, ceil(L / (L % 64 + 1.0))) AS INTEGER)
       WHEN 2 THEN CAST(8 AS INTEGER)
       WHEN 3 THEN CAST(4 AS INTEGER)
       WHEN 4 THEN CAST(3 AS INTEGER) END AS height,
  CASE doc_id % 5 WHEN 2 THEN CAST(L % 5 + 2 AS INTEGER)
                  WHEN 3 THEN CAST(L % 3 + 2 AS INTEGER) END AS n_frames,
  CASE doc_id % 5 WHEN 1 THEN CAST(L AS BIGINT) END AS n_samples
FROM m""",
    ),
    # ---- MLlib LSH variants (engine-internal hash families — rows-only) ----
    "q_ml_minhash_lsh": QuerySpec(
        lambda spark, sf_dir: _ml().ml_minhash_candidates(spark, sf_dir), None
    ),
    "q_ml_brp_neighbors": QuerySpec(
        lambda spark, sf_dir: _ml().ml_brp_neighbors(spark, sf_dir), None
    ),
    "q_tpch_q4": QuerySpec(
        relational.tpch_q4,
        """SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority""",
    ),
    "q_unpivot_events": QuerySpec(
        relational.unpivot_events,
        """WITH wide AS (
  SELECT user_id,
    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
    CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
  FROM events GROUP BY user_id),
long AS (
  SELECT user_id, 'click' AS event_type, n_click AS n FROM wide
  UNION ALL SELECT user_id, 'view', n_view FROM wide
  UNION ALL SELECT user_id, 'purchase', n_purchase FROM wide
  UNION ALL SELECT user_id, 'signup', n_signup FROM wide
  UNION ALL SELECT user_id, 'error', n_error FROM wide)
SELECT user_id, event_type, n FROM long WHERE n > 0""",
    ),
    "q_order_extremes": QuerySpec(
        relational.order_extremes_per_customer,
        """WITH keyed AS (
  SELECT o_custkey, o_orderkey,
    lpad(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT) AS VARCHAR), 12, '0')
      || '_' || lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS pk
  FROM orders)
SELECT o_custkey,
  min_by(o_orderkey, pk) AS cheapest_order,
  max_by(o_orderkey, pk) AS priciest_order,
  count(*) AS n_orders
FROM keyed GROUP BY o_custkey""",
    ),
    "q_scalar_subquery": QuerySpec(
        relational.above_average_customers,
        f"""SELECT c_custkey, round(c_acctbal, 2) AS acctbal
FROM customer
WHERE c_acctbal > (SELECT CAST(sum({_d('c_acctbal')}) AS DOUBLE) / count(c_acctbal) FROM customer)""",
    ),
    "q_approx_quantiles": QuerySpec(relational.approx_quantiles_value, None),
    "q_rolling_fingerprint": QuerySpec(
        textops.rolling_fingerprint,
        """WITH t AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents)
SELECT doc_id,
  list_reduce(
    list_prepend(CAST(0 AS BIGINT),
      list_transform(toks, t -> CAST(ascii(t) * 65536 + ascii(reverse(t)) * 256 + length(t) % 256 AS BIGINT))),
    (a, x) -> (a * 1000003 + x) % 2147483647) AS fingerprint
FROM t""",
    ),
    # ---- iterative + stateful ----
    "q_dedup_clusters": QuerySpec(
        dedup.dedup_clusters,
        f"""WITH RECURSIVE {_SHINGLES_CTE},
{_LSH_CAND_CTE},
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM cand
  UNION SELECT doc_b, doc_a FROM cand),
reach(node, lab) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
  UNION
  SELECT e.u, r.lab FROM edges e JOIN reach r ON e.v = r.node)
SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node""",
    ),
    # Quality-aware representative per near-dup cluster (the C4/
    # RefinedWeb keep-the-best-duplicate policy): CC ∘ Gopher rules ∘
    # deterministic argmax — the full keep/drop verdict hash-gated.
    "q_cluster_representatives": QuerySpec(
        dedup.cluster_representatives,
        f"""WITH RECURSIVE {_SHINGLES_CTE},
{_LSH_CAND_CTE},
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM cand
  UNION SELECT doc_b, doc_a FROM cand),
reach(node, lab) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
  UNION
  SELECT e.u, r.lab FROM edges e JOIN reach r ON e.v = r.node),
cl AS (SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node),
tk AS (
  SELECT d.doc_id,
    list_filter(string_split_regex(lower(d.text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents d JOIN cl ON cl.doc_id = d.doc_id),
q AS (
  SELECT doc_id,
    CAST(len(toks) AS INTEGER) AS n_tokens,
    CAST(len(toks) BETWEEN 50 AND 100000 AS INTEGER)
    + CAST(round(list_sum(list_transform(toks, x -> length(x))) / len(toks), 6)
           BETWEEN 3.0 AND 10.0 AS INTEGER)
    + CAST(round(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) / len(toks), 6)
           >= 0.8 AS INTEGER)
    + CAST(len(list_distinct(list_filter(toks,
        x -> list_contains(['the','a','of','and','to','in','is','on','for','with'], x))))
           >= 2 AS INTEGER) AS rules_passed
  FROM tk),
rk AS (
  SELECT cl.doc_id, cl.cluster_id, q.rules_passed, q.n_tokens,
    row_number() OVER (PARTITION BY cl.cluster_id
                       ORDER BY q.rules_passed DESC, q.n_tokens DESC,
                                cl.doc_id ASC) AS rn
  FROM cl JOIN q USING (doc_id))
SELECT doc_id, cluster_id, rules_passed, n_tokens,
  rn = 1 AS is_representative,
  CASE WHEN rn = 1 THEN 'keep' ELSE 'drop' END AS action
FROM rk""",
    ),
    # Entity resolution over STRUCTURED records (blocking + multi-
    # attribute similarity + CC over the dirty multi-source customer
    # fixture).  Spark generates candidates via lossless banded
    # blocking; the oracle brute-forces within (nation, segment) — the
    # hash equality proves the banding loses no pair.
    "q_entity_resolution": QuerySpec(
        entity.entity_resolution,
        _ER_ORACLE,
    ),
    # Incremental ER: records arrive in 3 deterministic batches; each
    # batch's match edges (internal + vs accumulated history) are
    # discovered AT INGEST; the final assignment equals the one-shot
    # ER, so the SAME oracle gates both.
    "q_streaming_entity_resolution": QuerySpec(
        q_streaming_entity_resolution,
        _ER_ORACLE,
    ),
    # Multi-signal duplicate clustering (the entity-resolution
    # compose): fingerprint star edges ∪ LSH candidate edges → CC,
    # with per-doc signal provenance.
    "q_dedup_fusion": QuerySpec(
        dedup.dedup_fusion,
        f"""WITH RECURSIVE {_SHINGLES_CTE},
{_LSH_CAND_CTE},
fp AS (
  SELECT doc_id,
    md5(array_to_string(list_sort(list_distinct(
      list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''))), ' ')) AS fingerprint
  FROM documents),
rep AS (SELECT fingerprint, min(doc_id) AS rep FROM fp GROUP BY fingerprint),
fpe AS (
  SELECT r.rep AS doc_a, f.doc_id AS doc_b
  FROM fp f JOIN rep r USING (fingerprint) WHERE f.doc_id <> r.rep),
alledges AS (
  SELECT doc_a, doc_b FROM cand UNION SELECT doc_a, doc_b FROM fpe),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM alledges
  UNION SELECT doc_b, doc_a FROM alledges),
reach(node, lab) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
  UNION
  SELECT e.u, r.lab FROM edges e JOIN reach r ON e.v = r.node),
lab AS (SELECT node AS doc_id, min(lab) AS cid FROM reach GROUP BY node),
base AS (
  SELECT d.doc_id, COALESCE(l.cid, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN lab l USING (doc_id)),
sizes AS (SELECT cluster_id, count(*) AS n_members FROM base GROUP BY cluster_id),
fpd AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_a AS doc_id FROM fpe UNION ALL SELECT doc_b FROM fpe)),
lshd AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_a AS doc_id FROM cand UNION ALL SELECT doc_b FROM cand))
SELECT b.doc_id, b.cluster_id, s.n_members,
  CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END AS has_fp_edge,
  CASE WHEN x.doc_id IS NOT NULL THEN 1 ELSE 0 END AS has_lsh_edge
FROM base b JOIN sizes s USING (cluster_id)
LEFT JOIN fpd f ON f.doc_id = b.doc_id
LEFT JOIN lshd x ON x.doc_id = b.doc_id""",
    ),
    "q_streaming_stateful": QuerySpec(
        q_streaming_stateful,
        """SELECT user_id, count(*) AS n_events, max(ts) AS last_ts
FROM events GROUP BY user_id""",
    ),
    "q_streaming_funnel": QuerySpec(
        q_streaming_funnel,
        """WITH s1 AS (
  SELECT user_id, ts, event_id, event_type,
    min(CASE WHEN event_type = 'view' THEN ts END)
      OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING) AS fv
  FROM events),
s2 AS (
  SELECT *, min(CASE WHEN event_type = 'click' AND fv IS NOT NULL
                     AND ts >= fv THEN ts END)
    OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS UNBOUNDED PRECEDING) AS fc
  FROM s1),
s3 AS (
  SELECT *, min(CASE WHEN event_type = 'purchase' AND fc IS NOT NULL
                     AND ts >= fc THEN ts END)
    OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS UNBOUNDED PRECEDING) AS fp
  FROM s2)
SELECT user_id, min(fv) AS first_view, min(fc) AS first_click,
  min(fp) AS first_purchase
FROM s3 GROUP BY user_id""",
    ),
    # ---- SQL-string surface + more relational ----
    "q_heatmap_pyramid_sql": QuerySpec(q_heatmap_pyramid_sql, _PYRAMID_SQL),
    "q_window_variety": QuerySpec(
        relational.window_variety,
        """SELECT c_custkey, c_nationkey, round(c_acctbal, 2) AS acctbal,
  CAST(rank() OVER w AS INTEGER) AS bal_rank,
  CAST(dense_rank() OVER w AS INTEGER) AS bal_dense_rank,
  lag(c_custkey, 1) OVER w AS prev_cust,
  lead(c_custkey, 1) OVER w AS next_cust,
  CAST(ntile(4) OVER w AS INTEGER) AS quartile
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)""",
    ),
    "q_left_join_counts": QuerySpec(
        relational.customer_order_counts_outer,
        f"""SELECT c_custkey, c_name, count(o_orderkey) AS n_orders,
  coalesce(CAST(sum({_d('o_totalprice')}) AS DOUBLE), 0.0) AS total_spent
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_name""",
    ),
    "q_tpch_q19": QuerySpec(
        relational.tpch_q19,
        f"""SELECT CAST(CAST(sum({_d('l_extendedprice')} * ({_ONE} - {_d('l_discount')})) AS DECIMAL(18,6)) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity < 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity > 20)""",
    ),
    "q_order_lists": QuerySpec(
        relational.customer_order_lists,
        """WITH top AS (
  SELECT o_custkey, o_orderkey,
    row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
  FROM orders)
SELECT o_custkey, string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY rn) AS first_orders
FROM top WHERE rn <= 5 GROUP BY o_custkey""",
    ),
    "q_tpch_q14": QuerySpec(
        relational.tpch_q14,
        f"""SELECT round(
  100.0 * CAST(CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
        THEN {_d('l_extendedprice')} * ({_ONE} - {_d('l_discount')})
        ELSE CAST(0 AS {_DEC}) END) AS DECIMAL(18,6)) AS DOUBLE)
  / CAST(CAST(sum({_d('l_extendedprice')} * ({_ONE} - {_d('l_discount')})) AS DECIMAL(18,6)) AS DOUBLE),
  6) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-10-01 00:00:00'""",
    ),
    "q_tpch_q18": QuerySpec(
        relational.tpch_q18,
        f"""WITH big AS (
  SELECT l_orderkey, CAST(sum({_d('l_quantity')}) AS DOUBLE) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING sum({_d('l_quantity')}) > 150)
SELECT c_custkey, c_name, o_orderkey, o_orderdate, total_qty
FROM big JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY total_qty DESC, o_orderkey LIMIT 20""",
    ),
    "q_daily_rollup": QuerySpec(
        relational.events_daily_rollup,
        f"""SELECT date_trunc('day', ts) AS day, event_type,
  count(*) AS n_events, CAST(sum({_d('value')}) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2""",
    ),
    "q_heatmap_bbox": QuerySpec(
        q_heatmap_bbox,
        f"""WITH {_LOC_CTE},
pts AS (
  SELECT CAST(floor((1 - ln(tan(latitude*pi()/180) + 1/cos(latitude*pi()/180))/pi())/2 * 4096.0) AS BIGINT) AS row,
         CAST(floor((longitude + 180.0)/360.0 * 4096.0) AS BIGINT) AS col,
         weight
  FROM locations WHERE source <> 'background'),
agg AS (SELECT row, col, sum(weight) AS visits FROM pts GROUP BY 1, 2),
bounds AS (
  SELECT CAST(floor((1 - ln(tan(40.0*pi()/180) + 1/cos(40.0*pi()/180))/pi())/2 * 4096.0) AS BIGINT) AS r_min,
         CAST(floor((1 - ln(tan(-40.0*pi()/180) + 1/cos(-40.0*pi()/180))/pi())/2 * 4096.0) AS BIGINT) AS r_max,
         CAST(floor((-90.0 + 180.0)/360.0 * 4096.0) AS BIGINT) AS c_min,
         CAST(floor((90.0 + 180.0)/360.0 * 4096.0) AS BIGINT) AS c_max)
SELECT '12_' || CAST(row AS VARCHAR) || '_' || CAST(col AS VARCHAR) AS tile_id, visits
FROM agg, bounds
WHERE row BETWEEN r_min AND r_max AND col BETWEEN c_min AND c_max""",
    ),
    "q_heatmap_drilldown": QuerySpec(
        q_heatmap_drilldown,
        f"""WITH {_LOC_CTE},
pts AS (
  SELECT CAST(floor((1 - ln(tan(latitude*pi()/180) + 1/cos(latitude*pi()/180))/pi())/2 * 512.0) AS BIGINT) AS row9,
         CAST(floor((longitude + 180.0)/360.0 * 512.0) AS BIGINT) AS col9,
         weight
  FROM locations WHERE source <> 'background'),
l9 AS (SELECT row9, col9, sum(weight) AS visits FROM pts GROUP BY 1, 2),
l8 AS (
  SELECT CAST(floor(row9/2.0) AS BIGINT) AS p_row, CAST(floor(col9/2.0) AS BIGINT) AS p_col,
         sum(visits) AS pv
  FROM l9 GROUP BY 1, 2 HAVING sum(visits) >= 2)
SELECT '8_' || CAST(p_row AS VARCHAR) || '_' || CAST(p_col AS VARCHAR) AS parent_id,
       '9_' || CAST(row9 AS VARCHAR) || '_' || CAST(col9 AS VARCHAR) AS child_id,
       visits
FROM l9 JOIN l8 ON CAST(floor(row9/2.0) AS BIGINT) = p_row AND CAST(floor(col9/2.0) AS BIGINT) = p_col""",
    ),
    "q_tpch_q7": QuerySpec(
        relational.tpch_q7,
        f"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
  CAST(year(l_shipdate) AS INTEGER) AS l_year,
  CAST(CAST(sum({_d('l_extendedprice')} * ({_ONE} - {_d('l_discount')})) AS DECIMAL(18,6)) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY 1, 2, 3""",
    ),
    "q_tpch_q10": QuerySpec(
        relational.tpch_q10,
        f"""SELECT c_custkey, c_name, n_name,
  CAST(CAST(sum({_d('l_extendedprice')} * ({_ONE} - {_d('l_discount')})) AS DECIMAL(18,6)) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey LIMIT 20""",
    ),
    "q_tpch_q2": QuerySpec(
        relational.tpch_q2,
        """WITH cand AS (
  SELECT p_partkey, p_name, s_name, s_acctbal, n_name
  FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE p_size IN (15, 25, 35) AND r_name = 'EUROPE')
SELECT cand.p_partkey, p_name, s_name, s_acctbal, n_name
FROM cand JOIN (SELECT p_partkey AS pk, max(s_acctbal) AS best FROM cand GROUP BY 1) b
  ON cand.p_partkey = b.pk AND cand.s_acctbal = b.best
ORDER BY s_acctbal DESC, n_name, s_name, cand.p_partkey
LIMIT 100""",
    ),
    "q_tpch_q8": QuerySpec(
        relational.tpch_q8,
        f"""SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
  CAST(CAST(sum(CASE WHEN n2.n_name = 'NATION_3'
                     THEN {_d('l_extendedprice')} * ({_ONE} - {_d('l_discount')})
                     ELSE CAST(0 AS DECIMAL(12,4)) END) AS DECIMAL(18,6)) AS DOUBLE)
  / CAST(CAST(sum({_d('l_extendedprice')} * ({_ONE} - {_d('l_discount')})) AS DECIMAL(18,6)) AS DOUBLE)
  AS mkt_share
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region ON n1.n_regionkey = r_regionkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE p_type = 'ECONOMY' AND r_name = 'AMERICA'
  AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY 1""",
    ),
    "q_tpch_q9": QuerySpec(
        relational.tpch_q9,
        f"""SELECT n_name, CAST(year(o_orderdate) AS INTEGER) AS o_year,
  CAST(CAST(sum({_d('l_extendedprice')} * ({_ONE} - {_d('l_discount')})) AS DECIMAL(18,6)) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2""",
    ),
    "q_tpch_q11": QuerySpec(
        relational.tpch_q11,
        f"""WITH per_part AS (
  SELECT l_partkey, sum({_d('l_extendedprice')} * {_d('l_quantity')}) AS value_dec
  FROM lineitem
  WHERE l_suppkey IN (SELECT s_suppkey FROM supplier JOIN nation
                      ON s_nationkey = n_nationkey WHERE n_name = 'NATION_3')
  GROUP BY l_partkey)
SELECT l_partkey, CAST(CAST(value_dec AS DECIMAL(18,6)) AS DOUBLE) AS part_value
FROM per_part
WHERE CAST(CAST(value_dec AS DECIMAL(18,6)) AS DOUBLE)
      > 0.0005 * (SELECT CAST(CAST(sum(value_dec) AS DECIMAL(18,6)) AS DOUBLE) FROM per_part)""",
    ),
    "q_tpch_q12": QuerySpec(
        relational.tpch_q12,
        """SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year,
  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= o_orderdate + INTERVAL 60 DAY
GROUP BY 1""",
    ),
    "q_tpch_q13": QuerySpec(
        relational.tpch_q13,
        """SELECT c_count, count(*) AS custdist FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey)
GROUP BY c_count""",
    ),
    "q_tpch_q15": QuerySpec(
        relational.tpch_q15,
        f"""WITH revenue AS (
  SELECT l_suppkey, sum({_d('l_extendedprice')} * ({_ONE} - {_d('l_discount')})) AS rev_dec
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, CAST(CAST(rev_dec AS DECIMAL(18,6)) AS DOUBLE) AS total_revenue
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE rev_dec = (SELECT max(rev_dec) FROM revenue)""",
    ),
    "q_tpch_q16": QuerySpec(
        relational.tpch_q16,
        """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#5' AND p_type NOT LIKE 'PROMO%'
  AND p_size IN (1, 9, 15, 22, 28, 35, 42, 49)
GROUP BY 1, 2, 3""",
    ),
    "q_tpch_q17": QuerySpec(
        relational.tpch_q17,
        f"""WITH avg_qty AS (
  SELECT l_partkey AS ap_partkey,
         CAST(sum({_d('l_quantity')}) AS DOUBLE) / count(*) AS avg_qty
  FROM lineitem GROUP BY 1)
SELECT CAST(sum({_d('l_extendedprice')}) AS DOUBLE) / 7.0 AS avg_yearly
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN avg_qty ON l_partkey = ap_partkey
WHERE p_brand = 'Brand#3' AND p_type = 'SMALL' AND l_quantity < 0.2 * avg_qty""",
    ),
    "q_tpch_q20": QuerySpec(
        relational.tpch_q20,
        """SELECT s_name, s_acctbal FROM supplier
WHERE s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_name = 'NATION_6')
  AND s_suppkey IN (
    SELECT l_suppkey FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_name LIKE 'blue%'
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_suppkey, l_partkey HAVING sum(l_quantity) > 50)""",
    ),
    "q_tpch_q21": QuerySpec(
        relational.tpch_q21,
        """WITH per_supp AS (
  SELECT l_orderkey, l_suppkey,
         max(CAST(l_shipdate > o_orderdate + INTERVAL 30 DAY AS INTEGER)) AS is_late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
  GROUP BY 1, 2),
per_order AS (
  SELECT l_orderkey AS o_key, count(*) AS n_supp, sum(is_late) AS n_late
  FROM per_supp GROUP BY 1)
SELECT s_name, count(*) AS numwait
FROM per_supp
JOIN per_order ON l_orderkey = o_key
JOIN supplier ON l_suppkey = s_suppkey
WHERE is_late = 1 AND n_supp > 1 AND n_late = 1
GROUP BY s_name
ORDER BY numwait DESC, s_name LIMIT 20""",
    ),
    "q_tpch_q22": QuerySpec(
        relational.tpch_q22,
        f"""WITH cust AS (
  SELECT * FROM customer WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)),
ab AS (
  SELECT CAST(sum({_d('c_acctbal')}) AS DOUBLE) / count(*) AS avg_bal
  FROM cust WHERE c_acctbal > 0)
SELECT c_nationkey AS cntrycode, count(*) AS numcust,
  CAST(sum({_d('c_acctbal')}) AS DOUBLE) AS totacctbal
FROM cust, ab
WHERE c_acctbal > avg_bal
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
GROUP BY 1""",
    ),
    "q_lateral_topk": QuerySpec(
        relational.lateral_top_customers,
        """SELECT n_name, t.c_name, t.c_acctbal
FROM nation n, LATERAL (
  SELECT c_name, c_acctbal FROM customer c
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t""",
    ),
    "q_token_positions": QuerySpec(
        textops.token_positions,
        """WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS token,
         CAST(generate_subscripts(string_split(text, ' '), 1) AS INTEGER) AS pos
  FROM documents)
SELECT pos, token, count(*) AS n FROM toks WHERE pos <= 3 GROUP BY 1, 2""",
    ),
    "q_reservoir_per_group": QuerySpec(
        profiling.reservoir_per_group,
        """SELECT event_type, event_id, user_id, CAST(rn AS INTEGER) AS rn FROM (
  SELECT event_type, event_id, user_id,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
  FROM events)
WHERE rn <= 3""",
    ),
    "q_normalized_text": QuerySpec(
        textops.normalized_text_stats,
        """WITH c AS (
  SELECT lang,
    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                        ' +', ' ', 'g')) AS c
  FROM documents)
SELECT lang, count(*) AS n_docs,
  CAST(sum(length(c)) AS DOUBLE) / count(*) AS avg_clean_chars,
  CAST(sum(len(string_split(c, ' '))) AS DOUBLE) / count(*) AS avg_tokens
FROM c GROUP BY lang""",
    ),
    "q_sample_hash": QuerySpec(
        profiling.hash_sample,
        f"""SELECT o_orderpriority, count(*) AS n_sampled,
  CAST(sum({_d('o_totalprice')}) AS DOUBLE) AS sampled_revenue
FROM orders
WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) <= '19'
GROUP BY o_orderpriority""",
    ),
    "q_column_profile": QuerySpec(
        profiling.column_profile,
        """WITH a AS (SELECT count(*) AS n,
  count(o_orderkey) AS c1, count(DISTINCT o_orderkey) AS d1,
  CAST(min(o_orderkey) AS VARCHAR) AS mn1, CAST(max(o_orderkey) AS VARCHAR) AS mx1,
  count(o_custkey) AS c2, count(DISTINCT o_custkey) AS d2,
  CAST(min(o_custkey) AS VARCHAR) AS mn2, CAST(max(o_custkey) AS VARCHAR) AS mx2,
  count(o_orderstatus) AS c3, count(DISTINCT o_orderstatus) AS d3,
  min(o_orderstatus) AS mn3, max(o_orderstatus) AS mx3,
  count(o_orderpriority) AS c4, count(DISTINCT o_orderpriority) AS d4,
  min(o_orderpriority) AS mn4, max(o_orderpriority) AS mx4
FROM orders)
SELECT 'o_orderkey' AS column_name, n AS n_rows, n - c1 AS n_nulls, d1 AS n_distinct, mn1 AS min_value, mx1 AS max_value FROM a
UNION ALL SELECT 'o_custkey', n, n - c2, d2, mn2, mx2 FROM a
UNION ALL SELECT 'o_orderstatus', n, n - c3, d3, mn3, mx3 FROM a
UNION ALL SELECT 'o_orderpriority', n, n - c4, d4, mn4, mx4 FROM a""",
    ),
    "q_corr_stats": QuerySpec(
        profiling.corr_stats,
        f"""WITH g AS (
  SELECT l_linestatus,
    CAST(count(*) AS DOUBLE) AS n,
    CAST(sum({_d('l_discount')}) AS DOUBLE) AS sx,
    CAST(sum({_d('l_tax')}) AS DOUBLE) AS sy,
    CAST(sum({_d('l_discount')} * {_d('l_discount')}) AS DOUBLE) AS sxx,
    CAST(sum({_d('l_tax')} * {_d('l_tax')}) AS DOUBLE) AS syy,
    CAST(sum({_d('l_discount')} * {_d('l_tax')}) AS DOUBLE) AS sxy
  FROM lineitem GROUP BY l_linestatus)
SELECT l_linestatus,
  (n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr_disc_tax,
  sqrt((sxx - sx * sx / n) / (n - 1.0)) AS stddev_disc,
  sx / n AS avg_disc
FROM g""",
    ),
    "q_price_histogram": QuerySpec(
        profiling.price_histogram,
        f"""SELECT CAST(floor(o_totalprice / 50000.0) AS INTEGER) AS bucket,
  count(*) AS n_orders,
  CAST(sum({_d('o_totalprice')}) AS DOUBLE) AS bucket_revenue,
  CAST(floor(o_totalprice / 50000.0) AS INTEGER) * CAST(50000.0 AS DOUBLE) AS bucket_lo
FROM orders GROUP BY 1""",
    ),
    "q_doc_length_histogram": QuerySpec(
        profiling.doc_length_histogram,
        """SELECT source, CAST(floor(CAST(n_chars AS DOUBLE) / 200.0) AS INTEGER) AS len_bucket,
  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY 1, 2""",
    ),
    "q_quantile_binning": QuerySpec(
        profiling.quantile_binning,
        """WITH per_val AS (
  SELECT event_type, value, count(*) AS cnt
  FROM events GROUP BY 1, 2),
cum AS (
  SELECT event_type, value,
    sum(cnt) OVER (PARTITION BY event_type ORDER BY value) AS cum,
    sum(cnt) OVER (PARTITION BY event_type ORDER BY value) - cnt AS prev_cum,
    sum(cnt) OVER (PARTITION BY event_type) AS n_total
  FROM per_val),
bnd AS (
  SELECT event_type, list_sort(list(value)) AS bounds
  FROM cum, generate_series(1, 9) AS g(j)
  WHERE prev_cum < (j * n_total + 9) // 10 AND (j * n_total + 9) // 10 <= cum
  GROUP BY event_type),
binned AS (
  SELECT e.event_type,
    CAST(1 + len(list_filter(bounds, b -> b < e.value)) AS INTEGER) AS bin,
    e.value
  FROM events e JOIN bnd USING (event_type))
SELECT event_type, bin, count(*) AS n_rows,
  round(min(value), 6) AS lo, round(max(value), 6) AS hi
FROM binned GROUP BY 1, 2""",
    ),
    "q_range_join": QuerySpec(
        relational.range_join_price_bands,
        f"""WITH bands(band, lo, hi) AS (
  VALUES ('S', 0.0, 50000.0), ('M', 50000.0, 150000.0),
         ('L', 150000.0, 300000.0), ('XL', 300000.0, 1e18))
SELECT band, count(*) AS n_orders,
  CAST(sum({_d('o_totalprice')}) AS DOUBLE) AS total
FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
GROUP BY band""",
    ),
    # ---- time-series: gap-fill / forward-fill / range-frame rolling ----
    "q_gap_fill_hourly": QuerySpec(
        timeseries.gap_fill_hourly_events,
        f"""WITH agg AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n,
         CAST(sum({_d('value')}) AS DOUBLE) / count(value) AS av
  FROM events GROUP BY 1, 2),
bounds AS (SELECT min(hour) AS mn, max(hour) AS mx FROM agg),
spine AS (
  SELECT t.event_type, gs.hour
  FROM (SELECT DISTINCT event_type FROM events) t
  CROSS JOIN (SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hour FROM bounds) gs),
j AS (
  SELECT s.event_type, s.hour, agg.n, agg.av
  FROM spine s LEFT JOIN agg ON agg.event_type = s.event_type AND agg.hour = s.hour)
SELECT event_type, hour, coalesce(n, 0) AS n_events,
  round(last_value(av IGNORE NULLS) OVER (
    PARTITION BY event_type ORDER BY hour
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS ffill_avg_value
FROM j""",
    ),
    # Exact-integer ACF over the gap-filled hourly count series: the
    # n²-scaled form clears the rational mean, so an inherently
    # sequential statistic is one exact integer ratio per (type, lag).
    "q_autocorrelation": QuerySpec(
        timeseries.autocorrelation,
        """WITH agg AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(count(*) AS HUGEINT) AS cnt
  FROM events GROUP BY 1, 2),
bounds AS (SELECT min(hour) AS mn, max(hour) AS mx FROM agg),
spine AS (
  SELECT t.event_type, gs.hour
  FROM (SELECT DISTINCT event_type FROM events) t
  CROSS JOIN (SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hour
              FROM bounds) gs),
ser AS (
  SELECT s.event_type, s.hour, COALESCE(a.cnt, CAST(0 AS HUGEINT)) AS x
  FROM spine s LEFT JOIN agg a ON a.event_type = s.event_type AND a.hour = s.hour),
lg AS (
  SELECT event_type, x,
""" + ",\n".join(
            f"         lag(x, {k}) OVER w AS lx{k}" for k in range(1, 7)
        ) + """
  FROM ser WINDOW w AS (PARTITION BY event_type ORDER BY hour)),
pt AS (
  SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
         SUM(x) AS t, SUM(x * x) AS ss,
""" + ",\n".join(
            f"         SUM(CASE WHEN lx{k} IS NOT NULL THEN x * lx{k} ELSE 0 END) AS s{k},\n"
            f"         SUM(CASE WHEN lx{k} IS NOT NULL THEN x + lx{k} ELSE 0 END) AS a{k}"
            for k in range(1, 7)
        ) + """
  FROM lg GROUP BY 1),
unp AS (
""" + "\n  UNION ALL\n".join(
            f"  SELECT event_type, n, t, ss, CAST({k} AS HUGEINT) AS lag,"
            f" s{k} AS sk, a{k} AS ak FROM pt"
            for k in range(1, 7)
        ) + """
)
SELECT event_type, CAST(lag AS INTEGER) AS lag,
  CAST(n - lag AS BIGINT) AS n_pairs,
  CASE WHEN n * n * ss - n * t * t <> 0 THEN
    round(CAST(n * n * sk - n * t * ak + (n - lag) * t * t AS DOUBLE)
          / CAST(n * n * ss - n * t * t AS DOUBLE), 6)
  END AS acf
FROM unp""",
    ),
    "q_rolling_revenue_7d": QuerySpec(
        timeseries.rolling_revenue_7d,
        f"""WITH o AS (
  SELECT o_orderkey, o_custkey, o_orderdate,
    datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS epoch_day,
    {_d('o_totalprice')} AS price
  FROM orders)
SELECT o_orderkey, o_custkey, o_orderdate,
  CAST(sum(price) OVER w AS DOUBLE) AS spent_7d,
  CAST(count(*) OVER w AS INTEGER) AS n_orders_7d
FROM o WINDOW w AS (
  PARTITION BY o_custkey ORDER BY epoch_day
  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)""",
    ),
    # ---- statistics: exact median + deterministic mode ----
    "q_median_mode": QuerySpec(
        relational.quantity_median_mode,
        """WITH med AS (
  SELECT l_returnflag, round(median(l_quantity), 6) AS median_qty,
         count(*) AS n_rows
  FROM lineitem GROUP BY 1),
c AS (
  SELECT l_returnflag, l_quantity, count(*) AS cnt
  FROM lineitem GROUP BY 1, 2),
m AS (
  SELECT l_returnflag, l_quantity AS mode_qty,
    row_number() OVER (PARTITION BY l_returnflag ORDER BY cnt DESC, l_quantity) AS rn
  FROM c)
SELECT med.l_returnflag, median_qty, n_rows, mode_qty
FROM med JOIN m ON med.l_returnflag = m.l_returnflag AND m.rn = 1""",
    ),
    # ---- dedup: blocked edit-distance near-dup pairs ----
    "q_edit_distance_pairs": QuerySpec(
        dedup.edit_distance_pairs,
        """WITH d AS (
  SELECT doc_id, lang, n_chars // 32 AS lb, substr(text, 1, 96) AS prefix
  FROM documents)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  CAST(levenshtein(a.prefix, b.prefix) AS INTEGER) AS dist
FROM d a JOIN d b
  ON a.lang = b.lang AND (b.lb = a.lb OR b.lb = a.lb + 1) AND a.doc_id < b.doc_id
WHERE levenshtein(a.prefix, b.prefix) <= 24""",
    ),
    # ---- SQL recursion surface ----
    "q_recursive_pyramid": QuerySpec(
        q_recursive_pyramid,
        f"""WITH RECURSIVE {_LOC_CTE},
{_PTS_CTE},
seed AS (
  SELECT row21 AS row, col21 AS col, sum(weight) AS visits
  FROM pts GROUP BY row21, col21),
walk(zoom, row, col, visits) AS (
  SELECT 21 AS zoom, row, col, visits FROM seed
  UNION ALL
  SELECT zoom - 1, row // 2, col // 2, visits
  FROM walk WHERE zoom > 6)
SELECT CAST(zoom AS INTEGER) AS zoom, row, col, sum(visits) AS visits
FROM walk GROUP BY zoom, row, col""",
    ),
    # ---- mergeable sketches (engine-specific estimates → rows-only) ----
    "q_hll_sketches": QuerySpec(profiling.hll_user_sketches, None),
    # from-scratch md5-register HLL: registers AND estimates are
    # deterministic (integer rho via bin() string length, exact-integer
    # harmonic sum), so unlike the engine-private sketch above this one
    # carries a full value hash; '__all__' is the register-max union of
    # the per-type tables — mergeability itself is hash-checked
    "q_hll_portable": QuerySpec(profiling.hll_portable, _HLL_PORTABLE_SQL),
    # the SAME oracle gates the streamed register store: accumulated
    # registers == one-shot registers by the max-merge identity, so the
    # value hash certifies incremental sketch maintenance end-to-end
    "q_streaming_hll": QuerySpec(q_streaming_hll, _HLL_PORTABLE_SQL),
    # streamed KMV (θ-sketch) store: the oracle is the ONE-SHOT sketch
    # of all events — the exact merge identity makes the 3-batch
    # incremental build hash-equal to it
    "q_streaming_kmv": QuerySpec(
        q_streaming_kmv,
        """WITH h AS (
  SELECT DISTINCT event_type,
    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12) AS BIGINT) AS hv
  FROM events),
allh AS (
  SELECT event_type, hv FROM h
  UNION ALL
  SELECT '__all__' AS event_type, hv FROM (SELECT DISTINCT hv FROM h)),
rk AS (
  SELECT event_type, hv,
    row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
  FROM allh),
sk AS (SELECT * FROM rk WHERE rn <= 64),
agg AS (
  SELECT event_type, count(*) AS m,
    max(CASE WHEN rn = 64 THEN hv END) AS kth
  FROM sk GROUP BY 1),
ex AS (
  SELECT event_type, count(DISTINCT user_id) AS exact_users
  FROM events GROUP BY 1
  UNION ALL
  SELECT '__all__' AS event_type, count(DISTINCT user_id) FROM events)
SELECT a.event_type,
  CAST(ex.exact_users AS BIGINT) AS exact_users,
  round(CASE WHEN m < 64 THEN CAST(m AS DOUBLE)
        ELSE CAST(63 AS DOUBLE)
             / (CAST(kth AS DOUBLE) / CAST(281474976710656 AS DOUBLE)) END,
        4) AS kmv_users,
  CAST(m AS INTEGER) AS sketch_size
FROM agg a JOIN ex USING (event_type)""",
    ),
    # incrementally maintained JOIN view (delta rule ΔL⋈R ∪ L⋈ΔR ∪
    # ΔL⋈ΔR): the oracle is the ONE-SHOT join — pair-exactly-once makes
    # the streamed view hash-equal to it
    "q_streaming_join_view": QuerySpec(
        q_streaming_join_view,
        f"""SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
  CAST(month(o_orderdate) AS INTEGER) AS mo,
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum({_d('l_extendedprice')} * ({_ONE} - {_d('l_discount')}))
       AS DOUBLE) AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY 1, 2""",
    ),
    # portable KMV (k-minimum values): REAL set-operation estimates
    # that value-hash — the sketch is the 64 smallest md5 values, so
    # both engines reproduce estimates bit-for-bit (the theta query
    # below is exact-below-capacity; this one is the true estimator)
    "q_kmv_overlap": QuerySpec(
        profiling.kmv_audience_overlap,
        """WITH hv AS (
  SELECT DISTINCT event_type,
    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12) AS BIGINT) AS hv
  FROM events),
sk AS (
  SELECT event_type, hv FROM (
    SELECT event_type, hv,
      row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
    FROM hv) WHERE rn <= 64),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b
  FROM (SELECT DISTINCT event_type FROM sk) a
  JOIN (SELECT DISTINCT event_type FROM sk) b
    ON a.event_type < b.event_type),
cand AS (
  SELECT type_a, type_b, hv, max(in_a) AS in_a, max(in_b) AS in_b FROM (
    SELECT p.type_a, p.type_b, s.hv, 1 AS in_a, 0 AS in_b
    FROM pairs p JOIN sk s ON s.event_type = p.type_a
    UNION ALL
    SELECT p.type_a, p.type_b, s.hv, 0 AS in_a, 1 AS in_b
    FROM pairs p JOIN sk s ON s.event_type = p.type_b)
  GROUP BY 1, 2, 3),
merged AS (
  SELECT * FROM (
    SELECT type_a, type_b, hv, in_a, in_b,
      row_number() OVER (PARTITION BY type_a, type_b ORDER BY hv) AS rn
    FROM cand) WHERE rn <= 64),
est AS (
  SELECT type_a, type_b, count(*) AS m,
    max(CASE WHEN rn = 64 THEN hv END) AS kth,
    sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS shared
  FROM merged GROUP BY 1, 2),
uest AS (
  SELECT type_a, type_b, shared, m,
    CASE WHEN m < 64 THEN CAST(m AS DOUBLE)
         ELSE CAST(63 AS DOUBLE)
              / (CAST(kth AS DOUBLE) / CAST(281474976710656 AS DOUBLE)) END
      AS union_est
  FROM est),
ex_inter AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
    count(*) AS exact_inter
  FROM (SELECT DISTINCT event_type, user_id FROM events) a
  JOIN (SELECT DISTINCT event_type, user_id FROM events) b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2),
ex_card AS (
  SELECT event_type, count(DISTINCT user_id) AS nd FROM events GROUP BY 1)
SELECT u.type_a, u.type_b,
  round(union_est, 4) AS union_est,
  round(round(CAST(shared AS DOUBLE) / CAST(m AS DOUBLE), 9)
        * round(union_est, 4), 4) AS inter_est,
  CAST(ca.nd + cb.nd - coalesce(ei.exact_inter, 0) AS BIGINT) AS exact_union,
  CAST(coalesce(ei.exact_inter, 0) AS BIGINT) AS exact_inter
FROM uest u
LEFT JOIN ex_inter ei ON u.type_a = ei.type_a AND u.type_b = ei.type_b
JOIN ex_card ca ON ca.event_type = u.type_a
JOIN ex_card cb ON cb.event_type = u.type_b""",
    ),
    "q_theta_audience_overlap": QuerySpec(
        profiling.theta_audience_overlap,
        # exact below lgK=12 capacity (guarded by assert_true in the
        # query), so plain COUNT(DISTINCT) set algebra is the oracle
        """WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b
  FROM (SELECT DISTINCT event_type FROM events) a
  JOIN (SELECT DISTINCT event_type FROM events) b ON a.event_type < b.event_type),
j AS (
  SELECT p.type_a, p.type_b, u.user_id,
    max(CASE WHEN u.event_type = p.type_a THEN 1 ELSE 0 END) AS in_a,
    max(CASE WHEN u.event_type = p.type_b THEN 1 ELSE 0 END) AS in_b
  FROM pairs p JOIN u ON u.event_type IN (p.type_a, p.type_b)
  GROUP BY 1, 2, 3)
SELECT type_a, type_b,
  CAST(count(*) AS BIGINT) AS union_users,
  CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS common_users,
  CAST(sum(CASE WHEN in_a = 1 AND in_b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS only_a_users
FROM j GROUP BY 1, 2""",
    ),
    # KLL is a randomized compactor (engine-specific estimates) —
    # rows-only; the rank-error bound is pinned in test_timeseries.py
    "q_kll_quantiles": QuerySpec(profiling.kll_value_quantiles, None),
    # ---- semi-structured: VARIANT (parse once, typed binary reads) ----
    "q_variant_agg": QuerySpec(
        relational.variant_props_agg,
        """SELECT event_type,
  CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS k_sum,
  max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS k_max,
  count(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS k_count
FROM events GROUP BY event_type""",
    ),
    # ---- ANSI FILTER clause + boolean aggregates ----
    "q_filtered_aggs": QuerySpec(
        relational.filtered_bool_aggs,
        f"""SELECT o_orderpriority,
  count(*) AS n_orders,
  count(*) FILTER (WHERE o_totalprice > 100000) AS n_big,
  bool_or(o_orderstatus = 'F') AS any_finished,
  bool_and(o_totalprice > 0) AS all_positive,
  CAST(sum({_d('o_totalprice')}) FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS open_total
FROM orders GROUP BY o_orderpriority""",
    ),
    # ---- join-type matrix completion ----
    "q_full_outer_join": QuerySpec(
        relational.full_outer_nation_activity,
        """WITH c AS (SELECT c_nationkey AS nk, count(*) AS n_customers FROM customer GROUP BY 1),
s AS (SELECT s_nationkey AS nk, count(*) AS n_suppliers FROM supplier GROUP BY 1)
SELECT coalesce(c.nk, s.nk) AS nationkey,
  coalesce(n_customers, 0) AS n_customers,
  coalesce(n_suppliers, 0) AS n_suppliers
FROM c FULL OUTER JOIN s ON c.nk = s.nk""",
    ),
    "q_cross_join_pairs": QuerySpec(
        relational.cross_join_region_matrix,
        """SELECT a.r_regionkey AS ka, a.r_name AS name_a,
  b.r_regionkey AS kb, b.r_name AS name_b
FROM region a CROSS JOIN region b WHERE a.r_regionkey < b.r_regionkey""",
    ),
    # ---- iterative graph algorithm: fixed-point PageRank ----
    "q_pagerank_near_dup": QuerySpec(
        graph.pagerank_near_dup,
        f"""WITH {_SHINGLES_CTE},
{_LSH_CAND_CTE},
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM cand
  UNION SELECT doc_b, doc_a FROM cand),
deg AS (SELECT u, count(*) AS d FROM edges GROUP BY u),
nn AS (SELECT count(*) AS n FROM deg),
r0 AS (SELECT u AS node, 1000000000000 // n AS r FROM deg CROSS JOIN nn),
i1 AS (
  SELECT v AS node,
    (15 * 1000000000000) // (100 * n) + (85 * sum(r // d)) // 100 AS r
  FROM edges JOIN r0 ON edges.u = r0.node JOIN deg USING (u) CROSS JOIN nn
  GROUP BY v, n),
i2 AS (
  SELECT v AS node,
    (15 * 1000000000000) // (100 * n) + (85 * sum(r // d)) // 100 AS r
  FROM edges JOIN i1 ON edges.u = i1.node JOIN deg USING (u) CROSS JOIN nn
  GROUP BY v, n),
i3 AS (
  SELECT v AS node,
    (15 * 1000000000000) // (100 * n) + (85 * sum(r // d)) // 100 AS r
  FROM edges JOIN i2 ON edges.u = i2.node JOIN deg USING (u) CROSS JOIN nn
  GROUP BY v, n)
SELECT node AS doc_id, CAST(r AS BIGINT) AS rank_ppt FROM i3""",
    ),
    # ---- Python UDTF surface (SQL-callable table function) ----
    "q_udtf_ngrams": QuerySpec(
        textops.ngram_udtf_demo,
        """WITH t AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents),
g AS (SELECT doc_id, unnest(range(1, len(toks))) AS i, toks FROM t)
SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, toks[i] || ' ' || toks[i+1] AS ngram
FROM g""",
    ),
    # ---- expression-surface sweeps: collections, datetime ----
    "q_collection_functions": QuerySpec(
        relational.collection_functions,
        """WITH per AS (
  SELECT o_custkey, list_sort(list(o_orderkey)) AS orders FROM orders GROUP BY o_custkey)
SELECT o_custkey,
  CAST(len(orders) AS INTEGER) AS n_orders,
  orders[1] AS first_order,
  orders[-1] AS last_order,
  array_to_string(orders[1:3], ',') AS first3,
  list_contains(orders, 7) AS has_order_7,
  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), orders), (a, x) -> a + x) AS BIGINT) AS order_sum,
  array_to_string(list_transform(orders, x -> x * 2), ',') AS doubled,
  coalesce(array_to_string(list_filter(orders, x -> x % 2 = 0), ','), '') AS even_orders,
  array_to_string(list_sort(list_distinct(list_transform(orders, x -> x % 10))), ',') AS last_digits
FROM per""",
    ),
    "q_datetime_functions": QuerySpec(
        relational.datetime_functions,
        """SELECT o_orderkey,
  CAST(year(o_orderdate) AS INTEGER) AS y,
  CAST(quarter(o_orderdate) AS INTEGER) AS q,
  CAST(month(o_orderdate) AS INTEGER) AS m,
  CAST(day(o_orderdate) AS INTEGER) AS dom,
  CAST(hour(o_orderdate) AS INTEGER) AS h,
  date_trunc('month', o_orderdate) AS month_start,
  strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
  strftime(CAST(o_orderdate AS DATE) + 7, '%Y-%m-%d') AS plus_week,
  strftime(CAST(o_orderdate AS DATE) - 3, '%Y-%m-%d') AS minus_3d,
  CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since_95,
  strftime(o_orderdate, '%Y-%m-%d') AS iso_day
FROM orders""",
    ),
    "q_window_distribution": QuerySpec(
        relational.window_distribution,
        """SELECT c_custkey, c_nationkey,
  percent_rank() OVER w AS bal_pct_rank,
  cume_dist() OVER w AS bal_cume_dist,
  first_value(c_custkey) OVER wf AS richest_cust,
  last_value(c_custkey) OVER wf AS poorest_cust
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey),
  wf AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""",
    ),
    "q_map_functions": QuerySpec(
        relational.map_functions,
        """WITH pc AS (
  SELECT o_custkey, o_orderpriority AS pri, count(*) AS cnt
  FROM orders GROUP BY 1, 2)
SELECT o_custkey,
  CAST(count(*) AS INTEGER) AS n_priorities,
  string_agg(pri, ',' ORDER BY pri) AS priorities,
  CAST(sum(cnt) AS BIGINT) AS total_orders,
  string_agg(pri || ':' || CAST(cnt AS VARCHAR), ',' ORDER BY pri) AS entries_csv,
  coalesce(string_agg(CASE WHEN cnt >= 2 THEN pri || ':' || CAST(cnt AS VARCHAR) END,
                      ',' ORDER BY pri), '') AS repeat_csv,
  string_agg(pri || ':' || CAST(cnt * 10 AS VARCHAR), ',' ORDER BY pri) AS scaled_csv
FROM pc GROUP BY o_custkey""",
    ),
    "q_null_semantics": QuerySpec(
        relational.null_semantics,
        """WITH r AS (
  SELECT o_orderstatus,
    nullif(o_orderpriority, '1-URGENT') AS pri_or_null,
    coalesce(nullif(o_orderpriority, '1-URGENT'), 'URGENT') AS pri_filled,
    CASE WHEN nullif(o_orderpriority, '1-URGENT') IS NOT NULL
         THEN 'routine' ELSE 'rush' END AS pri_class,
    (o_orderstatus IS DISTINCT FROM 'O') AS closed
  FROM orders)
SELECT o_orderstatus,
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(count(pri_or_null) AS BIGINT) AS n_nonnull,
  CAST(count(*) - count(pri_or_null) AS BIGINT) AS n_null,
  CAST(count(DISTINCT pri_filled) AS BIGINT) AS n_pri,
  CAST(sum(CAST(closed AS BIGINT)) AS BIGINT) AS n_closed,
  CAST(sum(CASE WHEN pri_class = 'rush' THEN 1 ELSE 0 END) AS BIGINT) AS n_rush
FROM r GROUP BY o_orderstatus""",
    ),
    # tile family surface: parent / children / ancestors (F8-F10) as a query
    "q_tile_family": QuerySpec(
        lambda spark, sf_dir: _tile_family(spark, sf_dir),
        f"""WITH {_LOC_CTE},
t AS (
  SELECT DISTINCT
    CAST(floor((1 - ln(tan(latitude*pi()/180) + 1/cos(latitude*pi()/180))/pi())/2 * 32.0) AS BIGINT) AS r,
    CAST(floor((longitude + 180.0)/360.0 * 32.0) AS BIGINT) AS c
  FROM locations WHERE source <> 'background')
SELECT '5_' || CAST(r AS VARCHAR) || '_' || CAST(c AS VARCHAR) AS tid,
  '4_' || CAST(r >> 1 AS VARCHAR) || '_' || CAST(c >> 1 AS VARCHAR)
    AS parent_tid,
  ('6_' || CAST(2*r AS VARCHAR) || '_' || CAST(2*c+1 AS VARCHAR)) || ','
    || ('6_' || CAST(2*r AS VARCHAR) || '_' || CAST(2*c AS VARCHAR)) || ','
    || ('6_' || CAST(2*r+1 AS VARCHAR) || '_' || CAST(2*c+1 AS VARCHAR)) || ','
    || ('6_' || CAST(2*r+1 AS VARCHAR) || '_' || CAST(2*c AS VARCHAR))
    AS children_csv,
  CAST(4 AS INTEGER) AS n_ancestors
FROM t""",
    ),
    # cohort retention matrix (signup week x activity-week offset)
    "q_cohort_retention": QuerySpec(
        sessions.cohort_retention,
        """WITH cohorts AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
  FROM events WHERE event_type = 'signup' GROUP BY user_id),
activity AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS act_week FROM events),
cells AS (
  SELECT cohort_week,
    CAST(datediff('day', cohort_week, act_week) / 7 AS INTEGER)
      AS week_offset,
    CAST(count(*) AS BIGINT) AS n_active
  FROM activity JOIN cohorts USING (user_id)
  WHERE act_week >= cohort_week
  GROUP BY 1, 2),
sizes AS (
  SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
  FROM cohorts GROUP BY 1)
SELECT cohort_week, week_offset, n_active, cohort_size,
  round(n_active / cohort_size, 6) AS retention
FROM cells JOIN sizes USING (cohort_week)""",
    ),
    # percent-of-total via an exact-decimal window sum
    "q_revenue_share": QuerySpec(
        relational.revenue_share,
        f"""WITH per_nation AS (
  SELECT c_nationkey,
    CAST(sum({_d('o_totalprice')}) AS DOUBLE) AS revenue
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_nationkey)
SELECT c_nationkey, revenue,
  round(revenue / CAST(sum(CAST(revenue AS DECIMAL(18,6))) OVER ()
    AS DOUBLE), 6) AS revenue_share
FROM per_nation""",
    ),
    # correlated EXISTS / NOT EXISTS (Catalyst decorrelation to semi/anti)
    "q_exists_subqueries": QuerySpec(
        relational.exists_subqueries,
        """SELECT n.n_name,
  EXISTS (SELECT 1 FROM supplier s WHERE s.s_nationkey = n.n_nationkey)
    AS has_supplier,
  NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_nationkey = n.n_nationkey
              AND c.c_acctbal > 9000.0) AS no_rich_customer
FROM nation n""",
    ),
    # bag-semantics set ops (multiplicity-preserving)
    "q_set_ops_all": QuerySpec(
        relational.set_ops_all,
        """WITH c AS (SELECT c_nationkey AS nk FROM customer),
s AS (SELECT s_nationkey AS nk FROM supplier),
i AS (
  SELECT 'intersect_all' AS op, nk, CAST(count(*) AS BIGINT) AS n
  FROM (SELECT nk FROM c INTERSECT ALL SELECT nk FROM s) GROUP BY nk),
e AS (
  SELECT 'except_all' AS op, nk, CAST(count(*) AS BIGINT) AS n
  FROM (SELECT nk FROM c EXCEPT ALL SELECT nk FROM s) GROUP BY nk)
SELECT op, nk, n FROM i UNION ALL SELECT op, nk, n FROM e""",
    ),
    # lead/lag/first/last with IGNORE NULLS (gap-tolerant windows)
    "q_window_ignore_nulls": QuerySpec(
        relational.window_ignore_nulls,
        """SELECT user_id, event_id,
  CASE WHEN event_type <> 'error' THEN value END AS val_or_null,
  last_value(CASE WHEN event_type <> 'error' THEN value END IGNORE NULLS)
    OVER w AS last_good,
  first_value(CASE WHEN event_type <> 'error' THEN value END IGNORE NULLS)
    OVER w AS first_good
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""",
    ),
    # file provenance via the hidden _metadata scan column
    "q_file_provenance": QuerySpec(
        profiling.file_provenance,
        # each fixture table is one parquet file with a known basename,
        # so the oracle pins the _metadata-derived name as a constant
        """SELECT 'orders' AS table_name, 'orders.parquet' AS file_name,
  CAST(count(*) AS BIGINT) AS n_rows,
  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
FROM orders
UNION ALL
SELECT 'lineitem', 'lineitem.parquet', CAST(count(*) AS BIGINT),
  min(l_orderkey), max(l_orderkey)
FROM lineitem""",
    ),
    # Spark 4 collations: case-insensitive distinct/equality as a TYPE
    "q_collation": QuerySpec(
        relational.collation_semantics,
        """WITH t AS (
  SELECT CASE WHEN c_custkey % 2 = 0 THEN upper(c_mktsegment)
              ELSE lower(c_mktsegment) END AS seg
  FROM customer)
SELECT CAST(count(DISTINCT lower(seg)) AS BIGINT) AS n_ci,
  CAST(count(DISTINCT seg) AS BIGINT) AS n_cs,
  CAST(count(CASE WHEN lower(seg) = 'building' THEN 1 END) AS BIGINT)
    AS n_building_ci
FROM t""",
    ),
    # market-basket co-occurrence (pair scatter, not a quadratic self-join)
    "q_basket_pairs": QuerySpec(
        relational.basket_pairs,
        """WITH baskets AS (
  SELECT l_orderkey, list_sort(list_distinct(list(l_partkey))) AS parts
  FROM lineitem GROUP BY l_orderkey),
pairs AS (
  SELECT a.part_a, a.part_b
  FROM (
    SELECT l_orderkey, p1 AS part_a, p2 AS part_b
    FROM (SELECT l_orderkey, unnest(parts) AS p1, parts FROM baskets),
         LATERAL (SELECT unnest(parts) AS p2)
    WHERE p1 < p2) a),
counted AS (
  SELECT part_a, part_b, CAST(count(*) AS BIGINT) AS n_orders
  FROM pairs GROUP BY part_a, part_b)
SELECT part_a, part_b, n_orders FROM counted
ORDER BY n_orders DESC, part_a, part_b LIMIT 20""",
    ),
    # year-over-year growth per priority (lag over exact yearly sums)
    "q_yoy_revenue": QuerySpec(
        relational.yoy_revenue_growth,
        f"""WITH yearly AS (
  SELECT o_orderpriority, CAST(year(o_orderdate) AS INTEGER) AS yr,
    CAST(sum({_d('o_totalprice')}) AS DOUBLE) AS revenue
  FROM orders GROUP BY 1, 2)
SELECT o_orderpriority, yr, revenue,
  lag(revenue) OVER (PARTITION BY o_orderpriority ORDER BY yr)
    AS prev_revenue,
  round((revenue - lag(revenue) OVER (PARTITION BY o_orderpriority
    ORDER BY yr)) / lag(revenue) OVER (PARTITION BY o_orderpriority
    ORDER BY yr), 6) AS yoy_growth
FROM yearly""",
    ),
    # CDC MERGE INTO emulation: deterministic change set applied to orders
    "q_cdc_merge": QuerySpec(
        lambda spark, sf_dir: _cdc_merge(spark, sf_dir),
        """WITH changes AS (
  SELECT o_orderkey,
    CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'U' END AS op,
    o_totalprice + 1000.0 AS new_price
  FROM orders WHERE o_orderkey % 10 IN (0, 1)),
survivors AS (
  SELECT o.o_orderkey, o.o_orderstatus, o.o_totalprice
  FROM orders o ANTI JOIN changes c ON o.o_orderkey = c.o_orderkey),
upserts AS (
  SELECT o.o_orderkey, o.o_orderstatus, c.new_price AS o_totalprice
  FROM orders o JOIN changes c ON o.o_orderkey = c.o_orderkey
  WHERE c.op = 'U')
SELECT * FROM survivors UNION ALL SELECT * FROM upserts""",
    ),
    # ANSI-safety sweep: try_* degrade to NULL instead of killing the job
    "q_conditional_safety": QuerySpec(
        relational.conditional_safety,
        """SELECT l_linestatus,
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(count(l_extendedprice / nullif(0.0, 0.0)) AS BIGINT) AS n_div0_nonnull,
  min(l_extendedprice / nullif(l_quantity, 0.0)) AS min_unit_price,
  max(l_extendedprice / nullif(l_quantity, 0.0)) AS max_unit_price,
  min(least(l_tax, l_discount)) AS min_least,
  max(greatest(l_tax, l_discount)) AS max_greatest
FROM lineitem GROUP BY l_linestatus""",
    ),
    "q_salted_join": QuerySpec(
        skew.salted_supplier_revenue,
        f"""SELECT s_nationkey,
  CAST(count(*) AS BIGINT) AS n_items,
  CAST(CAST(sum({_d('l_extendedprice')} * ({_ONE} - {_d('l_discount')})) AS DECIMAL(18,6)) AS DOUBLE) AS revenue
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_nationkey""",
    ),
    # per-group OLS from exact decimal sums (x = minutes since 2024-01-01)
    "q_regression_per_group": QuerySpec(
        profiling.regression_per_group,
        """WITH s AS (
  SELECT event_type,
    CAST(count(*) AS DOUBLE) AS n,
    CAST(sum(x) AS DOUBLE) AS sx,
    CAST(sum(y) AS DOUBLE) AS sy,
    CAST(sum(x*x) AS DOUBLE) AS sxx,
    CAST(sum(y*y) AS DOUBLE) AS syy,
    CAST(sum(x*y) AS DOUBLE) AS sxy
  FROM (
    SELECT event_type,
      CAST(CAST(floor(epoch(ts)/60) AS BIGINT) - 28401120 AS DECIMAL(18,0)) AS x,
      CAST(value AS DECIMAL(12,4)) AS y
    FROM events)
  GROUP BY event_type)
SELECT event_type,
  (n*sxy - sx*sy) / (n*sxx - sx*sx) AS slope_per_min,
  (sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n AS intercept,
  ((n*sxy - sx*sy) / (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy)))
    * ((n*sxy - sx*sy) / (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy))) AS r2,
  CAST(n AS BIGINT) AS n_events
FROM s""",
    ),
    # bitmap-aggregate exact distinct (oracle: plain COUNT(DISTINCT))
    "q_bitmap_distinct": QuerySpec(
        profiling.bitmap_distinct_users,
        """SELECT event_type,
  CAST(count(DISTINCT user_id) AS BIGINT) AS distinct_users
FROM events GROUP BY event_type""",
    ),
    # cogrouped-map as-of join: same contract (and oracle) as q_asof_join
    "q_asof_join_cogroup": QuerySpec(
        sessions.asof_join_cogroup,
        """WITH p AS (
  SELECT event_id, user_id, ts AS purchase_ts FROM events
  WHERE event_type = 'purchase'),
s AS (SELECT user_id, ts FROM events WHERE event_type = 'signup')
SELECT p.event_id, p.purchase_ts,
  (SELECT max(s.ts) FROM s
   WHERE s.user_id = p.user_id AND s.ts <= p.purchase_ts) AS last_signup_ts
FROM p""",
    ),
    # ordered view→click→purchase funnel (chained cumulative windows)
    "q_event_funnel": QuerySpec(
        sessions.event_funnel,
        """WITH s1 AS (
  SELECT user_id, ts, event_id, event_type,
    min(CASE WHEN event_type = 'view' THEN ts END)
      OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING) AS fv
  FROM events),
s2 AS (
  SELECT *, min(CASE WHEN event_type = 'click' AND fv IS NOT NULL
                     AND ts >= fv THEN ts END)
    OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS UNBOUNDED PRECEDING) AS fc
  FROM s1),
s3 AS (
  SELECT *, min(CASE WHEN event_type = 'purchase' AND fc IS NOT NULL
                     AND ts >= fc THEN ts END)
    OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS UNBOUNDED PRECEDING) AS fp
  FROM s2),
per_user AS (
  SELECT user_id, min(fv) AS tv, min(fc) AS tc, min(fp) AS tp
  FROM s3 GROUP BY user_id)
SELECT CAST(count(tv) AS BIGINT) AS n_view,
  CAST(count(tc) AS BIGINT) AS n_click_after_view,
  CAST(count(tp) AS BIGINT) AS n_purchase_after_funnel,
  CAST(count(*) AS BIGINT) AS n_users
FROM per_user""",
    ),
    # BM25 ranking for a fixed 3-term query (IR-style curation scoring)
    "q_bm25_search": QuerySpec(
        textops.bm25_search,
        """WITH toks AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents),
lens AS (SELECT doc_id, len(toks) AS doclen FROM toks),
stats AS (SELECT count(*) AS n_docs, sum(doclen) AS total_len FROM lens),
terms AS (SELECT doc_id, unnest(toks) AS term FROM toks),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM terms
  WHERE term IN ('spark', 'join', 'table') GROUP BY 1, 2),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT doc_id, term,
    ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
      * (tf * 2.2 / (tf + 1.2 * (1.0 - 0.75
          + 0.75 * doclen / (CAST(total_len AS DOUBLE) / n_docs)))) AS contrib
  FROM tf JOIN dfq USING (term) JOIN lens USING (doc_id) CROSS JOIN stats),
per AS (
  SELECT doc_id,
    sum(CASE WHEN term = 'spark' THEN contrib END) AS s1,
    sum(CASE WHEN term = 'join' THEN contrib END) AS s2,
    sum(CASE WHEN term = 'table' THEN contrib END) AS s3
  FROM scored GROUP BY doc_id)
SELECT doc_id,
  round(coalesce(s1, 0.0) + coalesce(s2, 0.0) + coalesce(s3, 0.0), 6) AS bm25
FROM per ORDER BY bm25 DESC, doc_id LIMIT 20""",
    ),
    # Retrieval-quality metrics over the BM25 arm: precision/recall/
    # MRR/nDCG @ k vs a conjunctive-match relevance oracle; DCG sums
    # integer-scaled weight literals so the float path is one division.
    "q_retrieval_metrics": QuerySpec(
        textops.retrieval_metrics,
        f"""WITH toks AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents),
lens AS (SELECT doc_id, len(toks) AS doclen FROM toks),
stats AS (SELECT count(*) AS n_docs, sum(doclen) AS total_len FROM lens),
terms AS (SELECT doc_id, unnest(toks) AS term FROM toks),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM terms
  WHERE term IN ('spark', 'join', 'table') GROUP BY 1, 2),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT doc_id, term,
    ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
      * (tf * 2.2 / (tf + 1.2 * (1.0 - 0.75
          + 0.75 * doclen / (CAST(total_len AS DOUBLE) / n_docs)))) AS contrib
  FROM tf JOIN dfq USING (term) JOIN lens USING (doc_id) CROSS JOIN stats),
per AS (
  SELECT doc_id,
    sum(CASE WHEN term = 'spark' THEN contrib END) AS s1,
    sum(CASE WHEN term = 'join' THEN contrib END) AS s2,
    sum(CASE WHEN term = 'table' THEN contrib END) AS s3
  FROM scored GROUP BY doc_id),
ranked AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rank
  FROM (
    SELECT doc_id,
      round(coalesce(s1, 0.0) + coalesce(s2, 0.0) + coalesce(s3, 0.0), 6) AS bm25
    FROM per ORDER BY bm25 DESC, doc_id LIMIT 20)),
rel AS (
  SELECT doc_id FROM toks
  WHERE list_contains(toks, 'spark') AND list_contains(toks, 'join')
    AND list_contains(toks, 'table')),
nrel AS (SELECT count(*) AS n_rel FROM rel),
j AS (
  SELECT ranked.rank, (r.doc_id IS NOT NULL) AS is_rel
  FROM ranked LEFT JOIN rel r ON r.doc_id = ranked.doc_id),
ks AS (SELECT unnest([5, 10, 20]) AS k),
g AS (
  SELECT k,
    sum(CASE WHEN is_rel AND rank <= k THEN 1 ELSE 0 END) AS hits,
    max(CASE WHEN is_rel AND rank <= k THEN 1.0 / rank END) AS mrr0,
    sum(CASE WHEN is_rel AND rank <= k
             THEN list_extract({_NDCG_W_SQL}, rank) END) AS dcg_int
  FROM j CROSS JOIN ks GROUP BY k)
SELECT CAST(k AS INTEGER) AS k,
  CAST(n_rel AS BIGINT) AS n_relevant,
  CAST(coalesce(hits, 0) AS BIGINT) AS hits,
  round(coalesce(hits, 0) / CAST(k AS DOUBLE), 9) AS precision_at_k,
  round(CASE WHEN n_rel > 0 THEN coalesce(hits, 0) / CAST(n_rel AS DOUBLE)
        ELSE 0.0 END, 9) AS recall_at_k,
  round(coalesce(mrr0, 0.0), 9) AS mrr_at_k,
  round(CASE WHEN n_rel > 0
        THEN CAST(coalesce(dcg_int, 0) AS DOUBLE)
             / list_extract({_NDCG_CUM_SQL}, least(CAST(k AS BIGINT), n_rel))
        ELSE 0.0 END, 9) AS ndcg_at_k
FROM g CROSS JOIN nrel""",
    ),
    # Cohen's kappa over md5-derived annotator labels: every count is
    # exact (HUGEINT / decimal(38,0)); each metric is ONE double
    # division of exact integers — kappa = (n·agree − X)/(n² − X).
    "q_annotator_agreement": QuerySpec(
        profiling.annotator_agreement,
        """WITH lab AS (
  SELECT
    CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT)
         % 2 AS INTEGER) AS base,
    CAST(CAST(('0x' || substr(md5('ann1:' || CAST(doc_id AS VARCHAR)), 1, 6))
         AS BIGINT) % 100 < 10 AS INTEGER) AS f1,
    CAST(CAST(('0x' || substr(md5('ann2:' || CAST(doc_id AS VARCHAR)), 1, 6))
         AS BIGINT) % 100 < 20 AS INTEGER) AS f2
  FROM documents),
l AS (SELECT base AS l0, (base + f1) % 2 AS l1, (base + f2) % 2 AS l2 FROM lab),
a AS (
  SELECT count(*) AS n,
    sum(l0) AS s0, sum(l1) AS s1, sum(l2) AS s2,
    sum(CASE WHEN l0 = l1 THEN 1 ELSE 0 END) AS agree01,
    sum(CASE WHEN l0 = l2 THEN 1 ELSE 0 END) AS agree02,
    sum(CASE WHEN l1 = l2 THEN 1 ELSE 0 END) AS agree12
  FROM l),
p AS (
  SELECT 'ann0-ann1' AS pair, n, agree01 AS agree, s0 AS sa, s1 AS sb FROM a
  UNION ALL SELECT 'ann0-ann2', n, agree02, s0, s2 FROM a
  UNION ALL SELECT 'ann1-ann2', n, agree12, s1, s2 FROM a)
SELECT pair, CAST(n AS BIGINT) AS n, CAST(agree AS BIGINT) AS n_agree,
  round(CAST(agree AS DOUBLE) / CAST(n AS DOUBLE), 9) AS p_o,
  round(CAST(sa * sb + (n - sa) * (n - sb) AS DOUBLE)
        / CAST(n * n AS DOUBLE), 9) AS p_e,
  round(CASE WHEN n * n = sa * sb + (n - sa) * (n - sb) THEN 0.0
        ELSE CAST(n * agree - (sa * sb + (n - sa) * (n - sb)) AS DOUBLE)
             / CAST(n * n - (sa * sb + (n - sa) * (n - sb)) AS DOUBLE)
        END, 9) AS kappa
FROM p""",
    ),
    # triangle census of the near-dup graph (dedup cluster-quality signal)
    "q_triangle_count": QuerySpec(
        graph.triangle_count,
        f"""WITH {_SHINGLES_CTE},
{_LSH_CAND_CTE},
nodes AS (
  SELECT doc_a AS d FROM cand UNION SELECT doc_b FROM cand),
tris AS (
  SELECT count(*) AS n_triangles
  FROM cand ab JOIN cand bc ON ab.doc_b = bc.doc_a
  JOIN cand ac ON ac.doc_a = ab.doc_a AND ac.doc_b = bc.doc_b)
SELECT CAST((SELECT count(*) FROM nodes) AS BIGINT) AS n_nodes,
  CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_edges,
  CAST(n_triangles AS BIGINT) AS n_triangles
FROM tris""",
    ),
    # 3x3 tile smoothing at zoom 10 (scatter-explode convolution)
    "q_tile_smooth": QuerySpec(
        lambda spark, sf_dir: pyr.smooth_tiles(
            pyr.build_pyramid(load_locations(spark, sf_dir), mode="explode"), 10
        ),
        f"""WITH {_LOC_CTE},
{_PTS_CTE},
{_EXPANDED_CTE},
level AS (
  SELECT user_group, timespan,
    CAST(floor(row21 / 2048.0) AS BIGINT) AS row,
    CAST(floor(col21 / 2048.0) AS BIGINT) AS col,
    sum(weight) AS visits
  FROM expanded GROUP BY 1, 2, 3, 4),
offs(dr, dc, w) AS (VALUES
  (-1,-1,1), (-1,0,2), (-1,1,1),
  (0,-1,2), (0,0,4), (0,1,2),
  (1,-1,1), (1,0,2), (1,1,1)),
scattered AS (
  SELECT user_group, timespan, row + dr AS r2, col + dc AS c2,
    CAST(visits AS DECIMAL(20,4)) * w AS wv
  FROM level CROSS JOIN offs
  WHERE row + dr >= 0 AND row + dr < 1024
    AND col + dc >= 0 AND col + dc < 1024)
SELECT user_group, timespan, r2 AS row, c2 AS col,
  CAST(sum(wv) AS DOUBLE) AS smoothed
FROM scattered GROUP BY 1, 2, 3, 4""",
    ),
    # end-to-end curation compose: filter → near-dup removal → split
    "q_curation_pipeline": QuerySpec(
        dedup.curation_pipeline,
        f"""WITH {_SHINGLES_CTE},
{_LSH_CAND_CTE},
dupes AS (
  SELECT DISTINCT doc_b AS doc_id FROM cand),
kept AS (
  SELECT doc_id, n_chars FROM documents
  WHERE lang = 'en' AND n_chars >= 150
    AND doc_id NOT IN (SELECT doc_id FROM dupes))
SELECT doc_id, n_chars,
  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'c' THEN 'train'
       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'e' THEN 'val'
       ELSE 'test' END AS split
FROM kept""",
    ),
    # SCD2 dimension build: event log → versioned state intervals
    "q_scd2_intervals": QuerySpec(
        timeseries.scd2_intervals,
        """SELECT user_id, event_type AS state, ts AS valid_from,
  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
  (lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL)
    AS is_current
FROM events""",
    ),
    # gaps-and-islands: consecutive same-state runs, single-shuffle form
    "q_state_episodes": QuerySpec(
        timeseries.state_episodes,
        """WITH c AS (
  SELECT user_id, event_type, ts, event_id,
    CASE WHEN lag(event_type) OVER w IS NULL
           OR lag(event_type) OVER w <> event_type
         THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
i AS (
  SELECT user_id, event_type, ts,
    CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
  FROM c)
SELECT user_id, event_type AS state,
  min(ts) AS episode_start, max(ts) AS episode_end,
  CAST(count(*) AS BIGINT) AS n_events
FROM i GROUP BY user_id, event_type, island""",
    ),
    # raw-SQL tile surface via Spark 4 SQL scalar functions (inlined,
    # zero Python — same codegen'd plan as the Column API)
    "q_sql_tile_functions": QuerySpec(
        lambda spark, sf_dir: _sql_tile_functions(spark, sf_dir),
        f"""WITH {_LOC_CTE},
t AS (
  SELECT
    CAST(floor((1 - ln(tan(latitude*pi()/180) + 1/cos(latitude*pi()/180))/pi())/2 * 128.0) AS BIGINT) AS r7,
    CAST(floor((longitude + 180.0)/360.0 * 128.0) AS BIGINT) AS c7
  FROM locations WHERE source <> 'background')
SELECT '7_' || CAST(r7 AS VARCHAR) || '_' || CAST(c7 AS VARCHAR) AS tid,
  '4_' || CAST(r7 >> 3 AS VARCHAR) || '_' || CAST(c7 >> 3 AS VARCHAR) AS parent_tid,
  CAST(count(*) AS BIGINT) AS n_points
FROM t GROUP BY 1, 2""",
    ),
    # approximate top-k items (exact here: k >= item cardinality, so the
    # oracle is the exact per-type count)
    "q_approx_top_k": QuerySpec(
        lambda spark, sf_dir: _approx_top_k(spark, sf_dir),
        """SELECT event_type, CAST(count(*) AS BIGINT) AS cnt
FROM events GROUP BY event_type""",
    ),
    # geo nearest-neighbor by haversine (meter-rounded for portability)
    # point-in-polygon geofencing: unrolled even-odd ray casting as
    # plan-literal Column arithmetic (map-only + one fence-key agg);
    # the oracle is GENERATED from the same polygon constants
    "q_geofence": QuerySpec(
        geo.geofence_visits,
        geo.geofence_oracle_sql(_LOC_CTE),
    ),
    # the streamed (fence, user)-grain store SHARES the generated
    # oracle: sum/distinct mergeability makes the accumulated read
    # equal the one-shot classification
    "q_streaming_geofence": QuerySpec(
        q_streaming_geofence,
        geo.geofence_oracle_sql(_LOC_CTE),
    ),
    # enter/exit detection: membership lag over the single-sort
    # (user, fence) window chain, rolled up per fence
    "q_geofence_transitions": QuerySpec(
        geo.geofence_transitions,
        geo.geofence_transitions_oracle_sql(_LOC_CTE),
    ),
    "q_haversine_nearest": QuerySpec(
        similarity.haversine_nearest,
        f"""WITH {_LOC_CTE},
probes(probe, plat, plon) AS (VALUES
  ('london', 51.5074, -0.1278),
  ('tokyo', 35.6762, 139.6503),
  ('sao_paulo', -23.5505, -46.6333)),
cand AS (
  SELECT probe, user_id, latitude, longitude,
    CAST(round(2.0 * 6371.0088 * asin(sqrt(
      sin(radians(latitude - plat)/2) * sin(radians(latitude - plat)/2)
      + cos(radians(plat)) * cos(radians(latitude))
      * sin(radians(longitude - plon)/2) * sin(radians(longitude - plon)/2)
    )) * 1000.0) AS BIGINT) AS dist_m
  FROM locations CROSS JOIN probes
  WHERE source <> 'background'),
ranked AS (
  SELECT probe, user_id, dist_m,
    CAST(row_number() OVER (PARTITION BY probe
      ORDER BY dist_m, user_id, latitude, longitude) AS INTEGER) AS rank
  FROM cand)
SELECT probe, rank, user_id, dist_m FROM ranked WHERE rank <= 5""",
    ),
    # SemDeDup-style semantic dedup decision: drop a vector iff some
    # lower-id vector in a shared IVF bucket has cosine >= 0.4 — the
    # greedy keep-one-per-ε-ball policy, hash-checked end to end.
    "q_semantic_dedup": QuerySpec(
        similarity.semantic_dedup,
        f"""WITH {_EMB_PAIRS_CTE},
dropped AS (SELECT DISTINCT vec_id_b AS vec_id FROM pairs WHERE raw >= 0.4)
SELECT e.vec_id, (d.vec_id IS NULL) AS keep
FROM emb e LEFT JOIN dropped d USING (vec_id)""",
    ),
    # CCNet-style unigram LM quality score: mean log2 corpus probability
    # of the document's token occurrences (exact-decimal summation).
    "q_unigram_logprob": QuerySpec(
        textops.unigram_logprob,
        """WITH tok AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS token
  FROM documents),
vocab AS (SELECT token, count(*) AS tf FROM tok GROUP BY 1),
total AS (SELECT sum(tf) AS n_total FROM vocab)
SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
  CAST(sum(CAST(round(log2(CAST(v.tf AS DOUBLE) / CAST(tt.n_total AS DOUBLE)), 6) AS DECIMAL(18,6))) AS DOUBLE)
    / count(*) AS avg_log2_prob
FROM tok t JOIN vocab v USING (token) CROSS JOIN total tt
GROUP BY t.doc_id""",
    ),
    # Curriculum assignment: unigram-LM difficulty (bits/token) binned
    # into equal-population NTILE deciles with a doc_id tiebreak — the
    # easy→hard schedule a curriculum sampler draws from.
    "q_curriculum_buckets": QuerySpec(
        textops.curriculum_buckets,
        """WITH tok AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS token
  FROM documents),
vocab AS (SELECT token, count(*) AS tf FROM tok GROUP BY 1),
total AS (SELECT sum(tf) AS n_total FROM vocab),
per_doc AS (
  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
    -(CAST(sum(CAST(round(log2(CAST(v.tf AS DOUBLE) / CAST(tt.n_total AS DOUBLE)), 6) AS DECIMAL(18,6))) AS DOUBLE))
      / count(*) AS bpt
  FROM tok t JOIN vocab v USING (token) CROSS JOIN total tt
  GROUP BY t.doc_id)
SELECT p.doc_id, d.lang, p.n_tokens,
  round(p.bpt, 6) AS bits_per_token,
  CAST(ntile(10) OVER (ORDER BY p.bpt, p.doc_id) AS INTEGER) AS difficulty_decile
FROM per_doc p JOIN documents d USING (doc_id)""",
    ),
    # Lee-et-al-style duplicated-passage fraction: 8-token windows whose
    # exact text recurs in >= 2 distinct documents.
    "q_duplicated_passages": QuerySpec(
        dedup.duplicated_passages, _DUP_PASSAGES_SQL
    ),
    # Streaming twin: 3-micro-batch drain through the log-structured
    # passage store + mid-stream compaction — final state must equal
    # the batch detector, so the SAME oracle gates both.
    "q_streaming_duplicated_passages": QuerySpec(
        q_streaming_duplicated_passages, _DUP_PASSAGES_SQL
    ),
    # Streaming crawl dedup: per-batch ingest-time flags against the
    # accumulated LSH store (order-dependent statuses, uncapped
    # membership join — mirrored exactly from the shared bands CTE).
    # Incremental ANN-index maintenance (frozen IVFPQ model + per-batch
    # encode into the codes store) — rows-only, but the registry
    # function ASSERTS bit-equality with the one-shot build on every
    # run, so divergence turns the driver red.
    "q_streaming_ann_index": QuerySpec(q_streaming_ann_index, None),
    "q_streaming_ann_opq": QuerySpec(q_streaming_ann_opq, None),
    # Streaming HNSW twin: incremental graph maintenance, recall
    # raise-pinned at 0.8 (measured 0.98/1.00 at the fixtures).
    "q_streaming_graph_ann": QuerySpec(q_streaming_graph_ann, None),
    # Streaming vocabulary-drift log (order-dependent: each batch's
    # drift is measured against the vocab accumulated BEFORE it).
    "q_streaming_vocab_drift": QuerySpec(
        q_streaming_vocab_drift,
        """WITH mx AS (SELECT max(doc_id) + 1 AS n FROM documents),
d3 AS (SELECT CAST((doc_id * 3) // n AS INTEGER) AS batch, text
       FROM documents, mx),
tok AS (SELECT batch,
        unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> x <> '')) AS token
        FROM d3),
cnt AS (SELECT batch, token, CAST(count(*) AS BIGINT) AS c
        FROM tok GROUP BY 1, 2),
grid AS (SELECT b.batch, t.token
         FROM (SELECT CAST(unnest(range(3)) AS INTEGER) AS batch) b
         CROSS JOIN (SELECT DISTINCT token FROM cnt) t),
g2 AS (SELECT g.batch, g.token, COALESCE(c.c, 0) AS cb
       FROM grid g LEFT JOIN cnt c
         ON g.batch = c.batch AND g.token = c.token),
g3 AS (SELECT batch, token, cb,
       COALESCE(SUM(cb) OVER (PARTITION BY token ORDER BY batch
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cp
       FROM g2),
tot AS (SELECT batch, CAST(SUM(cb) AS BIGINT) AS nb FROM g2 GROUP BY batch),
tot2 AS (SELECT batch, nb,
         CAST(COALESCE(SUM(nb) OVER (ORDER BY batch
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS np
         FROM tot),
agg AS (SELECT g3.batch,
  CAST(SUM(CASE WHEN cb > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_types,
  CAST(SUM(CASE WHEN cb > 0 AND cp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_new_types,
  CAST(SUM(CASE WHEN cp = 0 THEN cb ELSE 0 END) AS BIGINT) AS new_occ,
  SUM(abs(CAST(cb AS HUGEINT) * t.np - CAST(cp AS HUGEINT) * t.nb)) AS l1_num
  FROM g3 JOIN tot2 t ON g3.batch = t.batch GROUP BY g3.batch)
SELECT a.batch AS batch_id, t.nb AS n_tokens, a.n_types, a.n_new_types,
  CASE WHEN t.nb > 0 THEN round(CAST(a.new_occ AS DOUBLE) / t.nb, 6)
       ELSE 0.0 END AS oov_rate,
  CASE WHEN t.nb > 0 AND t.np > 0
       THEN round(CAST(a.l1_num AS DOUBLE) / (CAST(t.nb AS DOUBLE) * t.np), 6)
       ELSE 0.0 END AS l1_drift
FROM agg a JOIN tot2 t ON a.batch = t.batch""",
    ),
    # Tokenizer-health drift: frozen BPE merges as a static nested-
    # replace chain (fold-equivalent — streaming/bpe_drift.py); batch
    # grid from range(3) so empty batches still emit an oracle row.
    "q_streaming_bpe_drift": QuerySpec(
        q_streaming_bpe_drift,
        f"""WITH mx AS (SELECT max(doc_id) + 1 AS n FROM documents),
d3 AS (SELECT CAST((doc_id * 3) // n AS INTEGER) AS batch, text
       FROM documents, mx),
w AS (SELECT batch,
      unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '')) AS word
      FROM d3),
enc AS (SELECT batch,
  len(string_split({frozen_merge_replace_chain_sql(
      "'  ' || array_to_string(list_append(string_split(word, ''), '</w>'), '  ') || '  '"
  )}, '  ')) - 2 AS n_tok
  FROM w),
pb AS (SELECT batch,
  CAST(count(*) AS BIGINT) AS n_words,
  CAST(SUM(n_tok) AS BIGINT) AS n_bpe_tokens,
  CAST(SUM(CASE WHEN n_tok >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_frag_words
  FROM enc GROUP BY batch),
db AS (SELECT batch, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(length(text)) AS BIGINT) AS n_chars
       FROM d3 GROUP BY batch),
g AS (SELECT b.batch,
  COALESCE(d.n_docs, 0) AS n_docs, COALESCE(d.n_chars, 0) AS n_chars,
  COALESCE(p.n_words, 0) AS n_words,
  COALESCE(p.n_bpe_tokens, 0) AS n_bpe_tokens,
  COALESCE(p.n_frag_words, 0) AS n_frag_words
  FROM (SELECT CAST(unnest(range(3)) AS INTEGER) AS batch) b
  LEFT JOIN db d USING (batch) LEFT JOIN pb p USING (batch)),
cum AS (SELECT *,
  CAST(COALESCE(SUM(n_words) OVER (ORDER BY batch
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pw,
  CAST(COALESCE(SUM(n_bpe_tokens) OVER (ORDER BY batch
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pt
  FROM g)
SELECT batch AS batch_id, n_docs, n_words, n_chars, n_bpe_tokens,
  n_frag_words,
  CASE WHEN n_words > 0
       THEN round(CAST(n_bpe_tokens AS DOUBLE) / n_words, 6)
       ELSE 0.0 END AS fertility,
  CASE WHEN n_words > 0 AND pw > 0
       THEN round(CAST(n_bpe_tokens AS DOUBLE) / n_words
                  - CAST(pt AS DOUBLE) / pw, 6)
       ELSE 0.0 END AS fertility_drift
FROM cum""",
    ),
    "q_streaming_incremental_dedup": QuerySpec(
        q_streaming_incremental_dedup,
        f"""WITH {_SHINGLES_CTE},
{_LSH_CAND_CTE},
mx AS (SELECT max(doc_id) + 1 AS n FROM documents),
bt AS (SELECT doc_id, CAST((doc_id * 3) // n AS INTEGER) AS batch FROM documents, mx),
p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, ba.batch AS batch_a, bb.batch AS batch_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id <> b.doc_id
  JOIN bt ba ON ba.doc_id = a.doc_id JOIN bt bb ON bb.doc_id = b.doc_id
  GROUP BY 1, 2, 3, 4),
vs_corpus AS (SELECT DISTINCT doc_b AS doc_id FROM p WHERE batch_a < batch_b),
in_batch AS (
  SELECT DISTINCT doc_b AS doc_id FROM p
  WHERE batch_a = batch_b AND doc_a < doc_b)
SELECT bt.doc_id, bt.batch,
  CASE WHEN v.doc_id IS NOT NULL THEN 'dup_of_corpus'
       WHEN ib.doc_id IS NOT NULL THEN 'dup_in_batch'
       ELSE 'new' END AS status
FROM bt LEFT JOIN vs_corpus v USING (doc_id) LEFT JOIN in_batch ib USING (doc_id)""",
    ),
    # Production serving path: partitioned store build + bucket-pruned
    # point read of the busiest parent tile, sink-shape JSON out.
    "q_tile_store_serving": QuerySpec(
        q_tile_store_serving,
        f"""WITH {_LOC_CTE},\n{_PTS_CTE},
d12 AS (
  SELECT CAST(floor(row21 / pow(2.0, 9.0)) AS BIGINT) AS row,
         CAST(floor(col21 / pow(2.0, 9.0)) AS BIGINT) AS col,
         sum(weight) AS visits
  FROM pts GROUP BY 1, 2),
top AS (
  SELECT CAST(floor(row/32.0) AS BIGINT) AS r, CAST(floor(col/32.0) AS BIGINT) AS c
  FROM d12 GROUP BY 1, 2 ORDER BY sum(visits) DESC, r, c LIMIT 1)
SELECT 'all|alltime|7_' || CAST(r AS VARCHAR) || '_' || CAST(c AS VARCHAR) AS id,
  '{{' || string_agg(
      '"12_' || CAST(row AS VARCHAR) || '_' || CAST(col AS VARCHAR) || '":' || CAST(visits AS VARCHAR),
      ',' ORDER BY row, col) || '}}' AS heatmap
FROM d12 JOIN top ON CAST(floor(row/32.0) AS BIGINT) = r AND CAST(floor(col/32.0) AS BIGINT) = c
GROUP BY r, c""",
    ),
    # ExactSubstr REMOVAL: tokens covered by cross-doc duplicated
    # windows are dropped and the cleaned text re-emitted — the oracle
    # rebuilds the exact same strings via DuckDB's indexed lambdas.
    "q_remove_duplicated_passages": QuerySpec(
        dedup.remove_duplicated_passages,
        """WITH tl AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents),
wins AS (
  SELECT doc_id, i,
    md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' ||
        toks[i+4] || ' ' || toks[i+5] || ' ' || toks[i+6] || ' ' || toks[i+7]) AS h
  FROM tl, unnest(range(1, greatest(len(toks) - 6, 1))) AS t(i)),
dup AS (
  SELECT h FROM (SELECT DISTINCT doc_id, h FROM wins) GROUP BY h HAVING count(*) >= 2),
cov AS (
  SELECT DISTINCT w.doc_id, u.ti
  FROM wins w JOIN dup d USING (h), unnest(range(w.i, w.i + 8)) AS u(ti)),
covagg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_removed, list(ti) AS covs
  FROM cov GROUP BY doc_id)
SELECT tl.doc_id,
  CAST(len(toks) AS BIGINT) AS n_tokens,
  COALESCE(c.n_removed, 0) AS n_removed,
  COALESCE(array_to_string(
    list_filter(toks, (x, i) -> c.covs IS NULL OR NOT list_contains(c.covs, i)),
    ' '), '') AS clean_text
FROM tl LEFT JOIN covagg c USING (doc_id)""",
    ),
    # Grid-DBSCAN hotspots: dense zoom-6 cells + 8-neighbor CC regions.
    "q_dense_regions": QuerySpec(
        q_dense_regions,
        f"""WITH RECURSIVE {_LOC_CTE},
cells AS (
  SELECT r, c, count(*) AS n_points, r * 64 + c AS cell_id
  FROM (
    SELECT
      CAST(floor((1 - ln(tan(latitude*pi()/180) + 1/cos(latitude*pi()/180))/pi())/2 * 64.0) AS BIGINT) AS r,
      CAST(floor((longitude + 180.0)/360.0 * 64.0) AS BIGINT) AS c
    FROM locations WHERE source <> 'background')
  GROUP BY 1, 2 HAVING count(*) >= 3),
edges AS (
  SELECT a.cell_id AS u, b.cell_id AS v FROM cells a JOIN cells b
    ON abs(a.r - b.r) <= 1 AND abs(a.c - b.c) <= 1 AND a.cell_id <> b.cell_id),
reach(node, lab) AS (
  SELECT cell_id, cell_id FROM cells
  UNION
  SELECT e.u, r2.lab FROM edges e JOIN reach r2 ON e.v = r2.node),
lab AS (SELECT node AS cell_id, min(lab) AS region_id FROM reach GROUP BY node)
SELECT c.cell_id, c.r AS row, c.c AS col,
       CAST(c.n_points AS BIGINT) AS n_points, l.region_id
FROM cells c JOIN lab l USING (cell_id)""",
    ),
    # The full curation DAG in one plan: quality -> decontaminate ->
    # LSH dedup -> split -> chunk; the composition itself hash-checked.
    "q_curation_full": QuerySpec(
        q_curation_full,
        rf"""WITH {_SHINGLES_CTE},
{_LSH_CAND_CTE},
dupes AS (SELECT DISTINCT doc_b AS doc_id FROM cand),
dtk AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t5
  FROM documents),
dsh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t5) - 3),
    i -> t5[i] || ' ' || t5[i+1] || ' ' || t5[i+2] || ' ' || t5[i+3] || ' ' || t5[i+4]))) AS token
  FROM dtk),
bench AS (SELECT DISTINCT token FROM dsh WHERE doc_id % 97 = 0),
cont AS (
  SELECT DISTINCT doc_id FROM dsh
  WHERE doc_id % 97 <> 0 AND token IN (SELECT token FROM bench)),
surv AS (
  SELECT d.doc_id, d.text FROM documents d
  LEFT JOIN cont c USING (doc_id)
  WHERE d.lang = 'en' AND d.n_chars >= 150
    AND d.doc_id % 97 <> 0 AND c.doc_id IS NULL
    AND d.doc_id NOT IN (SELECT doc_id FROM dupes)),
tl AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS tk
  FROM surv),
stt AS (
  SELECT doc_id, tk, unnest(range(1, greatest(len(tk) - 16, 1) + 1, 48)) AS st
  FROM tl WHERE len(tk) >= 1)
SELECT doc_id,
  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'c' THEN 'train'
       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'e' THEN 'val'
       ELSE 'test' END AS split,
  CAST((st - 1) / 48 AS INTEGER) AS chunk_idx,
  array_to_string(tk[st:st+63], ' ') AS chunk_text,
  CAST(len(tk[st:st+63]) AS INTEGER) AS n_chunk_tokens
FROM stt""",
    ),
    # Leakage-safe split: split key = near-dup cluster representative,
    # so duplicate clusters can never straddle train/test.
    "q_leakage_safe_split": QuerySpec(
        dedup.leakage_safe_split,
        f"""WITH RECURSIVE {_SHINGLES_CTE},
{_LSH_CAND_CTE},
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM cand
  UNION SELECT doc_b, doc_a FROM cand),
reach(node, lab) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
  UNION
  SELECT e.u, r.lab FROM edges e JOIN reach r ON e.v = r.node),
cl AS (SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node)
SELECT d.doc_id,
  COALESCE(c.cluster_id, d.doc_id) AS split_key,
  CASE WHEN substr(md5(CAST(COALESCE(c.cluster_id, d.doc_id) AS VARCHAR)), 1, 1) <= 'c' THEN 'train'
       WHEN substr(md5(CAST(COALESCE(c.cluster_id, d.doc_id) AS VARCHAR)), 1, 1) <= 'e' THEN 'val'
       ELSE 'test' END AS split
FROM documents d LEFT JOIN cl c USING (doc_id)""",
    ),
    # Incremental-crawl dedup: new batch (top 20% of id range) vs the
    # existing corpus via the same capped LSH candidate generation.
    "q_incremental_dedup": QuerySpec(
        dedup.incremental_dedup,
        f"""WITH {_SHINGLES_CTE},
{_LSH_CAND_CTE},
thr AS (SELECT (max(doc_id) * 4) // 5 AS thr FROM documents),
vs_corpus AS (
  SELECT DISTINCT doc_b AS doc_id FROM cand, thr WHERE doc_a < thr AND doc_b >= thr),
in_batch AS (
  SELECT DISTINCT doc_b AS doc_id FROM cand, thr WHERE doc_a >= thr),
newdocs AS (SELECT doc_id FROM documents, thr WHERE doc_id >= thr)
SELECT n.doc_id,
  CASE WHEN v.doc_id IS NOT NULL THEN 'dup_of_corpus'
       WHEN b.doc_id IS NOT NULL THEN 'dup_in_batch'
       ELSE 'new' END AS status
FROM newdocs n LEFT JOIN vs_corpus v USING (doc_id) LEFT JOIN in_batch b USING (doc_id)""",
    ),
    # RAG-style chunking: overlapping 64-token windows at 48-token
    # stride (case preserved); start arithmetic identical both engines.
    "q_chunk_documents": QuerySpec(
        textops.chunk_documents,
        r"""WITH tl AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS tk
  FROM documents),
st AS (
  SELECT doc_id, tk, unnest(range(1, greatest(len(tk) - 16, 1) + 1, 48)) AS st
  FROM tl WHERE len(tk) >= 1)
SELECT doc_id,
  CAST((st - 1) / 48 AS INTEGER) AS chunk_idx,
  array_to_string(tk[st:st+63], ' ') AS chunk_text,
  CAST(len(tk[st:st+63]) AS INTEGER) AS n_chunk_tokens
FROM st""",
    ),
    # Hybrid retrieval: BM25 + dense-cosine arms fused by Reciprocal
    # Rank Fusion (1/(60+rank) per arm, 9-decimal round).  Each arm's
    # rank is an integer row_number over (rounded score DESC, id ASC),
    # so the fusion is exact across engines.
    "q_hybrid_rrf": QuerySpec(
        similarity.hybrid_rrf,
        """WITH toks AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents),
lens AS (SELECT doc_id, len(toks) AS doclen FROM toks),
stats AS (SELECT count(*) AS n_docs, sum(doclen) AS total_len FROM lens),
terms AS (SELECT doc_id, unnest(toks) AS term FROM toks),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM terms
  WHERE term IN ('spark', 'join', 'table') GROUP BY 1, 2),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
bscored AS (
  SELECT doc_id, term,
    ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
      * (tf * 2.2 / (tf + 1.2 * (1.0 - 0.75
          + 0.75 * doclen / (CAST(total_len AS DOUBLE) / n_docs)))) AS contrib
  FROM tf JOIN dfq USING (term) JOIN lens USING (doc_id) CROSS JOIN stats),
per AS (
  SELECT doc_id,
    sum(CASE WHEN term = 'spark' THEN contrib END) AS s1,
    sum(CASE WHEN term = 'join' THEN contrib END) AS s2,
    sum(CASE WHEN term = 'table' THEN contrib END) AS s3
  FROM bscored GROUP BY doc_id),
sparse AS (
  SELECT doc_id,
    round(coalesce(s1, 0.0) + coalesce(s2, 0.0) + coalesce(s3, 0.0), 6) AS bm25
  FROM per ORDER BY bm25 DESC, doc_id LIMIT 100),
sparse_r AS (
  SELECT doc_id,
    CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INTEGER) AS rank_sparse
  FROM sparse),
emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
qv AS (SELECT vec FROM emb WHERE vec_id = 0),
dscored AS (
  SELECT e.vec_id AS doc_id,
    round(
      list_sum(list_transform(range(1, len(q.vec) + 1), i -> q.vec[i] * e.vec[i])) /
      (sqrt(list_sum(list_transform(range(1, len(q.vec) + 1), i -> q.vec[i] * q.vec[i]))) *
       sqrt(list_sum(list_transform(range(1, len(e.vec) + 1), i -> e.vec[i] * e.vec[i])))),
      6) AS cosine
  FROM emb e CROSS JOIN qv q WHERE e.vec_id <> 0),
dense AS (
  SELECT doc_id, cosine FROM dscored ORDER BY cosine DESC, doc_id LIMIT 100),
dense_r AS (
  SELECT doc_id,
    CAST(row_number() OVER (ORDER BY cosine DESC, doc_id) AS INTEGER) AS rank_dense
  FROM dense),
fused AS (
  SELECT COALESCE(s.doc_id, d.doc_id) AS doc_id, s.rank_sparse, d.rank_dense
  FROM sparse_r s FULL OUTER JOIN dense_r d ON s.doc_id = d.doc_id)
SELECT CAST(doc_id AS BIGINT) AS doc_id, rank_sparse, rank_dense,
  round(COALESCE(1.0 / (CAST(60 AS DOUBLE) + rank_sparse), 0.0)
      + COALESCE(1.0 / (CAST(60 AS DOUBLE) + rank_dense), 0.0), 9) AS rrf
FROM fused ORDER BY rrf DESC, doc_id LIMIT 20""",
    ),
    # SQ8 symmetric search: int8-quantized codes, exact bigint dot
    # products (deterministic ranking, full value hash — unlike float
    # ADC); each neighbor row is flagged against the exact-cosine
    # top-k so the result carries its own recall evidence.
    "q_knn_sq8": QuerySpec(
        similarity.knn_sq8,
        """WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
codes AS (
  SELECT vec_id,
    list_transform(vec, x -> CAST(greatest(-127, least(127, floor(
      x / sqrt(list_sum(list_transform(vec, y -> y * y))) * 127))) AS BIGINT)) AS code
  FROM emb),
q AS (SELECT vec_id AS query_id, code AS qcode FROM codes WHERE vec_id < 10),
scored AS (
  SELECT query_id, c.vec_id AS neighbor_id,
    CAST(list_sum(list_transform(list_zip(qcode, c.code),
      p -> p[1] * p[2])) AS BIGINT) AS score_sq8
  FROM codes c CROSS JOIN q WHERE c.vec_id <> query_id),
ranked AS (
  SELECT query_id, neighbor_id, score_sq8,
    CAST(row_number() OVER (PARTITION BY query_id
      ORDER BY score_sq8 DESC, neighbor_id) AS INTEGER) AS rank
  FROM scored),
sq8 AS (SELECT * FROM ranked WHERE rank <= 5),
exact_scored AS (
  SELECT query_id, e.vec_id AS neighbor_id,
    round(
      list_sum(list_transform(range(1, len(qvec) + 1), i -> qvec[i] * e.vec[i])) /
      (sqrt(list_sum(list_transform(range(1, len(qvec) + 1), i -> qvec[i] * qvec[i]))) *
       sqrt(list_sum(list_transform(range(1, len(e.vec) + 1), i -> e.vec[i] * e.vec[i])))),
      6) AS cosine
  FROM emb e CROSS JOIN
    (SELECT vec_id AS query_id, vec AS qvec FROM emb WHERE vec_id < 10) qq
  WHERE e.vec_id <> query_id),
exact AS (
  SELECT query_id, neighbor_id
  FROM (SELECT query_id, neighbor_id,
          row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS rk
        FROM exact_scored)
  WHERE rk <= 5)
SELECT s.query_id, s.neighbor_id, s.score_sq8, s.rank,
  (e.neighbor_id IS NOT NULL) AS in_exact_topk
FROM sq8 s LEFT JOIN exact e
  ON s.query_id = e.query_id AND s.neighbor_id = e.neighbor_id""",
    ),
    # Binary (1-bit) quantization serving search: sign codes packed
    # into two 32-bit halves (256× compression), Hamming shortlist via
    # XOR+popcount, exact cosine rerank — all integer/fold math, so
    # the full ranking value-hashes (the RaBitQ/BQ pattern)
    "q_knn_binary": QuerySpec(
        similarity.knn_binary_rerank,
        """WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
codes AS (
  SELECT vec_id,
    CAST(list_sum(list_transform(range(0, 32), i -> CASE WHEN vec[i + 1] > 0.0
      THEN CAST(pow(2.0, i) AS BIGINT) ELSE 0 END)) AS BIGINT) AS code_lo,
    CAST(list_sum(list_transform(range(0, 32), i -> CASE WHEN vec[i + 33] > 0.0
      THEN CAST(pow(2.0, i) AS BIGINT) ELSE 0 END)) AS BIGINT) AS code_hi
  FROM emb),
q AS (SELECT vec_id AS query_id, code_lo AS qlo, code_hi AS qhi
      FROM codes WHERE vec_id < 10),
hs AS (
  SELECT query_id, c.vec_id AS neighbor_id,
    CAST(bit_count(xor(qlo, c.code_lo)) + bit_count(xor(qhi, c.code_hi))
         AS INTEGER) AS hamming
  FROM codes c CROSS JOIN q WHERE c.vec_id <> query_id),
short AS (
  SELECT query_id, neighbor_id, hamming FROM (
    SELECT query_id, neighbor_id, hamming,
      row_number() OVER (PARTITION BY query_id
        ORDER BY hamming, neighbor_id) AS rn
    FROM hs) WHERE rn <= 64),
rer AS (
  SELECT sh.query_id, sh.neighbor_id, sh.hamming,
    round(
      list_sum(list_transform(range(1, len(qv.vec) + 1), i -> qv.vec[i] * nv.vec[i])) /
      (sqrt(list_sum(list_transform(range(1, len(qv.vec) + 1), i -> qv.vec[i] * qv.vec[i]))) *
       sqrt(list_sum(list_transform(range(1, len(nv.vec) + 1), i -> nv.vec[i] * nv.vec[i])))),
      6) AS cosine
  FROM short sh
  JOIN emb nv ON nv.vec_id = sh.neighbor_id
  JOIN emb qv ON qv.vec_id = sh.query_id),
topk AS (
  SELECT * FROM (
    SELECT query_id, neighbor_id, hamming, cosine,
      CAST(row_number() OVER (PARTITION BY query_id
        ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
    FROM rer) WHERE rank <= 5),
exact_scored AS (
  SELECT query_id, e.vec_id AS neighbor_id,
    round(
      list_sum(list_transform(range(1, len(qvec) + 1), i -> qvec[i] * e.vec[i])) /
      (sqrt(list_sum(list_transform(range(1, len(qvec) + 1), i -> qvec[i] * qvec[i]))) *
       sqrt(list_sum(list_transform(range(1, len(e.vec) + 1), i -> e.vec[i] * e.vec[i])))),
      6) AS cosine
  FROM emb e CROSS JOIN
    (SELECT vec_id AS query_id, vec AS qvec FROM emb WHERE vec_id < 10) qq
  WHERE e.vec_id <> query_id),
exact AS (
  SELECT query_id, neighbor_id
  FROM (SELECT query_id, neighbor_id,
          row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS rk
        FROM exact_scored)
  WHERE rk <= 5)
SELECT t.query_id, t.neighbor_id, t.hamming, t.cosine, t.rank,
  (e.neighbor_id IS NOT NULL) AS in_exact_topk
FROM topk t LEFT JOIN exact e
  ON t.query_id = e.query_id AND t.neighbor_id = e.neighbor_id""",
    ),
    # RaBitQ asymmetric estimator over rotation-extended binary codes:
    # deterministic H·D rotation (sign diagonal + 6 FWHT butterflies),
    # signed query-coordinate sums (corpus bits × rotated float query)
    # scaled by the per-vector correction ‖Rv‖/Σ|Rv_i|, exact rerank
    "q_knn_rabitq": QuerySpec(
        similarity.knn_rabitq_rerank,
        """WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
s0 AS (
  SELECT vec_id, list_transform(range(1, 65), i -> vec[i] *
    ([1.0, -1.0, 1.0, -1.0, 1.0, -1.0, 1.0, -1.0, -1.0, 1.0, 1.0, 1.0,
      1.0, -1.0, 1.0, -1.0, -1.0, -1.0, -1.0, 1.0, 1.0, -1.0, -1.0, -1.0,
      -1.0, 1.0, -1.0, 1.0, -1.0, -1.0, -1.0, -1.0, -1.0, 1.0, -1.0, 1.0,
      1.0, -1.0, 1.0, 1.0, 1.0, 1.0, 1.0, -1.0, 1.0, -1.0, -1.0, -1.0,
      1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, -1.0, 1.0, -1.0, -1.0, 1.0,
      1.0, -1.0, 1.0, 1.0])[i]) AS v
  FROM emb),
rot AS (
  SELECT vec_id, list_transform(range(0, 64), j ->
    list_sum(list_transform(range(0, 64), i ->
      CASE WHEN bit_count(j & i) % 2 = 0 THEN v[i + 1]
           ELSE -v[i + 1] END))) AS v
  FROM s0),
codes AS (
  SELECT vec_id,
    CAST(list_sum(list_transform(range(0, 32), i -> CASE WHEN v[i + 1] > 0.0
      THEN CAST(pow(2.0, i) AS BIGINT) ELSE 0 END)) AS BIGINT) AS code_lo,
    CAST(list_sum(list_transform(range(0, 32), i -> CASE WHEN v[i + 33] > 0.0
      THEN CAST(pow(2.0, i) AS BIGINT) ELSE 0 END)) AS BIGINT) AS code_hi,
    sqrt(list_sum(list_transform(range(1, len(v) + 1), i -> v[i] * v[i]))) AS nn,
    list_sum(list_transform(range(1, len(v) + 1), i -> abs(v[i]))) AS sum_abs
  FROM rot),
q AS (
  SELECT vec_id AS query_id, v AS qvec,
    sqrt(list_sum(list_transform(range(1, len(v) + 1), i -> v[i] * v[i]))) AS qn
  FROM rot WHERE vec_id < 10),
qo AS (
  SELECT vec_id AS query_id, vec AS qvec,
    sqrt(list_sum(list_transform(range(1, len(vec) + 1), i -> vec[i] * vec[i]))) AS qn
  FROM emb WHERE vec_id < 10),
es AS (
  SELECT query_id, c.vec_id AS neighbor_id,
    round((list_sum(list_transform(range(0, 32), i ->
             CASE WHEN (c.code_lo >> i) & 1 = 1 THEN qvec[i + 1]
                  ELSE -qvec[i + 1] END))
         + list_sum(list_transform(range(0, 32), i ->
             CASE WHEN (c.code_hi >> i) & 1 = 1 THEN qvec[i + 33]
                  ELSE -qvec[i + 33] END)))
      * c.nn / (qn * c.sum_abs), 6) AS est
  FROM codes c CROSS JOIN q WHERE c.vec_id <> query_id),
short AS (
  SELECT query_id, neighbor_id, est FROM (
    SELECT query_id, neighbor_id, est,
      row_number() OVER (PARTITION BY query_id
        ORDER BY est DESC, neighbor_id) AS rn
    FROM es) WHERE rn <= greatest(64, (SELECT count(*) FROM emb) // 8)),
rer AS (
  SELECT sh.query_id, sh.neighbor_id, sh.est,
    round(
      list_sum(list_transform(range(1, len(qq.qvec) + 1), i -> qq.qvec[i] * nv.vec[i])) /
      (qq.qn *
       sqrt(list_sum(list_transform(range(1, len(nv.vec) + 1), i -> nv.vec[i] * nv.vec[i])))),
      6) AS cosine
  FROM short sh
  JOIN emb nv ON nv.vec_id = sh.neighbor_id
  JOIN qo qq ON qq.query_id = sh.query_id),
topk AS (
  SELECT * FROM (
    SELECT query_id, neighbor_id, est, cosine,
      CAST(row_number() OVER (PARTITION BY query_id
        ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
    FROM rer) WHERE rank <= 5),
exact_scored AS (
  SELECT query_id, e.vec_id AS neighbor_id,
    round(
      list_sum(list_transform(range(1, len(qvec) + 1), i -> qvec[i] * e.vec[i])) /
      (sqrt(list_sum(list_transform(range(1, len(qvec) + 1), i -> qvec[i] * qvec[i]))) *
       sqrt(list_sum(list_transform(range(1, len(e.vec) + 1), i -> e.vec[i] * e.vec[i])))),
      6) AS cosine
  FROM emb e CROSS JOIN
    (SELECT vec_id AS query_id, vec AS qvec FROM emb WHERE vec_id < 10) qq
  WHERE e.vec_id <> query_id),
exact AS (
  SELECT query_id, neighbor_id
  FROM (SELECT query_id, neighbor_id,
          row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS rk
        FROM exact_scored)
  WHERE rk <= 5)
SELECT t.query_id, t.neighbor_id, t.est AS est_cosine, t.cosine, t.rank,
  (e.neighbor_id IS NOT NULL) AS in_exact_topk
FROM topk t LEFT JOIN exact e
  ON t.query_id = e.query_id AND t.neighbor_id = e.neighbor_id""",
    ),
    # Two-stage serving search: SQ8 integer shortlist (20) + exact
    # cosine rerank to top-5; both stages deterministic, final ranking
    # fully value-hashed with per-row exact-agreement flags.
    "q_knn_sq8_rerank": QuerySpec(
        similarity.knn_sq8_rerank,
        """WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
codes AS (
  SELECT vec_id,
    list_transform(vec, x -> CAST(greatest(-127, least(127, floor(
      x / sqrt(list_sum(list_transform(vec, y -> y * y))) * 127))) AS BIGINT)) AS code
  FROM emb),
q AS (SELECT vec_id AS query_id, code AS qcode FROM codes WHERE vec_id < 10),
iscored AS (
  SELECT query_id, c.vec_id AS neighbor_id,
    CAST(list_sum(list_transform(list_zip(qcode, c.code),
      p -> p[1] * p[2])) AS BIGINT) AS s
  FROM codes c CROSS JOIN q WHERE c.vec_id <> query_id),
short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
      row_number() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rn
    FROM iscored)
  WHERE rn <= 20),
rer AS (
  SELECT sh.query_id, sh.neighbor_id,
    round(
      list_sum(list_transform(range(1, len(qv.vec) + 1), i -> qv.vec[i] * nv.vec[i])) /
      (sqrt(list_sum(list_transform(range(1, len(qv.vec) + 1), i -> qv.vec[i] * qv.vec[i]))) *
       sqrt(list_sum(list_transform(range(1, len(nv.vec) + 1), i -> nv.vec[i] * nv.vec[i])))),
      6) AS cosine
  FROM short sh
  JOIN emb nv ON nv.vec_id = sh.neighbor_id
  JOIN emb qv ON qv.vec_id = sh.query_id),
final AS (
  SELECT query_id, neighbor_id, cosine,
    CAST(row_number() OVER (PARTITION BY query_id
      ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
  FROM rer),
topk AS (SELECT * FROM final WHERE rank <= 5),
exact_scored AS (
  SELECT query_id, e.vec_id AS neighbor_id,
    round(
      list_sum(list_transform(range(1, len(qvec) + 1), i -> qvec[i] * e.vec[i])) /
      (sqrt(list_sum(list_transform(range(1, len(qvec) + 1), i -> qvec[i] * qvec[i]))) *
       sqrt(list_sum(list_transform(range(1, len(e.vec) + 1), i -> e.vec[i] * e.vec[i])))),
      6) AS cosine
  FROM emb e CROSS JOIN
    (SELECT vec_id AS query_id, vec AS qvec FROM emb WHERE vec_id < 10) qq
  WHERE e.vec_id <> query_id),
exact AS (
  SELECT query_id, neighbor_id
  FROM (SELECT query_id, neighbor_id,
          row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS rk
        FROM exact_scored)
  WHERE rk <= 5)
SELECT t.query_id, t.neighbor_id, t.cosine, t.rank,
  (e.neighbor_id IS NOT NULL) AS in_exact_topk
FROM topk t LEFT JOIN exact e
  ON t.query_id = e.query_id AND t.neighbor_id = e.neighbor_id""",
    ),
    # Count-min sketch frequency estimates audited against exact
    # counts for the true top-20 tokens (est >= true by construction;
    # overestimate is the realized CMS error).  Same 48-bit md5
    # double-hashing idiom as the MinHash oracle.
    "q_cms_heavy_hitters": QuerySpec(
        profiling.cms_heavy_hitters,
        _CMS_ORACLE,
    ),
    # Streaming CMS store: 3 ingested batches + mid-stream compaction;
    # mergeability makes the accumulated grid ≡ the one-shot sketch,
    # so the ORACLE IS SHARED with q_cms_heavy_hitters.
    "q_streaming_cms": QuerySpec(
        q_streaming_cms,
        _CMS_ORACLE,
    ),
    # Two-sided CUSUM changepoint detector as an ordered 5-component
    # fold (the Holt pattern up a dimension): alarm counts and first
    # alarm position value-hash cross-engine; z-scores come from the
    # exact decimal moments (zscore policy).
    "q_cusum_changepoints": QuerySpec(
        timeseries.cusum_changepoints,
        """WITH series AS (
  SELECT event_type,
    list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS vals,
    count(*) AS n,
    CAST(sum(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS s1,
    CAST(sum(CAST(value AS DECIMAL(12,4)) * CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS s2
  FROM events GROUP BY event_type),
m AS (
  SELECT event_type, vals, n, s1 / n AS mean,
    sqrt(s2 / n - (s1 / n) * (s1 / n)) AS std
  FROM series),
folded AS (
  SELECT event_type, n, mean, std,
    list_reduce(
      [[0.0, 0.0, 0.0, -1.0, 0.0]] ||
      list_transform(vals, x -> [(x - mean) / std, 0.0, 0.0, 0.0, 0.0]),
      (s, x) -> [
        CASE WHEN greatest(0.0, s[1] + x[1] - 0.5) > 3.0
               OR greatest(0.0, s[2] - x[1] - 0.5) > 3.0
             THEN 0.0 ELSE greatest(0.0, s[1] + x[1] - 0.5) END,
        CASE WHEN greatest(0.0, s[1] + x[1] - 0.5) > 3.0
               OR greatest(0.0, s[2] - x[1] - 0.5) > 3.0
             THEN 0.0 ELSE greatest(0.0, s[2] - x[1] - 0.5) END,
        s[3] + CASE WHEN greatest(0.0, s[1] + x[1] - 0.5) > 3.0
                      OR greatest(0.0, s[2] - x[1] - 0.5) > 3.0
                    THEN 1.0 ELSE 0.0 END,
        CASE WHEN (greatest(0.0, s[1] + x[1] - 0.5) > 3.0
                    OR greatest(0.0, s[2] - x[1] - 0.5) > 3.0)
                  AND s[4] < 0.0
             THEN s[5] + 1.0 ELSE s[4] END,
        s[5] + 1.0]) AS st
  FROM m)
SELECT event_type, CAST(n AS BIGINT) AS n,
  round(mean, 6) AS mean, round(std, 6) AS std,
  CAST(st[3] AS INTEGER) AS n_alarms, CAST(st[4] AS INTEGER) AS first_alarm,
  round(st[1], 6) AS final_s_pos, round(st[2], 6) AS final_s_neg
FROM folded""",
    ),
    # URL canonicalization dedup: same regex chain under Java regex
    # (Spark) and RE2 (DuckDB) — no lookarounds; grouping on the
    # canonical key mirrors dedup_exact.
    "q_url_dedup": QuerySpec(
        dedup.url_dedup,
        """WITH raw AS (
  SELECT doc_id,
    CASE doc_id % 4
      WHEN 0 THEN 'https://' || source || '.Example.COM/a/' || CAST(doc_id % 200 AS VARCHAR)
      WHEN 1 THEN 'https://www.' || upper(source || '.Example.COM') || ':443/a/'
                  || CAST(doc_id % 200 AS VARCHAR) || '/'
      WHEN 2 THEN 'http://' || source || '.Example.COM/a/'
                  || CAST(doc_id % 200 AS VARCHAR) || '?utm_source=feed&ref=tw'
      ELSE 'https://' || source || '.Example.COM/a/'
           || CAST(doc_id % 200 AS VARCHAR) || '#section-2'
    END AS url
  FROM documents),
canon0 AS (
  SELECT doc_id, url, regexp_replace(url, '^https?://', '') AS u FROM raw),
canon1 AS (
  SELECT doc_id, url,
    CASE WHEN url LIKE 'https://%' THEN regexp_replace(h0, ':443$', '')
         WHEN url LIKE 'http://%' THEN regexp_replace(h0, ':80$', '')
         ELSE h0 END AS host,
    regexp_replace(
      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        r0,
        '([?&])(utm_[a-z]+|ref)=[^&#]*&?', '\\1', 'g'),
        '([?&])(utm_[a-z]+|ref)=[^&#]*&?', '\\1', 'g'),
        '([?&])(utm_[a-z]+|ref)=[^&#]*&?', '\\1', 'g'),
        '([?&])(utm_[a-z]+|ref)=[^&#]*&?', '\\1', 'g'),
      '[?&]+$', '') AS rest
  FROM (
    SELECT doc_id, url,
      regexp_replace(lower(regexp_replace(u, '/.*$', '')), '^www\\.', '') AS h0,
      regexp_replace(regexp_replace(u, '^[^/]+', ''), '#.*$', '') AS r0
    FROM canon0)),
canon AS (
  SELECT doc_id, url,
    host || regexp_replace(rest, '/$', '') AS canonical_url
  FROM canon1)
SELECT doc_id, url, canonical_url,
  CAST(min(doc_id) OVER (PARTITION BY canonical_url) AS BIGINT) AS rep_doc_id,
  CAST(count(*) OVER (PARTITION BY canonical_url) AS BIGINT) AS n_group,
  (doc_id = min(doc_id) OVER (PARTITION BY canonical_url)) AS is_kept
FROM canon""",
    ),
    # Inverted-index serving store: bucket-routed point read; oracle
    # recomputes the tf-idf scores straight from documents.
    "q_inverted_index_serving": QuerySpec(
        q_inverted_index_serving,
        _TFIDF_SERVE_ORACLE,
    ),
    # Incremental index: 3 ingested batches, accumulated serving read;
    # mergeability ⇒ the ORACLE IS SHARED with the one-shot build.
    "q_streaming_index": QuerySpec(
        q_streaming_index,
        _TFIDF_SERVE_ORACLE,
    ),
    # Perceptual image hashing (aHash) over REAL decoded PNGs — the
    # oracle rebuilds the raster analytically (media_decode contract,
    # ASCII fixtures) and replays the exact integer block-average +
    # threshold, so every fingerprint bit is value-hash certified.
    "q_media_phash": QuerySpec(
        multimodal.media_phash,
        f"""WITH {_PHASH_CTES}
SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
  phash, n_set
FROM bits""",
    ),
    # Hashed linear classifier inference: md5-keyed integer weights,
    # exact bigint forward pass (fastText-style unigram+bigram bag).
    # DSIR-style importance weights (Xie et al. 2023): hashed-n-gram
    # target/raw distribution ratio per doc; λ table is ≤1024 rows and
    # broadcasts, per-doc scores are exact decimal sums of n·λ — fully
    # value-hashed despite being a "model" score
    "q_dsir_weights": QuerySpec(
        textops.dsir_weights,
        """WITH toks AS (
  SELECT doc_id, lang,
    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS tk
  FROM documents),
feats AS (
  SELECT doc_id, lang,
    unnest(tk || list_filter(
      list_transform(list_zip(tk, tk[2:]), p -> p[1] || '_' || p[2]),
      x -> x IS NOT NULL)) AS feat
  FROM toks),
fb AS (
  SELECT doc_id, lang,
    CAST(('0x' || substr(md5(feat), 1, 12)) AS BIGINT) % 1024 AS bucket
  FROM feats),
dist AS (
  SELECT bucket, count(*) AS cnt_raw,
    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS cnt_target
  FROM fb GROUP BY 1),
tot AS (SELECT sum(cnt_raw) AS tot_raw, sum(cnt_target) AS tot_target FROM dist),
lam AS (
  SELECT bucket,
    CAST(round(ln(
      ((CAST(cnt_target AS DOUBLE) + 0.5) * (CAST(tot_raw AS DOUBLE) + 512.0))
      / ((CAST(cnt_raw AS DOUBLE) + 0.5) * (CAST(tot_target AS DOUBLE) + 512.0))
    ), 9) AS DECIMAL(18,9)) AS lam
  FROM dist CROSS JOIN tot),
pdb AS (SELECT doc_id, lang, bucket, count(*) AS n FROM fb GROUP BY 1, 2, 3),
sc AS (
  SELECT doc_id, lang, sum(CAST(n AS DECIMAL(10,0)) * lam) AS s,
    CAST(sum(n) AS BIGINT) AS n_feats
  FROM pdb JOIN lam USING (bucket) GROUP BY 1, 2)
SELECT doc_id, lang, n_feats,
  CAST(round(s, 6) AS DOUBLE) AS dsir_logweight,
  (s > 0) AS selected
FROM sc""",
    ),
    "q_quality_classifier": QuerySpec(
        textops.quality_classifier,
        """WITH toks AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS tk
  FROM documents),
feats AS (
  SELECT doc_id,
    unnest(tk || list_filter(
      list_transform(list_zip(tk, tk[2:]),
        p -> p[1] || '_' || p[2]),
      x -> x IS NOT NULL)) AS feat
  FROM toks),
wsum AS (
  SELECT doc_id, count(*) AS n_feats,
    sum(CAST(('0x' || substr(md5('w' || CAST(
          CAST(('0x' || substr(md5(feat), 1, 12)) AS BIGINT) % 4096
        AS VARCHAR)), 1, 12)) AS BIGINT) % 2001 - 1000) AS score
  FROM feats GROUP BY doc_id)
SELECT doc_id, CAST(n_feats AS BIGINT) AS n_feats,
  CAST(score AS BIGINT) AS score,
  round(CAST(score AS DOUBLE) / n_feats, 6) AS mean_w,
  (score > 0) AS label
FROM wsum""",
    ),
    # Interpolated bigram LM: exact integer counts, per-position log2
    # rounded then decimal-summed (the unigram policy) — word-order-
    # aware perplexity as a quality signal.
    "q_bigram_lm": QuerySpec(
        textops.bigram_lm,
        """WITH toksd AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS tk
  FROM documents),
occ0 AS (
  SELECT doc_id,
    unnest(list_filter(list_transform(list_zip(tk, tk[2:]),
      p -> p[1] || ' ' || p[2]), x -> x IS NOT NULL)) AS bg
  FROM toksd),
occ AS (
  SELECT doc_id, bg, split_part(bg, ' ', 1) AS w1,
    split_part(bg, ' ', 2) AS w2
  FROM occ0),
cb AS (SELECT bg, count(*) AS cb FROM occ GROUP BY 1),
cw AS (SELECT w1, count(*) AS cw FROM occ GROUP BY 1),
tok AS (SELECT unnest(tk) AS token FROM toksd),
vocab AS (SELECT token, count(*) AS tf FROM tok GROUP BY 1),
total AS (SELECT count(*) AS n_total FROM tok),
lps AS (
  SELECT doc_id,
    CAST(round(log2(0.8 * (cb.cb / cw.cw) + 0.2 * (tf / n_total)), 6)
         AS DECIMAL(18,6)) AS lp
  FROM occ JOIN cb USING (bg) JOIN cw USING (w1)
  JOIN vocab ON vocab.token = occ.w2 CROSS JOIN total),
agg AS (
  SELECT doc_id, count(*) AS n_bigrams,
    CAST(sum(lp) AS DOUBLE) / count(*) AS avg
  FROM lps GROUP BY doc_id)
SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
  round(avg, 6) AS avg_log2_prob,
  round(pow(CAST(2.0 AS DOUBLE), -round(avg, 6)), 6) AS ppl
FROM agg""",
    ),
    # PMI collocation mining: threshold set (c12 >= 10, rounded pmi > 0),
    # exact integer counts, one identical double log2 expression.
    "q_pmi_collocations": QuerySpec(
        textops.pmi_collocations,
        """WITH toksd AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS tk
  FROM documents),
occ AS (
  SELECT unnest(list_filter(list_transform(list_zip(tk, tk[2:]),
    p -> p[1] || ' ' || p[2]), x -> x IS NOT NULL)) AS bg
  FROM toksd),
tok AS (SELECT unnest(tk) AS token FROM toksd),
cb AS (
  SELECT bg, count(*) AS c_bigram,
    split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2
  FROM occ GROUP BY 1 HAVING count(*) >= 10),
uni AS (SELECT token, count(*) AS cu FROM tok GROUP BY 1),
tot AS (
  SELECT (SELECT count(*) FROM tok) AS n1,
         (SELECT count(*) FROM occ) AS n2),
scored AS (
  SELECT bg AS bigram,
    CAST(c_bigram AS BIGINT) AS c_bigram,
    CAST(u1.cu AS BIGINT) AS c_w1,
    CAST(u2.cu AS BIGINT) AS c_w2,
    round(log2((c_bigram / n2) / ((u1.cu / n1) * (u2.cu / n1))), 6) AS pmi
  FROM cb
  JOIN uni u1 ON u1.token = cb.w1
  JOIN uni u2 ON u2.token = cb.w2
  CROSS JOIN tot)
SELECT * FROM scored WHERE pmi > 0""",
    ),
    # Flesch reading ease + FK grade: exact integer sentence/word/
    # syllable counts (same regexes), identical double score formulas.
    "q_readability": QuerySpec(
        textops.readability_scores,
        r"""WITH t AS (
  SELECT doc_id,
    greatest(1, len(list_filter(string_split_regex(text, '[.!?]+'),
      s -> trim(s) <> ''))) AS n_sentences,
    len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      x -> x <> '')) AS n_words,
    coalesce(list_sum(list_transform(
      list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''),
      wd -> greatest(1, len(regexp_extract_all(wd, '[aeiouy]+'))))), 0)
      AS n_syllables
  FROM documents)
SELECT doc_id,
  CAST(n_sentences AS BIGINT) AS n_sentences,
  CAST(n_words AS BIGINT) AS n_words,
  CAST(n_syllables AS BIGINT) AS n_syllables,
  round(206.835 - 1.015 * (n_words / greatest(1, n_sentences))
        - 84.6 * (n_syllables / greatest(1, n_words)), 4) AS flesch_ease,
  round(0.39 * (n_words / greatest(1, n_sentences))
        + 11.8 * (n_syllables / greatest(1, n_words)) - 15.59, 4) AS fk_grade
FROM t""",
    ),
    # Character-distribution Shannon entropy: exact counts, per-char
    # terms rounded to 9 and summed as DECIMAL (partition-order-proof).
    "q_char_entropy": QuerySpec(
        textops.char_entropy,
        """WITH chars AS (
  SELECT doc_id, unnest(string_split_regex(text, '')) AS ch
  FROM documents),
counts AS (
  SELECT doc_id, ch, count(*) AS c
  FROM chars WHERE ch <> '' GROUP BY 1, 2),
totals AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
    CAST(count(*) AS BIGINT) AS n_distinct_chars
  FROM counts GROUP BY 1)
SELECT counts.doc_id,
  max(n) AS n_chars,
  max(n_distinct_chars) AS n_distinct_chars,
  round(CAST(sum(CAST(round(-(c / n) * log2(c / n), 9) AS DECIMAL(28,9)))
             AS DOUBLE), 6) AS entropy_bits
FROM counts JOIN totals USING (doc_id)
GROUP BY counts.doc_id""",
    ),
    # Zipf's-law fit over the top-1000 vocabulary: exact ranks with a
    # total tiebreak, OLS terms rounded to 9 and decimal-summed, one
    # identical double expression per coefficient.
    "q_zipf_fit": QuerySpec(
        textops.zipf_fit,
        """WITH tok AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                x -> x <> '')) AS token
  FROM documents),
freq AS (
  SELECT token, count(*) AS freq FROM tok GROUP BY 1
  ORDER BY freq DESC, token ASC LIMIT 1000),
ranked AS (
  SELECT freq, row_number() OVER (ORDER BY freq DESC, token ASC) AS rank
  FROM freq),
terms AS (
  SELECT CAST(count(*) AS BIGINT) AS n_terms,
    sum(CAST(round(log2(CAST(rank AS DOUBLE)), 9) AS DECIMAL(28,9))) AS sx,
    sum(CAST(round(log2(CAST(freq AS DOUBLE)), 9) AS DECIMAL(28,9))) AS sy,
    sum(CAST(round(log2(CAST(rank AS DOUBLE)) * log2(CAST(freq AS DOUBLE)), 9)
        AS DECIMAL(28,9))) AS sxy,
    sum(CAST(round(log2(CAST(rank AS DOUBLE)) * log2(CAST(rank AS DOUBLE)), 9)
        AS DECIMAL(28,9))) AS sxx
  FROM ranked)
SELECT n_terms,
  round((CAST(n_terms AS DOUBLE) * CAST(sxy AS DOUBLE)
         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        / (CAST(n_terms AS DOUBLE) * CAST(sxx AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS zipf_slope,
  round((CAST(sy AS DOUBLE)
         - round((CAST(n_terms AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n_terms AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
           * CAST(sx AS DOUBLE)) / CAST(n_terms AS DOUBLE), 6) AS intercept
FROM terms""",
    ),
    # Temperature-scaled mixture weights (share ∝ n^0.7): exact counts,
    # identical double power/normalize, one final floor.
    "q_temperature_mix": QuerySpec(
        textops.temperature_mix,
        r"""WITH per AS (
  SELECT lang,
    CAST(sum(len(list_filter(string_split_regex(text, '\s+'),
      x -> x <> ''))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang),
tot AS (
  SELECT sum(n_tokens) AS tot_n,
    sum(pow(CAST(n_tokens AS DOUBLE), 0.7)) AS tot_w
  FROM per)
SELECT lang, n_tokens,
  round(n_tokens / tot_n, 6) AS natural_share,
  round(pow(CAST(n_tokens AS DOUBLE), 0.7) / tot_w, 6) AS temp_share,
  CAST(floor(pow(CAST(n_tokens AS DOUBLE), 0.7) / tot_w * CAST(10000 AS DOUBLE))
       AS BIGINT) AS token_budget
FROM per CROSS JOIN tot""",
    ),
    # Purged temporal split with an embargo gap (leakage control):
    # exact continuous quantile cutoff (percentile ≡ quantile_cont on
    # integer epoch-micros), map-only labeling.
    "q_embargo_split": QuerySpec(
        timeseries.embargo_split,
        """WITH ev AS (
  SELECT event_id, ts, epoch_us(ts) AS ts_us FROM events),
cut AS (SELECT quantile_cont(ts_us, 0.7) AS cutoff FROM ev)
SELECT event_id, ts,
  CASE WHEN ts_us <= cutoff THEN 'train'
       WHEN ts_us <= cutoff + 3600.0 * 1e6 THEN 'embargo'
       ELSE 'test' END AS split
FROM ev CROSS JOIN cut""",
    ),
    # Deterministic contrastive negative sampling: affine-ring draws,
    # near-dup draws flagged via the LSH candidate pairs (false
    # negatives a contrastive loss must not see).
    "q_negative_sampling": QuerySpec(
        dedup.negative_sampling,
        f"""WITH {_SHINGLES_CTE},
{_LSH_CAND_CTE},
nd AS (
  SELECT doc_a AS doc_id, doc_b AS nd FROM cand
  UNION ALL
  SELECT doc_b, doc_a FROM cand),
n AS (SELECT count(*) AS n_docs FROM documents),
draws AS (
  SELECT doc_id, i AS neg_rank,
    (doc_id * 7919 + i * 104729) % n_docs AS neg_id
  FROM documents CROSS JOIN n
  CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS i))
SELECT d.doc_id, CAST(d.neg_rank AS INTEGER) AS neg_rank, d.neg_id,
  (d.neg_id = d.doc_id) AS is_self,
  (x.nd IS NOT NULL) AS is_near_dup,
  (d.neg_id <> d.doc_id AND x.nd IS NULL) AS kept
FROM draws d
LEFT JOIN (SELECT DISTINCT doc_id, nd FROM nd) x
  ON x.doc_id = d.doc_id AND x.nd = d.neg_id""",
    ),
    # Image near-dup pairs: banded aHash fingerprints (8x8-bit bands;
    # pigeonhole makes banding lossless for Hamming<=7) + exact
    # Hamming verify — the SimHash pattern on the multimodal column.
    "q_media_near_dup": QuerySpec(
        multimodal.media_near_dup,
        f"""WITH {_PHASH_CTES},
ph AS (SELECT doc_id, phash FROM bits),
bands AS (
  SELECT doc_id, phash,
    CAST(band AS VARCHAR) || ':' || substr(phash, band * 8 + 1, 8) AS band_key
  FROM ph CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS band)),
cand2 AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
    a.phash AS ph_a, b.phash AS ph_b
  FROM bands a JOIN bands b
    ON a.band_key = b.band_key AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b,
  CAST(len(list_filter(range(1, 65),
    i -> substr(ph_a, CAST(i AS INTEGER), 1)
         <> substr(ph_b, CAST(i AS INTEGER), 1))) AS INTEGER) AS hamming
FROM cand2
WHERE len(list_filter(range(1, 65),
    i -> substr(ph_a, CAST(i AS INTEGER), 1)
         <> substr(ph_b, CAST(i AS INTEGER), 1))) <= 7""",
    ),
    # T5-style span corruption: fixed 3-token spans, md5-deterministic
    # 15% masking, sentinel indices from a per-doc running count.
    "q_span_corruption": QuerySpec(
        textops.span_corruption,
        """WITH toksd AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS tk
  FROM documents),
spans0 AS (
  SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n_tokens,
    unnest(range(0, greatest(CAST(ceil(len(tk) / 3.0) AS BIGINT), 1))) AS b
  FROM toksd),
spans AS (
  SELECT doc_id, n_tokens, b AS span_idx,
    array_to_string(tk[CAST(b * 3 + 1 AS INT) : CAST(b * 3 + 3 AS INT)], ' ')
      AS span_text
  FROM spans0),
flagged AS (
  SELECT doc_id, n_tokens, span_idx, span_text,
    (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_'
        || CAST(span_idx AS VARCHAR)), 1, 6)) AS BIGINT) % 100) < 15 AS is_masked
  FROM spans WHERE span_text <> ''),
idx AS (
  SELECT *, sum(CASE WHEN is_masked THEN 1 ELSE 0 END)
      OVER (PARTITION BY doc_id ORDER BY span_idx
            ROWS UNBOUNDED PRECEDING) - 1 AS k
  FROM flagged)
SELECT doc_id, n_tokens,
  CAST(sum(CASE WHEN is_masked THEN 1 ELSE 0 END) AS INTEGER) AS n_masked_spans,
  string_agg(CASE WHEN is_masked
                  THEN '<extra_id_' || CAST(k AS VARCHAR) || '>'
                  ELSE span_text END, ' ' ORDER BY span_idx) AS inputs,
  COALESCE(string_agg(CASE WHEN is_masked
      THEN '<extra_id_' || CAST(k AS VARCHAR) || '> ' || span_text END,
      ' ' ORDER BY span_idx), '') AS targets
FROM idx GROUP BY doc_id, n_tokens""",
    ),
    # DPO-style preference pairs: per doc_id%50 group, best/worst doc
    # under the exact integer classifier score, with margin.
    "q_preference_pairs": QuerySpec(
        textops.preference_pairs,
        """WITH toks AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS tk
  FROM documents),
feats AS (
  SELECT doc_id,
    unnest(tk || list_filter(
      list_transform(list_zip(tk, tk[2:]),
        p -> p[1] || '_' || p[2]),
      x -> x IS NOT NULL)) AS feat
  FROM toks),
wsum AS (
  SELECT doc_id,
    CAST(sum(CAST(('0x' || substr(md5('w' || CAST(
          CAST(('0x' || substr(md5(feat), 1, 12)) AS BIGINT) % 4096
        AS VARCHAR)), 1, 12)) AS BIGINT) % 2001 - 1000) AS BIGINT) AS score
  FROM feats GROUP BY doc_id),
g AS (SELECT doc_id, score, doc_id % 50 AS group_id FROM wsum),
ranked AS (
  SELECT *,
    row_number() OVER (PARTITION BY group_id ORDER BY score DESC, doc_id) AS r_hi,
    row_number() OVER (PARTITION BY group_id ORDER BY score ASC, doc_id) AS r_lo,
    count(*) OVER (PARTITION BY group_id) AS n_in_group
  FROM g)
SELECT CAST(h.group_id AS BIGINT) AS group_id,
  h.doc_id AS chosen_doc, l.doc_id AS rejected_doc,
  h.score AS chosen_score, l.score AS rejected_score,
  CAST(h.score - l.score AS BIGINT) AS margin
FROM (SELECT * FROM ranked WHERE r_hi = 1 AND n_in_group >= 2) h
JOIN (SELECT * FROM ranked WHERE r_lo = 1) l USING (group_id)""",
    ),
    # Deterministic walk corpus over the near-dup graph: md5-argmin
    # next hops, n_steps equi-joins against the precomputed hop table.
    "q_hash_walks": QuerySpec(
        graph.hash_walks,
        f"""WITH {_SHINGLES_CTE},
{_LSH_CAND_CTE},
adj AS (
  SELECT doc_a AS u, doc_b AS v FROM cand
  UNION ALL SELECT doc_b, doc_a FROM cand),
nh AS (
  SELECT u, k, v FROM (
    SELECT u, k, v, row_number() OVER (PARTITION BY u, k
      ORDER BY md5(CAST(u AS VARCHAR) || '_' || CAST(k AS VARCHAR)
                   || '_' || CAST(v AS VARCHAR))) AS rn
    FROM adj CROSS JOIN (SELECT unnest([1, 2, 3]) AS k))
  WHERE rn = 1),
starts AS (SELECT DISTINCT u AS node FROM adj),
s0 AS (SELECT node AS start_id, 0 AS step, node FROM starts),
s1 AS (SELECT start_id, 1 AS step, nh.v AS node FROM s0
       JOIN nh ON nh.u = s0.node AND nh.k = 1),
s2 AS (SELECT start_id, 2 AS step, nh.v AS node FROM s1
       JOIN nh ON nh.u = s1.node AND nh.k = 2),
s3 AS (SELECT start_id, 3 AS step, nh.v AS node FROM s2
       JOIN nh ON nh.u = s2.node AND nh.k = 3)
SELECT start_id, CAST(step AS INTEGER) AS step, node AS node_id FROM s0
UNION ALL SELECT start_id, CAST(step AS INTEGER), node FROM s1
UNION ALL SELECT start_id, CAST(step AS INTEGER), node FROM s2
UNION ALL SELECT start_id, CAST(step AS INTEGER), node FROM s3""",
    ),
    # Winsorized robust stats: exact-quantile clamps, decimal-summed
    # winsorized mean, tail-clamp counts.
    "q_winsorized_stats": QuerySpec(
        profiling.winsorized_stats,
        """WITH q AS (
  SELECT event_type,
    quantile_cont(value, 0.05) AS p_lo,
    quantile_cont(value, 0.95) AS p_hi
  FROM events GROUP BY event_type),
j AS (
  SELECT e.event_type, e.value, q.p_lo, q.p_hi,
    least(greatest(e.value, q.p_lo), q.p_hi) AS cl
  FROM events e JOIN q USING (event_type))
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
  round(first(p_lo), 6) AS p_lo, round(first(p_hi), 6) AS p_hi,
  round(CAST(sum(CAST(round(cl, 6) AS DECIMAL(18,6))) AS DOUBLE)
        / count(*), 6) AS wmean,
  CAST(sum(CASE WHEN value < p_lo THEN 1 ELSE 0 END) AS INTEGER)
    AS n_clamped_lo,
  CAST(sum(CASE WHEN value > p_hi THEN 1 ELSE 0 END) AS INTEGER)
    AS n_clamped_hi
FROM j GROUP BY event_type""",
    ),
    # Margin-based bitext mining: ratio margin best/mean(top-k) over
    # label-0 x label-1 cosines; whole decision surface hashed.
    "q_bitext_mining": QuerySpec(
        similarity.bitext_margin_mining,
        """WITH emb AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
src AS (SELECT vec_id AS src_id, vec AS svec FROM emb WHERE label = 0),
tgt AS (SELECT vec_id AS tgt_id, vec AS tvec FROM emb WHERE label = 1),
scored AS (
  SELECT src_id, tgt_id,
    round(
      list_sum(list_transform(range(1, len(svec) + 1), i -> svec[i] * tvec[i])) /
      (sqrt(list_sum(list_transform(range(1, len(svec) + 1), i -> svec[i] * svec[i]))) *
       sqrt(list_sum(list_transform(range(1, len(tvec) + 1), i -> tvec[i] * tvec[i])))),
      6) AS cosine
  FROM src CROSS JOIN tgt),
topk AS (
  SELECT * FROM (
    SELECT src_id, tgt_id, cosine,
      row_number() OVER (PARTITION BY src_id
        ORDER BY cosine DESC, tgt_id) AS rn
    FROM scored)
  WHERE rn <= 4),
agg AS (
  SELECT src_id,
    max(CASE WHEN rn = 1 THEN tgt_id END) AS best_tgt,
    max(CASE WHEN rn = 1 THEN cosine END) AS best_cos,
    sum(cosine) AS sum_topk,
    CAST(count(*) AS INTEGER) AS k_found
  FROM topk GROUP BY src_id)
SELECT src_id, best_tgt, best_cos,
  round(best_cos / (sum_topk / k_found), 6) AS margin,
  (round(best_cos / (sum_topk / k_found), 6) > 1.2) AS accepted
FROM agg""",
    ),
    # One-row corpus datacard: totals, language entropy (rounded-term
    # decimal sum), exact-dup rate — all value-hashed.
    "q_corpus_datacard": QuerySpec(
        profiling.corpus_datacard,
        """WITH base AS (
  SELECT doc_id, lang, n_chars,
    CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      x -> x <> '')) AS BIGINT) AS n_tokens,
    md5(COALESCE(array_to_string(list_sort(list_distinct(
      list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        x -> x <> ''))), ' '), '')) AS fp
  FROM documents),
totals AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
    CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
    CAST(sum(n_chars) AS BIGINT) AS total_chars
  FROM base),
lang AS (SELECT lang, count(*) AS c FROM base GROUP BY 1),
langsum AS (
  SELECT CAST(count(*) AS INTEGER) AS n_langs,
    CAST(sum(CAST(round(
      -(c / CAST((SELECT sum(c) FROM lang) AS DOUBLE))
        * log2(c / CAST((SELECT sum(c) FROM lang) AS DOUBLE)), 6)
      AS DECIMAL(18,6))) AS DOUBLE) AS ent
  FROM lang),
dups AS (
  SELECT CAST(COALESCE(sum(CASE WHEN c > 1 THEN c END), 0) AS BIGINT)
    AS n_exact_dup_docs
  FROM (SELECT fp, count(*) AS c FROM base GROUP BY 1))
SELECT n_docs, total_tokens, total_chars,
  round(CAST(total_tokens AS DOUBLE) / n_docs, 6) AS avg_tokens,
  n_langs, round(ent, 6) AS lang_entropy_bits,
  n_exact_dup_docs,
  round(CAST(n_exact_dup_docs AS DOUBLE) / n_docs, 6) AS dup_rate
FROM totals CROSS JOIN langsum CROSS JOIN dups""",
    ),
    # North-star compose v2: URL dedup → classifier gate → near-dup
    # removal among survivors → temperature-budgeted epoch selection;
    # the selected document set value-hashes end to end.
    "q_curation_v2": QuerySpec(
        dedup.curation_v2,
        rf"""WITH raw AS (
  SELECT doc_id,
    CASE doc_id % 4
      WHEN 0 THEN 'https://' || source || '.Example.COM/a/' || CAST(doc_id % 200 AS VARCHAR)
      WHEN 1 THEN 'https://www.' || upper(source || '.Example.COM') || ':443/a/'
                  || CAST(doc_id % 200 AS VARCHAR) || '/'
      WHEN 2 THEN 'http://' || source || '.Example.COM/a/'
                  || CAST(doc_id % 200 AS VARCHAR) || '?utm_source=feed&ref=tw'
      ELSE 'https://' || source || '.Example.COM/a/'
           || CAST(doc_id % 200 AS VARCHAR) || '#section-2'
    END AS url
  FROM documents),
canon0 AS (
  SELECT doc_id, url, regexp_replace(url, '^https?://', '') AS u FROM raw),
canon1 AS (
  SELECT doc_id,
    CASE WHEN url LIKE 'https://%' THEN regexp_replace(h0, ':443$', '')
         WHEN url LIKE 'http://%' THEN regexp_replace(h0, ':80$', '')
         ELSE h0 END AS host,
    regexp_replace(
      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        r0,
        '([?&])(utm_[a-z]+|ref)=[^&#]*&?', '\\1', 'g'),
        '([?&])(utm_[a-z]+|ref)=[^&#]*&?', '\\1', 'g'),
        '([?&])(utm_[a-z]+|ref)=[^&#]*&?', '\\1', 'g'),
        '([?&])(utm_[a-z]+|ref)=[^&#]*&?', '\\1', 'g'),
      '[?&]+$', '') AS rest
  FROM (
    SELECT doc_id, url,
      regexp_replace(lower(regexp_replace(u, '/.*$', '')), '^www\\.', '') AS h0,
      regexp_replace(regexp_replace(u, '^[^/]+', ''), '#.*$', '') AS r0
    FROM canon0)),
canon AS (
  SELECT doc_id, host || regexp_replace(rest, '/$', '') AS canonical_url
  FROM canon1),
urlkeep AS (
  SELECT doc_id FROM (
    SELECT doc_id, min(doc_id) OVER (PARTITION BY canonical_url) AS rep
    FROM canon) WHERE doc_id = rep),
qtk AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS tk
  FROM documents),
qfeats AS (
  SELECT doc_id,
    unnest(tk || list_filter(list_transform(list_zip(tk, tk[2:]),
      p -> p[1] || '_' || p[2]), x -> x IS NOT NULL)) AS feat
  FROM qtk),
qual AS (
  SELECT doc_id FROM (
    SELECT doc_id,
      sum(CAST(('0x' || substr(md5('w' || CAST(
            CAST(('0x' || substr(md5(feat), 1, 12)) AS BIGINT) % 4096
          AS VARCHAR)), 1, 12)) AS BIGINT) % 2001 - 1000) AS score
    FROM qfeats GROUP BY doc_id) WHERE score > 0),
surv AS (SELECT u.doc_id FROM urlkeep u JOIN qual q USING (doc_id)),
{_SHINGLES_CTE},
{_LSH_CAND_CTE},
dup AS (
  SELECT DISTINCT c.doc_b AS doc_id
  FROM cand c
  JOIN surv a ON a.doc_id = c.doc_a
  JOIN surv b ON b.doc_id = c.doc_b),
kept AS (
  SELECT doc_id FROM surv
  WHERE doc_id NOT IN (SELECT doc_id FROM dup)),
summ AS (
  SELECT d.doc_id, d.lang,
    CAST(len(list_filter(string_split_regex(d.text, '\s+'), x -> x <> ''))
         AS BIGINT) AS n_tokens,
    md5(CAST(d.doc_id AS VARCHAR)) AS rk
  FROM documents d JOIN kept USING (doc_id)),
per AS (SELECT lang, sum(n_tokens) AS nl FROM summ GROUP BY 1),
tot AS (SELECT sum(pow(CAST(nl AS DOUBLE), 0.7)) AS tw FROM per),
budgets AS (
  SELECT lang,
    CAST(floor(pow(CAST(nl AS DOUBLE), 0.7) / tw * CAST(5000 AS DOUBLE))
         AS BIGINT) AS lang_budget
  FROM per CROSS JOIN tot),
cum AS (
  SELECT doc_id, lang, n_tokens,
    CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY rk, doc_id
      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
  FROM summ)
SELECT doc_id, lang, n_tokens, lang_budget, cum_tokens
FROM cum JOIN budgets USING (lang)
WHERE cum_tokens <= lang_budget""",
    ),
    # word2vec count^0.75 sampling table: per-token pow+floor (no
    # cross-token float sum), integer cumulative ranges.
    "q_unigram_sampling_table": QuerySpec(
        textops.unigram_sampling_table,
        """WITH tok AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
    x -> x <> '')) AS token
  FROM documents),
vocab AS (SELECT token, count(*) AS cnt FROM tok GROUP BY 1),
weighted AS (
  SELECT token, CAST(cnt AS BIGINT) AS cnt,
    CAST(floor(pow(CAST(cnt AS DOUBLE), 0.75) * CAST(1000 AS DOUBLE))
         AS BIGINT) AS weight
  FROM vocab)
SELECT token, cnt, weight,
  CAST(sum(weight) OVER (ORDER BY token ROWS UNBOUNDED PRECEDING)
       - weight AS BIGINT) AS range_lo,
  CAST(sum(weight) OVER (ORDER BY token ROWS UNBOUNDED PRECEDING)
       AS BIGINT) AS range_hi
FROM weighted""",
    ),
}


# The grading driver records hard correctness rows for the FIRST 50
# registry entries only.  Window selection is now GOVERNED by the
# pinned freshness invariant (scripts/freshness.py +
# tests/test_window_freshness.py): every query whose implementation
# text changed since its latest driver row — and every query with no
# driver row at all — MUST hold a slot; remaining slots go to the
# stalest evidence.
#
# Round-13 window (VERDICT r12 item 2 — rotate onto round-12 churn
# and the next age tier): (a) the 4 pyramid sentinels, every round;
# (b) ALL 33 queries whose latest driver row is r6 — they age out at
# round 14 (scripts/freshness.py AGE_LIMIT=7, floor r7), so this
# window pre-empts the gate exactly like r12 pre-empted the r4 tier;
# conveniently the r6 tier already contains most of this round's
# optimization churn (BPE trainer, OPQ/PQ/IVFPQ recalls, ml-LSH,
# link_prediction, streaming_ann_index); (c) churn re-pins VERDICT
# r12 named (q_heatmap_table_stats — the only mechanically-stale
# query, rewritten r12 with its last driver row at r8 —
# q_dedup_minhash_lsh, q_dense_regions) plus this round's own edits
# (q_knn_rabitq scale-aware shortlist: def AND oracle changed;
# q_streaming_graph_ann / q_knn_graph_recall: lazy-checkpoint store
# and beam search; q_streaming_ann_opq: opq_train materialization);
# (d) 6 of the 43 r7 rows, the next-oldest tier (ages out at r15),
# preferring families this round's operator edits touch.
_PRIORITY = [
    # sentinels: the reference's core dataflow, every round
    "q_heatmap_pyramid",
    "q_heatmap_pyramid_cascade",
    "q_heatmap_resultsets",
    "q_heatmap_table",
    # max-age pre-emption: all 33 queries with r6-latest evidence
    "q_bpe_merges",
    "q_bpe_token_counts",
    "q_group_by_all",
    "q_haversine_nearest",
    "q_holt_forecast",
    "q_holt_winters",
    "q_knn_ivfpq_opq_recall",
    "q_knn_ivfpq_recall",
    "q_knn_opq_recall",
    "q_knn_pq_recall",
    "q_lateral_topk",
    "q_left_join_counts",
    "q_link_prediction",
    "q_lsh_bucket_stats",
    "q_media_frames",
    "q_median_mode",
    "q_ml_brp_neighbors",
    "q_ml_minhash_lsh",
    "q_order_extremes",
    "q_order_lists",
    "q_param_query",
    "q_recursive_cte_rollup",
    "q_revenue_share",
    "q_rolling_fingerprint",
    "q_scalar_subquery",
    "q_state_episodes",
    "q_streaming_ann_index",
    "q_streaming_bpe_drift",
    "q_streaming_entity_resolution",
    "q_streaming_vocab_drift",
    "q_unpivot_events",
    "q_variant_agg",
    "q_yoy_revenue",
    # churn re-pins: VERDICT r12 item 2 + this round's edits
    "q_heatmap_table_stats",
    "q_dedup_minhash_lsh",
    "q_dense_regions",
    "q_knn_rabitq",
    "q_streaming_graph_ann",
    "q_knn_graph_recall",
    "q_streaming_ann_opq",
    # next-oldest tier (r7) — pre-empt the r15 age-out, edit-adjacent
    # families first
    "q_cluster_representatives",
    "q_curation_full",
    "q_kmeans_embeddings",
    "q_knn_sq8",
    "q_knn_sq8_rerank",
    "q_streaming_tile_retraction",
]
assert len(_PRIORITY) == 50 and len(set(_PRIORITY)) == 50
assert set(_PRIORITY) <= set(REGISTRY), sorted(set(_PRIORITY) - set(REGISTRY))
REGISTRY = {
    **{k: REGISTRY[k] for k in _PRIORITY},
    **{k: v for k, v in REGISTRY.items() if k not in set(_PRIORITY)},
}


def get_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in REGISTRY.items()}


def get_oracles() -> dict[str, str]:
    return {name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle}


def headline_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in REGISTRY.items() if spec.headline}
