"""Streaming graph-ANN store: replay guard, latest-batch-wins
adjacency, insertion quality, and the serving search."""

from pyspark.sql import functions as F

from heatmap_spark.operators.similarity import knn_cosine_df
from heatmap_spark.sources.tables import load_table
from heatmap_spark.streaming.graph_store import (
    merge_batch_into_graph_store,
    read_graph_edges,
    read_vectors,
    search_graph_store,
)


def _emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )


def _batches(emb, n=3):
    mx = emb.agg(F.max("vec_id")).first()[0] + 1
    return [
        emb.where(F.expr(f"CAST(vec_id * {n} DIV {mx} AS INT)") == b)
        for b in range(n)
    ]


def test_merge_replay_growth_and_degree_bound(spark, sf_smoke, tmp_path):
    """Three merges accumulate every vector; a replayed batch_id is a
    no-op; every node (old and new) carries ≤ degree+long-link
    out-edges with no self-loops."""
    emb = _emb(spark, sf_smoke)
    store = str(tmp_path / "g")
    for b, batch in enumerate(_batches(emb)):
        assert merge_batch_into_graph_store(spark, batch, store, b) is True
    # replay: committed batch_id refuses, store unchanged
    n_edges = read_graph_edges(spark, store).count()
    assert merge_batch_into_graph_store(spark, emb.limit(5), store, 1) is False
    assert read_graph_edges(spark, store).count() == n_edges
    assert read_vectors(spark, store).count() == emb.count()
    g = read_graph_edges(spark, store)
    assert g.where(F.col("src") == F.col("dst")).count() == 0
    assert g.select("src").distinct().count() == emb.count()
    assert g.groupBy("src").count().agg(F.max("count")).first()[0] <= 12


def test_latest_batch_supersedes_touched_nodes(spark, sf_smoke, tmp_path):
    """An old node refreshed by a later insertion serves its NEWEST
    edge set only (per-src latest batch wins — no duplicate adjacency
    from earlier batches), and refreshes never make a node worse: its
    mean neighbor similarity is monotonically non-decreasing because
    the refresh is a top-K over existing ∪ incoming."""
    emb = _emb(spark, sf_smoke)
    store = str(tmp_path / "g")
    batches = _batches(emb)
    merge_batch_into_graph_store(spark, batches[0], store, 0)
    g0 = (
        read_graph_edges(spark, store)
        .groupBy("src")
        .agg(F.avg("sim").alias("m0"), F.count("*").alias("c0"))
    ).localCheckpoint(eager=True)
    merge_batch_into_graph_store(spark, batches[1], store, 1)
    g1 = (
        read_graph_edges(spark, store)
        .groupBy("src")
        .agg(F.avg("sim").alias("m1"), F.count("*").alias("c1"))
    )
    both = g0.join(g1, "src")
    # no src lost edges, none exceeds the degree bound, and the
    # refresh never lowered a full node's mean similarity
    assert both.where(F.col("c1") < F.col("c0")).count() == 0
    worse = both.where(
        (F.col("c0") >= 12) & (F.col("m1") < F.col("m0") - 1e-9)
    )
    assert worse.count() == 0, worse.limit(5).collect()


def test_search_recall_vs_exact(spark, sf_smoke, tmp_path):
    """Serving search over the incrementally built store reaches the
    same recall bar as the one-shot hierarchy (pinned ≥ 0.8 — the
    in-registry raise uses the same bound)."""
    emb = _emb(spark, sf_smoke)
    store = str(tmp_path / "g")
    for b, batch in enumerate(_batches(emb)):
        merge_batch_into_graph_store(spark, batch, store, b)
    exact = knn_cosine_df(emb, 10, 5).select("query_id", "neighbor_id")
    ne = exact.count()
    got = search_graph_store(spark, store)
    hits = exact.join(
        got.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]
    ).count()
    assert hits / ne >= 0.8, hits / ne


def test_compaction_is_transparent_and_replay_safe(spark, sf_smoke, tmp_path):
    """compact_graph_store folds edge partials into a versioned base:
    adjacency is IDENTICAL before and after (per-src-latest already
    resolved), a post-compaction merge still supersedes base rows, a
    second compaction folds the new partial, and serving recall is
    unchanged.  Crash contract: partials ≤ the marker's folded id are
    invisible, so re-running the GC is a no-op."""
    from heatmap_spark.streaming.graph_store import compact_graph_store

    emb = _emb(spark, sf_smoke)
    store = str(tmp_path / "g")
    batches = _batches(emb)
    merge_batch_into_graph_store(spark, batches[0], store, 0)
    merge_batch_into_graph_store(spark, batches[1], store, 1)
    before = read_graph_edges(spark, store).localCheckpoint(eager=True)
    assert compact_graph_store(spark, store) == 2
    after = read_graph_edges(spark, store)
    assert before.exceptAll(after).isEmpty() and after.exceptAll(before).isEmpty()
    # idempotent: nothing new to fold
    assert compact_graph_store(spark, store) == 0
    # a later merge supersedes base adjacency for the nodes it touches
    merge_batch_into_graph_store(spark, batches[2], store, 2)
    g = read_graph_edges(spark, store)
    assert g.select("src").distinct().count() == emb.count()
    assert g.groupBy("src").count().agg(F.max("count")).first()[0] <= 12
    # second fold absorbs the new partial; serving still hits the bar
    assert compact_graph_store(spark, store) == 1
    exact = knn_cosine_df(emb, 10, 5).select("query_id", "neighbor_id")
    ne = exact.count()
    got = search_graph_store(spark, store)
    hits = exact.join(
        got.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]
    ).count()
    assert hits / ne >= 0.8, hits / ne


def test_pre_norms_store_migrates_transparently(spark, sf_smoke, tmp_path):
    """A store whose early batches were written BEFORE norms-at-ingest
    (no nrm column in the vector log) keeps working after the upgrade
    (ADVICE r12): a later merge unions old and new schemas without
    throwing, reads backfill nrm for the old rows (never NULL — a NULL
    norm would silently null every cosine), and serving still clears
    the recall bar."""
    from heatmap_spark.streaming.logstore import _committed_batches, _Fs

    emb = _emb(spark, sf_smoke)
    store = str(tmp_path / "g")
    batches = _batches(emb)
    merge_batch_into_graph_store(spark, batches[0], store, 0)
    # simulate a pre-norms batch 0: rewrite its vector log without nrm
    b0 = _committed_batches(store, "vectors")[0]
    legacy = spark.read.parquet(b0).select("vec_id", "vec").localCheckpoint()
    _Fs(spark).delete(b0)
    legacy.write.mode("overwrite").parquet(b0)
    assert "nrm" not in spark.read.parquet(b0).columns
    # later merges union old (no nrm) with new (nrm) without throwing
    merge_batch_into_graph_store(spark, batches[1], store, 1)
    merge_batch_into_graph_store(spark, batches[2], store, 2)
    vecs = read_vectors(spark, store)
    assert vecs.where(F.col("nrm").isNull()).count() == 0
    assert vecs.count() == emb.count()
    exact = knn_cosine_df(emb, 10, 5).select("query_id", "neighbor_id")
    ne = exact.count()
    got = search_graph_store(spark, store)
    assert got.where(F.col("cosine").isNull()).count() == 0
    hits = exact.join(
        got.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]
    ).count()
    assert hits / ne >= 0.8, hits / ne
