"""Streaming duplicated-passage store: incremental ≡ batch; replay
guard; LSM compaction is transparent to readers and later batches."""

from pyspark.sql import functions as F

from heatmap_spark.operators.dedup import duplicated_passages
from heatmap_spark.sources.tables import load_table
from heatmap_spark.streaming.logstore import _committed_batches, _read_last_batch
from heatmap_spark.streaming.passages import (
    compact_passage_store,
    merge_batch_into_passage_store,
    read_duplicated_passages,
    stream_duplicated_passages,
)


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").select("doc_id", "text")


def test_streamed_passages_equal_batch(spark, sf_smoke, tmp_path):
    docs = _docs(spark, sf_smoke)
    src, store, ckpt = str(tmp_path / "in"), str(tmp_path / "store"), str(tmp_path / "ckpt")
    docs.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = stream_duplicated_passages(stream, store, ckpt)
    q.awaitTermination(timeout=300)
    assert _read_last_batch(store) >= 2, "expected one merge per input file"

    got = read_duplicated_passages(spark, store)
    want = duplicated_passages(spark, sf_smoke)
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def test_replay_and_midhistory_compaction(spark, sf_smoke, tmp_path):
    """Split the corpus in half by doc_id parity; ingest batch 0,
    compact, ingest batch 1 (partials then straddle a base), replay
    batch 1 (must be a no-op) — final result equals the batch detector
    over the whole corpus."""
    store = str(tmp_path / "store")
    docs = _docs(spark, sf_smoke)
    b0 = docs.where(F.col("doc_id") % 2 == 0)
    b1 = docs.where(F.col("doc_id") % 2 == 1)

    assert merge_batch_into_passage_store(spark, b0, store, batch_id=0)
    folded = compact_passage_store(spark, store)
    assert folded == 1
    assert _committed_batches(store, "df") == [], "partials folded into base"

    assert merge_batch_into_passage_store(spark, b1, store, batch_id=1)
    # crash-replay of batch 1: committed marker makes it a no-op
    assert not merge_batch_into_passage_store(spark, b1, store, batch_id=1)

    got = read_duplicated_passages(spark, store)
    want = duplicated_passages(spark, sf_smoke)
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()

    # a second compaction folds the straddling partial; reads unchanged
    assert compact_passage_store(spark, store) == 1
    got2 = read_duplicated_passages(spark, store)
    assert got2.exceptAll(want).isEmpty() and want.exceptAll(got2).isEmpty()


def test_compaction_crash_between_marker_and_gc_never_double_counts(
    spark, sf_smoke, tmp_path
):
    """A crash AFTER the base-marker swap but BEFORE the partial deletes
    must not double-count: the marker records the max folded batch id,
    readers skip ≤-folded partials, and the next compaction GCs the
    stragglers without re-folding them."""
    import shutil

    store = str(tmp_path / "store")
    docs = _docs(spark, sf_smoke)
    b0 = docs.where(F.col("doc_id") % 2 == 0)
    b1 = docs.where(F.col("doc_id") % 2 == 1)
    assert merge_batch_into_passage_store(spark, b0, store, batch_id=0)
    assert merge_batch_into_passage_store(spark, b1, store, batch_id=1)

    # snapshot the df partials, compact, then restore them — simulating
    # the crash window where the marker landed but the deletes didn't
    saved = {}
    for i, p in enumerate(_committed_batches(store, "df")):
        saved[p] = str(tmp_path / f"crashsave_{i}")
        shutil.copytree(p, saved[p])
    assert compact_passage_store(spark, store) == 2
    for p, s in saved.items():
        shutil.copytree(s, p)
        shutil.rmtree(s)

    # readers skip the resurrected partials: result equals the batch
    # detector (a double count would inflate every df and flag
    # singleton windows as duplicated)
    got = read_duplicated_passages(spark, store)
    want = duplicated_passages(spark, sf_smoke)
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()

    # next compaction has nothing unfolded to fold — it only GCs
    assert compact_passage_store(spark, store) == 0
    assert _committed_batches(store, "df") == []


def test_remove_duplicated_passages_invariants(spark, sf_smoke):
    """Removal is consistent with flagging: a doc's removed-token count
    is bounded by its window coverage; fully-duplicated docs clean to
    empty text; clean docs come back verbatim (normalized)."""
    from heatmap_spark.operators.dedup import (
        duplicated_passages,
        remove_duplicated_passages,
    )

    flags = duplicated_passages(spark, sf_smoke)
    removed = remove_duplicated_passages(spark, sf_smoke)
    j = flags.join(removed, "doc_id")
    n = j.count()
    assert n == flags.count() == removed.count()
    assert j.where(F.col("n_removed") > F.col("n_tokens")).count() == 0
    # dup_frac == 1 (every window duplicated) ⇒ every token covered
    assert (
        j.where((F.col("dup_frac") == 1.0) & (F.col("n_windows") > 0))
        .where((F.col("clean_text") != "") | (F.col("n_removed") != F.col("n_tokens")))
        .count()
        == 0
    )
    # dup_frac == 0 ⇒ nothing removed, normalized text survives intact
    clean = j.where((F.col("dup_frac") == 0.0) & (F.col("n_windows") > 0))
    assert clean.where(F.col("n_removed") != 0).count() == 0
    assert clean.where(F.col("clean_text") == "").count() == 0
    # any duplicated window ⇒ at least w tokens removed (overlapping
    # dup windows CAN cover a whole doc even at dup_frac < 1, so only
    # the lower bound is an invariant)
    partial = j.where((F.col("dup_frac") > 0.0) & (F.col("dup_frac") < 1.0))
    assert partial.where(F.col("n_removed") < 8).count() == 0
