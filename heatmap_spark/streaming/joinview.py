"""Incremental JOIN-view maintenance: the delta-join rule on the
shared log-structured store protocol.

The repo's other streaming stores maintain AGGREGATES (tile sums, CMS
cells, HLL registers, postings) — all mergeable by a commutative
combine.  A materialized JOIN is the other algebraic shape a lakehouse
needs: the view over two growing inputs L ⋈ R cannot be re-joined from
scratch per batch at 100 TB.  The classic incremental rule (the
two-sided stream join of Flink/differential dataflow) produces each
output pair exactly once:

    ΔV_t  =  ΔL_t ⋈ R_{t-1}   ∪   L_{t-1} ⋈ ΔR_t   ∪   ΔL_t ⋈ ΔR_t

A pair whose left row arrives in batch i and right row in batch j is
emitted exactly at batch max(i, j) — by the first term when i > j, the
second when i < j, the third when i = j — and never again.

Store layout (logstore.py protocol: per-batch dirs, `_LATEST` marker
committed last so replays are no-ops, LSM compaction with a
folded-batch marker):

* ``left/batch=<id>``, ``right/batch=<id>`` — the input deltas (the
  join STATE; at cluster scale these land bucketed by join key so the
  per-batch delta joins shuffle only the delta side — the same
  layout argument as the rowstore's bucket pruning).
* ``view/batch=<id>`` — the pairs FIRST produced by that batch.
* ``view_base/v=<n>`` — view compaction target.

Per-batch cost is two delta-vs-state joins plus one delta-vs-delta
join — never state ⋈ state.  The view read is (compacted base +
partials since the fold), so consumers pay O(result), not O(history).

Reference: none — SURVEY.md §2.8 streaming-store family (join-view
maintenance rung; the aggregate rungs are tile_store/cms/hll/vocab).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from heatmap_spark.streaming.logstore import LogStore, _committed_batches

# the delta rule emits every pair exactly once, so the view folds by
# plain concatenation — no combine, no dedup pass
_VIEW = LogStore("view")


def _state(spark: SparkSession, store_path: str, side: str) -> DataFrame | None:
    """One input side's committed deltas — everything before the batch
    being ingested, since commit only runs above the marker."""
    dirs = _committed_batches(store_path, side)
    return spark.read.parquet(*dirs) if dirs else None


def merge_batch_into_join_view(
    spark: SparkSession,
    store_path: str,
    batch_id: int,
    left_delta: DataFrame,
    right_delta: DataFrame,
    on: list[str],
) -> bool:
    """Ingest one batch of (possibly empty) deltas for both sides:
    write the three delta-join terms' union as the batch's view
    partial, persist the deltas as join state, then commit the marker.
    Returns False (no-op) on replay of a committed batch."""

    def write(dest):
        l_state = _state(spark, store_path, "left")
        r_state = _state(spark, store_path, "right")
        terms = [left_delta.join(right_delta, on)]
        if r_state is not None:
            terms.append(left_delta.join(r_state, on))
        if l_state is not None:
            terms.append(l_state.join(right_delta, on))
        new_rows = terms[0]
        for t in terms[1:]:
            new_rows = new_rows.unionByName(t)
        new_rows.write.mode("overwrite").parquet(dest("view"))
        left_delta.write.mode("overwrite").parquet(dest("left"))
        right_delta.write.mode("overwrite").parquet(dest("right"))

    return _VIEW.commit(spark, store_path, batch_id, write)


def read_join_view(spark: SparkSession, store_path: str) -> DataFrame | None:
    """The maintained view: compacted base + partials since its fold.
    Plain union — the delta rule guarantees pair-exactly-once, so no
    dedup pass is ever needed."""
    return _VIEW.accumulated(spark, store_path)


def compact_join_view(spark: SparkSession, store_path: str) -> int:
    """LSM compaction of the VIEW partials (concatenation, not a
    combine — rows are already exactly-once).  Returns the number of
    partials folded.  Input-state dirs stay per-batch: they are read
    only as "everything before batch t", which directory listing
    already answers."""
    return _VIEW.compact(spark, store_path)
