"""Streaming HLL register store: incremental distinct-count summaries.

HLL registers merge by per-bucket max — commutative, associative, and
IDEMPOTENT, which makes them the strongest case for the repo's shared
log-structured store protocol (streaming/logstore.py: per-batch dirs,
`_LATEST` marker committed last so replays are no-ops, LSM compaction
with a folded-batch marker making partial deletes pure GC): even a re-merged
batch could never change the accumulated registers, so exactly-once
here is belt-and-braces rather than load-bearing.

* ``regs/batch=<id>``  — the batch's (event_type, bucket, rho) partial
  register table, ≤ 256 rows per event type regardless of batch size.
* ``regs_base/v=<n>``  — compaction target.

Because the portable HLL's registers are deterministic (md5 + integer
rho — operators/profiling.py:hll_register_table), the accumulated
register table is BIT-IDENTICAL to the one-shot sketch of the whole
stream, and the streaming query shares q_hll_portable's DuckDB oracle
verbatim: the driver value-hash certifies incremental maintenance
end-to-end, something no engine-private sketch binary can offer.

At 100 TB: per-batch work is one groupBy over the batch (partials are
fixed-size), reads are (1 base + recent partials), and compaction is
amortized/schedulable — cardinality-over-time dashboards never rescan
raw events.

Reference: none — SURVEY.md §2.8 sketch + streaming-store families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from heatmap_spark.operators.profiling import hll_register_table
from heatmap_spark.streaming.logstore import LogStore

_REGS = LogStore(
    "regs",
    lambda df: df.groupBy("event_type", "bucket").agg(F.max("rho").alias("rho")),
)


def accumulated_registers(spark: SparkSession, store_path: str) -> DataFrame | None:
    """(event_type, bucket, rho) max-merged over compacted base +
    partials since its fold — the register-merge identity."""
    return _REGS.accumulated(spark, store_path)


def merge_batch_into_hll_store(
    spark: SparkSession, batch_events: DataFrame, store_path: str, batch_id: int
) -> bool:
    """Ingest one (event_type, user_id) micro-batch: write its partial
    register table, then commit the marker.  Returns False (no-op) on
    replay of a committed batch."""
    regs = hll_register_table(batch_events, "user_id", ["event_type"])
    return _REGS.commit(spark, store_path, batch_id, regs)


def compact_hll_store(spark: SparkSession, store_path: str) -> int:
    """LSM compaction: fold committed register partials into a new base
    (per-bucket max).  Returns the number of partials folded."""
    return _REGS.compact(spark, store_path)
