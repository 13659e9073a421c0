"""Incremental graph-ANN index maintenance — the streaming HNSW.

The one-shot builder (operators/similarity.nn_descent_graph +
hnsw_hierarchy) rebuilds from scratch; this module maintains the
neighborhood graph as vectors stream in, the batched form of HNSW
insertion:

* ``vectors/batch=<id>`` — the batch's (vec_id, vec) rows, the
  append-only vector log.
* ``edges/batch=<id>``   — edge DELTAS: the new nodes' out-edges
  (found by scoring each new vector against coarse entry
  representatives, their graph neighborhoods, and a random-bucket
  candidate draw — the insertion search, all batch-keyed joins) plus
  REFRESHED out-edges for every old node an insertion touched (an old
  node adopts a new neighbor only if it beats its current worst:
  top-K over existing ∪ incoming).  A src's edges in a LATER batch
  supersede its earlier ones, so the read is "per src, latest batch
  wins" — no tombstones needed.

Per-batch cost is O(batch·degree²) plus one bounded coarse-member
scan — nothing proportional to accumulated EDGES is rewritten;
:func:`compact_graph_store` folds the partials into a versioned base
(the family's LSM protocol) so reads touch ≤ (1 base + recent
partials) regardless of stream age.  The
hierarchy's upper layers are not maintained per batch; serving
brute-forces the (hash-static, 1/branch-sized) coarse member set as
its entry selector, exactly like hnsw_search's top layer — so the
search path needs no rebuild step at all.  The same exactly-once
marker protocol as every store here (per-batch overwrite dirs keyed
by batch_id + atomic ``_LATEST`` swap; replayed batchIds no-op).

Vectors are assumed to arrive EXACTLY ONCE across batches (same
contract as the other stores); re-ingesting a vec_id would duplicate
its node.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from heatmap_spark.operators.similarity import (
    dot_expr,
    graph_beam_search,
    nn_descent_graph,
    norm_expr,
)
from heatmap_spark.streaming.logstore import LogStore, _committed_batches


def _with_norms(df: DataFrame) -> DataFrame:
    """Guarantee a non-null ``nrm`` for every vector row even when some
    batches predate norms-at-ingest (ADVICE r12): a mixed old/new store
    reads NULL nrm for the old rows under the merged parquet schema —
    coalesce onto the identical inline computation (same double either
    way; parquet round-trips doubles bit-exactly)."""
    if "nrm" in df.columns:
        return df.withColumn(
            "nrm", F.coalesce(F.col("nrm"), norm_expr(F.col("vec")))
        )
    return df.withColumn("nrm", norm_expr(F.col("vec")))


def _scored(edges: DataFrame, vecs: DataFrame) -> DataFrame:
    # use the norm stored at ingest when present (computed once per
    # vector instead of twice per scoring join — r12, guide §2.2/§4:
    # identical double either way, parquet round-trips doubles exactly)
    vecs = _with_norms(vecs)
    s = vecs.select(
        F.col("vec_id").alias("src"), F.col("vec").alias("svec"),
        F.col("nrm").alias("sn"),
    )
    d = vecs.select(
        F.col("vec_id").alias("dst"), F.col("vec").alias("dvec"),
        F.col("nrm").alias("dn"),
    )
    cos = F.round(
        dot_expr(F.col("svec"), F.col("dvec")) / (F.col("sn") * F.col("dn")), 6
    )
    return edges.join(s, "src").join(d, "dst").select(
        "src", "dst", cos.alias("sim")
    )


def _topk(scored: DataFrame, k: int) -> DataFrame:
    w = W.partitionBy("src").orderBy(F.desc("sim"), F.asc("dst"))
    return scored.select(
        "src", "dst", "sim", F.row_number().over(w).alias("rn")
    ).where(F.col("rn") <= k).drop("rn")


def read_vectors(spark: SparkSession, store: str) -> DataFrame:
    # mergeSchema: batches written before norms-at-ingest lack the nrm
    # column — the merged schema surfaces it (NULL for old rows) so
    # _with_norms can backfill instead of a schema-less read silently
    # dropping the stored norms (ADVICE r12)
    dirs = _committed_batches(store, "vectors")
    return _with_norms(spark.read.option("mergeSchema", "true").parquet(*dirs))


def _latest_per_src(tagged: DataFrame) -> DataFrame:
    """Per src, the edges of its LATEST contributing batch ``b``."""
    latest = tagged.groupBy("src").agg(F.max("b").alias("b"))
    return tagged.join(latest, ["src", "b"]).select("src", "dst", "sim")


class _EdgeLog(LogStore):
    """The edge log tags each row with its batch where it is read:
    partials with the id of the ``batch=<id>`` dir their file sits in,
    the compacted base (every folded batch already resolved to
    per-src-latest) with -1 — so the base wins only where no later
    partial touched the src."""

    def _fold(self, spark, partials, base):
        parts = []
        if partials:
            tag = F.regexp_extract(F.input_file_name(), r"batch=(\d+)/[^/]+$", 1)
            parts.append(
                spark.read.parquet(*partials).withColumn("b", tag.cast("int"))
            )
        if base is not None:
            parts.append(base.withColumn("b", F.lit(-1)))
        if not parts:
            return None
        return self.fold(reduce(DataFrame.unionByName, parts))


_EDGES = _EdgeLog("edges", _latest_per_src)


def read_graph_edges(spark: SparkSession, store: str) -> DataFrame | None:
    """Current adjacency: per src, the edges of its LATEST contributing
    batch (later insertions supersede a node's earlier out-edges),
    read from the compacted base plus only the post-fold partials."""
    return _EDGES.accumulated(spark, store)


def compact_graph_store(spark: SparkSession, store: str) -> int:
    """LSM compaction: resolve per-src-latest adjacency across the
    base and every committed edge partial into a new base version,
    then GC the folded partials.  Returns the number of partials
    folded."""
    return _EDGES.compact(spark, store)


def merge_batch_into_graph_store(
    spark: SparkSession,
    batch: DataFrame,
    store: str,
    batch_id: int,
    degree: int = 12,
    branch: int = 16,
    reps: int = 4,
) -> bool:
    """Ingest one micro-batch of (vec_id, vec) rows.  Returns False
    (no-op) when ``batch_id`` was already committed — the replay
    guard.  Batch 0 seeds the store with a full NN-Descent build;
    later batches run the insertion search (coarse reps → their graph
    neighborhoods → plus a random-bucket draw for navigability),
    write the new nodes' out-edges, and refresh the touched old
    nodes."""

    def write(dest):
        # the vector log stores the norm alongside each vector: the merge
        # scores candidates in 3 joins and serving in 2 more, and each
        # scoring side needed the norm — computing it once at ingest
        # removes ~6 per-corpus-row norm evaluations per batch; doubles
        # round-trip parquet bit-exactly, so every sim is the identical
        # float.  Lazy: the vectors write below is the first consumer and
        # materializes the checkpoint inside its own job (one fewer
        # driver-synchronous job per batch, same blocks either way)
        vecs = batch.select(
            "vec_id", "vec", norm_expr(F.col("vec")).alias("nrm")
        ).localCheckpoint(eager=False)
        vecs.write.mode("overwrite").parquet(dest("vectors"))
        prior_dirs = _committed_batches(store, "vectors")
        if not prior_dirs:
            edges = nn_descent_graph(vecs, degree=degree, iters=3)
        else:
            old = _with_norms(
                spark.read.option("mergeSchema", "true").parquet(*prior_dirs)
            )  # tolerate pre-norms batches
            allv = old.unionByName(vecs, allowMissingColumns=True)
            new_ids = vecs.select(F.col("vec_id").alias("src"))
            # (1) coarse reps: hash-promoted members of the ACCUMULATED set
            coarse = old.where(F.pmod(F.hash("vec_id"), F.lit(branch)) == 0)
            if coarse.isEmpty():
                coarse = old
            rep_edges = _topk(
                _scored(
                    new_ids.crossJoin(
                        F.broadcast(coarse.select(F.col("vec_id").alias("dst")))
                    ),
                    allv,
                ),
                reps,
            ).select("src", "dst")
            # current adjacency is consumed TWICE per merge (hop expansion
            # here, refresh below) — resolve the per-src-latest read once
            # and materialize it instead of re-running the multi-batch
            # read + window per consumer (the stored set is the graph
            # itself, the same volume compaction writes).
            # Lazy: the first consuming job materializes it, so no extra
            # standalone job is scheduled.
            cur = read_graph_edges(spark, store).localCheckpoint(eager=False)
            # (2) expand reps through the current graph, 2 hops
            g = cur.select(
                F.col("src").alias("hop_src"), F.col("dst").alias("hop_dst")
            )
            hop1 = rep_edges.join(
                g, rep_edges["dst"] == g["hop_src"]
            ).select("src", F.col("hop_dst").alias("dst"))
            hop2 = hop1.join(g, hop1["dst"] == g["hop_src"]).select(
                "src", F.col("hop_dst").alias("dst")
            )
            # (3) random-bucket draw across old vectors (navigability)
            nb = max(1, old.count() // (degree // 2 + 1))
            draw = new_ids.withColumn(
                "b", F.pmod(F.hash("src"), F.lit(nb))
            ).join(
                old.select(
                    F.col("vec_id").alias("dst"),
                    F.pmod(F.hash("vec_id"), F.lit(nb)).alias("b"),
                ),
                "b",
            ).select("src", "dst")
            # intra-batch candidates so new nodes link each other too
            intra = nn_descent_graph(vecs, degree=degree, iters=2).select(
                "src", "dst"
            )
            cand = (
                rep_edges.union(hop1).union(hop2).union(draw).union(intra)
                .where(F.col("src") != F.col("dst"))
                .distinct()
            )
            new_out = _topk(_scored(cand, allv), degree)
            # old nodes adopt better new neighbors: top-K over existing ∪
            # incoming, rewritten ONLY for touched srcs
            incoming = _scored(
                new_out.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst")
                ).distinct(),
                allv,
            )
            touched = incoming.select("src").distinct()
            existing = cur.join(touched, "src")
            refreshed = _topk(existing.unionByName(incoming).distinct(), degree)
            edges = new_out.unionByName(refreshed)
        _topk(edges, degree).write.mode("overwrite").parquet(dest("edges"))

    return _EDGES.commit(spark, store, batch_id, write)


def search_graph_store(
    spark: SparkSession,
    store: str,
    n_queries: int = 10,
    k: int = 5,
    beam: int | None = None,
    hops: int = 4,
    branch: int = 16,
) -> DataFrame:
    """Serve top-k from the accumulated store: brute-force the
    hash-promoted coarse member set as the entry selector (the
    hierarchy's top-layer role — 1/branch of the corpus, broadcast
    scoring), then beam-search the maintained graph.

    ``beam=None`` derives the beam from the STORE's current row count
    (adaptive_beam ~ 2·log2(N)) — a store that grew 5× since the last
    caller retune keeps its recall without anyone touching the serving
    config."""
    from heatmap_spark.operators.similarity import adaptive_beam

    vecs = read_vectors(spark, store)  # nrm guaranteed by _with_norms
    graph = read_graph_edges(spark, store)
    if beam is None:
        beam = adaptive_beam(vecs.count())
    queries = vecs.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("nrm").alias("qn"),
    )
    members = vecs.where(
        F.pmod(F.hash("vec_id"), F.lit(branch)) == 0
    ).select(
        F.col("vec_id").alias("node"),
        F.col("vec").alias("nvec"),
        F.col("nrm").alias("nn"),
    )
    sim = F.round(
        dot_expr(F.col("qvec"), F.col("nvec")) / (F.col("qn") * F.col("nn")), 6
    )
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("node"))
    frontier = (
        members.crossJoin(F.broadcast(queries))
        .select("query_id", "node", sim.alias("sim"))
        .select("query_id", "node", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= beam)
        .select("query_id", "node")
        .localCheckpoint(eager=True)
    )
    return graph_beam_search(
        vecs, graph, n_queries, k, beam=beam, hops=hops,
        entry_frontier=frontier,
    )
