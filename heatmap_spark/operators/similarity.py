"""Embedding similarity search over array<float> columns.

Baseline: brute-force cosine top-k — exact, one broadcast of the query
set, no shuffle of the corpus (the corpus side streams through a
codegen'd fold; at 100 TB the scan parallelizes per-partition and the
top-k is a per-partition heap + small final merge via window).

Scale path: IVF-style bucketed search — assign every vector to its
nearest of C coarse centroids (derived deterministically from the data
itself), search only within the query's bucket(s).  Cuts the candidate
set ~C× at the cost of recall; both variants share the same cosine
kernel.

The dot product is a sequential left fold (F.aggregate over zip_with)
in double precision — the same order DuckDB's list_sum(list_transform)
uses, so results are bit-comparable for the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from heatmap_spark.sources.tables import load_table


def dot_expr(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two array<double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def lit_double_arrays(nested) -> Column:
    """Nested Python lists of floats → ONE literal array expression
    parsed from a single SQL string (r13; see _fwht_out_j_sql): the
    `F.array(*[F.lit(x) …])` spelling costs one py4j driver roundtrip
    PER ELEMENT — a trained codebook (512
    doubles) or an ADC table set (5,120) is seconds of driver time per
    call site before any executor work.  One `F.expr` parse builds the
    node-identical tree (CreateArray over double Literals) in
    milliseconds.  `repr(float)` is the shortest round-trip form and
    the SQL parser reads it back to the bit-identical double (both
    sides are correctly-rounded IEEE-754), so plans and value hashes
    are unchanged — pinned by tests/test_similarity.py."""

    def sql(x) -> str:
        if isinstance(x, (list, tuple)):
            return "array(" + ", ".join(sql(v) for v in x) + ")"
        return repr(float(x)) + "D"

    return F.expr(sql(nested))


def knn_cosine(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 10,
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for the first ``n_queries`` vectors.

    Ranking uses the 6-decimal-rounded similarity with vec_id tiebreak
    so the selected neighbor set is deterministic and engine-portable.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    return knn_cosine_df(emb, n_queries, k)


def knn_cosine_df(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    queries: DataFrame | None = None,
) -> DataFrame:
    """DataFrame-core of :func:`knn_cosine` over any (vec_id, vec)
    relation (used by the scale probe on synthetic corpora).

    ``queries`` overrides the default ``vec_id < n_queries`` prefix
    with an explicit (vec_id, vec) query set — the ANN drift monitor
    probes with queries drawn from the RECENT stream, whose ids are
    not a corpus prefix (ids absent from the corpus simply never
    self-exclude)."""
    # norms as carried columns: computed once per row on each side,
    # not once per candidate PAIR (each corpus row is scored against
    # n_queries queries — the naive inline norm_expr re-folds per
    # pair; same bit-identical floats, just factored out)
    qsrc = (
        queries if queries is not None
        else emb.where(F.col("vec_id") < n_queries)
    )
    queries = qsrc.select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        norm_expr(F.col("vec")).alias("qn"),
    )
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("vec").alias("nvec"),
        norm_expr(F.col("vec")).alias("nn"),
    )
    sim = F.round(
        dot_expr(F.col("qvec"), F.col("nvec")) / (F.col("qn") * F.col("nn")), 6
    )
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", sim.alias("cosine"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.select("query_id", "neighbor_id", "cosine", F.row_number().over(w).alias("rank"))
        .where(F.col("rank") <= k)
    )


def _bucket_centroids(assigned: DataFrame, bucket_col) -> dict[int, list[float]]:
    """Per-bucket coordinate means of (…, vec) rows → {bucket: centroid}.
    One posexplode + two aggregates; the result is k x dim doubles,
    collected driver-side by design (IVF codebooks embed in the plan)."""
    rows = (
        assigned.select(bucket_col.alias("b"), F.posexplode("vec").alias("pos", "x"))
        .groupBy("b", "pos")
        .agg(F.avg("x").alias("m"))
        .groupBy("b")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select("b", F.transform(F.col("pm"), lambda s: s["m"]).alias("centroid"))
        .collect()
    )
    return {r["b"]: r["centroid"] for r in rows}


def ivf_codebook(
    emb: DataFrame, n_buckets: int = 8, train_iters: int = 0
) -> dict[int, list[float]]:
    """Train the IVF coarse codebook: per-coordinate means of vectors
    seeded by vec_id % n_buckets, optionally refined by ``train_iters``
    Lloyd (k-means) iterations — each iteration is one map-only argmax
    reassignment plus one centroid aggregate (no shuffle of the vectors
    beyond the agg), so training cost is linear in iterations.  The
    codebook is k x dim doubles, collected driver-side by design (it
    embeds in the serving plan as literals)."""
    codebook = _bucket_centroids(emb, F.col("vec_id") % n_buckets)
    for _ in range(train_iters):
        assigned = _assign_to_codebook(emb, codebook)
        new_codebook = _bucket_centroids(assigned, F.col("bucket"))
        # empty buckets keep their previous centroid
        codebook = {**codebook, **new_codebook}
    return codebook


def ivf_assign(emb: DataFrame, n_buckets: int = 8, train_iters: int = 0) -> DataFrame:
    """Assign vectors to coarse buckets by nearest centroid.  Returns
    (vec_id, vec, bucket).  Default 0 iterations keeps the seed
    codebook (deterministic, and what the declared queries pin)."""
    return _assign_to_codebook(emb, ivf_codebook(emb, n_buckets, train_iters))


def _assign_to_codebook(emb: DataFrame, codebook: dict[int, list[float]]) -> DataFrame:
    # Assignment is a MAP-ONLY argmax — no crossJoin row blow-up, no
    # window shuffle; measured 5x faster at the 1M-vector probe than
    # the crossJoin+row_number spelling.
    cents = lit_double_arrays([codebook[b] for b in sorted(codebook)])
    affs = F.transform(cents, lambda c: dot_expr(F.col("vec"), c))
    # array_position on the max → FIRST maximal bucket (ties break to
    # the lowest bucket id, matching the old desc-affinity/asc-bucket
    # window order).  affs goes through a real column first so the k·dim
    # dot products are computed once, not once per reference (Catalyst
    # does no CSE across expression references).
    bucket = (F.array_position(F.col("__affs__"), F.array_max("__affs__")) - 1).cast("int")
    return (
        emb.withColumn("__affs__", affs)
        .select("vec_id", "vec", bucket.alias("bucket"))
    )


def knn_cosine_ivf(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 10,
    k: int = 5,
    n_buckets: int = 8,
    nprobe: int = 1,
) -> DataFrame:
    """Approximate top-k: search only the query's ``nprobe`` nearest
    IVF bucket(s).  With nprobe == n_buckets every bucket is probed and
    the result equals the exact brute force (oracle-checkable).

    Why no oracle can exist FOR THIS ENTRY: at nprobe=1 which
    neighbors surface depends on the trained centroids (k-means on a
    seeded sample), which DuckDB cannot reproduce — declared
    rows-only by construction.  The family is pinned elsewhere in the
    registry: its exactness twin q_knn_cosine_ivf_exact (nprobe=all)
    is hash-checked against the brute-force oracle every window, and
    its quality floor RAISES inside q_knn_ivf_recall (recall@k at
    nprobe=1 vs the exact top-k, same parameters as here)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    return knn_cosine_ivf_df(emb, n_queries, k, n_buckets, nprobe=nprobe)


def knn_cosine_ivf_exact(
    spark: SparkSession, sf_dir: str, n_queries: int = 10, k: int = 5
) -> DataFrame:
    """IVF path with nprobe = all buckets: probing every bucket makes
    the candidate set the full corpus, so the output is provably equal
    to the exact brute force — which is exactly what the DuckDB oracle
    computes.  This puts the whole IVF machinery (codebook train,
    argmax assignment, multi-probe bucket join) under the hash-match
    correctness gate; the nprobe=1 variant stays as the measured
    approximate path."""
    return knn_cosine_ivf(spark, sf_dir, n_queries, k, n_buckets=8, nprobe=8)


def knn_ivf_recall(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 10,
    k: int = 5,
    n_buckets: int = 8,
    min_recall: float = 0.3,
    train_iters: int = 2,
) -> DataFrame:
    """Recall@k of the nprobe=1 IVF search vs the exact brute force,
    one row per nprobe in {1, n_buckets}, on a Lloyd-trained codebook
    (train_iters=2 lifts recall@5 0.22 → 0.40 at sf0.01).  The query
    RAISES if recall@k at nprobe=1 falls below ``min_recall`` —
    pinning the ANN quality bar inside the declared registry surface
    (a driver run turns red on regression), not just in pytest.
    (Below 1000 corpus vectors the floor relaxes to 0.2: with 8
    buckets over a ~100-vector smoke fixture the per-query neighbor
    lists are too short for the 0.3 bar to be statistically stable.)"""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    if emb.count() < 1000:
        min_recall = min(min_recall, 0.2)
    exact = knn_cosine_df(emb, n_queries, k).select("query_id", "neighbor_id")
    n_exact = exact.count()  # < n_queries*k on tiny corpora — the true denominator
    if n_exact == 0:
        raise AssertionError(
            "knn_ivf_recall: exact kNN returned 0 neighbor pairs — corpus "
            "too small to measure recall (need >= 2 vectors)"
        )
    codebook = ivf_codebook(emb, n_buckets, train_iters)
    rows = []
    for nprobe in (1, n_buckets):
        approx = knn_cosine_ivf_df(
            emb, n_queries, k, n_buckets, nprobe=nprobe, codebook=codebook
        )
        hits = exact.join(
            approx.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]
        ).count()
        recall = round(hits / n_exact, 6)
        rows.append((nprobe, recall))
    if rows[0][1] < min_recall:
        raise AssertionError(
            f"IVF recall@{k} at nprobe=1 is {rows[0][1]} < pinned {min_recall}"
        )
    if rows[-1][1] < 1.0:
        raise AssertionError(
            f"IVF recall@{k} at nprobe=all must be exact, got {rows[-1][1]}"
        )
    return spark.createDataFrame(rows, "nprobe int, recall double")


def knn_cosine_ivf_df(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    n_buckets: int = 8,
    assigned: DataFrame | None = None,
    nprobe: int = 1,
    codebook: dict[int, list[float]] | None = None,
) -> DataFrame:
    """DataFrame-core of :func:`knn_cosine_ivf` over any (vec_id, vec)
    relation.  Pass a prebuilt ``assigned`` (from :func:`ivf_assign`,
    typically persisted/stored) or ``codebook`` (from
    :func:`ivf_codebook`) to skip index build — the production
    lifecycle: train + assign once, query many times.

    nprobe > 1 probes the query's nprobe nearest buckets: the query
    side (tiny, broadcast) carries its probe-bucket array and the
    corpus joins on array_contains — each corpus vector still streams
    through exactly once, candidates scale ~nprobe/n_buckets."""
    if assigned is None:
        if codebook is None:
            codebook = ivf_codebook(emb, n_buckets)
        assigned = _assign_to_codebook(emb, codebook)
    # norms carried per row, not recomputed per candidate pair (see
    # knn_cosine_df note — bit-identical floats, factored out)
    queries = assigned.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        norm_expr(F.col("vec")).alias("qn"),
        "bucket",
    )
    corpus = assigned.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("vec").alias("nvec"),
        norm_expr(F.col("vec")).alias("nn"),
        "bucket",
    )
    if nprobe <= 1:
        cand = corpus.join(F.broadcast(queries), "bucket")
    else:
        if codebook is None:
            raise ValueError("nprobe > 1 requires the codebook (assigned=None)")
        # probe buckets: sort (aff desc, bucket asc) — same tie order as
        # the argmax in _assign_to_codebook — and slice the top nprobe
        cents = lit_double_arrays([codebook[b] for b in sorted(codebook)])
        scored_b = F.transform(
            cents,
            lambda c, i: F.struct(
                (-dot_expr(F.col("qvec"), c)).alias("neg_aff"), i.alias("b")
            ),
        )
        probe = F.transform(
            F.slice(F.array_sort(scored_b), 1, nprobe), lambda s: s["b"]
        )
        q2 = F.broadcast(
            queries.withColumn("probe_buckets", probe).drop("bucket")
        )
        cand = corpus.join(
            q2, F.array_contains(q2["probe_buckets"], corpus["bucket"])
        )
    sim = F.round(
        dot_expr(F.col("qvec"), F.col("nvec")) / (F.col("qn") * F.col("nn")), 6
    )
    scored = cand.where(F.col("neighbor_id") != F.col("query_id")).select(
        "query_id", "neighbor_id", sim.alias("cosine")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.select("query_id", "neighbor_id", "cosine", F.row_number().over(w).alias("rank"))
        .where(F.col("rank") <= k)
    )


def embedding_near_dup_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.4,
    n_buckets: int = 8,
    n_assign: int = 2,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (vec_id_a < vec_id_b,
    cosine ≥ threshold), candidates restricted to shared-IVF-bucket
    pairs with multi-assignment.

    This is the 100 TB shape: each vector is assigned to its
    ``n_assign`` nearest coarse buckets (map-only, codebook embedded as
    literals — see ivf_codebook), and only pairs sharing a bucket are
    scored via an equi-join on bucket + DISTINCT.  Candidate count
    drops ~n_buckets/n_assign²× vs all-pairs and the plan has no
    CartesianProduct; at real scale n_buckets grows ~sqrt(n) so per-
    bucket blocks stay bounded.  Near-duplicates have cosine ≈ 1, so a
    missed pair must straddle ≥ n_assign Voronoi boundaries — the
    standard IVF recall trade, dialed by n_assign.

    The DuckDB oracle reproduces the same deterministic multi-bucketing,
    so the approximation itself is under the hash-match gate.  The
    exact all-pairs baseline is kept as
    :func:`embedding_near_dup_pairs_exact` (tests compare recall).
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    return embedding_near_dup_pairs_df(emb, threshold, n_buckets, n_assign)


def embedding_near_dup_pairs_df(
    emb: DataFrame,
    threshold: float = 0.4,
    n_buckets: int = 8,
    n_assign: int = 2,
) -> DataFrame:
    """DataFrame-core of :func:`embedding_near_dup_pairs` over any
    (vec_id, vec) relation: each vector goes to its ``n_assign``
    nearest IVF buckets, and only pairs sharing a bucket are scored.

    Norms are computed ONCE per assignment row (not per pair): the
    pair join then evaluates only the dot product, cutting the
    interpreted higher-order-function work per candidate ~3×."""
    codebook = ivf_codebook(emb, n_buckets)
    cents = lit_double_arrays([codebook[b] for b in sorted(codebook)])
    scored_b = F.transform(
        cents,
        lambda c, i: F.struct(
            (-dot_expr(F.col("vec"), c)).alias("neg_aff"), i.alias("b")
        ),
    )
    top = F.transform(
        F.slice(F.array_sort(scored_b), 1, n_assign), lambda s: s["b"]
    )
    assigned = emb.select("vec_id", "vec", F.explode(top).alias("bucket"))
    with_norm = assigned.select(
        "bucket", "vec_id", "vec", norm_expr(F.col("vec")).alias("nrm")
    )
    a = with_norm.select(
        "bucket",
        F.col("vec_id").alias("vec_id_a"),
        F.col("vec").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = with_norm.select(
        "bucket",
        F.col("vec_id").alias("vec_id_b"),
        F.col("vec").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    sim = dot_expr(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(b, "bucket")
        .where(F.col("vec_id_a") < F.col("vec_id_b"))
        .select("vec_id_a", "vec_id_b", sim.alias("raw"))
        .where(F.col("raw") >= threshold)
        .select("vec_id_a", "vec_id_b", F.round("raw", 6).alias("cosine"))
        .distinct()
    )


def embedding_near_dup_pairs_exact(
    spark: SparkSession, sf_dir: str, threshold: float = 0.4
) -> DataFrame:
    """Exact all-pairs baseline (O(n²) — small corpora / per-block use
    only; the declared operator is the bucketed
    :func:`embedding_near_dup_pairs`)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    a = emb.select(F.col("vec_id").alias("vec_id_a"), F.col("vec").alias("va"))
    b = emb.select(F.col("vec_id").alias("vec_id_b"), F.col("vec").alias("vb"))
    sim = dot_expr(F.col("va"), F.col("vb")) / (
        norm_expr(F.col("va")) * norm_expr(F.col("vb"))
    )
    return (
        a.crossJoin(b)
        .where(F.col("vec_id_a") < F.col("vec_id_b"))
        .select("vec_id_a", "vec_id_b", sim.alias("raw"))
        .where(F.col("raw") >= threshold)
        .select("vec_id_a", "vec_id_b", F.round("raw", 6).alias("cosine"))
    )


def haversine_km(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in km (haversine), pure Column math —
    sin/cos/asin/sqrt are codegen'd JVM intrinsics, no UDF."""
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = (
        F.sin(dlat / 2) * F.sin(dlat / 2)
        + F.cos(F.radians(lat1))
        * F.cos(F.radians(lat2))
        * F.sin(dlon / 2)
        * F.sin(dlon / 2)
    )
    return F.lit(2.0 * 6371.0088) * F.asin(F.sqrt(a))


def haversine_nearest(spark: SparkSession, sf_dir: str, k: int = 5) -> DataFrame:
    """Geo nearest-neighbor: for each of three fixed probe cities, the
    k nearest non-background location points by haversine distance.

    The probe set is a 3-row broadcast — the cross join is a narrow
    broadcast-nested-loop over the corpus scan (no shuffle of the big
    side), then per-probe top-k via a window on the tiny candidate
    stream.  Distance is rounded to whole meters for ranking and
    output so cross-engine trig ulp differences can't reorder ties;
    remaining ties break deterministically on (user_id, lat, lon).

    At 100 TB you'd pre-filter candidates to the probe's surrounding
    tiles (tile range predicates pushed into the scan — see the tile
    store's bucket-pruned reads) before the exact distance;
    the brute-force form here is the correctness baseline.

    Reference: tile.py:45-52 exposes tile bounds/centers for exactly
    this kind of proximity query; the reference itself has no distance
    operator (SURVEY.md §2.8).
    """
    from heatmap_spark.sources.locations import load_locations

    probes = spark.createDataFrame(
        [("london", 51.5074, -0.1278),
         ("tokyo", 35.6762, 139.6503),
         ("sao_paulo", -23.5505, -46.6333)],
        "probe string, plat double, plon double",
    )
    loc = load_locations(spark, sf_dir).where(F.col("source") != "background")
    d_m = F.round(
        haversine_km(F.col("plat"), F.col("plon"), F.col("latitude"), F.col("longitude"))
        * 1000.0
    ).cast("long")
    cand = loc.join(F.broadcast(probes)).select(
        "probe", "user_id", "latitude", "longitude", d_m.alias("dist_m")
    )
    w = W.partitionBy("probe").orderBy("dist_m", "user_id", "latitude", "longitude")
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("probe", "rank", "user_id", "dist_m")
    )


def trajectory_similarity(
    spark: SparkSession,
    sf_dir: str,
    zoom: int = 6,
    k: int = 20,
    df_cap: int = 64,
) -> DataFrame:
    """Top-k most similar user-trajectory pairs by visited-cell Jaccard.

    REPOSE-style discretization (Zheng et al., "REPOSE: Distributed
    Top-k Trajectory Similarity Search", ICDE 2021 — PAPERS.md):
    each trajectory becomes its SET of visited quadtree cells at a
    reference zoom, turning curve similarity into set similarity that
    distributes as a postings join — users only meet through a shared
    cell, never all-pairs.  The reference's tile math (tile.py:29-37)
    provides the discretizer; the reference itself has no similarity
    operator (SURVEY.md §2.8).

    Scale guards (same design as jaccard_pairs): hot cells — the city
    centers every trajectory crosses — are document-frequency-capped
    before the self-join (no discriminative signal, quadratic blowup),
    and the postings are materialized once.  Output ordering is fully
    deterministic: (rounded jaccard desc, user_a, user_b).
    """
    from heatmap_spark.functions import tiles as tl
    from heatmap_spark.sources.locations import load_locations

    loc = load_locations(spark, sf_dir).where(F.col("source") != "background")
    cells = (
        loc.select(
            "user_id", tl.tile_id("latitude", "longitude", zoom).alias("cell")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    hot = (
        cells.groupBy("cell")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") > df_cap)
        .select("cell")
    )
    kept = cells.join(F.broadcast(hot), "cell", "left_anti")
    sizes = kept.groupBy("user_id").agg(F.count("*").alias("n_cells"))
    a = kept.alias("a")
    b = kept.alias("b")
    inter = (
        a.join(b, F.col("a.cell") == F.col("b.cell"))
        .where(F.col("a.user_id") < F.col("b.user_id"))
        .groupBy(
            F.col("a.user_id").alias("user_a"), F.col("b.user_id").alias("user_b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("user_id").alias("user_a"), F.col("n_cells").alias("size_a"))
    sb = sizes.select(F.col("user_id").alias("user_b"), F.col("n_cells").alias("size_b"))
    jac = F.round(
        F.col("n_common")
        / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
        6,
    )
    return (
        inter.join(sa, "user_a")
        .join(sb, "user_b")
        .select("user_a", "user_b", jac.alias("jaccard"))
        .orderBy(F.desc("jaccard"), F.asc("user_a"), F.asc("user_b"))
        .limit(k)
    )


def semantic_dedup(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.4,
    n_buckets: int = 8,
    n_assign: int = 2,
) -> DataFrame:
    """SemDeDup-style semantic deduplication decision per vector.

    Policy (Abbas et al. 2023, "SemDeDup"): cluster the embedding space
    coarsely, and within each cluster keep one representative of every
    ε-ball — here the greedy deterministic rule "drop a vector iff some
    LOWER-id vector in a shared IVF bucket has cosine ≥ threshold".
    Greedy-by-id makes the keep set order-independent and reproducible
    on any partitioning, so the approximate policy itself sits under
    the DuckDB hash-match gate.

    Scale shape: candidate generation is the bucketed
    :func:`embedding_near_dup_pairs_df` (no CartesianProduct — IVF
    multi-assignment bounds each block); the drop set is the distinct
    right side of the pair list, applied back to the corpus as a left
    join — one extra shuffle on vec_id, no collect.  Output is the full
    corpus with a ``keep`` flag (a real pipeline then filters
    ``keep`` and writes the surviving shard).
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    return semantic_dedup_df(emb, threshold, n_buckets, n_assign)


def semantic_dedup_df(
    emb: DataFrame,
    threshold: float = 0.4,
    n_buckets: int = 8,
    n_assign: int = 2,
) -> DataFrame:
    """DataFrame-core of :func:`semantic_dedup` over any (vec_id, vec)
    relation."""
    pairs = embedding_near_dup_pairs_df(emb, threshold, n_buckets, n_assign)
    dropped = pairs.select(F.col("vec_id_b").alias("vec_id")).distinct()
    flagged = dropped.withColumn("dropped", F.lit(True))
    return (
        emb.select("vec_id")
        .join(flagged, "vec_id", "left")
        .select("vec_id", F.coalesce(~F.col("dropped"), F.lit(True)).alias("keep"))
    )


# ---------------------------------------------------------------------------
# Product quantization: memory-bounded ANN (the 100 TB vector-search
# answer — a 64-dim float64 vector (512 B) compresses to m=8 one-byte
# codes; the search never touches raw floats except for its own query).
# ---------------------------------------------------------------------------


def _l2_normalize(vec: Column) -> Column:
    """Normalize with the O(dim) norm fold evaluated ONCE per vector:
    zip_with against array_repeat(norm, size) — array_repeat's element
    argument is evaluated once per row.  The naive
    transform(vec, x -> x / norm_expr(vec)) re-runs the fold per
    ELEMENT (O(dim²) per vector; Catalyst does no CSE inside lambdas,
    and a struct let-binding gets simplified away by
    SimplifyExtractValueOps right back into the per-element fold)."""
    return F.zip_with(
        vec,
        F.array_repeat(norm_expr(vec), F.size(vec)),
        lambda x, n: x / n,
    )


def _rerank_exact(
    shortlist: DataFrame,
    emb: DataFrame,
    queries: list[tuple[int, list[float]]],
    topk: int,
) -> DataFrame:
    """Exact cosine re-rank of an ADC shortlist: only the shortlist's
    raw vectors are fetched (broadcast query set, neighbor-keyed join),
    output (query_id, neighbor_id, cosine, rank<=topk).  Shared by the
    Column and numpy ADC paths so tie-break/rounding changes can't
    diverge between them."""
    qdf = emb.sparkSession.createDataFrame(
        [(int(qid), [float(x) for x in qv]) for qid, qv in queries],
        "query_id bigint, qvec array<double>",
    )
    raw = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("vec").alias("nvec"))
    exact = (
        shortlist.join(raw, "neighbor_id")
        .join(F.broadcast(qdf), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot_expr(F.col("qvec"), F.col("nvec"))
                / (norm_expr(F.col("qvec")) * norm_expr(F.col("nvec"))),
                6,
            ).alias("cosine"),
        )
    )
    w2 = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return exact.select(
        "query_id", "neighbor_id", "cosine", F.row_number().over(w2).alias("rank")
    ).where(F.col("rank") <= topk)


def pq_codebooks(
    emb: DataFrame,
    m: int = 8,
    k: int = 16,
    dim: int = 64,
    train_iters: int = 1,
    normalize: bool = True,
) -> dict[tuple[int, int], list[float]]:
    """Train per-subspace PQ codebooks (Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search", TPAMI — public method):
    the L2-normalized vector splits into ``m`` subvectors of dim/m;
    each subspace gets its own ``k``-centroid k-means, seeded by
    vec_id % k and refined by ``train_iters`` Lloyd rounds.

    All m subspaces train in ONE pass per round: Lloyd's assign step
    IS the PQ encoder, so each round runs the Arrow-batched numpy
    encoder (:func:`pq_encode_np` — the interpreted Column assign
    measured 100x slower and dominated training) followed by one
    per-(sub, code) coordinate-mean aggregate.  Training cost is
    linear; the result is m·k·(dim/m) = k·dim doubles, collected
    driver-side by design: like the IVF codebook, it embeds in serving
    plans as literals, so encode/search are map-only."""
    d = dim // m
    # normalize=False trains on the vectors AS GIVEN — the residual
    # path (IVFPQ) must not re-normalize residuals, whose magnitude IS
    # the information being quantized.
    vec = _l2_normalize(F.col("vec")) if normalize else F.col("vec")
    nv = emb.select("vec_id", vec.alias("vec"))

    def centroids(with_codes: DataFrame) -> dict[tuple[int, int], list[float]]:
        rows = (
            with_codes.select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(s).alias("sub"),
                                F.element_at("codes", s + 1).alias("code"),
                                F.slice("vec", s * d + 1, d).alias("subvec"),
                            )
                            for s in range(m)
                        ]
                    )
                ).alias("sv")
            )
            .select("sv.sub", "sv.code", F.posexplode("sv.subvec").alias("pos", "x"))
            .groupBy("sub", "code", "pos")
            .agg(F.avg("x").alias("mu"))
            .groupBy("sub", "code")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "mu"))).alias("pm"))
            .select("sub", "code", F.transform("pm", lambda s: s["mu"]).alias("c"))
            .collect()
        )
        return {(r["sub"], r["code"]): r["c"] for r in rows}

    seed = nv.withColumn(
        "codes", F.array(*([((F.col("vec_id") % k)).cast("int")] * m))
    )
    cb = centroids(seed)
    for _ in range(train_iters):
        # normalize flows through: the default path re-normalizes unit
        # vectors (bit-identical to the pinned recall numbers); the
        # residual path must not.
        codes = pq_encode_np(nv, cb, m, k, dim, normalize=normalize)
        with_codes = nv.join(codes, "vec_id")
        cb = {**cb, **centroids(with_codes)}  # empty codes keep old centroid
    return cb


def pq_adc_topk(
    emb: DataFrame,
    cb: dict[tuple[int, int], list[float]],
    n_queries: int = 10,
    topk: int = 5,
    m: int = 8,
    k: int = 16,
    dim: int = 64,
    rerank_oversample: int | None = None,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: per query, a [m][k]
    table of subspace distances to every centroid embeds as literals;
    a corpus vector's approximate distance is the sum of m table
    lookups on its codes — NO float vectors are read at query time.

    On L2-normalized vectors, squared L2 order ≡ descending-cosine
    order (||a−b||² = 2 − 2·cos), so results rank like the exact
    cosine kNN and recall is measured against it (pq_recall).  Query
    cost: |corpus| × m element_at lookups + a per-query top-k window
    over the broadcast-small candidate stream.

    Codes come from :func:`pq_encode_np` — the SAME encoder
    :func:`pq_codebooks` trains with — so train and serve can never
    disagree on a near-tie centroid assignment.
    """
    d = dim // m
    queries = [
        (r["vec_id"], r["vec"])
        for r in emb.where(F.col("vec_id") < n_queries)
        .select("vec_id", _l2_normalize(F.col("vec")).alias("vec"))
        .collect()
    ]
    codes = pq_encode_np(emb, cb, m, k, dim)

    def table_for(qvec: list[float]) -> list[list[float]]:
        return [
            [
                float(
                    sum(
                        (qvec[s * d + j] - cb[(s, c)][j]) ** 2
                        for j in range(d)
                    )
                )
                for c in range(k)
            ]
            for s in range(m)
        ]

    # queries·m·k literals (5,120 at defaults): built from ONE SQL
    # parse — the F.lit spelling measured ~30 s of py4j driver time
    # per call (r13; see lit_double_arrays)
    tables = lit_double_arrays([table_for(qv) for _, qv in queries])
    qids = F.array(*[F.lit(int(qid)) for qid, _ in queries])
    expanded = codes.select(
        F.col("vec_id").alias("neighbor_id"),
        "codes",
        F.explode(F.sequence(F.lit(0), F.lit(len(queries) - 1))).alias("qi"),
    )
    table = F.element_at(tables, F.col("qi") + 1)
    dist = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, s: acc
        + F.element_at(
            F.element_at(table, s + 1), F.element_at(F.col("codes"), s + 1) + 1
        ),
    )
    scored = expanded.select(
        F.element_at(qids, F.col("qi") + 1).alias("query_id"),
        "neighbor_id",
        F.round(dist, 6).alias("adc_dist"),
    ).where(F.col("query_id") != F.col("neighbor_id"))
    w = W.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    ranked = scored.select(
        "query_id", "neighbor_id", "adc_dist", F.row_number().over(w).alias("rank")
    )
    if rerank_oversample is None:
        return ranked.where(F.col("rank") <= topk)
    # Shortlist-then-rerank (the standard production PQ deployment):
    # ADC picks topk*oversample candidates in the compressed domain;
    # only THOSE rows' raw vectors are fetched for an exact cosine
    # re-rank — the full corpus is still scanned codes-only.
    shortlist = ranked.where(F.col("rank") <= topk * rerank_oversample).select(
        "query_id", "neighbor_id"
    )
    return _rerank_exact(shortlist, emb, queries, topk)


def pq_recall(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 10,
    topk: int = 5,
    m: int = 16,
    k: int = 32,
    min_recall: float = 0.85,
) -> DataFrame:
    """Recall@k of PQ-ADC search vs exact cosine kNN, pinned
    in-registry like knn_ivf_recall: the declared query RAISES if
    recall falls below ``min_recall``, so a driver run turns red on
    ANN-quality regression (rows-only — the compressed-domain ranking
    is approximate by construction).  Measured at sf0.01 (random
    unstructured vectors — ANN's hardest case): recall@5 0.96 with
    m=16/k=32/2 Lloyd rounds/8x rerank at 32x compression (16 B codes
    vs 512 B floats); pinned at 0.85 for margin (see
    :func:`opq_recall` for the 8 B/vec learned-rotation tier)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    exact = knn_cosine_df(emb, n_queries, topk).select("query_id", "neighbor_id")
    n_exact = exact.count()  # true denominator on tiny corpora
    if n_exact == 0:
        raise AssertionError(
            "pq_recall: exact kNN returned 0 neighbor pairs — corpus too "
            "small to measure recall (need >= 2 vectors)"
        )
    cb = pq_codebooks(emb, m, k, train_iters=2)
    approx = pq_adc_topk(emb, cb, n_queries, topk, m, k, rerank_oversample=8)
    hits = exact.join(
        approx.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]
    ).count()
    recall = round(hits / n_exact, 6)
    if recall < min_recall:
        raise AssertionError(f"PQ recall@{topk} is {recall} < pinned {min_recall}")
    bytes_raw = 64 * 8
    bytes_pq = m
    return spark.createDataFrame(
        [(recall, bytes_raw, bytes_pq)],
        "recall double, bytes_per_vec_raw int, bytes_per_vec_pq int",
    )


def pq_encode_np(
    emb: DataFrame,
    cb: dict[tuple[int, int], list[float]],
    m: int = 16,
    k: int = 32,
    dim: int = 64,
    normalize: bool = True,
) -> DataFrame:
    """Arrow-batched numpy PQ encode: (vec_id, codes array<int> of
    length m), each code the nearest subspace centroid (first minimum
    on ties).

    A Column spelling would evaluate m·k interpreted sequential folds
    per row — ~10^9 interpreted ops at 1M vectors — while this kernel
    does the same math as three numpy einsum/argmin calls per Arrow
    batch (measured >100x).  Encoding stays embarrassingly parallel
    and shuffle-free; the codebook ships once per task inside the
    closure (k·dim doubles).  Train (:func:`pq_codebooks`) and serve
    (:func:`pq_adc_topk`, :func:`opq_adc_topk`) both assign codes
    with THIS encoder, so they never disagree on a near-tie centroid.
    """
    import numpy as np

    d = dim // m
    C = np.array(
        [[cb[(s, c)] for c in range(k)] for s in range(m)], dtype=np.float64
    )  # (m, k, d)

    def kern(batches):
        import pandas as pd

        for pdf in batches:
            V = np.stack(pdf["vec"].to_numpy())  # (n, dim)
            if normalize:
                V = V / np.linalg.norm(V, axis=1, keepdims=True)
            S = V.reshape(V.shape[0], m, d)  # (n, m, d)
            # ||s-c||^2 = ||s||^2 - 2 s·c + ||c||^2 ; ||s||^2 constant per
            # (row, sub) so argmin needs only the last two terms
            cross = np.einsum("nmd,mkd->nmk", S, C)
            cn = np.einsum("mkd,mkd->mk", C, C)  # (m, k)
            codes = np.argmin(cn[None, :, :] - 2.0 * cross, axis=2)  # (n, m)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy(), "codes": list(codes.astype("int32"))}
            )

    return emb.mapInPandas(kern, "vec_id bigint, codes array<int>")


def pq_adc_scores_np(
    codes: DataFrame,
    cb: dict[tuple[int, int], list[float]],
    queries: list[tuple[int, list[float]]],
    m: int = 16,
    k: int = 32,
    dim: int = 64,
) -> DataFrame:
    """Arrow-batched ADC scoring: per batch, the (n, m) code matrix is
    scored against every query's (m, k) distance table with m fancy-
    index accumulations — no per-row interpretation.  Output is the
    long-form (query_id, neighbor_id, adc_dist) candidate stream the
    top-k window consumes."""
    import numpy as np

    d = dim // m
    C = np.array(
        [[cb[(s, c)] for c in range(k)] for s in range(m)], dtype=np.float64
    )
    Q = np.stack([np.asarray(qv, dtype=np.float64) for _, qv in queries])  # (q, dim)
    QS = Q.reshape(Q.shape[0], m, d)
    # tables[q, s, c] = ||q_s - C_sc||^2
    tables = ((QS[:, :, None, :] - C[None, :, :, :]) ** 2).sum(axis=3)
    qids = np.array([qid for qid, _ in queries], dtype=np.int64)

    def kern(batches):
        import pandas as pd

        for pdf in batches:
            Cd = np.stack(pdf["codes"].to_numpy()).astype(np.int64)  # (n, m)
            n = Cd.shape[0]
            D = np.zeros((len(qids), n), dtype=np.float64)
            for s in range(m):
                D += tables[:, s, :][:, Cd[:, s]]  # (q, n)
            nid = pdf["vec_id"].to_numpy()
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qids, n),
                    "neighbor_id": np.tile(nid, len(qids)),
                    "adc_dist": np.round(D.reshape(-1), 6),
                }
            )

    return codes.mapInPandas(
        kern, "query_id bigint, neighbor_id bigint, adc_dist double"
    )


# ---------------------------------------------------------------------------
# OPQ: Optimized Product Quantization — learned rotation before PQ.
# ---------------------------------------------------------------------------


def rotate_vectors(nv: DataFrame, R) -> DataFrame:
    """Apply an orthonormal rotation to every vector: one (batch, dim)
    × (dim, dim) numpy matmul per Arrow batch — map-only, fuses into
    the scan; the rotation matrix ships once per task inside the
    closure (dim² doubles ≈ 32 KB at dim=64).  Rotation preserves
    norms, so unit vectors stay unit."""
    import numpy as np

    Rm = np.asarray(R, dtype=np.float64)

    def kern(batches):
        import pandas as pd

        for pdf in batches:
            V = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
            out = V @ Rm
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy(), "vec": list(out)}
            )

    return nv.mapInPandas(kern, "vec_id bigint, vec array<double>")


def opq_train(
    emb: DataFrame,
    m: int = 8,
    k: int = 32,
    dim: int = 64,
    opq_iters: int = 4,
    train_iters: int = 2,
    normalize: bool = True,
):
    """Train OPQ (Ge et al., "Optimized Product Quantization", CVPR
    2013 / TPAMI 2014 — public method): an orthonormal rotation R and
    per-subspace codebooks minimizing ||X·R − Q(X·R)||², by
    alternating (a) PQ codebook training on the rotated corpus with
    (b) the orthogonal-Procrustes solve R = U·Vᵀ of the SVD of
    M = Xᵀ·Y, where Y is the reconstruction of the encoded rotated
    vectors.  Returns (R as dim×dim nested list, codebooks dict).

    Why it matters: plain PQ quantizes fixed coordinate slices; when a
    corpus's variance isn't aligned with those slices (every real
    embedding model), a rotation that balances energy across subspaces
    cuts quantization error at the SAME code budget — measured on the
    sf0.01 fixture recall@5 at 8 B/vec (m=8, 64× compression) rises
    0.74 → 0.90 (q_knn_opq_recall pins it).

    Scale shape: each iteration is (1) a map-only rotation fused into
    the corpus scan, (2) the linear-cost PQ trainer, and (3) ONE
    distributed pass accumulating the dim×dim cross matrix M as
    per-Arrow-batch partial sums (dim² doubles per partition collected
    driver-side — 32 KB each); the SVD is a driver-side dim×dim
    O(dim³) solve, microseconds at embedding dims.  Nothing here is
    quadratic in corpus size and no step shuffles the corpus.
    """
    import numpy as np

    nv = (
        emb.select("vec_id", _l2_normalize(F.col("vec")).alias("vec"))
        if normalize
        else emb.select("vec_id", "vec")
    )
    # ~24 jobs below (4 alternations × rotate/encode/centroid/cross
    # passes) all consume nv — materialize it ONCE so every pass reads
    # the normalized corpus from local blocks instead of re-running
    # the scan + normalize lineage (r12, guide §1.2; at 100 TB this is
    # 1 corpus scan instead of ~24).  Same floats — the checkpoint
    # stores exactly what the lineage computed.
    nv = nv.localCheckpoint(eager=True)
    R = np.eye(dim)
    cb = None
    for _ in range(opq_iters):
        # materialize the rotated corpus ONCE per alternation (r13,
        # guide §5.2 "fold rotate+encode passes"): pq_codebooks consumes
        # it in 1 + 2·train_iters scan-shaped jobs, each of which used
        # to re-run the rotation mapInPandas over the full training set
        # — the checkpoint makes them block reads.  Lazy, so the first
        # consumer materializes it (no standalone job); same floats —
        # the checkpoint stores exactly what the lineage computed.
        # State is training-sample-sized (the production entry points
        # train on a bounded sample), not corpus-sized.
        rot = rotate_vectors(nv, R).localCheckpoint(eager=False)
        cb = pq_codebooks(rot, m, k, dim, train_iters, normalize=normalize)
        C = np.array(
            [[cb[(s, c)] for c in range(k)] for s in range(m)], dtype=np.float64
        )
        Rm = R.copy()
        d = dim // m

        def kern(batches):
            import pandas as pd

            for pdf in batches:
                V = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
                Xr = V @ Rm
                S = Xr.reshape(V.shape[0], m, d)
                cross = np.einsum("nmd,mkd->nmk", S, C)
                cn = np.einsum("mkd,mkd->mk", C, C)
                codes = np.argmin(cn[None, :, :] - 2.0 * cross, axis=2)
                Y = np.concatenate(
                    [C[s][codes[:, s]] for s in range(m)], axis=1
                )  # (n, dim) reconstruction of the rotated vectors
                partial = V.T @ Y  # (dim, dim)
                yield pd.DataFrame({"mflat": [partial.ravel()]})

        parts = nv.mapInPandas(kern, "mflat array<double>").collect()
        M = np.sum([np.asarray(r.mflat) for r in parts], axis=0).reshape(dim, dim)
        U, _, Vt = np.linalg.svd(M)
        R = U @ Vt
    rot = rotate_vectors(nv, R).localCheckpoint(eager=False)
    cb = pq_codebooks(rot, m, k, dim, train_iters, normalize=normalize)
    return [[float(x) for x in row] for row in R], cb


def opq_adc_topk(
    emb: DataFrame,
    R,
    cb: dict[tuple[int, int], list[float]],
    n_queries: int = 10,
    topk: int = 5,
    m: int = 8,
    k: int = 32,
    dim: int = 64,
    rerank_oversample: int = 8,
    codes: DataFrame | None = None,
) -> DataFrame:
    """OPQ serving: rotate queries driver-side (dim×dim matmul on ≤
    n_queries vectors), score the ROTATED corpus codes with the numpy
    ADC kernel, exact-cosine re-rank the shortlist on the ORIGINAL
    vectors (cosine is rotation-invariant, so the re-rank needs no R).
    Pass precomputed ``codes`` for the production lifecycle — encode
    the rotated corpus once when it lands, store m bytes/vec, query
    many times."""
    import numpy as np

    Rm = np.asarray(R, dtype=np.float64)
    nv = emb.select("vec_id", _l2_normalize(F.col("vec")).alias("vec"))
    raw_queries = [
        (r["vec_id"], r["vec"])
        for r in nv.where(F.col("vec_id") < n_queries).collect()
    ]
    rot_queries = [
        (qid, list(np.asarray(qv, dtype=np.float64) @ Rm)) for qid, qv in raw_queries
    ]
    if codes is None:
        from pyspark.storagelevel import StorageLevel

        codes = pq_encode_np(rotate_vectors(nv, Rm), cb, m, k, dim).localCheckpoint(
            eager=True, storageLevel=StorageLevel.DISK_ONLY
        )
    scored = pq_adc_scores_np(codes, cb, rot_queries, m, k, dim).where(
        F.col("query_id") != F.col("neighbor_id")
    )
    w = W.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    shortlist = (
        scored.select(
            "query_id", "neighbor_id", F.row_number().over(w).alias("rank")
        )
        .where(F.col("rank") <= topk * rerank_oversample)
        .select("query_id", "neighbor_id")
    )
    return _rerank_exact(shortlist, emb, raw_queries, topk)


def opq_recall(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 10,
    topk: int = 5,
    m: int = 8,
    k: int = 32,
    min_recall: float = 0.8,
) -> DataFrame:
    """Recall@k of OPQ vs exact cosine kNN at 8 B/vec (64×
    compression), with plain PQ at the SAME budget as the comparison
    row — the declared query RAISES below ``min_recall``, pinning
    OPQ's quality in-registry like q_knn_pq_recall.  Measured at
    sf0.01 (isotropic random vectors — rotation's WORST case):
    recall@5 0.90 for OPQ m=8 vs 0.74 for plain PQ m=8; pinned at 0.8
    for margin."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    exact = knn_cosine_df(emb, n_queries, topk).select("query_id", "neighbor_id")
    n_exact = exact.count()
    if n_exact == 0:
        raise AssertionError(
            "opq_recall: exact kNN returned 0 neighbor pairs — corpus too "
            "small to measure recall (need >= 2 vectors)"
        )
    R, cb = opq_train(emb, m, k, train_iters=2)
    approx = opq_adc_topk(emb, R, cb, n_queries, topk, m, k, rerank_oversample=8)
    hits_opq = exact.join(
        approx.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]
    ).count()
    recall_opq = round(hits_opq / n_exact, 6)
    cb_pq = pq_codebooks(emb, m, k, train_iters=2)
    plain = pq_adc_topk(emb, cb_pq, n_queries, topk, m, k, rerank_oversample=8)
    hits_pq = exact.join(
        plain.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]
    ).count()
    recall_pq = round(hits_pq / n_exact, 6)
    if recall_opq < min_recall:
        raise AssertionError(
            f"OPQ recall@{topk} is {recall_opq} < pinned {min_recall}"
        )
    return spark.createDataFrame(
        [(recall_opq, recall_pq, m, 64 * 8, m)],
        "recall_opq double, recall_pq double, bytes_per_vec int,"
        " bytes_per_vec_raw int, m int",
    )


# ---------------------------------------------------------------------------
# IVFPQ (IVFADC): coarse inverted lists + PQ on the RESIDUALS.
# ---------------------------------------------------------------------------


def ivfpq_build(
    emb: DataFrame,
    n_buckets: int = 8,
    m: int = 8,
    k: int = 32,
    dim: int = 64,
    train_iters: int = 1,
    train_sample_n: int | None = None,
):
    """Build the IVFADC index (Jégou et al. 2011 §IV — the FAISS IVFPQ
    architecture, public method): assign each vector to its nearest
    coarse centroid (the inverted list), then PQ-encode the RESIDUAL
    x − c(x) — residual magnitudes carry the fine detail the coarse
    quantizer discarded, so the same code budget quantizes a much
    smaller-variance distribution than raw PQ.

    Returns (coarse codebook dict, residual PQ codebooks dict, codes
    DataFrame (vec_id, bucket, codes array<int>)) — the codes relation
    is the stored artifact (m bytes + a bucket id per vector).

    Scale shape: coarse assign is the map-only argmax literal plan
    (:func:`_assign_to_codebook`); residual subtraction is a map-only
    zip_with against centroid literals; PQ training/encode are the
    linear Arrow paths.  Nothing shuffles the corpus beyond the
    existing codebook aggregates."""
    # everything downstream lives in the normalized space (cosine), so
    # the coarse codebook trains on normalized vectors too.
    # train_sample_n caps BOTH codebook trainings to the first N
    # vectors (the production lifecycle: train on a sample, encode the
    # full corpus — codebook quality saturates long before corpus size)
    nv = emb.select("vec_id", _l2_normalize(F.col("vec")).alias("vec"))
    tr = nv if train_sample_n is None else nv.where(F.col("vec_id") < train_sample_n)
    coarse = ivf_codebook(tr, n_buckets, train_iters)
    assigned = _assign_to_codebook(nv, coarse)
    cents = lit_double_arrays([coarse[b] for b in sorted(coarse)])
    resid = assigned.select(
        "vec_id",
        "bucket",
        F.zip_with(
            "vec", F.element_at(cents, F.col("bucket") + 1), lambda a, b: a - b
        ).alias("vec"),
    )
    resid_tr = (
        resid
        if train_sample_n is None
        else resid.where(F.col("vec_id") < train_sample_n)
    )
    cb = pq_codebooks(resid_tr, m, k, dim, train_iters, normalize=False)
    codes = pq_encode_np(resid, cb, m, k, dim, normalize=False).join(
        resid.select("vec_id", "bucket"), "vec_id"
    )
    return coarse, cb, codes


def ivfpq_opq_build(
    emb: DataFrame,
    n_buckets: int = 8,
    m: int = 8,
    k: int = 32,
    dim: int = 64,
    opq_iters: int = 4,
    train_iters: int = 1,
    train_sample_n: int | None = None,
):
    """The full FAISS ``OPQ..,IVF..,PQ..`` chain: coarse inverted lists
    as in :func:`ivfpq_build`, but the RESIDUALS pass through an OPQ
    learned rotation before PQ encoding — the rotation re-balances the
    residual energy across subspaces, recovering quantization accuracy
    the fixed coordinate slicing loses.  Returns (coarse codebook, R,
    residual PQ codebooks, codes DataFrame).

    Scale shape: identical to ivfpq_build plus the opq_train loop —
    per iteration one map-only rotate + linear PQ train + one
    dim×dim partial-sum pass; the rotation itself fuses into the
    encode scan.  The codes artifact is the same m bytes + bucket id
    per vector."""
    nv = emb.select("vec_id", _l2_normalize(F.col("vec")).alias("vec"))
    tr = nv if train_sample_n is None else nv.where(F.col("vec_id") < train_sample_n)
    coarse = ivf_codebook(tr, n_buckets, train_iters)
    assigned = _assign_to_codebook(nv, coarse)
    cents = lit_double_arrays([coarse[b] for b in sorted(coarse)])
    resid = assigned.select(
        "vec_id",
        "bucket",
        F.zip_with(
            "vec", F.element_at(cents, F.col("bucket") + 1), lambda a, b: a - b
        ).alias("vec"),
    )
    resid_tr = (
        resid
        if train_sample_n is None
        else resid.where(F.col("vec_id") < train_sample_n)
    )
    R, cb = opq_train(
        resid_tr, m, k, dim, opq_iters, train_iters, normalize=False
    )
    codes = pq_encode_np(
        rotate_vectors(resid.select("vec_id", "vec"), R), cb, m, k, dim,
        normalize=False,
    ).join(resid.select("vec_id", "bucket"), "vec_id")
    return coarse, R, cb, codes


def ivfpq_topk(
    emb: DataFrame,
    coarse: dict[int, list[float]],
    cb: dict[tuple[int, int], list[float]],
    codes: DataFrame,
    n_queries: int = 10,
    topk: int = 5,
    m: int = 8,
    k: int = 32,
    dim: int = 64,
    nprobe: int = 2,
    rerank_oversample: int = 8,
    R=None,
    queries: DataFrame | None = None,
) -> DataFrame:
    """IVFADC search: per query, rank coarse centroids by dot product,
    probe the top ``nprobe`` inverted lists, and ADC-score ONLY their
    members — candidate cost is ~nprobe/n_buckets of the corpus, the
    pruning raw PQ lacks.  The residual distance table is per
    (query, probed bucket) (q − c_b against the shared residual
    codebooks); tables ride the kernel closure (n_queries · nprobe ·
    m · k doubles).  Exact cosine re-rank of the shortlist on the raw
    vectors finishes, as in every pq/opq path.  Pass the OPQ rotation
    ``R`` from :func:`ivfpq_opq_build` to search rotated-residual
    codes: only the per-query residuals rotate (a dim×dim matmul per
    probed bucket, driver-side) — the kernel and the plan shape are
    unchanged."""
    import numpy as np

    Rm = None if R is None else np.asarray(R, dtype=np.float64)
    nv = emb.select("vec_id", _l2_normalize(F.col("vec")).alias("vec"))
    # explicit query set (the drift monitor probes with recent-stream
    # queries whose ids are not a corpus prefix); default: prefix rule
    qsrc = (
        queries.select("vec_id", _l2_normalize(F.col("vec")).alias("vec"))
        if queries is not None
        else nv.where(F.col("vec_id") < n_queries)
    )
    raw_queries = [(r["vec_id"], r["vec"]) for r in qsrc.collect()]
    d = dim // m
    C = np.array(
        [[cb[(s, c)] for c in range(k)] for s in range(m)], dtype=np.float64
    )
    cents = np.array([coarse[b] for b in sorted(coarse)], dtype=np.float64)
    tables: dict[tuple[int, int], "np.ndarray"] = {}
    probe_buckets: dict[int, list[int]] = {}
    for qid, qv in raw_queries:
        q = np.asarray(qv, dtype=np.float64)
        # stable sort so exact affinity ties deterministically pick the
        # lowest bucket id (default quicksort would not guarantee it)
        order = np.argsort(-(cents @ q), kind="stable")
        probes = [int(b) for b in order[:nprobe]]
        probe_buckets[qid] = probes
        for b in probes:
            rq = q - cents[b]
            if Rm is not None:
                rq = rq @ Rm
            rq = rq.reshape(m, d)
            tables[(qid, b)] = ((rq[:, None, :] - C) ** 2).sum(axis=2)

    def kern(batches):
        import pandas as pd

        for pdf in batches:
            Cd = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
            bk = pdf["bucket"].to_numpy()
            nid = pdf["vec_id"].to_numpy()
            out_q, out_n, out_d = [], [], []
            for (qid, b), tab in tables.items():
                sel = np.where(bk == b)[0]
                if not len(sel):
                    continue
                Dm = np.zeros(len(sel))
                for s in range(m):
                    Dm += tab[s][Cd[sel, s]]
                out_q.append(np.full(len(sel), qid, dtype=np.int64))
                out_n.append(nid[sel])
                out_d.append(np.round(Dm, 6))
            if not out_q:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "adc_dist": np.concatenate(out_d),
                }
            )

    # JVM-side bucket pre-filter: only rows of SOME probed list reach
    # the Python kernel (on a bucket-partitioned codes store this is
    # directory-level pruning, the same trick as the tile store) —
    # without it the kernel would scan every code row and prune in
    # Python, wasting the whole point of the inverted lists.
    probed_all = sorted({b for bs in probe_buckets.values() for b in bs})
    scored = (
        codes.where(F.col("bucket").isin(probed_all))
        .mapInPandas(kern, "query_id bigint, neighbor_id bigint, adc_dist double")
        .where(F.col("query_id") != F.col("neighbor_id"))
    )
    w = W.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    shortlist = (
        scored.select(
            "query_id", "neighbor_id", F.row_number().over(w).alias("rank")
        )
        .where(F.col("rank") <= topk * rerank_oversample)
        .select("query_id", "neighbor_id")
    )
    return _rerank_exact(shortlist, emb, raw_queries, topk)


def ivfpq_recall(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 10,
    topk: int = 5,
    n_buckets: int = 8,
    m: int = 8,
    k: int = 32,
    min_recall_full: float = 0.6,
) -> DataFrame:
    """Recall@k of IVFADC at the 8 B/vec budget, one row per probed
    depth (nprobe 1, half, all) with the candidate fraction scanned —
    the recall/cost dial of the production index.  RAISES if full-probe
    recall (where only PQ error remains) falls below
    ``min_recall_full`` — measured 0.72 at sf0.01 on isotropic
    vectors (vs 0.74 plain PQ m=8: on unclusterable random data the
    residual gain roughly cancels the coarse-quantizer loss, while the
    candidate pruning remains; real embedding corpora cluster far
    better and shift both numbers up)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    exact = knn_cosine_df(emb, n_queries, topk).select("query_id", "neighbor_id")
    n_exact = exact.count()
    if n_exact == 0:
        raise AssertionError(
            "ivfpq_recall: exact kNN returned 0 neighbor pairs — corpus too "
            "small to measure recall (need >= 2 vectors)"
        )
    coarse, cb, codes = ivfpq_build(emb, n_buckets, m, k, train_iters=1)
    from pyspark.storagelevel import StorageLevel

    codes = codes.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    rows = []
    # dedupe probe depths (n_buckets == 2 would otherwise emit the
    # nprobe=2 row twice)
    for nprobe in sorted({1, max(2, n_buckets // 2), n_buckets}):
        approx = ivfpq_topk(
            emb, coarse, cb, codes, n_queries, topk, m, k, nprobe=nprobe
        )
        hits = exact.join(
            approx.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]
        ).count()
        rows.append(
            (nprobe, round(hits / n_exact, 6), round(nprobe / n_buckets, 6))
        )
    if rows[-1][1] < min_recall_full:
        raise AssertionError(
            f"IVFPQ full-probe recall@{topk} is {rows[-1][1]} < pinned "
            f"{min_recall_full}"
        )
    return spark.createDataFrame(
        rows, "nprobe int, recall double, candidate_frac double"
    )


def ivfpq_opq_recall(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 10,
    topk: int = 5,
    n_buckets: int = 8,
    m: int = 8,
    k: int = 32,
    min_recall_full: float = 0.75,
) -> DataFrame:
    """Recall@k of the composed OPQ+IVFPQ chain vs plain IVFPQ at the
    same 8 B/vec budget, one row per probe depth — the rotation's value
    measured where it matters, inside the inverted-list index.  RAISES
    if the full-probe composed recall falls below ``min_recall_full``
    (only PQ-on-rotated-residual error remains there).  Both arms use
    a 16× re-rank oversample — the shortlist is topk·16 rows per
    query re-ranked exactly, a cost independent of corpus size —
    giving 0.86 composed vs 0.80-ish plain at sf0.01 (0.84 at the
    sf0.001 smoke tier); pinned 0.75 with margin at both tiers."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    exact = knn_cosine_df(emb, n_queries, topk).select("query_id", "neighbor_id")
    n_exact = exact.count()
    if n_exact == 0:
        raise AssertionError(
            "ivfpq_opq_recall: exact kNN returned 0 neighbor pairs — corpus "
            "too small to measure recall (need >= 2 vectors)"
        )
    from pyspark.storagelevel import StorageLevel

    coarse_o, R, cb_o, codes_o = ivfpq_opq_build(
        emb, n_buckets, m, k, train_iters=1
    )
    codes_o = codes_o.localCheckpoint(
        eager=True, storageLevel=StorageLevel.DISK_ONLY
    )
    coarse_p, cb_p, codes_p = ivfpq_build(emb, n_buckets, m, k, train_iters=1)
    codes_p = codes_p.localCheckpoint(
        eager=True, storageLevel=StorageLevel.DISK_ONLY
    )

    def _recall(coarse, cb, codes, nprobe, R=None):
        approx = ivfpq_topk(
            emb, coarse, cb, codes, n_queries, topk, m, k, nprobe=nprobe,
            rerank_oversample=16, R=R,
        )
        hits = exact.join(
            approx.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]
        ).count()
        return round(hits / n_exact, 6)

    rows = []
    for nprobe in sorted({1, max(2, n_buckets // 2), n_buckets}):
        rows.append(
            (
                nprobe,
                _recall(coarse_o, cb_o, codes_o, nprobe, R=R),
                _recall(coarse_p, cb_p, codes_p, nprobe),
                round(nprobe / n_buckets, 6),
            )
        )
    if rows[-1][1] < min_recall_full:
        raise AssertionError(
            f"OPQ+IVFPQ full-probe recall@{topk} is {rows[-1][1]} < pinned "
            f"{min_recall_full}"
        )
    return spark.createDataFrame(
        rows,
        "nprobe int, recall_opq double, recall_plain double, candidate_frac double",
    )


# ---------------------------------------------------------------------------
# Diversity clustering: oracle-checkable k-means in integer fixed point
# ---------------------------------------------------------------------------


def _tdiv(s: int, n: int) -> int:
    """Integer division truncating toward zero — the semantics BOTH
    Spark's ``div`` and DuckDB's ``//`` use for integers (Python's
    ``//`` floors, which differs on negative sums)."""
    q = abs(s) // n
    return q if s >= 0 else -q


def kmeans_embeddings(
    spark: SparkSession, sf_dir: str, k: int = 8, iters: int = 2
) -> DataFrame:
    """Lloyd k-means over the embeddings table — the diversity-
    clustering primitive a pretraining pipeline uses to stratify a
    corpus before sampling (cluster then sample per cluster).

    An iterative float k-means is NOT cross-engine reproducible
    (centroid means reassociate differently per partitioning), so this
    runs entirely in integer fixed point and is value-hash
    oracle-checkable, iteration for iteration:

    * coordinates quantize once: q = floor(x · 1e9) (floor of the same
      double is exact everywhere);
    * centroids are exact integer sums followed by one truncating
      integer division (Spark ``div`` ≡ DuckDB ``//`` — both truncate
      toward zero);
    * distances are exact integer Σ(q − c)² in decimal(38,0) (a 64-dim
      squared diff can exceed int64), argmin ties broken toward the
      lowest cluster id;
    * seed assignment is vec_id % k; a cluster that empties keeps its
      previous centroid (mirrored by the oracle's COALESCE).

    Scale shape: per iteration ONE posexplode + groupBy(cluster, pos)
    shuffle of (k·dim) partial sums (map-side combined) and one
    map-only reassignment against the k×dim centroid literal —
    identical to the IVF codebook pattern; centroids (k·dim ints) are
    the only driver-side data.  Output: (vec_id, cluster,
    cluster_size).
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    q = emb.select(
        "vec_id",
        F.transform(
            "vec", lambda x: F.floor(x * F.lit(1000000000.0)).cast("long")
        ).alias("qv"),
    )
    assign = q.select(
        "vec_id", (F.col("vec_id") % k).cast("int").alias("cluster"), "qv"
    )
    # Pre-seed every centroid with the first min(k, n) vectors in
    # vec_id order (cycled when k > n): a cluster whose vec_id % k
    # residue class is UNPOPULATED at the first assignment (sparse
    # ids, or k > n) would otherwise hit a KeyError when the distance
    # expression reads cents[j].  Non-empty clusters overwrite their
    # seed before first use, so results are unchanged whenever every
    # cluster starts populated (dense fixture ids — the oracle's
    # COALESCE keeps-previous form needs no mirror).
    seeds = [list(r["qv"]) for r in q.orderBy("vec_id").limit(k).collect()]
    if not seeds:
        raise ValueError("kmeans_embeddings: embeddings table is empty")
    cents: dict[int, list[int]] = {c: seeds[c % len(seeds)] for c in range(k)}
    for _ in range(iters):
        rows = (
            assign.select("cluster", F.posexplode("qv").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        by_cl: dict[int, dict[int, tuple[int, int]]] = {}
        for r in rows:
            by_cl.setdefault(r["cluster"], {})[r["pos"]] = (int(r["s"]), int(r["n"]))
        for c in range(k):
            if c in by_cl:
                d = by_cl[c]
                cents[c] = [_tdiv(d[p][0], d[p][1]) for p in sorted(d)]
            # else: empty cluster keeps its previous centroid
        dists = F.array(
            *[
                F.aggregate(
                    F.zip_with(
                        "qv",
                        F.lit(cents[j]).cast("array<long>"),
                        lambda a, b: (a - b).cast("decimal(38,0)") * (a - b),
                    ),
                    F.lit(0).cast("decimal(38,0)"),
                    lambda acc, x: acc + x,
                )
                for j in range(k)
            ]
        )
        assign = q.select(
            "vec_id",
            (F.array_position(dists, F.array_min(dists)) - 1).cast("int").alias("cluster"),
            "qv",
        )
    wc = W.partitionBy("cluster")
    return assign.select(
        "vec_id",
        "cluster",
        F.count(F.lit(1)).over(wc).cast("bigint").alias("cluster_size"),
    )


def hybrid_rrf(
    spark: SparkSession,
    sf_dir: str,
    k: int = 20,
    depth: int = 100,
    rrf_k: int = 60,
    query_vec_id: int = 0,
) -> DataFrame:
    """Hybrid retrieval: BM25 sparse arm + dense cosine arm fused by
    Reciprocal Rank Fusion — score(d) = Σ_arms 1/(rrf_k + rank_arm(d)),
    the standard fusion for lexical+vector search (Cormack et al.,
    SIGIR'09).  A document absent from an arm's top-``depth`` list
    contributes 0 from that arm.

    Determinism across engines: each arm's rank is an integer
    row_number over a total order (rounded score DESC, doc_id ASC);
    the RRF contributions are double divisions of exact integers in
    FIXED arm order, rounded to 9 decimals.

    Scale shape: each arm reduces to its top-``depth`` via
    TakeOrderedAndProject (distributed per-partition heaps — the
    corpus is never globally sorted); the unpartitioned row_number
    windows and the full-outer fusion join run over ≤depth rows per
    arm, so the single-partition stages are bounded by a constant
    regardless of corpus size.  The dense arm broadcasts one query
    vector; the sparse arm touches only the postings of the query
    terms (see bm25_search).

    Reference: none — SURVEY.md §2.8 extension (training-data
    retrieval/curation: lexical+semantic candidate generation).
    """
    from heatmap_spark.operators.textops import bm25_search

    sparse = bm25_search(spark, sf_dir, k=depth)
    ws = W.orderBy(F.desc("bm25"), F.asc("doc_id"))
    sparse_r = sparse.select(
        "doc_id", F.row_number().over(ws).cast("int").alias("rank_sparse")
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    q = emb.where(F.col("vec_id") == query_vec_id).select(
        F.col("vec").alias("qvec"), norm_expr(F.col("vec")).alias("qn")
    )
    sim = F.round(
        dot_expr(F.col("vec"), F.col("qvec"))
        / (norm_expr(F.col("vec")) * F.col("qn")),
        6,
    )
    dense_top = (
        emb.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != query_vec_id)
        .select(F.col("vec_id").alias("doc_id"), sim.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("doc_id"))
        .limit(depth)
    )
    wd = W.orderBy(F.desc("cosine"), F.asc("doc_id"))
    dense_r = dense_top.select(
        "doc_id", F.row_number().over(wd).cast("int").alias("rank_dense")
    )

    fused = sparse_r.join(dense_r, "doc_id", "full_outer")
    arm = lambda rank_col: F.coalesce(  # noqa: E731
        F.lit(1.0) / (F.lit(float(rrf_k)) + F.col(rank_col)), F.lit(0.0)
    )
    rrf = F.round(arm("rank_sparse") + arm("rank_dense"), 9)
    return (
        fused.select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            "rank_sparse",
            "rank_dense",
            rrf.alias("rrf"),
        )
        .orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(k)
    )


def sq8_codes(emb: DataFrame) -> DataFrame:
    """Scalar-quantize unit-normalized vectors to int8: code_i =
    clamp(floor(127 * x_i / ||x||), -127, 127).  Map-only (no shuffle,
    no training pass — the scale is fixed by the unit normalization),
    64 B/vec at dim=64 vs 256 B float32: the cheap rung of the
    compression ladder below exact and above PQ/OPQ.  Every code is an
    exact integer, so downstream integer dot products are bit-portable
    across engines."""
    norm = norm_expr(F.col("vec"))
    code = F.transform(
        F.col("vec"),
        lambda x: F.greatest(
            F.lit(-127), F.least(F.lit(127), F.floor(x / norm * 127))
        ).cast("long"),
    )
    return emb.select("vec_id", code.alias("code"))


def knn_sq8(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 10,
    k: int = 5,
) -> DataFrame:
    """Top-k neighbors under symmetric SQ8: integer dot product of the
    int8 codes (exact bigint arithmetic — max |score| = 127²·dim ≈ 1M,
    so the ranking is deterministic and fully value-hashable, unlike
    float ADC).  Each row also reports whether the neighbor is in the
    exact-cosine top-k (the per-query overlap is SQ8's recall@k,
    pinned in tests).

    Scale shape: quantization is map-only; the n_queries codes are
    broadcast; scoring is one codegen'd fold per (corpus row, query);
    top-k via per-query row_number window — the corpus never shuffles.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    codes = sq8_codes(emb)
    queries = codes.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("code").alias("qcode")
    )
    score = F.aggregate(
        F.zip_with(F.col("qcode"), F.col("code"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        codes.crossJoin(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            score.alias("score_sq8"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score_sq8"), F.asc("neighbor_id"))
    top = scored.select(
        "query_id",
        "neighbor_id",
        "score_sq8",
        F.row_number().over(w).cast("int").alias("rank"),
    ).where(F.col("rank") <= k)
    exact = knn_cosine_df(emb, n_queries, k).select(
        "query_id", "neighbor_id", F.lit(True).alias("in_exact_topk")
    )
    return top.join(exact, ["query_id", "neighbor_id"], "left").select(
        "query_id",
        "neighbor_id",
        "score_sq8",
        "rank",
        F.coalesce("in_exact_topk", F.lit(False)).alias("in_exact_topk"),
    )


def bitext_margin_mining(
    spark: SparkSession,
    sf_dir: str,
    src_label: int = 0,
    tgt_label: int = 1,
    k: int = 4,
    threshold: float = 1.2,
) -> DataFrame:
    """Margin-based parallel-pair mining (Artetxe & Schwenk 2019, the
    LASER/CCMatrix criterion): for each source vector, score its
    cosine against every target-side vector, and accept the best
    target when the RATIO margin best / mean(top-k) clears the
    threshold — the absolute-cosine filter's hubness-robust
    replacement.  The embeddings table's label column stands in for
    the two language sides.

    Forward direction only (the production criterion intersects
    forward and backward passes — one more run with the labels
    swapped).  Emits EVERY source with its best target, margin, and
    the accept verdict, so the whole decision surface is value-hashed.

    Scale shape: identical to knn_cosine — the smaller side broadcasts,
    the corpus side streams through the codegen'd cosine fold, top-k
    via per-source window.  At 100 TB the candidate generation swaps
    to the IVF/IVFPQ ladder; the margin arithmetic is unchanged.

    Reference: none — SURVEY.md §2.8 extension (multilingual corpus
    mining).
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("vec")
    )
    src = emb.where(F.col("label") == src_label).select(
        F.col("vec_id").alias("src_id"),
        F.col("vec").alias("svec"),
        norm_expr(F.col("vec")).alias("sn"),
    )
    tgt = emb.where(F.col("label") == tgt_label).select(
        F.col("vec_id").alias("tgt_id"),
        F.col("vec").alias("tvec"),
        norm_expr(F.col("vec")).alias("tn"),
    )
    cos = F.round(
        dot_expr(F.col("svec"), F.col("tvec")) / (F.col("sn") * F.col("tn")), 6
    )
    scored = tgt.crossJoin(F.broadcast(src)).select(
        "src_id", "tgt_id", cos.alias("cosine")
    )
    w = W.partitionBy("src_id").orderBy(F.desc("cosine"), F.asc("tgt_id"))
    topk = scored.select(
        "src_id", "tgt_id", "cosine", F.row_number().over(w).alias("rn")
    ).where(F.col("rn") <= k)
    agg = topk.groupBy("src_id").agg(
        F.max(F.when(F.col("rn") == 1, F.col("tgt_id"))).alias("best_tgt"),
        F.max(F.when(F.col("rn") == 1, F.col("cosine"))).alias("best_cos"),
        F.sum("cosine").alias("sum_topk"),
        F.count(F.lit(1)).cast("int").alias("k_found"),
    )
    margin = F.round(
        F.col("best_cos") / (F.col("sum_topk") / F.col("k_found")), 6
    )
    return agg.select(
        "src_id",
        "best_tgt",
        "best_cos",
        margin.alias("margin"),
        (margin > threshold).alias("accepted"),
    )


def knn_sq8_rerank(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 10,
    k: int = 5,
    shortlist: int = 20,
) -> DataFrame:
    """Two-stage serving search: SQ8 integer scoring shortlists
    ``shortlist`` candidates per query (cheap compressed-domain pass),
    then EXACT cosine re-ranks the shortlist to the final top-``k`` —
    the standard quantized-index + rerank pattern (what production ANN
    serving does with stored SQ8/PQ codes + original vectors for the
    shortlist only).  Both stages are deterministic, so the final
    ranking value-hashes; each row also reports whether exact
    brute-force search agrees (the realized two-stage recall, ~1.0 at
    this shortlist depth — pinned in tests).

    Scale shape: stage 1 is knn_sq8's broadcast integer fold; stage 2
    touches shortlist·n_queries vectors only (an equi-join back to the
    corpus by id — the 'fetch originals for the shortlist' step).
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    codes = sq8_codes(emb)
    queries = codes.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("code").alias("qcode")
    )
    iscore = F.aggregate(
        F.zip_with(F.col("qcode"), F.col("code"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        codes.crossJoin(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), iscore.alias("s"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("s"), F.asc("neighbor_id"))
    short = scored.select(
        "query_id", "neighbor_id", F.row_number().over(w).alias("rn")
    ).where(F.col("rn") <= shortlist)

    nvec = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("vec").alias("nvec"),
        norm_expr(F.col("vec")).alias("nn"),
    )
    qvec = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        norm_expr(F.col("vec")).alias("qn"),
    )
    cos = F.round(
        dot_expr(F.col("qvec"), F.col("nvec")) / (F.col("qn") * F.col("nn")), 6
    )
    rer = (
        short.join(nvec, "neighbor_id")
        .join(F.broadcast(qvec), "query_id")
        .select("query_id", "neighbor_id", cos.alias("cosine"))
    )
    w2 = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    top = rer.select(
        "query_id",
        "neighbor_id",
        "cosine",
        F.row_number().over(w2).cast("int").alias("rank"),
    ).where(F.col("rank") <= k)
    exact = knn_cosine_df(emb, n_queries, k).select(
        "query_id", "neighbor_id", F.lit(True).alias("in_exact_topk")
    )
    return top.join(exact, ["query_id", "neighbor_id"], "left").select(
        "query_id",
        "neighbor_id",
        "cosine",
        "rank",
        F.coalesce("in_exact_topk", F.lit(False)).alias("in_exact_topk"),
    )


# ---------------------------------------------------------------------------
# Graph ANN: NN-Descent construction + greedy beam search — the
# distributed analogue of HNSW (reference portfolio absentee per
# VERDICT r8 item 8).  HNSW itself is a sequential insert algorithm
# over a mutable multi-layer graph; the Spark-native equivalent is
# (a) BUILD a flat neighborhood graph with NN-Descent [Dong et al.,
# WWW'11] — "a good neighbor of a good neighbor is likely a good
# neighbor" — where every iteration is two keyed joins + one top-K
# aggregate (no all-pairs work, candidate count ~ N·K² per round),
# and (b) SEARCH by broadcast beam traversal: the frontier is
# n_queries×beam rows, so every hop broadcasts the frontier into a
# keyed lookup of the (bucketable) edge list and the corpus — the
# 100 TB shape is "ship the tiny frontier to the data", never a
# corpus shuffle.
# ---------------------------------------------------------------------------


def adaptive_beam(n: int, floor: int = 16) -> int:
    """Default search beam as a function of corpus size: ~2·log2(N),
    never below ``floor``.  The 20k/50k/100k clustered probes showed a
    FIXED beam 16 decaying 0.94→0.66 in recall@5 while beam 32
    restored 0.94 at 100k — the classic HNSW ef-vs-N relationship
    (greedy search path length grows ~log N, so the candidate pool
    must too).  2·log2(N) gives 29/31/33 at those sizes (probe-held
    recall without retuning) and stays at the floor for fixture-sized
    corpora, so registry pins are unchanged.  Callers can still pass
    an explicit beam — this is only the ``beam=None`` default."""
    import math

    return max(floor, int(round(2 * math.log2(max(2, n)))))


def _score_edges(edges: DataFrame, emb: DataFrame) -> DataFrame:
    """Attach round-6 cosine to (src, dst) id pairs via two keyed
    joins against the corpus (norms carried once per side; a
    precomputed ``nrm`` column — e.g. the graph store's vector log —
    is reused instead of re-deriving the same double)."""
    if "nrm" not in emb.columns:
        emb = emb.withColumn("nrm", norm_expr(F.col("vec")))
    s = emb.select(
        F.col("vec_id").alias("src"),
        F.col("vec").alias("svec"),
        F.col("nrm").alias("sn"),
    )
    d = emb.select(
        F.col("vec_id").alias("dst"),
        F.col("vec").alias("dvec"),
        F.col("nrm").alias("dn"),
    )
    cos = F.round(
        dot_expr(F.col("svec"), F.col("dvec")) / (F.col("sn") * F.col("dn")), 6
    )
    return edges.join(s, "src").join(d, "dst").select(
        "src", "dst", cos.alias("sim")
    )


def _top_degree(scored: DataFrame, degree: int) -> DataFrame:
    w = W.partitionBy("src").orderBy(F.desc("sim"), F.asc("dst"))
    return scored.select(
        "src", "dst", "sim", F.row_number().over(w).alias("rn")
    ).where(F.col("rn") <= degree).drop("rn")


def _seed_edges(emb: DataFrame, degree: int) -> DataFrame:
    """Deterministic RANDOM seed graph with no id-contiguity
    assumption: two independent murmur3 bucketings at ~degree/2+1
    members per bucket; every bucket contributes its clique.  One
    bucketing alone is useless — a union of disjoint cliques is CLOSED
    under 2-hop composition, so NN-Descent could never leave its seed
    component; two overlapping clique sets form a connected random
    graph (each vertex bridges its two buckets).  The same lesson as
    the earlier stride-ring bug: any seed whose reachability is
    correlated with id arithmetic silently walls off id-correlated
    structure (measured 0.00 edge-recall at 20k clustered vectors).
    Plan shape: two hash-keyed self-joins, no windows, no contiguous
    ids — works unchanged on arbitrary (hashed, sampled) id sets."""
    m = emb.count()
    per = max(2, degree // 2 + 1)
    n_buckets = max(1, m // per)
    out = None
    for salt in (1, 2):
        b = F.pmod(F.hash(F.col("vec_id"), F.lit(salt)), F.lit(n_buckets))
        side = emb.select(F.col("vec_id"), b.alias("b"))
        e = (
            side.select(F.col("vec_id").alias("src"), "b")
            .join(side.select(F.col("vec_id").alias("dst"), "b"), "b")
            .select("src", "dst")
            .where(F.col("src") != F.col("dst"))
        )
        out = e if out is None else out.union(e)
    return out.distinct()


def nn_descent_graph(
    emb: DataFrame,
    degree: int = 12,
    iters: int = 4,
    long_links: int = 4,
) -> DataFrame:
    """Approximate kNN GRAPH via NN-Descent: seed every vector with
    ~``degree`` deterministic pseudo-random neighbors (murmur3 bucket
    cliques — no RNG, so builds are reproducible), then ``iters``
    rounds of neighbor-of-neighbor exploration: candidates are the
    current graph's 2-hop pairs in BOTH edge directions, scored and
    reduced to the best ``degree`` per vertex.  Per round: one
    self-join of the edge list (keyed on the shared middle vertex),
    two corpus joins to score, one windowed top-K — candidate volume
    ~ N·degree², never N².  localCheckpoint between rounds keeps the
    iterative plan bounded (same idiom as the pyramid cascade).  The
    checkpoints stay EAGER deliberately: each round's result is
    referenced 3× by the next round's plan (two und directions + the
    union), and a LAZY checkpoint lets AQE's concurrently-materialized
    stages compute the same not-yet-persisted RDD 2-3 times in
    parallel — measured r13: the lazy spelling was ~20% SLOWER
    end-to-end on the graph-store stream despite fewer driver jobs
    (49.5 s vs 40.8 s, jobs 216 vs 241).  Returns (src, dst, sim)
    with ≤ degree near edges per src plus up to ``long_links``
    retained random long edges (see below)."""
    init = _seed_edges(emb, degree)
    # ``long_links`` of the seed edges are KEPT in the final graph
    # (re-scored, deduped): a pure kNN graph over clustered data is a
    # set of disconnected near-cliques — greedy search can never cross
    # clusters (measured: 0.97 edge-recall yet 0.08 search recall at
    # 20k clustered vectors).  Deterministic random long edges are the
    # navigable-small-world ingredient (Kleinberg; HNSW keeps them via
    # its insertion heuristic) that makes the graph an expander.
    keep_long = None
    if long_links:
        wl = W.partitionBy("src").orderBy(F.hash("src", "dst"), F.asc("dst"))
        keep_long = (
            init.select("src", "dst", F.row_number().over(wl).alias("rn"))
            .where(F.col("rn") <= long_links)
            .select("src", "dst")
        )
    g = _top_degree(_score_edges(init, emb), degree).localCheckpoint(eager=True)
    for _ in range(iters):
        und = g.select("src", "dst").union(
            g.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        left = und.select("src", F.col("dst").alias("mid"))
        right = und.select(F.col("src").alias("mid"), "dst")
        cand = (
            left.join(right, "mid")
            .select("src", "dst")
            .where(F.col("src") != F.col("dst"))
            .union(g.select("src", "dst"))
            .distinct()
        )
        g = _top_degree(_score_edges(cand, emb), degree).localCheckpoint(
            eager=True
        )
    if keep_long is not None:
        extra = keep_long.join(
            g.select("src", "dst"), ["src", "dst"], "left_anti"
        )
        g = g.unionByName(_score_edges(extra, emb)).localCheckpoint(eager=True)
    return g


def graph_beam_search(
    emb: DataFrame,
    graph: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    beam: int | None = None,
    hops: int = 4,
    n_entries: int = 4,
    entry_frontier: DataFrame | None = None,
    return_frontier: bool = False,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """Greedy beam search over a neighborhood graph: start every query
    at ``n_entries`` fixed, deterministic entry vertices, and per hop
    expand the frontier's out-edges, score all visited candidates
    against the query, and keep the best ``beam`` as the next
    frontier.  The frontier (n_queries×beam rows) is broadcast into
    keyed joins on the edge list and corpus, so no hop shuffles the
    big side.  Returns the exact-cosine top-``k`` of the VISITED set
    (query_id, neighbor_id, cosine, rank).

    ``allowed`` (a one-column vec_id relation) restricts the FINAL
    ranking to the filtered slice while traversal stays unrestricted —
    the standard filtered-HNSW recipe for moderately selective
    filters: blocked nodes still route the walk, they just can't be
    answers.  The slice can only fill k when visited∩allowed has k
    members, so selective filters want a wider beam/more hops (the
    caller's dial); highly selective slices should pre-filter into
    the exact kernel instead (knn_cosine_filtered).

    ``beam=None`` (the default) derives the beam from the corpus row
    count via :func:`adaptive_beam` so recall holds as the store grows
    without the caller retuning anything."""
    # a precomputed ``nrm`` column (the graph store's vector log
    # carries one) skips the per-hop norm re-evaluation — identical
    # double, just computed once at ingest (r12, guide §4)
    if "nrm" not in emb.columns:
        emb = emb.withColumn("nrm", norm_expr(F.col("vec")))
    queries = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("nrm").alias("qn"),
    )
    corpus = emb.select(
        F.col("vec_id").alias("node"),
        F.col("vec").alias("nvec"),
        F.col("nrm").alias("nn"),
    )
    cos = F.round(
        dot_expr(F.col("qvec"), F.col("nvec")) / (F.col("qn") * F.col("nn")), 6
    )

    def _score_nodes(nodes: DataFrame) -> DataFrame:
        return (
            corpus.join(F.broadcast(nodes), "node")
            .join(F.broadcast(queries), "query_id")
            .select("query_id", "node", cos.alias("sim"))
        )

    if beam is None or entry_frontier is None:
        # the corpus count feeds only the adaptive beam and the fixed
        # entry grid — skip the job entirely when the caller supplied
        # both (the graph store's serve path does; r12, guide §5)
        n = emb.count()
    if beam is None:
        beam = adaptive_beam(n)
    if entry_frontier is not None:
        # descending the hierarchy: the upper level's beam seeds this
        # level's traversal (per-query entries, HNSW's greedy descent)
        frontier = entry_frontier
    else:
        entry_ids = sorted({(i * n) // n_entries for i in range(n_entries)})
        entries = emb.select(F.col("vec_id").alias("node")).where(
            F.col("vec_id").isin(entry_ids)
        )
        frontier = queries.select("query_id").crossJoin(F.broadcast(entries))
    visited = frontier
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("node"))
    for _ in range(hops):
        neigh = (
            graph.join(
                F.broadcast(frontier), graph["src"] == frontier["node"]
            )
            .select("query_id", graph["dst"].alias("node"))
        )
        visited = visited.union(neigh).distinct()
        # EAGER checkpoints on purpose (r13): frontier and visited are
        # each referenced twice by the next hop's plan, and a lazy
        # checkpoint lets concurrently-materialized AQE stages compute
        # the same un-persisted RDD in parallel (measured slower on
        # the graph-store stream; see nn_descent_graph docstring)
        frontier = (
            _score_nodes(visited)
            .select("query_id", "node", F.row_number().over(w).alias("rn"))
            .where(F.col("rn") <= beam)
            .select("query_id", "node")
            .localCheckpoint(eager=True)
        )
        visited = visited.localCheckpoint(eager=True)
    if return_frontier:
        return frontier
    final = _score_nodes(visited).where(F.col("node") != F.col("query_id"))
    if allowed is not None:
        ok = allowed.select(F.col(allowed.columns[0]).alias("node")).distinct()
        final = final.join(ok, "node")
    w2 = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("node"))
    return final.select(
        "query_id",
        F.col("node").alias("neighbor_id"),
        F.col("sim").alias("cosine"),
        F.row_number().over(w2).cast("int").alias("rank"),
    ).where(F.col("rank") <= k)


def hnsw_hierarchy(
    emb: DataFrame,
    degree: int = 12,
    iters: int = 4,
    branch: int = 16,
    min_level_size: int = 64,
) -> list[DataFrame]:
    """The HNSW layer stack, distributed: level 0 is the full-corpus
    NN-Descent graph; level i keeps the vec_ids with
    hash(vec_id) ≡ 0 mod branch**i (the 'promote with probability
    1/branch per layer' rule with a deterministic coin) and builds
    its own NN-Descent graph.  Upper
    layers are exponentially smaller, so their build cost telescopes
    to ~1/(branch-1) of level 0's; the coarsest layer doubles as the
    entry selector (scored whole, IVF-quantizer style) so search
    always starts near the query's region regardless of corpus
    growth.  Membership and seeding are murmur3-hash-based
    throughout — no contiguous-id assumption anywhere."""
    graphs = [(1, nn_descent_graph(emb, degree, iters))]
    n = emb.count()
    stride = branch
    while n // stride >= min_level_size:
        # membership by HASH, never id arithmetic: id-stride sampling
        # walls off any id-correlated structure (same lattice trap as
        # the seed-ring bug — a stride-256 layer over id%256 clusters
        # contained exactly one cluster)
        sub = emb.where(F.pmod(F.hash("vec_id"), F.lit(stride)) == 0)
        graphs.append((stride, nn_descent_graph(sub, degree, iters)))
        stride *= branch
    return graphs


def hnsw_search(
    emb: DataFrame,
    graphs: list[DataFrame],
    n_queries: int = 10,
    k: int = 5,
    beam: int | None = None,
    hops: int = 4,
    n_entries: int = 4,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """Greedy hierarchy descent (the HNSW search loop): score the
    ENTIRE coarsest layer against each query (it is N/branch^L rows —
    exponentially small, the same role as an IVF coarse quantizer;
    HNSW's top layer is likewise tiny enough that its entry cost is
    negligible), take the per-query top-``beam`` as the entry
    frontier, beam-search each intermediate layer handing the beam
    down, and run the full traversal on level 0.  Every layer's
    frontier stays n_queries×beam rows — the broadcast-to-the-data
    shape is unchanged; the hierarchy only fixes WHERE level 0
    starts.  ``beam=None`` derives the beam from the corpus row count
    (adaptive_beam) so one call signature serves 500 or 100M rows."""
    if beam is None:
        beam = adaptive_beam(emb.count())
    frontier = None
    if len(graphs) > 1:
        top_stride = graphs[-1][0]
        queries = emb.where(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("query_id"),
            F.col("vec").alias("qvec"),
            norm_expr(F.col("vec")).alias("qn"),
        )
        members = emb.where(
            F.pmod(F.hash("vec_id"), F.lit(top_stride)) == 0
        ).select(
            F.col("vec_id").alias("node"),
            F.col("vec").alias("nvec"),
            norm_expr(F.col("vec")).alias("nn"),
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
    for _stride, g in reversed(graphs[1:]):
        frontier = graph_beam_search(
            emb, g, n_queries, k, beam=beam, hops=max(2, hops // 2),
            n_entries=n_entries, entry_frontier=frontier,
            return_frontier=True,
        )
    return graph_beam_search(
        emb, graphs[0][1], n_queries, k, beam=beam, hops=hops,
        n_entries=n_entries, entry_frontier=frontier, allowed=allowed,
    )


def knn_graph_recall(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 10,
    k: int = 5,
    degree: int = 12,
    iters: int = 4,
    beam: int | None = None,
    hops: int = 4,
    min_recall: float = 0.8,
) -> DataFrame:
    """Recall@k of the layered NN-Descent graph + hierarchy-descent
    beam search vs exact brute force, one row per level-0 traversal
    depth in {1, hops}; the final depth RAISES below ``min_recall``
    (in-registry quality pin, same contract as knn_ivf_recall).
    Measured at BOTH 500-vector fixtures (sf0.001 and sf0.01 carry
    different vectors): recall@5 = 0.96 on each, so the 0.8 pin has
    headroom; the 20k-vector clustered probe reads 0.94 hierarchical
    vs 0.48 flat (scripts/scale_probe.py graphann)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    exact = knn_cosine_df(emb, n_queries, k).select("query_id", "neighbor_id")
    n_exact = exact.count()
    if n_exact == 0:
        raise AssertionError(
            "knn_graph_recall: exact kNN returned 0 neighbor pairs"
        )
    graphs = hnsw_hierarchy(emb, degree=degree, iters=iters)
    rows = []
    for h in (1, hops):
        approx = hnsw_search(
            emb, graphs, n_queries, k, beam=beam, hops=h
        )
        hits = exact.join(
            approx.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
        ).count()
        rows.append((h, round(hits / n_exact, 6)))
    if rows[-1][1] < min_recall:
        raise AssertionError(
            f"graph-ANN recall@{k} at hops={hops} is {rows[-1][1]} < "
            f"pinned {min_recall}"
        )
    return spark.createDataFrame(rows, "hops int, recall double")


def knn_cosine_filtered(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 10,
    k: int = 5,
    lang: str = "en",
) -> DataFrame:
    """FILTERED vector search — exact top-k cosine restricted to the
    corpus vectors whose joined metadata row passes a predicate (the
    production "search within a tenant/language/date slice" shape).
    This is PRE-FILTERING: the predicate pushes down to the metadata
    scan, a keyed join keeps only passing vectors, and the brute-force
    kernel runs on the filtered corpus — so the slice always yields
    exactly k results when it has k members, unlike post-filtering a
    fixed-size ANN result (which silently under-fills selective
    slices).  At scale the same pre-filter composes with the IVF/graph
    indexes by intersecting candidate lists with the predicate's id
    set (a bounded keyed join) — the standard filtered-ANN trade.
    Queries themselves stay unfiltered (a query may live outside the
    slice it searches)."""
    from heatmap_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    passing = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("lang") == lang)
        .select(F.col("doc_id").alias("vec_id"))
    )
    queries = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        norm_expr(F.col("vec")).alias("qn"),
    )
    corpus = emb.join(passing, "vec_id").select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("vec").alias("nvec"),
        norm_expr(F.col("vec")).alias("nn"),
    )
    sim = F.round(
        dot_expr(F.col("qvec"), F.col("nvec")) / (F.col("qn") * F.col("nn")), 6
    )
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", sim.alias("cosine"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.select(
        "query_id",
        "neighbor_id",
        "cosine",
        F.row_number().over(w).cast("int").alias("rank"),
    ).where(F.col("rank") <= k)


# ---------------------------------------------------------------------------
# Binary (1-bit) quantization: Hamming shortlist + exact rerank
# ---------------------------------------------------------------------------


def binary_codes(emb: DataFrame) -> DataFrame:
    """(vec_id, code_lo, code_hi): 1-bit sign quantization — bit i of
    code_lo is (vec[i] > 0) for dims 0..31, code_hi covers 32..63, so a
    64-dim float vector compresses 256× into two integers and Hamming
    distance is two XOR+popcount ops.

    The packing is exact integer math in any engine: pow(2.0, i) is a
    power of two (exact in double) cast to bigint, and splitting into
    32-bit halves keeps every term below the bigint sign bit — no
    2^63 overflow, identical two's-complement semantics everywhere.
    Fixture-shaped: expects exactly 64 dims (like sq8_codes)."""

    def half(lo: int) -> Column:
        return F.aggregate(
            F.transform(
                F.sequence(F.lit(0), F.lit(31)),
                lambda i: F.when(
                    F.element_at(F.col("vec"), i + F.lit(lo + 1)) > 0.0,
                    F.pow(F.lit(2.0), i).cast("bigint"),
                ).otherwise(F.lit(0).cast("bigint")),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )

    return emb.select(
        "vec_id", half(0).alias("code_lo"), half(32).alias("code_hi")
    )


def knn_binary_rerank(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 10,
    k: int = 5,
    shortlist: int = 64,
) -> DataFrame:
    """Two-stage binary-quantized search (q_knn_binary): 1-bit sign
    codes shortlist ``shortlist`` candidates per query by Hamming
    distance (XOR + popcount — the cheapest compressed-domain scan
    there is, 256× smaller than the float corpus), then exact cosine
    re-ranks the shortlist to the final top-``k``.

    This is the RaBitQ/BQ serving pattern: at 100 TB the binary codes
    (16 bytes/vector incl. id) fit memory tiers nothing else fits, the
    Hamming scan is SIMD-trivial, and the exact pass touches only
    shortlist·n_queries original vectors via an id equi-join.  Both
    stages are deterministic integer/fold math, so — unlike float-ADC
    ANN — the full ranking value-hashes cross-engine, and each row
    carries its exact-top-k agreement flag (realized recall pinned in
    tests).

    Scale shape: mirrors knn_sq8_rerank — code scan never shuffles
    (queries broadcast), per-query top-k rides WindowGroupLimit, rerank
    joins fetch originals for the shortlist only."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    codes = binary_codes(emb)
    queries = codes.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("code_lo").alias("qlo"),
        F.col("code_hi").alias("qhi"),
    )
    ham = (
        F.bit_count(F.col("qlo").bitwiseXOR(F.col("code_lo")))
        + F.bit_count(F.col("qhi").bitwiseXOR(F.col("code_hi")))
    ).cast("int")
    scored = (
        codes.crossJoin(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"), ham.alias("hamming")
        )
    )
    w = W.partitionBy("query_id").orderBy(F.asc("hamming"), F.asc("neighbor_id"))
    short = scored.select(
        "query_id", "neighbor_id", "hamming", F.row_number().over(w).alias("rn")
    ).where(F.col("rn") <= shortlist)

    nvec = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("vec").alias("nvec"),
        norm_expr(F.col("vec")).alias("nn"),
    )
    qvec = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        norm_expr(F.col("vec")).alias("qn"),
    )
    cos = F.round(
        dot_expr(F.col("qvec"), F.col("nvec")) / (F.col("qn") * F.col("nn")), 6
    )
    rer = (
        short.join(nvec, "neighbor_id")
        .join(F.broadcast(qvec), "query_id")
        .select("query_id", "neighbor_id", "hamming", cos.alias("cosine"))
    )
    w2 = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    top = rer.select(
        "query_id",
        "neighbor_id",
        "hamming",
        "cosine",
        F.row_number().over(w2).cast("int").alias("rank"),
    ).where(F.col("rank") <= k)
    exact = knn_cosine_df(emb, n_queries, k).select(
        "query_id", "neighbor_id", F.lit(True).alias("in_exact_topk")
    )
    return top.join(exact, ["query_id", "neighbor_id"], "left").select(
        "query_id",
        "neighbor_id",
        "hamming",
        "cosine",
        "rank",
        F.coalesce("in_exact_topk", F.lit(False)).alias("in_exact_topk"),
    )


def _rabitq_signs(dim: int = 64) -> list[int]:
    """Deterministic ±1 diagonal for the RaBitQ rotation: sign i is
    the parity of md5(i) — reproducible anywhere (the DuckDB oracle
    embeds the same list as a literal, the geofence-polygon idiom)."""
    import hashlib

    return [
        1 if int(hashlib.md5(str(i).encode()).hexdigest(), 16) % 2 == 0 else -1
        for i in range(dim)
    ]


def _fwht_term_sql(name: str, i: int, signs: list[int]) -> str:
    return f"element_at({name}, {i + 1}) * {float(signs[i])}D"


def _fwht_out_j_sql(name: str, j: int, dim: int = 64) -> str:
    """Output coordinate j of the RaBitQ rotation x → H·D·x (sign-flip
    diagonal D, then the unnormalized Walsh–Hadamard transform) as a
    SQL string.  H is orthogonal up to √D, which cancels in every
    cosine/ratio the estimator forms, so no normalization is needed.

    Spelled as the FLAT matrix-product row (out_j = Σ_i ±(x_i·D_i),
    sign = parity(popcount(j & i))), not the log-stage butterfly: each
    butterfly stage references the previous array twice per element
    and Catalyst's projection collapsing inlines the reference — a
    measured driver OOM at plan build.  The sum is left-associated in
    fixed order because the DuckDB oracle writes the identical
    nested-lambda sum: every float op pairs up bitwise across engines,
    and re-associating it would break the value hash.  Built as SQL
    text for one F.expr parse — the per-term Column spelling cost one
    py4j roundtrip per term (11 s per call site, r12)."""
    signs = _rabitq_signs(dim)
    acc = None
    for i in range(dim):
        t = _fwht_term_sql(name, i, signs)
        if bin(j & i).count("1") % 2 != 0:
            t = f"-({t})"
        acc = t if acc is None else f"({acc} + {t})"
    return acc


def fwht_rotate_materialized(df: DataFrame, dim: int = 64) -> DataFrame:
    """Rotate ``df.vec`` with H·D and MATERIALIZE the result — the
    index-build spelling both RaBitQ call sites use.

    The rotation lands as ``dim`` separate scalar columns in one
    projection (each a ``dim``-term chain — small enough that
    whole-stage codegen compiles them as split methods instead of
    failing on the single 4,096-term array expression and running
    interpreted), is localCheckpoint-materialized, and only then
    assembled into the array column — same floats in the same order
    as a single array expression (verified bitwise-equal, r12).
    Other columns of ``df`` ride along untouched."""
    other = [c for c in df.columns if c != "vec"]
    cols = [
        F.expr(_fwht_out_j_sql("`vec`", j, dim)).alias(f"_r{j}") for j in range(dim)
    ]
    rot = df.select(*other, *cols).localCheckpoint(eager=True)
    return rot.select(
        *other, F.array(*[F.col(f"_r{j}") for j in range(dim)]).alias("vec")
    )


def rabitq_codes(emb: DataFrame) -> DataFrame:
    """RaBitQ-style EXTENDED binary codes (Gao & Long, SIGMOD 2024):
    rotate each vector with the deterministic H·D rotation
    (:func:`fwht_rotate_materialized`), then store the 1-bit sign words plus the
    two floats the asymmetric estimator needs — ``nn`` = ‖Rv‖ and
    ``sum_abs`` = Σ|Rv_i| = ⟨sign(Rv), Rv⟩.  Their ratio is the
    paper's per-vector correction ⟨v̄, v̂⟩ = Σ|Rv_i| / (√D·‖Rv‖): how
    well the rotated vector's quantized direction explains it.  The
    The rotated corpus is MATERIALIZED (localCheckpoint) before the
    code/correction projections — this is the index build, computed
    once, and it stops Catalyst's projection collapse from inlining
    the 64×64 rotation tree into every downstream expression (the
    collapsed plan's codegen is a measured heap OOM).  The rotation
    makes the correction CONCENTRATE (→ √(2/π) for isotropic
    directions).  Measured regimes (scripts/scale_probe.py
    binaryann): on the near-isotropic fixture the estimator shortlist
    reaches recall@5 1.00 where Hamming reads 0.86; on HEAVILY
    CLUSTERED synthetic data with a tight shortlist the order flips
    (0.22 vs 0.42 at 100k / shortlist 64, rotation or not) because
    the true neighbors share the query's exact code — code-match-
    first is optimal there — and at D=64 the estimator's O(1/√D)
    noise exceeds the cosine gaps between cluster members.  Both
    saturate at serving-sized shortlists (1.00 at 4096).  24 bytes
    per vector against 512 for the floats — still a ~21×
    resident-set cut."""
    rot = fwht_rotate_materialized(emb.select("vec_id", "vec"))
    return binary_codes(rot).join(
        rot.select(
            "vec_id",
            norm_expr(F.col("vec")).alias("nn"),
            F.aggregate(
                F.col("vec"), F.lit(0.0), lambda a, x: a + F.abs(x)
            ).alias("sum_abs"),
        ),
        "vec_id",
    )


def knn_rabitq_rerank(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 10,
    k: int = 5,
    shortlist: int | None = None,
) -> DataFrame:
    """Two-stage binary search with the RaBitQ ASYMMETRIC estimator
    (q_knn_rabitq): instead of symmetric Hamming (which quantizes the
    query too and loses its magnitudes), the compressed-domain scan
    estimates each cosine from the corpus side's 1-bit code + 2-float
    correction and the FULL float query:

        ⟨v̂, q̂⟩ ≈ ⟨v̄, q̂⟩ / ⟨v̄, v̂⟩
                = (Σ_i ±q_i) · ‖v‖ / (‖q‖ · Σ|v_i|)      (± = bit i)

    — the paper's collaborative estimator with the √D factors
    cancelled.  Signed query-coordinate sums replace popcounts, so the
    scan is still code-words × broadcast queries with no float corpus
    access; the shortlist then reranks exactly like knn_binary_rerank.
    On the near-isotropic fixture the estimator shortlist dominates
    the Hamming one (1.00 vs 0.86 recall@5, pinned ≥ in tests)
    because it sees query magnitudes the symmetric distance throws
    away; on heavily clustered corpora with tight shortlists prefer
    the Hamming twin (see rabitq_codes for the measured regime
    analysis).

    Determinism: the estimator is a fixed-order signed fold over the
    query array divided by two stored floats, round@6 — value-hashes
    cross-engine like every stage here (DuckDB replays it from the
    same bit definitions).  Scale shape unchanged from the binary
    path: codes never shuffle, queries broadcast, rerank touches
    shortlist·n_queries originals via an id equi-join.

    Both sides are rotated with the deterministic H·D rotation
    (fwht_rotate_materialized) before quantization/scoring — the paper's
    distribution-robustness ingredient, without which the correction
    factor's cross-vector variance makes the estimator WORSE than
    Hamming on clustered data (measured; see rabitq_codes).  The
    exact rerank runs on the original vectors (cosine is
    rotation-invariant, so the two stages agree).

    ``shortlist=None`` derives the rerank depth as max(64, N//8) —
    scale-aware (VERDICT r12 item 5): a FIXED 64-deep shortlist is a
    shrinking fraction of a growing corpus and dilutes recall (3.2% of
    the sf0.1 corpus measured 0.780, under the 0.8 pin), while a
    constant corpus fraction holds the estimator's oversampling ratio
    so the pin's floor is meaningful at every scale.  The gated
    fixtures (N=500) stay at exactly 64, and the DuckDB oracle spells
    the identical greatest(64, count//8) rule — hash-verified
    equivalent."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    if shortlist is None:
        shortlist = max(64, emb.count() // 8)
    codes = rabitq_codes(emb)
    # rotate only the filtered queries, and materialize so the 64×64
    # rotation tree never collapses into the per-corpus-row estimator
    rqueries = (
        fwht_rotate_materialized(
            emb.where(F.col("vec_id") < n_queries).select("vec_id", "vec")
        )
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("vec").alias("qvec"),
            norm_expr(F.col("vec")).alias("qn"),
        )
    )
    queries = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        norm_expr(F.col("vec")).alias("qn"),
    )

    def signed_sum(code: Column, lo: int) -> Column:
        # Σ over the word's 32 dims of ±q_i, sign from bit i — the
        # compressed-domain replacement for XOR+popcount.  Built as a
        # static left-associated 32-term Column chain so the float
        # accumulation order matches the oracle's list_sum exactly.
        from functools import reduce
        from operator import add

        terms = [
            F.when(
                code.bitwiseAND(F.lit(1 << i)) != 0,
                F.element_at(F.col("qvec"), lo + i + 1),
            ).otherwise(-F.element_at(F.col("qvec"), lo + i + 1))
            for i in range(32)
        ]
        return reduce(add, terms)

    sdot = signed_sum(F.col("code_lo"), 0) + signed_sum(F.col("code_hi"), 32)
    est = F.round(
        sdot * F.col("nn") / (F.col("qn") * F.col("sum_abs")), 6
    )
    scored = (
        codes.crossJoin(F.broadcast(rqueries))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"), est.alias("est")
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("est"), F.asc("neighbor_id"))
    short = scored.select(
        "query_id", "neighbor_id", "est", F.row_number().over(w).alias("rn")
    ).where(F.col("rn") <= shortlist)

    nvec = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("vec").alias("nvec"),
        norm_expr(F.col("vec")).alias("nn2"),
    )
    cos = F.round(
        dot_expr(F.col("qvec"), F.col("nvec")) / (F.col("qn") * F.col("nn2")), 6
    )
    rer = (
        short.join(nvec, "neighbor_id")
        .join(F.broadcast(queries), "query_id")
        .select("query_id", "neighbor_id", "est", cos.alias("cosine"))
    )
    w2 = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    top = rer.select(
        "query_id",
        "neighbor_id",
        "est",
        "cosine",
        F.row_number().over(w2).cast("int").alias("rank"),
    ).where(F.col("rank") <= k)
    exact = knn_cosine_df(emb, n_queries, k).select(
        "query_id", "neighbor_id", F.lit(True).alias("in_exact_topk")
    )
    out = top.join(exact, ["query_id", "neighbor_id"], "left").select(
        "query_id",
        "neighbor_id",
        F.col("est").alias("est_cosine"),
        "cosine",
        "rank",
        F.coalesce("in_exact_topk", F.lit(False)).alias("in_exact_topk"),
    )
    # in-registry floor pin (VERDICT r10 item 6): realized recall@k vs
    # the exact twin the result already carries must clear the binary
    # family's 0.8 floor — the same bar the pytest pin and the 1M
    # scale probe assert.  One tiny agg over the k·n_queries result.
    # Materialized first so the pin agg and the returned DataFrame
    # share one computation (otherwise every caller pays the full
    # two-stage pipeline twice — ADVICE r11).
    out = out.localCheckpoint(eager=True)
    stats = out.agg(
        F.avg(F.col("in_exact_topk").cast("double")).alias("recall"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    if stats["n"] > 0 and stats["recall"] < 0.8:
        raise AssertionError(
            f"rabitq recall@{k} {stats['recall']:.3f} < pinned 0.8 floor"
        )
    return out
