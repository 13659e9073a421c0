"""Physical-plan pins: the 100 TB design promises, asserted on the
actual Catalyst plans (SURVEY.md §4).  If a refactor sneaks a Python
UDF onto a hot path, drops a broadcast, or adds a shuffle to the
explode pyramid, these fail."""

from pyspark.sql import functions as F

from heatmap_spark.operators import pyramid as P
from heatmap_spark.operators import relational as R
from heatmap_spark.plans import (
    count_exchanges,
    has_broadcast_join,
    has_python_eval,
    plan_string,
    pushed_filters,
)
from heatmap_spark.queries import q_heatmap_pyramid
from heatmap_spark.sources.locations import load_locations
from heatmap_spark.sources.tables import load_table


def test_q1_filter_pushdown_and_pruning(spark, sf_smoke):
    df = R.tpch_q1(spark, sf_smoke)
    pf = pushed_filters(df)
    assert "l_shipdate" in pf, pf
    plan = plan_string(df, "formatted")
    # column pruning: unused wide columns must not be read
    assert "l_comment" not in plan and "l_partkey" not in plan


def test_q3_and_q5_broadcast_small_dims(spark, sf_smoke):
    assert has_broadcast_join(R.tpch_q3(spark, sf_smoke))
    assert has_broadcast_join(R.tpch_q5(spark, sf_smoke))


def test_pyramid_explode_is_single_shuffle(spark, sf_smoke):
    """ONE exchange total for all 16 zoom levels — and it is the
    small-input parallelism spread, not the aggregation (r12): the
    spread hash-partitions on the zoom-6 subtree prefix columns
    (_pref_row, _pref_col = row>>Δ, col>>Δ), the rollup includes them
    in its grouping key (groups unchanged — the prefix is a function
    of (zoom, row, col)), so HashPartitioning(prefix) satisfies the
    aggregation's required distribution and Catalyst inserts ZERO
    ENSURE_REQUIREMENTS exchanges.  At 100 TB the input has more
    splits than cores, the spread elides, and the classic partial →
    exchange → final shape returns."""
    df = q_heatmap_pyramid(spark, sf_smoke)
    plan = plan_string(df, "formatted")
    assert plan.count("ENSURE_REQUIREMENTS") == 0, plan
    assert count_exchanges(df) == 1, plan_string(df, "simple")
    # the spread must be the prefix hash, not round-robin (round-robin
    # pays a local sort and scatters subtree keys across partitions)
    assert "RoundRobinPartitioning" not in plan, plan
    assert "hashpartitioning(_pref_row" in plan, plan


def test_no_python_eval_on_hot_paths(spark, sf_smoke):
    """Zero UDFs on the hot path (SURVEY.md §2.7) — the entire heatmap
    pipeline and the TPC-H set run JVM-side."""
    for df in [
        q_heatmap_pyramid(spark, sf_smoke),
        P.build_pyramid(load_locations(spark, sf_smoke), mode="cascade"),
        R.tpch_q1(spark, sf_smoke),
        R.tpch_q3(spark, sf_smoke),
    ]:
        assert not has_python_eval(df)


def test_pyramid_has_codegen(spark, sf_smoke):
    # AQE wraps the whole plan until execution, hiding codegen subtrees
    # from explain — inspect with AQE off (the operators are identical).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = plan_string(q_heatmap_pyramid(spark, sf_smoke), "codegen")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "WholeStageCodegen subtrees" in plan and "Found 0" not in plan


def test_ingest_reads_only_needed_event_columns(spark, sf_smoke):
    df = P.ingest_locations(load_locations(spark, sf_smoke))
    plan = plan_string(df, "formatted")
    # props/event_type/value are never used by the heatmap path
    assert "props" not in plan
    assert "event_type" not in plan


def test_runtime_bloom_filter_part_join_pruning(spark, sf_smoke):
    """At cluster scale a selective dim-side predicate should prune the
    fact scan before the shuffle: Spark injects a bloom-filter runtime
    filter (might_contain) on the fact side.  Local fixtures sit below
    the size thresholds, so lower them to prove the rewrite fires for
    this join shape."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force a shuffle join
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = load_table(spark, sf_smoke, "lineitem")
        part = load_table(spark, sf_smoke, "part").where(F.col("p_brand") == "Brand#3")
        joined = (
            li.join(part, li.l_partkey == part.p_partkey)
            .groupBy("p_brand")
            .agg(F.sum("l_quantity").alias("qty"))
        )
        optimized = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in optimized, optimized[:2000]
        # and the rewrite must not change results vs the plain join
        n = joined.count()
        assert n >= 0
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_tile_store_bbox_read_pushes_filters(spark, sf_smoke, tmp_path):
    """Serving reads over the persisted tile store must push row/col
    bounds into the parquet scan — with each bucket's files sorted by
    (zoom, row, col) this is what turns a bbox query into a few row
    groups at 100 TB."""
    from heatmap_spark.streaming.tile_store import (
        merge_delta_into_partitioned_store,
        read_partitioned_store,
        spatial_bucket,
    )

    store = str(tmp_path / "store")
    delta = P.build_pyramid(
        load_locations(spark, sf_smoke), mode="explode", min_zoom=10, max_zoom=12
    )
    # a few buckets keep the merge cheap; the plan is what is pinned
    b = delta.select(spatial_bucket().alias("b")).distinct()
    few = [r.b for r in b.orderBy("b").limit(3).collect()]
    merge_delta_into_partitioned_store(
        spark, delta.where(spatial_bucket().isin(few)), store, batch_id=0
    )
    df = read_partitioned_store(spark, store).where(
        (F.col("zoom") == 12)
        & F.col("row").between(1000, 1400)
        & F.col("col").between(1000, 1400)
    )
    pf = pushed_filters(df)
    assert "row" in pf and "col" in pf and "zoom" in pf, pf


def test_lsh_candidates_plan_has_no_join(spark, sf_smoke):
    """Candidate generation is bucket expansion, not a self-join: the
    plan must contain aggregates and generators only."""
    from heatmap_spark.operators.dedup import minhash_lsh_candidates

    plan = plan_string(minhash_lsh_candidates(spark, sf_smoke), "simple")
    assert "Join" not in plan, plan


def test_ivf_assign_is_map_only(spark, sf_smoke):
    """Bucket assignment embeds the codebook as a literal: no join, no
    window, no exchange downstream of the scan."""
    from heatmap_spark.operators.similarity import ivf_assign

    emb = load_table(spark, sf_smoke, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    df = ivf_assign(emb)
    plan = plan_string(df, "simple")
    assert "Join" not in plan and "Window" not in plan, plan
    assert count_exchanges(df) == 0, plan


def test_edit_distance_join_key_includes_block(spark, sf_smoke):
    """The blocked-Levenshtein join must equi-join on (lang, bucket) —
    a lang-only key would shuffle every same-language doc to one
    partition at scale (~5 languages); the bucket filter must be part
    of the hash key, not a post-join residual."""
    from heatmap_spark.operators.dedup import edit_distance_pairs

    df = edit_distance_pairs(spark, sf_smoke)
    plan = plan_string(df, "simple")
    join_lines = [l for l in plan.splitlines() if "HashJoin" in l]
    assert join_lines, plan
    assert all("lang" in l and "bk" in l for l in join_lines), join_lines
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_timeseries_plans(spark, sf_smoke):
    """Gap-fill: spine join broadcasts the aggregated side; rolling
    range-frame: exactly one exchange (the window partition key)."""
    from heatmap_spark.operators.timeseries import gap_fill_hourly_events, rolling_revenue_7d

    gf = gap_fill_hourly_events(spark, sf_smoke)
    assert has_broadcast_join(gf)
    assert not has_python_eval(gf)

    roll = rolling_revenue_7d(spark, sf_smoke)
    assert count_exchanges(roll) == 1, plan_string(roll, "simple")
    assert "RangeFrame" in plan_string(roll, "simple")


def test_sql_function_surface_is_inlined(spark, sf_smoke):
    """SQL scalar functions (functions/sqludf.py) must inline to native
    expressions: no Python eval, one exchange for the aggregate."""
    from heatmap_spark.queries import _sql_tile_functions

    df = _sql_tile_functions(spark, sf_smoke)
    assert not has_python_eval(df)
    assert count_exchanges(df) == 1, plan_string(df, "simple")


def test_funnel_single_data_shuffle(spark, sf_smoke):
    """Three chained window passes + per-user agg must reuse ONE
    user_id shuffle; only the final single-row agg adds an exchange."""
    from heatmap_spark.operators.sessions import event_funnel

    df = event_funnel(spark, sf_smoke)
    assert count_exchanges(df) == 2, plan_string(df, "simple")


def test_bitmap_distinct_has_no_expand(spark, sf_smoke):
    """Bitmap distinct replaces COUNT(DISTINCT)'s Expand with two plain
    hash aggregates over bitmap state."""
    from heatmap_spark.operators.profiling import bitmap_distinct_users

    df = bitmap_distinct_users(spark, sf_smoke)
    plan = plan_string(df, "formatted")
    assert "Expand" not in plan
    assert count_exchanges(df) == 2, plan_string(df, "simple")


def test_haversine_broadcasts_probes(spark, sf_smoke):
    """The 3-row probe set must broadcast (nested-loop over the corpus
    scan); the corpus side must not shuffle before the distance."""
    from heatmap_spark.operators.similarity import haversine_nearest

    df = haversine_nearest(spark, sf_smoke)
    plan = plan_string(df, "formatted")
    assert "BroadcastNestedLoopJoin" in plan
    assert count_exchanges(df) == 1, plan_string(df, "simple")


def test_episodes_and_scd2_single_shuffle(spark, sf_smoke):
    """Gaps-and-islands (lag + running-sum form) and the SCD2 build must
    each be ONE user_id exchange — the aggregate reuses the window's
    partitioning."""
    from heatmap_spark.operators.timeseries import scd2_intervals, state_episodes

    e = state_episodes(spark, sf_smoke)
    assert count_exchanges(e) == 1, plan_string(e, "simple")
    i = scd2_intervals(spark, sf_smoke)
    assert count_exchanges(i) == 1, plan_string(i, "simple")


def test_jaccard_postings_built_once(spark, sf_smoke):
    """jaccard_pairs materializes the shingle postings a single time
    (eager localCheckpoint): the final plan must contain NO tokenize/
    shingle computation at all — both join sides and the size agg read
    the checkpointed RDD."""
    from heatmap_spark.operators.dedup import jaccard_pairs

    plan = plan_string(jaccard_pairs(spark, sf_smoke), "simple")
    assert "split(" not in plan, plan
    assert "transform(" not in plan, plan


def test_lsh_bucket_cap_drops_pathological_buckets(spark):
    """A degenerate corpus (one giant identical-text group) must expand
    no pairs under the cap, and expand normally when the cap is
    raised above the bucket size."""
    from heatmap_spark.operators.dedup import minhash_lsh_candidates_df

    docs = spark.range(100).selectExpr(
        "id AS doc_id",
        "'the same boilerplate text repeated for every single document here' AS text",
    )
    assert minhash_lsh_candidates_df(docs, max_bucket=64).count() == 0
    assert minhash_lsh_candidates_df(docs, max_bucket=200).count() == 100 * 99 // 2


def test_gopher_quality_is_map_only(spark, sf_smoke):
    """Quality rules are per-row Column arithmetic: ZERO exchanges —
    at 100 TB the filter fuses into the scan."""
    from heatmap_spark.operators.textops import gopher_quality

    df = gopher_quality(spark, sf_smoke)
    assert count_exchanges(df) == 0, plan_string(df, "simple")
    assert not has_python_eval(df)


def test_od_matrix_two_exchanges(spark, sf_smoke):
    """OD matrix = one window shuffle (lag per user) + one aggregate
    exchange; anything more means a regression snuck in a join."""
    from heatmap_spark.operators.sessions import od_matrix

    df = od_matrix(spark, sf_smoke)
    assert count_exchanges(df) <= 2, plan_string(df, "simple")
    assert not has_python_eval(df)


def test_runtime_bloom_filter_join_pruning(spark, sf_smoke):
    """Spark's runtime Bloom-filter join pruning (the 100 TB shuffle
    reducer: a selective dim filter propagates as a bloom_filter_agg
    probe onto the fact scan) must inject on a selective shuffled
    join.  Fixture scans sit under the default application-side size
    threshold, so the test lowers it — at real scale the defaults
    trigger on their own."""
    from heatmap_spark.sources.tables import load_table

    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_th = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "0",
    )
    try:
        li = load_table(spark, sf_smoke, "lineitem")
        od = load_table(spark, sf_smoke, "orders").where(
            F.col("o_totalprice") > 400000
        )
        j = li.join(od, li.l_orderkey == od.o_orderkey).select(
            F.sum("l_quantity").alias("q")
        )
        plan = plan_string(j, "simple")
        assert "bloom_filter_agg" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            old_th,
        )


def test_new_pipeline_ops_have_no_cartesian_or_python(spark, sf_smoke):
    """semantic_dedup, unigram_logprob and duplicated_passages stay
    fully relational: bucketed/equi-join candidate generation only (no
    CartesianProduct beyond the 1-row corpus-total broadcast) and zero
    Python on the hot path."""
    from heatmap_spark.operators.dedup import duplicated_passages
    from heatmap_spark.operators.similarity import semantic_dedup
    from heatmap_spark.operators.textops import unigram_logprob

    for df in (
        semantic_dedup(spark, sf_smoke),
        # persist=False keeps the full lazy plan visible (persist=True
        # checkpoints the aggregate, hiding the subplan from explain)
        duplicated_passages(spark, sf_smoke, persist=False),
    ):
        plan = plan_string(df, "simple")
        assert "CartesianProduct" not in plan, plan
        assert not has_python_eval(df)
    ul = unigram_logprob(spark, sf_smoke)
    assert not has_python_eval(ul)
    # the only product is the 1-row corpus total (broadcast nested loop)
    plan = plan_string(ul, "simple")
    assert "CartesianProduct" not in plan, plan


def test_duplicated_passages_shuffles_hashes_not_text(spark, sf_smoke):
    """Windows are md5-hashed BEFORE the exchange: the shuffle key is a
    32-char digest, never the raw w-gram string."""
    from heatmap_spark.operators.dedup import duplicated_passages

    plan = plan_string(duplicated_passages(spark, sf_smoke, persist=False), "formatted")
    import re

    # every hashpartitioning on the window column is on the md5 output
    # (the explode emits the digest — no exchange sees concat_ws output)
    assert "md5" in plan
    exch = [ln for ln in plan.splitlines() if "hashpartitioning" in ln]
    assert exch and all("concat_ws" not in ln for ln in exch), exch


def test_chunk_documents_is_map_only(spark, sf_smoke):
    """RAG chunking is explode + slice per row: ZERO exchanges and no
    Python — at 100 TB the chunker fuses into the parquet scan and the
    only cost is the bounded ~n_tokens/stride output expansion."""
    from heatmap_spark.operators.textops import chunk_documents

    df = chunk_documents(spark, sf_smoke)
    assert count_exchanges(df) == 0, plan_string(df, "simple")
    assert not has_python_eval(df)


def test_resultset_serving_read_prunes_to_one_bucket(spark, sf_smoke, tmp_path):
    """The point serving read must scan exactly ONE bucket directory
    (directory-level pruning from the parent tile id) and push the
    zoom/row/col range predicates to the parquet scan."""
    from heatmap_spark.operators.pyramid import build_pyramid
    from heatmap_spark.sources.locations import load_locations
    from heatmap_spark.streaming.tile_store import (
        merge_delta_into_partitioned_store,
        read_resultset,
    )

    store = str(tmp_path / "pstore")
    pyr = build_pyramid(
        load_locations(spark, sf_smoke), mode="explode", min_zoom=8, max_zoom=12
    )
    merge_delta_into_partitioned_store(spark, pyr, store, batch_id=0)
    df = read_resultset(spark, store, "all", "alltime", "7_40_60")
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    # ONE path in the file index = one bucket dir (the path itself may
    # be truncated in the rendered plan, so count paths, not names)
    locs = re.findall(r"InMemoryFileIndex\((\d+) paths?\)", plan)
    assert locs and all(n == "1" for n in locs), plan[:2000]
    pf = pushed_filters(df)
    assert "row" in pf and "col" in pf and "zoom" in pf, pf


def test_entity_resolution_candidates_never_cartesian(spark, sf_smoke):
    """ER candidate generation must be an equi-join on the block key
    (hash- or sort-merge-joinable; similarity predicates ride as the
    residual join condition) — never a nested-loop/cartesian pair
    comparison, and no Python on the path."""
    from heatmap_spark.operators.entity import (
        dirty_customer_records,
        er_candidate_pairs,
    )

    pairs = er_candidate_pairs(dirty_customer_records(spark, sf_smoke))
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan, plan[:2000]
    assert not has_python_eval(pairs)


def test_recurrence_and_budget_mix_plans(spark, sf_smoke):
    """The forecasting folds are one groupBy exchange with the whole
    recurrence inside JVM higher-order functions (no Python eval); the
    token-budget mixer is a SEGMENTED scan: the corpus-sized window
    must partition by (lang, seg) — never by lang alone, which would
    serialize a hot domain through one partition — with the per-lang
    prefix composition confined to the tiny segment-totals relation
    and broadcast back."""
    from heatmap_spark.operators.textops import token_budget_mix
    from heatmap_spark.operators.timeseries import (
        holt_by_type,
        holt_winters_by_type,
    )

    for df in (holt_by_type(spark, sf_smoke), holt_winters_by_type(spark, sf_smoke)):
        assert count_exchanges(df) == 1, plan_string(df, "simple")
        assert not has_python_eval(df)

    mix = token_budget_mix(spark, sf_smoke)
    plan = mix._jdf.queryExecution().executedPlan().toString()
    assert not has_python_eval(mix)
    # every Window over the doc-summary stream carries the segment key
    big_windows = [
        ln for ln in plan.splitlines()
        if "windowspecdefinition(lang" in ln and "rk" in ln
    ]
    assert big_windows and all("seg" in ln for ln in big_windows), plan[:2000]
    # the offsets come back as a broadcast, not a shuffled join
    assert "BroadcastExchange" in plan, plan[:2000]
    # bounded structure: (lang,seg) window + totals agg + tiny lang
    # window + broadcast — no data-dependent exchange growth
    assert count_exchanges(mix) <= 4, plan_string(mix, "simple")


def test_autocorrelation_plan_shape(spark, sf_smoke):
    """ACF: the lag computation must read ALL max_lag lags from one
    window pass (exactly one Window node), stay JVM-side, and never
    exceed the structural exchanges (count agg, spine, window, final
    per-type agg — small constants, not data-dependent)."""
    from heatmap_spark.operators.timeseries import autocorrelation

    df = autocorrelation(spark, sf_smoke, max_lag=6)
    p = plan_string(df, "simple")
    assert not has_python_eval(df)
    assert p.count("Window") == 1, p
    assert "CartesianProduct" not in p


def test_kmeans_plans_map_only_reassign(spark, sf_smoke):
    """k-means: centroid literals embed in the plan, so the final
    assignment is scan + project — ZERO exchanges, no joins, no
    Python eval (the per-iteration partial-sum aggregate runs inside
    the driver loop; the returned frame is the map-only reassign plus
    the cluster_size window)."""
    from heatmap_spark.operators.similarity import kmeans_embeddings

    df = kmeans_embeddings(spark, sf_smoke, k=8, iters=1)
    p = plan_string(df, "simple")
    assert not has_python_eval(df)
    assert "Join" not in p and "CartesianProduct" not in p, p
    # one exchange total: the cluster_size window; the assignment
    # itself adds none
    assert count_exchanges(df) == 1, p


def test_rowstore_point_read_plans_single_bucket(spark, sf_smoke, tmp_path):
    """The keyed read's scan must prune to ONE reader partition (the
    key's crc32 bucket) before any row moves — asserted at the reader
    level because the Python BatchScan node doesn't expose partition
    counts in the plan string."""
    from pyspark.sql.datasource import EqualTo

    from heatmap_spark.sources.locations import load_locations
    from heatmap_spark.sources.rowstore import (
        make_rowstore_datasource,
        write_rowstore,
    )

    store = str(tmp_path / "loc")
    write_rowstore(
        load_locations(spark, sf_smoke), store, bucket_key="user_id",
        n_buckets=32, mode="overwrite",
    )
    cls = make_rowstore_datasource()
    ds = cls(options={"path": store, "max_partition_bytes": "1",
                      "open_cost_bytes": "0"})  # per-file splits
    rd = ds.reader(ds.schema())
    n_all = len(rd.partitions())
    assert n_all > 4  # unpruned: per-file partitions across buckets
    rd2 = ds.reader(ds.schema())
    rd2.pushFilters([EqualTo(("user_id",), "u1")])
    parts = rd2.partitions()
    # only the key's crc32 bucket's files survive the prune
    assert 0 < len(parts) < n_all
    from heatmap_spark.sources.rowstore import _bucket_of

    b = _bucket_of("u1", 32)
    assert all(f"/b{b}-" in fn for p in parts for fn in p.files)


def test_round5b_landings_plan_shapes(spark, sf_smoke):
    """Plan promises of the round-5 extension landings:
    - quality_classifier / bigram_lm / cms / url_dedup / sq8: zero
      Python eval anywhere (all-JVM expressions);
    - quality_classifier: exactly one exchange (the doc_id re-agg) and
      no joins — the weight 'model' is closed-form in the plan;
    - knn_sq8 / hybrid_rrf: the corpus side never shuffles for
      scoring — query codes arrive via broadcast, no SortMergeJoin on
      the scoring path;
    - cms_heavy_hitters: the candidate->cells lookup joins against a
      broadcast grid;
    - url_dedup: the canonicalizer fuses into the scan (single
      exchange: the canonical-key window);
    - cusum: one exchange (the per-type aggregate), fold inside JVM.
    """
    from heatmap_spark.operators.dedup import url_dedup
    from heatmap_spark.operators.profiling import cms_heavy_hitters
    from heatmap_spark.operators.similarity import hybrid_rrf, knn_sq8
    from heatmap_spark.operators.textops import bigram_lm, quality_classifier
    from heatmap_spark.operators.timeseries import cusum_changepoints

    qc = quality_classifier(spark, sf_smoke)
    p = plan_string(qc, "simple")
    assert not has_python_eval(qc)
    assert "Join" not in p, p
    assert count_exchanges(qc) == 1, p

    for df in (
        bigram_lm(spark, sf_smoke),
        cms_heavy_hitters(spark, sf_smoke),
        url_dedup(spark, sf_smoke),
        knn_sq8(spark, sf_smoke),
        hybrid_rrf(spark, sf_smoke),
        cusum_changepoints(spark, sf_smoke),
    ):
        assert not has_python_eval(df)

    # the corpus-sized SCORING path must be a broadcast of the query
    # side (never a shuffle of the corpus); the post-top-k audit/fusion
    # joins run over k-bounded relations, so any SMJ there is fine
    for df in (knn_sq8(spark, sf_smoke), hybrid_rrf(spark, sf_smoke)):
        p = plan_string(df, "simple")
        assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p
        assert "CartesianProduct" not in p, p

    assert has_broadcast_join(cms_heavy_hitters(spark, sf_smoke))

    ud = url_dedup(spark, sf_smoke)
    assert count_exchanges(ud) == 1, plan_string(ud, "simple")

    cu = cusum_changepoints(spark, sf_smoke)
    assert count_exchanges(cu) == 1, plan_string(cu, "simple")


def test_round5c_landings_plan_shapes(spark, sf_smoke):
    """Plan promises of the second extension batch:
    - bitext mining scores via broadcast (corpus side never shuffles);
    - winsorized stats: quantile table broadcasts back onto the
      stream (two aggregates, no sort of the corpus);
    - span corruption: ONE window pass (the sentinel index);
    - pyramid retraction: the union re-aggregate keeps the explode
      pyramid's single-exchange shape (union is narrow);
    - all of them: zero Python eval."""
    from heatmap_spark.operators.profiling import winsorized_stats
    from heatmap_spark.operators.similarity import bitext_margin_mining
    from heatmap_spark.operators.textops import preference_pairs, span_corruption
    from heatmap_spark.queries import q_heatmap_retraction

    bt = bitext_margin_mining(spark, sf_smoke)
    p = plan_string(bt, "simple")
    assert not has_python_eval(bt)
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p

    ws = winsorized_stats(spark, sf_smoke)
    assert not has_python_eval(ws)
    assert has_broadcast_join(ws), plan_string(ws, "simple")

    sc = span_corruption(spark, sf_smoke)
    ps = plan_string(sc, "simple")
    assert not has_python_eval(sc)
    assert ps.count("Window") == 1, ps

    rt = q_heatmap_retraction(spark, sf_smoke)
    assert not has_python_eval(rt)
    # the only exchange is the small-input parallelism spread on the
    # subtree prefix; the rollup itself is exchange-free (see
    # test_pyramid_explode_is_single_shuffle)
    assert plan_string(rt, "formatted").count("ENSURE_REQUIREMENTS") == 0
    assert count_exchanges(rt) == 1, plan_string(rt, "simple")

    pp = preference_pairs(spark, sf_smoke)
    assert not has_python_eval(pp)


def test_graph_beam_search_broadcasts_frontier(spark, sf_smoke):
    """The graph-ANN traversal must ship the tiny frontier TO the
    corpus: every join in a hop's plan is a broadcast join — a
    SortMergeJoin/ShuffledHashJoin would mean the corpus (100 TB at
    scale) is being exchanged per hop."""
    from pyspark.sql import functions as F

    from heatmap_spark.operators.similarity import (
        graph_beam_search,
        nn_descent_graph,
    )
    from heatmap_spark.sources.tables import load_table

    emb = load_table(spark, sf_smoke, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    g = nn_descent_graph(emb, degree=6, iters=1)
    res = graph_beam_search(emb, g, 5, 3, beam=8, hops=1)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_dsir_weights_plan_shape(spark, sf_smoke):
    """DSIR's λ table (≤1024 rows) must return as a BROADCAST onto the
    per-doc feature counts, nothing corpus-sized may SortMergeJoin, and
    the whole computation is the three hash aggregations (bucket
    distribution, per-doc-bucket counts, per-doc score) — at 100 TB the
    only data-sized costs are two scans of the token stream."""
    from heatmap_spark.operators.textops import dsir_weights

    df = dsir_weights(spark, sf_smoke)
    plan = plan_string(df, "simple")
    assert has_broadcast_join(df), plan
    assert "SortMergeJoin" not in plan, plan
    assert not has_python_eval(df)
    # bucket agg + per-(doc,lang,bucket) agg + per-(doc,lang) agg
    assert plan.count("Exchange hashpartitioning") <= 3, plan


def test_geofence_is_scan_plus_one_aggregation(spark, sf_smoke):
    """The polygon tests are plan literals: no Join anywhere, no
    Python, and the only exchanges belong to the 3-row fence-key
    aggregation — at 100 TB the classification cost is the scan."""
    from heatmap_spark.operators.geo import geofence_visits

    df = geofence_visits(spark, sf_smoke)
    plan = plan_string(df, "simple")
    assert "Join" not in plan, plan
    assert not has_python_eval(df)
    assert count_exchanges(df) <= 2, plan


def test_knn_binary_scoring_path_broadcasts_queries(spark, sf_smoke):
    """Binary-quantized search keeps the sq8 plan promises: the code
    scan never shuffles for scoring (queries broadcast), no cartesian
    product, no Python eval anywhere."""
    from heatmap_spark.operators.similarity import knn_binary_rerank

    df = knn_binary_rerank(spark, sf_smoke)
    p = plan_string(df, "simple")
    assert not has_python_eval(df)
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p


def test_ks_mwu_rank_over_distinct_values(spark, sf_smoke):
    """Distributed-rank spelling pin (VERDICT r9 item 4): both exact
    rank tests must feed their single sorted window from the
    (event_type, value) hash aggregate — partial map-side combine,
    keys spread over the value axis — never from raw rows.  If a
    refactor re-attaches the window to the row-level relation, the
    aggregate-below-window pattern disappears and this fails."""
    import re

    from heatmap_spark.operators.profiling import ks_test, mann_whitney

    for fn in (ks_test, mann_whitney):
        plan = plan_string(fn(spark, sf_smoke), "simple")
        w = plan.index("Window ")
        below = plan[w:]
        assert re.search(
            r"HashAggregate\(keys=\[event_type#\d+, (?:knownfloatingpointnormalized\()?.*value#\d+",
            below,
        ), below[:2000]


def test_kll_store_serve_is_native_single_aggregate(spark, sf_smoke):
    """KLL sketch-drift store plan pins (round 11): the per-batch
    partial is ONE hash aggregate over the batch (kll_sketch_agg is an
    ordinary partial/final aggregate — map-side combinable), and the
    serve path (grid inversion + CDF reconstruction) is pure native
    array expressions — no Python eval anywhere."""
    import tempfile

    from pyspark.sql import functions as F2

    from heatmap_spark.sources.tables import load_table
    from heatmap_spark.streaming.kll_store import (
        _half_sketch_partial,
        merge_batch_into_kll_store,
        serve_kll_drift,
        serve_kll_w1,
    )

    ev = load_table(spark, sf_smoke, "events").select(
        "event_type",
        (F2.col("event_id") % 2).cast("int").alias("is_a"),
        "value",
    )
    partial_plan = plan_string(_half_sketch_partial(ev), "simple")
    assert not has_python_eval(_half_sketch_partial(ev))
    # one logical aggregate = two physical HashAggregate stages
    # (partial + final) and exactly one exchange between them
    assert partial_plan.count("HashAggregate") == 2, partial_plan[:1500]
    assert count_exchanges(_half_sketch_partial(ev)) == 1

    store = tempfile.mkdtemp(prefix="kll_plan_") + "/s"
    merge_batch_into_kll_store(spark, ev, store, 0)
    for serve in (serve_kll_drift, serve_kll_w1):
        assert not has_python_eval(serve(spark, store))


def test_binning_histogram_emit_broadcasts_bounds(spark, sf_smoke, tmp_path):
    """The per-batch histogram emit joins batch rows to the bins-sized
    boundary snapshot — that join must broadcast the snapshot (a
    shuffle join here would re-partition every batch at 100 TB), and
    the binning tail stays JVM-side."""
    from heatmap_spark.streaming.kll_store import (
        _histogram_rows,
        emit_binning_snapshot,
        merge_batch_into_kll_store,
    )

    labeled = load_table(spark, sf_smoke, "events").select(
        "event_type",
        F.lit(1).alias("is_a"),
        "value",
    )
    store = str(tmp_path / "s")
    merge_batch_into_kll_store(spark, labeled, store, 0)
    emit_binning_snapshot(spark, store, 0)
    bnd = spark.read.parquet(store + "/bins/batch=0").select(
        "event_type", "n_bins", "bounds"
    )
    binned = _histogram_rows(labeled, bnd, 0)
    assert has_broadcast_join(binned), plan_string(binned, "simple")
    assert not has_python_eval(binned)


def test_headline_queries_build_without_spark_jobs(spark, sf_smoke):
    """Job budget of the build phase: constructing a headline query's
    DataFrame launches no Spark job (the fixture tables are read with
    declared schemas, so there is no schema-inference job).  The one
    exception is the cascade pyramid, whose eager per-level checkpoints
    run during build; they are pinned at their count."""
    from heatmap_spark.queries import headline_queries

    budget = {"q_heatmap_pyramid_cascade": 6}

    def max_job_id():
        ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
        return max(ids, default=-1)

    jobs = {}
    for name, fn in headline_queries().items():
        j0 = max_job_id()
        fn(spark, sf_smoke)
        jobs[name] = max_job_id() - j0
    assert jobs == {name: budget.get(name, 0) for name in jobs}, jobs
