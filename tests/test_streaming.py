"""Structured Streaming tests: a bounded parquet-backed stream driven to
completion via the memory sink, compared against the batch twin on the
same data (SURVEY.md §7.6)."""

import pytest
from pyspark.sql import functions as F

from heatmap_spark.operators import pyramid as P
from heatmap_spark.operators.sessions import sessionize
from heatmap_spark.sources.locations import load_locations
from heatmap_spark.sources.tables import load_table
from heatmap_spark.streaming import incremental as S


def run_stream(df, name, mode="complete"):
    q = (
        df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()


def test_streaming_tumbling_matches_batch(spark, sf_smoke):
    ev_stream = S.read_events_stream(spark, sf_smoke)
    run_stream(S.streaming_tumbling_counts(ev_stream), "t_tumbling")
    got = {
        (r.window_start, r.event_type): r.n_events
        for r in spark.sql("SELECT * FROM t_tumbling").collect()
    }
    ev = load_table(spark, sf_smoke, "events")
    exp = {
        (r.window_start, r.event_type): r.n_events
        for r in ev.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
        .collect()
    }
    assert got == exp and len(got) > 0


def test_streaming_tile_counts_matches_batch(spark, sf_smoke):
    loc_stream = S.derive_locations_stream(S.read_events_stream(spark, sf_smoke))
    run_stream(S.streaming_tile_counts(loc_stream, zoom=10, window="60 minutes"), "t_tiles")
    got = {
        (r.window_start, r.user_group, r.tile_id): r.visits
        for r in spark.sql("SELECT * FROM t_tiles").collect()
    }
    # batch twin: same window bucketing + single-zoom pyramid keys
    loc = load_locations(spark, sf_smoke)
    ing = P.ingest_locations(loc, detail_zoom=10)
    exp_df = (
        ing.select(
            F.window("ts", "60 minutes").alias("w"),
            F.explode(P.user_groups_expr("user_id")).alias("user_group"),
            "row",
            "col",
            "weight",
        )
        .groupBy("w", "user_group", "row", "col")
        .agg(F.sum("weight").alias("visits"))
    )
    exp = {
        (r.w.start, r.user_group, f"10_{r.row}_{r.col}"): r.visits for r in exp_df.collect()
    }
    assert got == exp and len(got) > 0


def test_streaming_session_window_counts(spark, sf_smoke):
    ev_stream = S.read_events_stream(spark, sf_smoke)
    run_stream(S.streaming_session_stats(ev_stream, gap="60 minutes"), "t_sessions")
    rows = spark.sql("SELECT * FROM t_sessions").collect()
    assert len(rows) > 0
    # session count + event totals must agree with the batch sessionizer
    ev = load_table(spark, sf_smoke, "events")
    batch = sessionize(ev, gap_minutes=60)
    batch_sessions = batch.groupBy("user_id", "session_id").count()
    assert len(rows) == batch_sessions.count()
    assert sum(r.n_events for r in rows) == ev.count()
    # spot-check one user's session boundaries agree
    uid = rows[0].user_id
    got_u = sorted(
        (r.session_start, r.n_events) for r in rows if r.user_id == uid
    )
    exp_u = sorted(
        (r.start, r.n)
        for r in batch.where(F.col("user_id") == uid)
        .groupBy("session_id")
        .agg(F.min("ts").alias("start"), F.count("*").alias("n"))
        .collect()
    )
    assert got_u == exp_u


def test_streaming_funnel_converges_to_batch(spark, sf_smoke):
    """Single-microbatch streaming funnel state == batch funnel counts."""
    from pyspark.sql import functions as F

    from heatmap_spark.operators.sessions import event_funnel
    from heatmap_spark.queries import q_streaming_funnel

    states = q_streaming_funnel(spark, sf_smoke)
    got = states.agg(
        F.count("first_view").alias("v"),
        F.count("first_click").alias("c"),
        F.count("first_purchase").alias("p"),
        F.count(F.lit(1)).alias("u"),
    ).collect()[0]
    want = event_funnel(spark, sf_smoke).collect()[0]
    assert (got.v, got.c, got.p, got.u) == (
        want.n_view,
        want.n_click_after_view,
        want.n_purchase_after_funnel,
        want.n_users,
    )


def test_streaming_enrich_matches_batch_and_holds_no_state(spark, sf_smoke):
    """Stream-static enrichment equals the same batch join, and the
    streaming query runs with ZERO stateful operators (the property
    that makes it free at any stream length)."""
    from pyspark.sql import functions as F

    from heatmap_spark.sources.tables import load_table
    from heatmap_spark.streaming import incremental as S

    customer = load_table(spark, sf_smoke, "customer")
    n_cust = customer.count()
    events = S.read_events_stream(spark, sf_smoke)
    out = S.streaming_static_enrich(events, customer, n_cust)
    q = (
        out.writeStream.format("memory")
        .queryName("enrich_state_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=300)
    assert not q.lastProgress or not q.lastProgress.get("stateOperators")
    got = spark.table("enrich_state_test")
    batch_events = load_table(spark, sf_smoke, "events")
    want = S.streaming_static_enrich(batch_events, customer, n_cust)
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()
