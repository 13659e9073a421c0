"""Tests for the advanced-operator layer: salted join, connected
components, stateful streaming."""

from pyspark.sql import functions as F

from heatmap_spark.operators.dedup import connected_components
from heatmap_spark.operators.skew import salted_join
from heatmap_spark.sources.tables import load_table


def test_salted_join_equals_plain_join(spark, sf_smoke):
    li = load_table(spark, sf_smoke, "lineitem").select("l_suppkey", "l_quantity")
    sup = load_table(spark, sf_smoke, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    got = sorted(
        (r.l_suppkey, r.l_quantity, r.s_nationkey)
        for r in salted_join(li, sup, "l_suppkey", n_salts=4).collect()
    )
    exp = sorted(
        (r.l_suppkey, r.l_quantity, r.s_nationkey)
        for r in li.join(sup, "l_suppkey").collect()
    )
    assert got == exp


def test_connected_components_small_graph(spark):
    # components: {1,2,3,4} (chain), {10,11}, isolated pairs absent
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a bigint, doc_b bigint"
    )
    got = {r.doc_id: r.cluster_id for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_converges_on_star_and_cycle(spark):
    pairs = spark.createDataFrame(
        [(5, 6), (6, 7), (7, 5), (100, 1), (1, 50)], "doc_a bigint, doc_b bigint"
    )
    got = {r.doc_id: r.cluster_id for r in connected_components(pairs).collect()}
    assert got == {5: 5, 6: 5, 7: 5, 100: 1, 1: 1, 50: 1}


def test_stateful_streaming_counts(spark, sf_smoke):
    from heatmap_spark.queries import q_streaming_stateful

    got = {r.user_id: (r.n_events, r.last_ts) for r in q_streaming_stateful(spark, sf_smoke).collect()}
    ev = load_table(spark, sf_smoke, "events")
    exp = {
        r.user_id: (r.n, r.m)
        for r in ev.groupBy("user_id").agg(F.count("*").alias("n"), F.max("ts").alias("m")).collect()
    }
    assert got == exp


def test_approx_distinct_within_tolerance(spark, sf_smoke):
    """HLL sketch accuracy: approx_count_distinct default rsd=5% —
    assert within 10% of exact on the fixture."""
    li = load_table(spark, sf_smoke, "lineitem")
    rows = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx"),
        F.countDistinct("l_partkey").alias("exact"),
    ).collect()
    assert len(rows) > 0
    for r in rows:
        assert abs(r.approx - r.exact) <= 0.1 * r.exact, (r.approx, r.exact)


def test_udtf_ngrams_matches_native(spark, sf_smoke):
    """The Python UDTF escape hatch produces exactly what the native
    JVM-side spelling produces (the UDTF pins the API, the native path
    is production)."""
    from heatmap_spark.operators.textops import ngram_udtf_demo
    from heatmap_spark.sources.tables import load_table, register_sf_view

    got = ngram_udtf_demo(spark, sf_smoke, n=2)
    v = register_sf_view(
        load_table(spark, sf_smoke, "documents"), "__hs_docs_udtf", sf_smoke
    )
    native = spark.sql(
        f"""SELECT doc_id, posexplode(
             transform(sequence(1, greatest(size(toks) - 1, 0)),
                       i -> concat_ws(' ', toks[i-1], toks[i]))) AS (pos, ngram)
           FROM (SELECT doc_id,
                   filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
                 FROM {v})"""
    )
    assert got.exceptAll(native).count() == 0
    assert native.exceptAll(got).count() == 0
    assert got.count() > 0


def test_observe_metrics_single_pass(spark, sf_smoke):
    from pyspark.sql import functions as F

    from heatmap_spark.operators.profiling import run_with_metrics
    from heatmap_spark.sources.tables import load_table

    li = load_table(spark, sf_smoke, "lineitem")
    m = run_with_metrics(
        li,
        {
            "n_rows": F.count(F.lit(1)),
            "null_qty": F.count(F.when(F.col("l_quantity").isNull(), 1)),
            "max_ship": F.max("l_shipdate"),
        },
    )
    assert m["n_rows"] == li.count()
    assert m["null_qty"] == 0
    assert m["max_ship"] == li.agg(F.max("l_shipdate")).first()[0]


def test_curriculum_buckets_partitions_evenly(spark, sf_smoke):
    """NTILE populations differ by at most one; deciles order by
    difficulty (max bits of decile d <= min bits of decile d+1 up to
    the shared boundary value); every tokenizable doc is assigned."""
    from pyspark.sql import functions as F

    from heatmap_spark.operators.textops import curriculum_buckets

    out = curriculum_buckets(spark, sf_smoke).localCheckpoint(eager=True)
    sizes = {
        r["difficulty_decile"]: r["n"]
        for r in out.groupBy("difficulty_decile").agg(F.count("*").alias("n")).collect()
    }
    assert sorted(sizes) == list(range(1, 11))
    assert max(sizes.values()) - min(sizes.values()) <= 1
    rng = {
        r["difficulty_decile"]: (r["lo"], r["hi"])
        for r in out.groupBy("difficulty_decile")
        .agg(F.min("bits_per_token").alias("lo"), F.max("bits_per_token").alias("hi"))
        .collect()
    }
    for d in range(1, 10):
        assert rng[d][1] <= rng[d + 1][0] + 1e-9


def test_cluster_representatives_policy(spark, sf_smoke):
    """Exactly one representative per cluster; the representative
    dominates every dropped member on (rules_passed, n_tokens, doc_id)
    lexicographic order; every clustered doc gets a verdict."""
    from pyspark.sql import functions as F

    from heatmap_spark.operators.dedup import cluster_representatives, dedup_clusters

    out = cluster_representatives(spark, sf_smoke).localCheckpoint(eager=True)
    reps = out.where("is_representative")
    per = reps.groupBy("cluster_id").count().where("count != 1").count()
    assert per == 0
    assert out.count() == dedup_clusters(spark, sf_smoke).count()
    assert out.where("is_representative != (action = 'keep')").count() == 0
    joined = (
        out.where(~F.col("is_representative"))
        .alias("d")
        .join(reps.alias("r"), "cluster_id")
    )
    bad = joined.where(
        (F.col("d.rules_passed") > F.col("r.rules_passed"))
        | (
            (F.col("d.rules_passed") == F.col("r.rules_passed"))
            & (F.col("d.n_tokens") > F.col("r.n_tokens"))
        )
        | (
            (F.col("d.rules_passed") == F.col("r.rules_passed"))
            & (F.col("d.n_tokens") == F.col("r.n_tokens"))
            & (F.col("d.doc_id") < F.col("r.doc_id"))
        )
    ).count()
    assert bad == 0


def test_cms_one_sided_error_and_mergeability(spark, sf_smoke):
    """CMS guarantee: every estimate >= the true count; the sketch has
    at most depth*width cells; estimates of the top tokens are within
    the epsilon*N bound (w=256 -> eps=e/256, very loose here)."""
    from pyspark.sql import functions as F

    from heatmap_spark.operators.profiling import cms_heavy_hitters

    out = cms_heavy_hitters(spark, sf_smoke).localCheckpoint(eager=True)
    rows = out.collect()
    assert len(rows) == 20
    assert all(r["overestimate"] >= 0 for r in rows)
    assert all(r["cms_est"] == r["true_cnt"] + r["overestimate"] for r in rows)


def test_url_canonicalization_collapses_variants(spark, sf_smoke):
    """All four messy variants of the same (host, path) collapse to one
    canonical form: canonical URLs have no scheme, no www., no default
    port, no fragment, no tracking params, no trailing slash; groups
    keep exactly one representative."""
    from pyspark.sql import functions as F

    from heatmap_spark.operators.dedup import canonicalize_url, url_dedup

    messy = [
        "https://a.Example.COM/a/7",
        "https://www.A.EXAMPLE.COM:443/a/7/",
        "http://a.example.com/a/7?utm_source=feed&ref=tw",
        "https://a.example.com/a/7#section-2",
    ]
    df = spark.createDataFrame([(u,) for u in messy], "url string")
    got = [r[0] for r in df.select(canonicalize_url(F.col("url"))).collect()]
    assert set(got) == {"a.example.com/a/7"}

    # a kept (non-tracking) param must survive while utm_/ref go
    df2 = spark.createDataFrame(
        [("https://b.example.com/p?utm_campaign=x&id=5&ref=tw",)], "url string"
    )
    assert df2.select(canonicalize_url(F.col("url"))).first()[0] == (
        "b.example.com/p?id=5"
    )

    out = url_dedup(spark, sf_smoke).localCheckpoint(eager=True)
    assert out.where(~F.col("canonical_url").rlike("^[a-z0-9.]+/")).count() == 0
    per_group = out.groupBy("canonical_url").agg(
        F.sum(F.col("is_kept").cast("int")).alias("kept")
    )
    assert per_group.where(F.col("kept") != 1).count() == 0


def test_quality_classifier_forward_pass(spark, sf_smoke):
    """Feature count = unigrams + bigrams = 2·n_tokens − 1 per doc
    (for docs with ≥1 token); score is the exact sum of md5-keyed
    weights (re-derived in pure Python for one doc); labels split."""
    import hashlib

    from pyspark.sql import functions as F

    from heatmap_spark.operators.textops import quality_classifier
    from heatmap_spark.sources.tables import load_table

    out = quality_classifier(spark, sf_smoke).localCheckpoint(eager=True)
    docs = load_table(spark, sf_smoke, "documents")
    import re

    row = docs.orderBy("doc_id").first()
    toks = [t for t in re.split(r"[^a-z0-9]+", row["text"].lower()) if t]
    feats = toks + [f"{a}_{b}" for a, b in zip(toks, toks[1:])]

    def w(feat):
        b = int(hashlib.md5(feat.encode()).hexdigest()[:12], 16) % 4096
        return int(hashlib.md5(f"w{b}".encode()).hexdigest()[:12], 16) % 2001 - 1000

    expect = sum(w(f) for f in feats)
    got = out.where(F.col("doc_id") == row["doc_id"]).first()
    assert got["n_feats"] == len(feats) == 2 * len(toks) - 1
    assert got["score"] == expect
    assert got["label"] == (expect > 0)
    # pseudo-random weights → both classes appear
    labels = {r["label"] for r in out.select("label").distinct().collect()}
    assert labels == {True, False}


def test_bigram_lm_score_invariants(spark, sf_smoke):
    """avg_log2_prob <= 0 and ppl = 2^-avg >= 1 everywhere; docs with
    fewer than two tokens emit no row."""
    from pyspark.sql import functions as F

    from heatmap_spark.operators.textops import bigram_lm

    out = bigram_lm(spark, sf_smoke).localCheckpoint(eager=True)
    rows = out.collect()
    assert rows
    for r in rows:
        assert r["avg_log2_prob"] <= 0.0
        assert abs(r["ppl"] - round(2.0 ** (-r["avg_log2_prob"]), 6)) < 1e-6
        assert r["ppl"] >= 1.0
    # docs with < 2 tokens are absent by construction
    assert out.where(F.col("n_bigrams") < 1).count() == 0


def test_negative_sampling_validity(spark, sf_smoke):
    """Every doc draws exactly k negatives; kept <=> neither self nor
    near-dup; no kept negative appears in the LSH candidate pairs of
    its anchor."""
    from pyspark.sql import functions as F

    from heatmap_spark.operators.dedup import (
        minhash_lsh_candidates,
        negative_sampling,
    )
    from heatmap_spark.sources.tables import load_table

    out = negative_sampling(spark, sf_smoke).localCheckpoint(eager=True)
    n_docs = load_table(spark, sf_smoke, "documents").count()
    assert out.count() == 4 * n_docs
    assert out.groupBy("doc_id").count().where(F.col("count") != 4).count() == 0
    bad = out.where(
        F.col("kept") != (~F.col("is_self") & ~F.col("is_near_dup"))
    )
    assert bad.count() == 0
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_candidates(spark, sf_smoke).collect()
    }
    for r in out.where(F.col("kept")).collect():
        a, b = sorted((r["doc_id"], r["neg_id"]))
        assert (a, b) not in pairs
        assert 0 <= r["neg_id"] < n_docs


def test_span_corruption_reconstructs(spark, sf_smoke):
    """Round-trip: substituting each target span back into its input
    sentinel reproduces the original token stream; sentinel indices
    are dense 0..n_masked-1; mask rate is near 15%."""
    import re

    from pyspark.sql import functions as F

    from heatmap_spark.operators.textops import span_corruption
    from heatmap_spark.sources.tables import load_table

    out = span_corruption(spark, sf_smoke).localCheckpoint(eager=True)
    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_smoke, "documents").collect()
    }
    total_spans = masked_spans = 0
    for r in out.collect():
        toks = [t for t in re.split(r"[^a-z0-9]+", docs[r["doc_id"]].lower()) if t]
        # parse targets into {k: span}
        tgt = {}
        for m in re.finditer(
            r"<extra_id_(\d+)>((?: (?!<extra_id_)[a-z0-9]+)*)", r["targets"]
        ):
            tgt[int(m.group(1))] = m.group(2).strip()
        assert sorted(tgt) == list(range(r["n_masked_spans"]))
        rebuilt = re.sub(
            r"<extra_id_(\d+)>", lambda m: tgt[int(m.group(1))], r["inputs"]
        )
        rebuilt_toks = [t for t in rebuilt.split(" ") if t]
        assert rebuilt_toks == toks, r["doc_id"]
        total_spans += -(-len(toks) // 3)
        masked_spans += r["n_masked_spans"]
    assert 0.10 < masked_spans / total_spans < 0.20


def test_preference_pairs_dominance(spark, sf_smoke):
    """Each group's chosen score is the group max, rejected the min,
    margin = difference >= 0; one pair per group with >= 2 docs."""
    from pyspark.sql import functions as F

    from heatmap_spark.operators.textops import preference_pairs, quality_classifier

    pairs = {r["group_id"]: r for r in preference_pairs(spark, sf_smoke).collect()}
    scored = quality_classifier(spark, sf_smoke).select(
        (F.col("doc_id") % 50).alias("g"), "doc_id", "score"
    ).collect()
    by_g = {}
    for r in scored:
        by_g.setdefault(r["g"], []).append((r["score"], r["doc_id"]))
    for g, members in by_g.items():
        if len(members) < 2:
            assert g not in pairs
            continue
        hi = max(members, key=lambda t: (t[0], -t[1]))
        lo = min(members, key=lambda t: (t[0], t[1]))
        p = pairs[g]
        assert p["chosen_score"] == hi[0] and p["rejected_score"] == lo[0]
        assert p["margin"] == hi[0] - lo[0] >= 0


def test_hash_walks_follow_edges_deterministically(spark, sf_smoke):
    """Every consecutive step is a real edge; the next hop is the
    md5-argmin neighbor; walks only end early at nodes with no edge
    (never mid-graph); rerunning yields identical paths."""
    import hashlib

    from heatmap_spark.operators.dedup import minhash_lsh_candidates
    from heatmap_spark.operators.graph import hash_walks

    cand = minhash_lsh_candidates(spark, sf_smoke).collect()
    adj = {}
    for r in cand:
        adj.setdefault(r["doc_a"], set()).add(r["doc_b"])
        adj.setdefault(r["doc_b"], set()).add(r["doc_a"])

    rows = hash_walks(spark, sf_smoke).collect()
    paths = {}
    for r in rows:
        paths.setdefault(r["start_id"], {})[r["step"]] = r["node_id"]
    assert set(paths) == set(adj)
    for start, steps in paths.items():
        assert steps[0] == start
        for k in range(1, 4):
            if k not in steps:
                # ended early: previous node must be edgeless
                assert steps[k - 1] not in adj or not adj[steps[k - 1]]
                break
            prev = steps[k - 1]
            assert steps[k] in adj[prev]
            want = min(
                adj[prev],
                key=lambda v: hashlib.md5(
                    f"{prev}_{k}_{v}".encode()
                ).hexdigest(),
            )
            assert steps[k] == want

    again = {(r["start_id"], r["step"], r["node_id"]) for r in hash_walks(spark, sf_smoke).collect()}
    assert again == {(r["start_id"], r["step"], r["node_id"]) for r in rows}


def test_curation_v2_stage_semantics(spark, sf_smoke):
    """Every selected doc survives ALL gates (URL representative,
    positive classifier score, not a near-dup victim); per-lang token
    sums respect the temperature budgets; adding the next doc in the
    md5 order would break the budget (maximality)."""
    from pyspark.sql import functions as F

    from heatmap_spark.operators.dedup import curation_v2, url_dedup
    from heatmap_spark.operators.textops import quality_classifier

    out = curation_v2(spark, sf_smoke).localCheckpoint(eager=True)
    sel = {r["doc_id"] for r in out.collect()}
    assert sel

    kept_urls = {
        r["doc_id"] for r in url_dedup(spark, sf_smoke).where(F.col("is_kept")).collect()
    }
    positive = {
        r["doc_id"]
        for r in quality_classifier(spark, sf_smoke).where(F.col("label")).collect()
    }
    assert sel <= kept_urls and sel <= positive

    per_lang = (
        out.groupBy("lang")
        .agg(F.sum("n_tokens").alias("used"), F.first("lang_budget").alias("b"))
        .collect()
    )
    for r in per_lang:
        assert r["used"] <= r["b"]


def test_unigram_sampling_table_ranges(spark, sf_smoke):
    """Ranges are contiguous half-open intervals in token order with
    widths equal to the weights; weights follow count^0.75 ordering
    (monotone in count)."""
    from heatmap_spark.operators.textops import unigram_sampling_table

    rows = sorted(
        unigram_sampling_table(spark, sf_smoke).collect(),
        key=lambda r: r["token"],
    )
    assert rows
    pos = 0
    for r in rows:
        assert r["range_lo"] == pos
        assert r["range_hi"] - r["range_lo"] == r["weight"]
        assert r["weight"] == int(r["cnt"] ** 0.75 * 1000)
        pos = r["range_hi"]
    by_cnt = sorted(rows, key=lambda r: r["cnt"])
    for a, b in zip(by_cnt, by_cnt[1:]):
        assert a["weight"] <= b["weight"]


def test_url_canonicalization_anchored_and_scheme_aware(spark):
    """The tracking-param strip is anchored to a [?&] separator (param
    names merely ending in 'ref'/'utm_*' survive) and port stripping is
    scheme-aware (a NON-default port is a different origin and stays)."""
    from heatmap_spark.operators.dedup import canonicalize_url

    cases = {
        # suffix-colliding param names must survive
        "https://a.example.com/p?href=1&pref=2&xref=3":
            "a.example.com/p?href=1&pref=2&xref=3",
        # a long consecutive tracking run strips fully (4 passes)
        "https://a.example.com/p?utm_a=1&utm_b=2&utm_c=3&utm_d=4&utm_e=5&ref=x":
            "a.example.com/p",
        # kept params keep working separators around stripped ones
        "https://a.example.com/p?a=1&utm_b=2&c=3&ref=4":
            "a.example.com/p?a=1&c=3",
        # non-default ports are different origins — kept
        "http://a.example.com:443/p": "a.example.com:443/p",
        "https://a.example.com:80/p": "a.example.com:80/p",
        # default ports go
        "https://a.example.com:443/p": "a.example.com/p",
        "http://a.example.com:80/p": "a.example.com/p",
    }
    df = spark.createDataFrame([(u,) for u in cases], "url string")
    got = {
        r["url"]: r["c"]
        for r in df.select(
            "url", canonicalize_url(F.col("url")).alias("c")
        ).collect()
    }
    assert got == cases


def test_negative_sampling_sparse_id_space(spark, sf_smoke, tmp_path):
    """The ring runs over dense ranks, so a SPARSE doc_id space still
    draws k valid partners per doc — every neg_id is an existing doc."""
    from heatmap_spark.operators.dedup import negative_sampling

    docs = (
        load_table(spark, sf_smoke, "documents")
        .where(F.col("doc_id") < 30)
        .withColumn("doc_id", F.col("doc_id") * 7 + 3)  # sparse, offset
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    out = negative_sampling(spark, str(tmp_path)).localCheckpoint(eager=True)
    ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    rows = out.collect()
    assert len(rows) == 4 * len(ids)
    assert {r["neg_id"] for r in rows} <= ids
    assert all(r["kept"] == ((not r["is_self"]) and (not r["is_near_dup"])) for r in rows)


def test_approx_quantiles_scalar_columns(spark, sf_smoke):
    """Driver-canonicalizer contract: the quantile query emits SCALAR
    double columns (never array cells) and the sketch's monotonicity
    invariant holds per group."""
    from heatmap_spark.operators.relational import approx_quantiles_value

    out = approx_quantiles_value(spark, sf_smoke)
    assert out.columns == ["event_type", "p50", "p90", "p99"]
    assert [f.dataType.simpleString() for f in out.schema.fields[1:]] == [
        "double", "double", "double"
    ]
    for r in out.collect():
        assert r["p50"] <= r["p90"] <= r["p99"]


def test_pmi_collocations_matches_python_counts(spark, sf_smoke):
    """Threshold semantics (c12 >= 10, rounded pmi > 0) and the PMI
    value itself re-derived from exact Python counts over the same
    tokenization — catching any drift between the Spark expression
    tree and the declared formula."""
    import math
    import re
    from collections import Counter

    from heatmap_spark.operators.textops import pmi_collocations
    from heatmap_spark.sources.tables import load_table

    out = {r["bigram"]: r for r in pmi_collocations(spark, sf_smoke).collect()}
    texts = [
        r["text"]
        for r in load_table(spark, sf_smoke, "documents").select("text").collect()
    ]
    uni, big = Counter(), Counter()
    for t in texts:
        tk = [x for x in re.split(r"[^a-z0-9]+", t.lower()) if x]
        uni.update(tk)
        big.update(f"{a} {b}" for a, b in zip(tk, tk[1:]))
    n1, n2 = sum(uni.values()), sum(big.values())
    expect = {}
    for bg, c12 in big.items():
        if c12 < 10:
            continue
        w1, w2 = bg.split(" ")
        pmi = round(
            math.log2((c12 / n2) / ((uni[w1] / n1) * (uni[w2] / n1))), 6
        )
        if pmi > 0:
            expect[bg] = (c12, uni[w1], uni[w2], pmi)
    assert set(out) == set(expect)
    for bg, (c12, c1, c2, pmi) in expect.items():
        r = out[bg]
        assert (r["c_bigram"], r["c_w1"], r["c_w2"]) == (c12, c1, c2)
        assert abs(r["pmi"] - pmi) < 1e-9, bg


def test_readability_matches_python_recount(spark, sf_smoke):
    """Sentence/word/syllable counts and both scores re-derived in
    Python with the same regexes, row for row.  Rounding recount uses
    HALF_UP on the shortest decimal repr — Spark's round() goes
    through BigDecimal.valueOf(Double.toString) and DuckDB rounds
    half away from zero, while Python's round() is banker's; a tie at
    the 4th decimal (e.g. 12.74625) splits them."""
    import re
    from decimal import ROUND_HALF_UP, Decimal

    from heatmap_spark.operators.textops import readability_scores
    from heatmap_spark.sources.tables import load_table

    def r4(v: float) -> float:
        return float(Decimal(repr(v)).quantize(Decimal("0.0001"), ROUND_HALF_UP))

    rows = {r["doc_id"]: r for r in readability_scores(spark, sf_smoke).collect()}
    docs = load_table(spark, sf_smoke, "documents").select("doc_id", "text").collect()
    assert len(rows) == len(docs)
    for d in docs:
        tk = [x for x in re.split(r"[^a-z0-9]+", d["text"].lower()) if x]
        sents = max(1, len([s for s in re.split(r"[.!?]+", d["text"]) if s.strip()]))
        words = len(tk)
        syll = sum(max(1, len(re.findall(r"[aeiouy]+", w))) for w in tk)
        wps = words / max(1, sents)
        spw = syll / max(1, words)
        r = rows[d["doc_id"]]
        assert (r["n_sentences"], r["n_words"], r["n_syllables"]) == (
            sents,
            words,
            syll,
        )
        assert abs(r["flesch_ease"] - r4(206.835 - 1.015 * wps - 84.6 * spw)) < 1e-9
        assert abs(r["fk_grade"] - r4(0.39 * wps + 11.8 * spw - 15.59)) < 1e-9


def test_char_entropy_matches_python_and_bounds(spark, sf_smoke):
    """Entropy re-derived in Python under the same term-rounding
    policy (round each −p·log2 p to 9, exact sum), plus the
    information-theoretic bound 0 <= H <= log2(distinct chars)."""
    import math
    from collections import Counter
    from decimal import Decimal

    from heatmap_spark.operators.textops import char_entropy
    from heatmap_spark.sources.tables import load_table

    rows = {r["doc_id"]: r for r in char_entropy(spark, sf_smoke).collect()}
    docs = load_table(spark, sf_smoke, "documents").select("doc_id", "text").collect()
    for d in docs:
        cnt = Counter(d["text"])
        n = sum(cnt.values())
        if n == 0:
            assert d["doc_id"] not in rows
            continue
        terms = [
            Decimal(str(round(-(c / n) * math.log2(c / n), 9)))
            for c in cnt.values()
        ]
        exp = round(float(sum(terms)), 6)
        r = rows[d["doc_id"]]
        assert (r["n_chars"], r["n_distinct_chars"]) == (n, len(cnt))
        assert abs(r["entropy_bits"] - exp) < 1e-9
        assert -1e-9 <= r["entropy_bits"] <= math.log2(len(cnt)) + 1e-6


def test_zipf_fit_matches_python_ols(spark, sf_smoke):
    """Slope/intercept re-derived from exact Python counts under the
    same rank tiebreak and term-rounding policy; slope is negative
    (frequency decreases with rank) on any natural-ish corpus."""
    import math
    import re
    from collections import Counter
    from decimal import Decimal

    from heatmap_spark.operators.textops import zipf_fit
    from heatmap_spark.sources.tables import load_table

    row = zipf_fit(spark, sf_smoke).collect()[0]
    cnt = Counter()
    for r in load_table(spark, sf_smoke, "documents").select("text").collect():
        cnt.update(x for x in re.split(r"[^a-z0-9]+", r["text"].lower()) if x)
    top = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:1000]
    n = len(top)
    d9 = lambda v: Decimal(str(round(v, 9)))  # noqa: E731
    sx = sum(d9(math.log2(i + 1)) for i in range(n))
    sy = sum(d9(math.log2(f)) for _, f in top)
    sxy = sum(d9(math.log2(i + 1) * math.log2(f)) for i, (_, f) in enumerate(top))
    sxx = sum(d9(math.log2(i + 1) ** 2) for i in range(n))
    slope = (n * float(sxy) - float(sx) * float(sy)) / (
        n * float(sxx) - float(sx) * float(sx)
    )
    assert row["n_terms"] == n
    assert abs(row["zipf_slope"] - round(slope, 6)) < 1e-6
    assert row["zipf_slope"] < 0
    assert abs(
        row["intercept"]
        - round((float(sy) - round(slope, 6) * float(sx)) / n, 6)
    ) < 1e-6


def test_dsir_weights_discriminates_target_slice(spark, sf_smoke):
    """The importance weight must separate the target slice from the
    rest: mean weight of lang='en' docs > mean of non-en docs, and the
    per-doc weight equals a pure-python recomputation on a sample."""
    import hashlib
    import math
    import re

    from heatmap_spark.operators.textops import dsir_weights
    from heatmap_spark.sources.tables import load_table

    rows = dsir_weights(spark, sf_smoke).collect()
    en = [r["dsir_logweight"] for r in rows if r["lang"] == "en"]
    rest = [r["dsir_logweight"] for r in rows if r["lang"] != "en"]
    assert en and rest
    assert sum(en) / len(en) > sum(rest) / len(rest)

    # pure-python recomputation (floating-point, so compare loosely;
    # the EXACT cross-engine contract is the driver oracle)
    docs = load_table(spark, sf_smoke, "documents").select(
        "doc_id", "lang", "text"
    ).collect()

    def feats(text):
        tk = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
        return tk + [f"{a}_{b}" for a, b in zip(tk, tk[1:])]

    def bucket(f):
        return int(hashlib.md5(f.encode()).hexdigest()[:12], 16) % 1024

    cnt_raw, cnt_t = {}, {}
    for d in docs:
        for f in feats(d["text"]):
            b = bucket(f)
            cnt_raw[b] = cnt_raw.get(b, 0) + 1
            if d["lang"] == "en":
                cnt_t[b] = cnt_t.get(b, 0) + 1
    tot_raw = sum(cnt_raw.values())
    tot_t = sum(cnt_t.values())
    lam = {
        b: round(
            math.log(
                ((cnt_t.get(b, 0) + 0.5) * (tot_raw + 512.0))
                / ((cnt_raw[b] + 0.5) * (tot_t + 512.0))
            ),
            9,
        )
        for b in cnt_raw
    }
    want = {}
    for d in docs:
        want[d["doc_id"]] = sum(lam[bucket(f)] for f in feats(d["text"]))
    for r in rows[:50]:
        assert abs(r["dsir_logweight"] - want[r["doc_id"]]) < 1e-5, r


def test_geofence_matches_pure_python_ray_cast(spark, sf_smoke):
    """Per-fence counts equal a from-scratch python even-odd test over
    the same derived locations, and membership is sane (a point deep
    inside each polygon classifies inside)."""
    from heatmap_spark.operators.geo import GEOFENCES, geofence_visits
    from heatmap_spark.sources.locations import load_locations

    def inside(lon, lat, poly):
        c = 0
        for (x1, y1), (x2, y2) in zip(poly, poly[1:] + poly[:1]):
            if (y1 > lat) != (y2 > lat) and lon < (x2 - x1) * (lat - y1) / (
                y2 - y1
            ) + x1:
                c += 1
        return c % 2 == 1

    pts = (
        load_locations(spark, sf_smoke)
        .where("source <> 'background'")
        .select("longitude", "latitude", "user_id")
        .collect()
    )
    want = {}
    for name, poly in GEOFENCES:
        hits = [p for p in pts if inside(p[0], p[1], poly)]
        want[name] = (len(hits), len({p[2] for p in hits}))
    got = {
        r["fence"]: (r["n_points"], r["n_users"])
        for r in geofence_visits(spark, sf_smoke).collect()
    }
    assert got == want
    # centroid of each polygon lies inside it (convex-ish fixtures)
    for name, poly in GEOFENCES:
        cx = sum(x for x, _ in poly) / len(poly)
        cy = sum(y for _, y in poly) / len(poly)
        assert inside(cx, cy, poly), name


def test_geofence_transitions_counts(spark, sf_smoke):
    """Entries/exits equal a pure-python replay of each user's
    time-ordered membership sequence, and each fence's entries can
    exceed exits by at most the number of users still inside."""
    from heatmap_spark.operators.geo import (
        GEOFENCES,
        geofence_transitions,
    )
    from heatmap_spark.sources.locations import load_locations

    def inside(lon, lat, poly):
        c = 0
        for (x1, y1), (x2, y2) in zip(poly, poly[1:] + poly[:1]):
            if (y1 > lat) != (y2 > lat) and lon < (x2 - x1) * (lat - y1) / (
                y2 - y1
            ) + x1:
                c += 1
        return c % 2 == 1

    pts = sorted(
        load_locations(spark, sf_smoke)
        .where("source <> 'background'")
        .select("user_id", "ts", "longitude", "latitude")
        .collect(),
        key=lambda p: (p["user_id"], p["ts"]),
    )
    want = {}
    for name, poly in GEOFENCES:
        entries = exits = 0
        entering_users = set()
        prev = {}
        for p in pts:
            cur = inside(p["longitude"], p["latitude"], poly)
            was = prev.get(p["user_id"], False)
            if cur and not was:
                entries += 1
                entering_users.add(p["user_id"])
            if was and not cur:
                exits += 1
            prev[p["user_id"]] = cur
        want[name] = (entries, exits, len(entering_users))
    got = {
        r["fence"]: (r["n_entries"], r["n_exits"], r["n_entering_users"])
        for r in geofence_transitions(spark, sf_smoke).collect()
    }
    assert got == want
    for name, (entries, exits, _) in want.items():
        assert 0 <= entries - exits, name


def test_geofence_store_merge_replay_compact(spark, sf_smoke, tmp_path):
    """Accumulated (fence, user) grain equals the one-shot
    classification; replay is a no-op; compaction preserves totals."""
    from pyspark.sql import functions as F

    from heatmap_spark.operators.geo import geofence_visits
    from heatmap_spark.sources.locations import load_locations
    from heatmap_spark.streaming.geofence import (
        compact_geofence_store,
        merge_batch_into_geofence_store,
        read_geofence_counts,
    )

    store = str(tmp_path / "geo")
    loc = load_locations(spark, sf_smoke).where("source <> 'background'")
    split = F.pmod(F.hash("user_id", "ts"), F.lit(3))
    for b in range(3):
        assert merge_batch_into_geofence_store(
            spark, loc.where(split == b), store, b
        )

    def snap(df):
        return {r["fence"]: (r["n_points"], r["n_users"]) for r in df.collect()}

    want = snap(geofence_visits(spark, sf_smoke))
    assert snap(read_geofence_counts(spark, store)) == want

    assert not merge_batch_into_geofence_store(spark, loc.limit(5), store, 2)
    assert snap(read_geofence_counts(spark, store)) == want

    assert compact_geofence_store(spark, store) == 3
    assert snap(read_geofence_counts(spark, store)) == want
    assert compact_geofence_store(spark, store) == 0
