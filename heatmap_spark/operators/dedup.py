"""Deduplication operators for large-scale text corpora.

Four tiers, all DataFrame-native and shuffle-bounded for 100 TB:

* exact        — hash-groupBy on the raw text (one shuffle).
* fingerprint  — md5 over the sorted distinct token set (normalized
                 bag-of-words dedup; robust to word order / repeats).
* n-gram Jaccard — token-postings self-join: explode distinct tokens,
                 join doc↔doc *through the token* so only documents
                 sharing at least one token ever meet (no cross join),
                 then |A∩B| from the join count and |A∪B| = |A|+|B|−|A∩B|.
* MinHash + LSH — k min-hashes per doc from ONE md5 per shingle via
                 Kirsch–Mitzenmacher double hashing (h1 + i·h2 mod 2^48);
                 band signatures bucket-join candidates (classic
                 banding), verified by true Jaccard.  md5 and hex→int
                 are identical in every engine, so the whole pipeline is
                 oracle-checkable in DuckDB, and the signature
                 computation is one groupBy over the postings.

Token parity note: tokenization is lower + split on /[^a-z0-9]+/ with
empties dropped — same regex semantics in Spark (Java regex) and DuckDB
(RE2) for this pattern.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from heatmap_spark.sources.tables import load_table

TOKEN_SPLIT = "[^a-z0-9]+"


def spread_small_input(df: DataFrame, *cols: str) -> DataFrame:
    """Hash-spread an under-split input across the cluster's cores
    before a CPU-bound projection (r12, guide §2.3).

    Small fixture files arrive as ONE parquet split, which serializes
    tokenize/shingle work onto a single core regardless of cluster
    size.  ``repartition(col)`` alone does not fix this: AQE's
    partition coalescing folds a tiny REPARTITION_BY_COL shuffle back
    to one partition (measured: 1 partition, 10 s single-core shingle
    scan at sf0.01).  Passing an explicit count pins the fan-out —
    AQE leaves user-numbered repartitions alone.

    Scale behavior: when the input already has at least
    defaultParallelism file splits (any real corpus), the spread is
    skipped outright — no shuffle is added at 100 TB.  0 input files
    (in-memory relation) → spread unconditionally, matching
    operators/pyramid.py's ingest spread.  Row content is untouched;
    only physical placement changes.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if not df.isStreaming and len(df.inputFiles()) < target:
        return df.repartition(target, *[F.col(c) for c in cols])
    return df


def tokens_expr(text: str = "text") -> F.Column:
    """array<string> of distinct lowercase tokens, empties removed."""
    toks = F.split(F.lower(F.col(text)), TOKEN_SPLIT)
    return F.array_distinct(F.filter(toks, lambda t: t != ""))


def shingles_expr(text: str = "text", n: int = 3) -> F.Column:
    """array<string> of distinct word n-gram shingles (space-joined).

    Shingles — not unigrams — are what MinHash needs: the shingle space
    is |vocab|^n, so near-duplicate *sequences* collide while merely
    topic-similar documents don't.  Documents shorter than n tokens
    yield an empty set.
    """
    toks = F.filter(F.split(F.lower(F.col(text)), TOKEN_SPLIT), lambda t: t != "")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)]),
    )
    return F.array_distinct(F.when(F.size(toks) >= n, grams).otherwise(F.array()))


def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups: keep lowest doc_id per identical text."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies")
    ).select("keep_id", "n_copies")


def fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-normalized fingerprint: md5 of the sorted distinct token
    set.  Documents with the same vocabulary collapse together."""
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.concat_ws(" ", F.array_sort(tokens_expr())))
    return (
        docs.select("doc_id", fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_members"))
    )


def _doc_shingles(
    docs: DataFrame, n: int = 3, carry: tuple[str, ...] = ()
) -> DataFrame:
    """(doc_id[, *carry], token) distinct shingle postings.

    Two deliberate physical choices (measured 30×+ at sf0.1):
    * the token array is materialized as a real column BEFORE the
      shingle transform — Catalyst does no CSE inside lambda bodies, so
      inlining ``split(...)`` into every element_at would re-tokenize
      the document once per shingle element (quadratic per doc);
    * spread by doc_id first (``spread_small_input``) — small text
      files arrive as one input split, and the shingle transform is
      CPU-bound, so without a spread it runs on a single core no
      matter the cluster size; a well-split corpus skips the shuffle.

    ``carry`` names extra doc-level columns to thread through to the
    postings (e.g. a benchmark-membership flag).
    """
    toks = F.filter(F.split(F.lower(F.col("text")), TOKEN_SPLIT), lambda t: t != "")
    with_toks = spread_small_input(docs, "doc_id").select(
        "doc_id", *carry, toks.alias("toks")
    )
    grams = F.transform(
        F.sequence(F.lit(1), F.size("toks") - (n - 1)),
        lambda i: F.concat_ws(" ", *[F.element_at(F.col("toks"), i + j) for j in range(n)]),
    )
    sh = F.array_distinct(F.when(F.size("toks") >= n, grams).otherwise(F.array()))
    return with_toks.select("doc_id", *carry, F.explode(sh).alias("token"))


def jaccard_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = 0.2, df_cap: int = 128
) -> DataFrame:
    """All document pairs with shingle-set Jaccard ≥ threshold, over
    the df-pruned shingle universe.

    Postings self-join through the shingle: documents only meet where
    they share a shingle, intersection size = matching-shingle count.

    Two 100 TB guards, both mirrored in the DuckDB oracle so the
    approximation itself is hash-checked:

    * postings are materialized ONCE (eager localCheckpoint) and reused
      for both join sides and the set sizes — the tokenize+shingle
      transform (the CPU hot spot) runs a single time, not three;
    * document-frequency pruning: shingles appearing in > df_cap
      documents are boilerplate (headers, license text) whose postings
      join quadratically — a df-cap both kills that skew and removes
      near-zero-signal features.  Hot shingles are found with one
      partial-aggregated groupBy (output = distinct hot shingles only,
      tiny) and removed via broadcast anti-join; Jaccard is then
      computed in the pruned universe (numerator AND denominator), the
      standard stop-feature semantics.
    """
    docs = load_table(spark, sf_dir, "documents")
    post = _doc_shingles(docs).localCheckpoint(eager=True)
    hot = (
        post.groupBy("token")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") > df_cap)
        .select("token")
    )
    kept = post.join(F.broadcast(hot), "token", "left_anti")
    sizes = kept.groupBy("doc_id").agg(F.count("*").alias("set_size"))
    a = kept.alias("a")
    b = kept.alias("b")
    inter = (
        a.join(b, F.col("a.token") == F.col("b.token"))
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("set_size").alias("size_b"))
    jac = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_common")
                / (F.col("size_a") + F.col("size_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )
    return jac.where(F.col("jaccard") >= threshold).select(
        "doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")
    )


def connected_components(
    pairs: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
    max_rounds: int = 50,
    rounds_out: list | None = None,
) -> DataFrame:
    """Duplicate-cluster assignment: connected components over near-dup
    pairs by iterative min-label propagation (an inherently iterative
    algorithm — the SQL-inexpressible class; DuckDB needs a recursive
    CTE to mirror it).

    Each node's label converges to the minimum node id in its component.
    Every round does (1) a neighbor-min propagation and (2) a pointer
    jump (label := label[label], the path-halving trick from classic
    PRAM CC / large-star algorithms), so convergence is O(log diameter)
    rounds rather than O(diameter) — measured 21 rounds on the
    one-giant-component dense-grid graph (diameter ~100) vs
    non-convergence at 20 plain rounds.  Every step
    is joins + groupBys; localCheckpoint() truncates the growing
    lineage each round.  Raises if the ``max_rounds`` cap (default 50,
    i.e. diameter up to ~2^50 via the pointer-jump doubling) somehow
    fails to converge rather than returning wrong labels.
    """
    # Materialize the (static) edge set ONCE: every round joins against
    # it, and without the cut each round would recompute the full
    # upstream lineage (for dense_regions / dedup_clusters that is the
    # whole candidate-generation pipeline) — O(rounds × input) work for
    # an O(input) job (r12, guide §1.2 "don't recompute").
    edges = (
        pairs.select(F.col(a).alias("u"), F.col(b).alias("v"))
        .union(pairs.select(F.col(b).alias("u"), F.col(a).alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = edges.select("u").distinct().select(
        F.col("u").alias("node"), F.col("u").alias("label")
    )
    converged = False
    for rnd in range(max_rounds):
        if rounds_out is not None:
            rounds_out[:] = [rnd + 1]  # rounds executed, for scale probes
        neighbor_min = (
            edges.join(labels, edges.v == labels.node)
            .groupBy("u")
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = (
            labels.join(neighbor_min, labels.node == neighbor_min.u, "left")
            .select(
                "node",
                F.col("label").alias("old_label"),
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
        )
        # pointer jump: label := label-of-label (label's own label is
        # always <= label, so least() is just that lookup)
        parent = stepped.select(
            F.col("node").alias("p_node"), F.col("label").alias("p_label")
        )
        new_labels = (
            stepped.join(parent, stepped.label == parent.p_node, "left")
            .select(
                "node",
                "old_label",
                F.coalesce(F.col("p_label"), F.col("label")).alias("label"),
            )
        )
        new_labels = new_labels.localCheckpoint(eager=True)
        # convergence test on the just-materialized result — the old
        # label rides along, so this is a filter scan of the checkpoint
        # blocks, not another labels join+shuffle job (r12)
        changed = (
            new_labels.where(F.col("label") != F.col("old_label")).limit(1).count()
        )
        labels = new_labels.select("node", "label")
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components failed to converge in {max_rounds} rounds"
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters from MinHash-LSH candidate pairs."""
    return connected_components(minhash_lsh_candidates(spark, sf_dir))


SIMHASH_BITS = 32
_HEX = "0123456789abcdef"


def simhash(spark: SparkSession, sf_dir: str, n_bits: int = SIMHASH_BITS) -> DataFrame:
    """Per-document SimHash over shingles, as a portable bit string.

    Classic charikar sketch: for each bit b, sum (2·bit_b(h(shingle))−1)
    over the document's shingles; the sketch bit is 1 iff the sum ≥ 0.
    Bit b of the shingle hash comes from md5 hex nibbles (char b/4,
    bit b%4) — every step (md5, strpos-in-hex-alphabet, integer
    div/mod) is identical in any engine, so the sketch value itself is
    oracle-checkable.  Near-dup candidates = small Hamming distance
    (compare via band prefixes, same banding idea as MinHash LSH).

    Cost: |shingles| × n_bits rows into one groupBy — linear, and the
    bit explode is JVM-side codegen.
    """
    docs = load_table(spark, sf_dir, "documents")
    post = _doc_shingles(docs).select("doc_id", F.md5(F.col("token")).alias("h"))
    bits = post.select(
        "doc_id",
        "h",
        F.explode(F.sequence(F.lit(0), F.lit(n_bits - 1))).alias("bit_idx"),
    )
    nibble = F.instr(F.lit(_HEX), F.substring(F.col("h"), (F.col("bit_idx") / 4).cast("int") + 1, 1)) - 1
    bit = (F.floor(nibble / F.pow(F.lit(2.0), (F.col("bit_idx") % 4).cast("double"))) % 2).cast("int")
    contrib = bits.select("doc_id", "bit_idx", (bit * 2 - 1).alias("c"))
    per_bit = contrib.groupBy("doc_id", "bit_idx").agg(
        F.when(F.sum("c") >= 0, F.lit("1")).otherwise(F.lit("0")).alias("b")
    )
    return per_bit.groupBy("doc_id").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(F.collect_list(F.struct("bit_idx", "b"))), lambda s: s["b"]
            ),
        ).alias("simhash_bits")
    )


N_HASHES = 16
BAND_ROWS = 4  # → 4 bands of 4 rows
MINHASH_MOD = 1 << 48  # 48-bit hash space (birthday-safe to ~16M shingles)


def _posting_double_hash(post: DataFrame) -> DataFrame:
    """(doc_id, h1, h2): two independent 48-bit integers from ONE md5
    per shingle — the Kirsch–Mitzenmacher construction ("Less Hashing,
    Same Performance", ESA 2006): hash_i = h1 + i·h2 behaves like k
    independent hashes for sketching purposes.  One md5 per posting
    instead of k; measured ~1.5 s off the sf0.1 signature build.
    Hex→int is portable: Spark conv(x,16,10) ≡ DuckDB
    CAST('0x'||x AS BIGINT) bit-for-bit (both 48-bit, no overflow)."""
    h = F.md5(F.col("token"))
    return post.select(
        "doc_id",
        F.conv(F.substring(h, 1, 12), 16, 10).cast("bigint").alias("h1"),
        F.conv(F.substring(h, 13, 12), 16, 10).cast("bigint").alias("h2"),
    )


def minhash_signatures_wide(docs: DataFrame, n_hashes: int = N_HASHES) -> DataFrame:
    """(doc_id, mh0..mh{k-1}): the whole signature in ONE groupBy with k
    min-aggregates — no salt explode, so the shuffle carries |postings|
    rows instead of k·|postings| (the form that wins at 100 TB).
    Hash k is the K–M double hash (h1 + k·h2) mod 2^48 (see
    _posting_double_hash; subexpression elimination computes the md5
    once per posting inside the projection).

    The k hashes are computed inline per posting — embarrassingly
    parallel, zero extra shuffles.  (A distinct-shingle dictionary +
    join-back halves hashing when shingle reuse is very high, but it
    reads the postings twice and adds two shuffles; measured slower at
    our corpus shapes.)"""
    hashed = _posting_double_hash(_doc_shingles(docs))
    return hashed.groupBy("doc_id").agg(
        *[
            F.min(
                (F.col("h1") + s * F.col("h2")) % F.lit(MINHASH_MOD)
            ).alias(f"mh{s}")
            for s in range(n_hashes)
        ]
    )


def minhash_lsh_candidates(
    spark: SparkSession,
    sf_dir: str,
    n_hashes: int = N_HASHES,
    band_rows: int = BAND_ROWS,
    max_bucket: int = 64,
) -> DataFrame:
    """Candidate near-duplicate pairs via LSH banding over minhash
    signatures: docs agreeing on ALL rows of any band become a pair.

    Scale path: signature build is linear (wide-form, one shuffle);
    pairs come from grouping by (band, band_signature) and expanding
    each bucket's doc list to its i<j combinations IN-ARRAY (nested
    ``transform`` + ``flatten``, whole-stage codegen) — no self-join,
    so the signature table is scanned once and the plan is two
    shuffles total (bucket groupBy + distinct).  A self-join spelling
    recomputes the signatures for each side and shuffles both; it
    measured ~4x slower at sf0.1.  Buckets are near-dup groups and
    stay small by construction; pathological buckets (empty-shingle
    docs, templated boilerplate) are capped at ``max_bucket`` members
    before expansion — a capped bucket would expand quadratically in
    one task, and its pairs agree on some OTHER (uncapped) band with
    high odds.  The cap is mirrored in the DuckDB oracle so the
    approximation is hash-checked.  (For adversarial corpora where even
    ONE bucket's collect_list is too large to materialize, run the
    count-first variant: aggregate bucket counts, keep 2..K keys, then
    semi-join before collecting — one extra shuffle of the band table.)
    """
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_candidates_df(docs, n_hashes, band_rows, max_bucket)


def lsh_band_postings(
    docs: DataFrame, n_hashes: int = N_HASHES, band_rows: int = BAND_ROWS
) -> DataFrame:
    """(doc_id, band, band_sig) LSH band postings — the bucket-key
    relation candidate generation AND the streaming crawl store share,
    so the two can never disagree on banding."""
    sigs = minhash_signatures_wide(docs, n_hashes)
    n_bands = n_hashes // band_rows
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ",", *[F.col(f"mh{b * band_rows + i}") for i in range(band_rows)]
                        ).alias("band_sig"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bs"),
    ).select("doc_id", F.col("bs.band").alias("band"), F.col("bs.band_sig").alias("band_sig"))


def minhash_lsh_candidates_df(
    docs: DataFrame,
    n_hashes: int = N_HASHES,
    band_rows: int = BAND_ROWS,
    max_bucket: int = 64,
) -> DataFrame:
    """DataFrame-core of :func:`minhash_lsh_candidates` — takes any
    (doc_id, text) relation (used by the scale probe on synthetic
    corpora)."""
    bands = lsh_band_postings(docs, n_hashes, band_rows)
    buckets = (
        bands.groupBy("band", "band_sig")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .where((F.size("ids") > 1) & (F.size("ids") <= max_bucket))
    )
    pair = F.explode(
        F.flatten(
            F.transform(
                "ids",
                lambda x, i: F.transform(
                    F.slice(F.col("ids"), i + F.lit(2), F.size("ids")),
                    lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
                ),
            )
        )
    )
    return buckets.select(pair.alias("p")).select("p.doc_a", "p.doc_b").distinct()


def edit_distance_pairs(
    spark: SparkSession,
    sf_dir: str,
    prefix_len: int = 96,
    max_dist: int = 24,
    bucket: int = 32,
) -> DataFrame:
    """Blocked Levenshtein near-duplicate pairs over ``documents``.

    Classic blocked string-similarity dedup (the reference has no dedup
    at all — SURVEY.md §2.8): candidate pairs are generated only within
    a block key of (lang, length-bucket), joined to the same and the
    next bucket so near-dups straddling a bucket edge are still found.
    The distance runs on a fixed-length prefix, bounding per-pair cost
    at O(prefix_len²) independent of document size.

    Scale: the full (lang, bucket) pair is the equi-join key — NOT lang
    plus a bucket filter, which would shuffle every same-language doc to
    one partition at 100 TB (~5 languages).  The bucket-adjacency match
    (b.lb ∈ {a.lb, a.lb+1}) is made equi-joinable by exploding side b
    into its two candidate keys {lb, lb−1}; the two keys are distinct so
    no pair is emitted twice.  Block sizes are bounded by construction
    (length bucketing), so the per-block quadratic expansion stays
    local and bounded. Levenshtein itself is a JVM built-in (no
    Python)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.floor(F.col("n_chars") / bucket).alias("lb"),
        F.substring("text", 1, prefix_len).alias("prefix"),
    )
    a = d.withColumn("bk", F.col("lb")).alias("a")
    b = (
        d.withColumn("bk", F.explode(F.array(F.col("lb"), F.col("lb") - 1)))
        .alias("b")
    )
    pairs = a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.bk") == F.col("b.bk"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    )
    return (
        pairs.select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.levenshtein(F.col("a.prefix"), F.col("b.prefix")).cast("int").alias("dist"),
        )
        .where(F.col("dist") <= max_dist)
    )


def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation compose: language/quality
    filter → near-dup removal (MinHash-LSH, keep-lowest-id canonical)
    → deterministic md5 train/val/test split.

    Each stage is one of this repo's operators, chained as DataFrames
    so Catalyst sees a single plan: the lang/length predicates push
    into the parquet scan, the near-dup doc list (doc_b of every
    candidate pair — the non-canonical member) broadcasts into a
    left-anti join, and the split is the portable md5-prefix bucket of
    operators/profiling.py (stable under repartitioning: 0-c → train
    ~81%, d-e → val, f → test).  No stage collects to the driver.

    Reference: none — SURVEY.md §2.8 (the LLM-pipeline north star:
    this is the query a 100 TB pretraining-data refresh actually runs).
    """
    docs = load_table(spark, sf_dir, "documents")
    keep = docs.where((F.col("lang") == "en") & (F.col("n_chars") >= 150))
    dupes = (
        minhash_lsh_candidates(spark, sf_dir)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    kept = keep.join(F.broadcast(dupes), "doc_id", "left_anti")
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    split = (
        F.when(h <= "c", F.lit("train"))
        .when(h <= "e", F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return kept.select("doc_id", "n_chars", split.alias("split"))


def decontaminate(
    spark: SparkSession, sf_dir: str, shingle_n: int = 5
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents that share any
    ``shingle_n``-gram with a held-out benchmark set (here: doc_id %
    97 == 0 stands in for the eval suite), the overlap-removal step
    every serious pretraining pipeline runs (GPT-3 §C / PaLM-style
    13-gram decontamination, scaled down to 5-grams for our short
    fixture docs).

    Plan shape for 100 TB: benchmark shingles are a SMALL distinct set
    (eval suites are tiny vs the corpus) — broadcast semi-join against
    the corpus postings, so the corpus is scanned once, map-side
    filtered, and only matching doc_ids reach the aggregate; no
    shuffle of corpus postings on the shingle key.

    Output: one row per document, status ∈ {benchmark, contaminated,
    clean} + keep (clean only).

    Reference: none — SURVEY.md §2.8 (LLM-pipeline curation).
    """
    docs = load_table(spark, sf_dir, "documents")
    return decontaminate_df(docs, F.col("doc_id") % 97 == 0, shingle_n)


def decontaminate_df(
    docs: DataFrame, is_bench: F.Column, shingle_n: int = 5
) -> DataFrame:
    """DataFrame-core of :func:`decontaminate`: ``is_bench`` is any
    Column predicate over the docs relation marking the held-out set
    (used by the fluent Corpus builder with caller-supplied benchmark
    membership).  The predicate is evaluated ONCE into a carried
    column, so it may reference any docs column, not just doc_id."""
    flagged = docs.withColumn("__is_bench__", is_bench.cast("boolean"))
    post = _doc_shingles(flagged, n=shingle_n, carry=("__is_bench__",))
    bench_shingles = (
        post.where(F.col("__is_bench__")).select("token").distinct()
    )
    contaminated = (
        post.where(~F.col("__is_bench__"))
        .join(F.broadcast(bench_shingles), "token", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("__hit__", F.lit(True))
    )
    status = (
        F.when(F.col("__is_bench__"), F.lit("benchmark"))
        .when(F.col("__hit__"), F.lit("contaminated"))
        .otherwise(F.lit("clean"))
    )
    return (
        flagged.select("doc_id", "__is_bench__")
        .join(contaminated, "doc_id", "left")
        .select(
            "doc_id",
            status.alias("status"),
            (~F.col("__is_bench__") & F.col("__hit__").isNull()).alias("keep"),
        )
    )


def lsh_bucket_stats(
    spark: SparkSession,
    sf_dir: str,
    n_hashes: int = N_HASHES,
    band_rows: int = BAND_ROWS,
) -> DataFrame:
    """LSH bucket-size distribution BEFORE capping: (bucket_size,
    n_buckets) — the diagnostic a production dedup run reads to choose
    ``max_bucket`` (operators caps at 64) and to spot corpus pathology
    (a fat tail of giant buckets = templated boilerplate that will
    expand quadratically).  One extra aggregate over the band table;
    the signature pipeline is shared with minhash_lsh_candidates."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures_wide(docs, n_hashes)
    n_bands = n_hashes // band_rows
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ",", *[F.col(f"mh{b * band_rows + i}") for i in range(band_rows)]
                        ).alias("band_sig"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bs"),
    ).select(F.col("bs.band").alias("band"), F.col("bs.band_sig").alias("band_sig"))
    sizes = bands.groupBy("band", "band_sig").agg(
        F.count("*").alias("bucket_size")
    )
    return (
        sizes.groupBy("bucket_size")
        .agg(F.count("*").alias("n_buckets"))
        .select(F.col("bucket_size").cast("int").alias("bucket_size"), "n_buckets")
    )


def containment_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = 0.8, df_cap: int = 128
) -> DataFrame:
    """ASYMMETRIC near-dup: containment C(A→B) = |A∩B| / |A| ≥
    threshold means document A is (mostly) an excerpt/quote of B —
    the subset relation Jaccard misses when sizes differ (a paragraph
    inside a book has tiny Jaccard but containment ≈ 1).  Emits both
    directions separately.

    Same postings machinery and 100 TB guards as jaccard_pairs (single
    materialized postings build, df-pruned hot shingles, both mirrored
    in the oracle); only the normalizer changes.
    """
    docs = load_table(spark, sf_dir, "documents")
    post = _doc_shingles(docs).localCheckpoint(eager=True)
    hot = (
        post.groupBy("token")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") > df_cap)
        .select("token")
    )
    kept = post.join(F.broadcast(hot), "token", "left_anti")
    sizes = kept.groupBy("doc_id").agg(F.count("*").alias("set_size"))
    a = kept.alias("a")
    b = kept.alias("b")
    inter = (
        a.join(b, F.col("a.token") == F.col("b.token"))
        .where(F.col("a.doc_id") != F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("set_size").alias("size_a"))
    cont = inter.join(sa, "doc_a").select(
        "doc_a",
        "doc_b",
        (F.col("n_common") / F.col("size_a")).alias("raw"),
    )
    return cont.where(F.col("raw") >= threshold).select(
        "doc_a", "doc_b", F.round("raw", 6).alias("containment")
    )


def jaccard_prefix_filter(
    spark: SparkSession, sf_dir: str, threshold: float = 0.5
) -> DataFrame:
    """EXACT token-set similarity join via prefix filtering (the
    PPJoin family — Xiao et al., WWW 2008): two sets with Jaccard ≥ t
    MUST share a token within their (|A| − ceil(t·|A|) + 1)-length
    prefixes under any global token order, so candidates are generated
    from prefix postings only — provably NO recall loss, unlike LSH —
    and rare-token-first ordering makes prefixes maximally selective.

    Plan: one df aggregate orders the vocabulary (rare first), docs
    sort their token arrays by that order (join + collect), prefixes
    explode into postings ~(1−t)× the full posting volume, the
    self-join runs on that reduced volume, and candidate pairs verify
    with an in-array intersection of the full sorted sets.  The
    result equals the brute-force Jaccard join at the same threshold
    (pinned by test and by the brute-force DuckDB oracle).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(shingles_expr()).alias("token"))
    dfreq = toks.groupBy("token").agg(F.count("*").alias("df"))
    ordered = (
        toks.join(dfreq, "token")
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("df", "token"))),
                lambda s: s["token"],
            ).alias("toks")
        )
    )
    n = F.size("toks")
    prefix_len = (n - F.ceil(F.lit(threshold) * n) + 1).cast("int")
    with_prefix = ordered.select(
        "doc_id", "toks", F.slice("toks", 1, prefix_len).alias("prefix")
    )
    prefix_post = with_prefix.select(
        "doc_id", "toks", F.explode("prefix").alias("token")
    )
    a = prefix_post.select(
        F.col("doc_id").alias("doc_a"), F.col("toks").alias("ta"), "token"
    )
    b = prefix_post.select(
        F.col("doc_id").alias("doc_b"), F.col("toks").alias("tb"), "token"
    )
    cand = (
        a.join(b, "token")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "ta", "tb")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    inter = F.size(F.array_intersect("ta", "tb"))
    jac = inter / (F.size("ta") + F.size("tb") - inter)
    return (
        cand.select("doc_a", "doc_b", jac.alias("raw"))
        .where(F.col("raw") >= threshold)
        .select("doc_a", "doc_b", F.round("raw", 6).alias("jaccard"))
    )


def duplicated_passages(
    spark: SparkSession, sf_dir: str, w: int = 8, persist: bool = True
) -> DataFrame:
    """Exact duplicated-passage detection (the ExactSubstr signal of
    Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better", re-expressed relationally): a document's w-token window is
    *duplicated* if the identical window text occurs in at least one
    OTHER document; report per-document window counts and the
    duplicated fraction.

    The suffix-array construction of the paper is a single-machine
    design; the relational equivalent is a postings aggregation over
    sliding window hashes — windows are md5-hashed BEFORE the shuffle
    so the exchange carries 32-byte keys instead of w-gram strings.
    Cross-doc document frequency is computed over DISTINCT (doc,
    window) postings (map-side combinable), and the dup set joins back
    onto the positional window stream on the hash (AQE picks broadcast
    when the dup set is small; at heavy-duplication scale it degrades
    gracefully to a shuffle join — never all-pairs).  Docs shorter than
    w tokens surface with zero windows rather than vanishing.
    """
    return duplicated_passages_df(load_table(spark, sf_dir, "documents"), w, persist)


def remove_duplicated_passages(
    spark: SparkSession, sf_dir: str, w: int = 8
) -> DataFrame:
    """ExactSubstr REMOVAL (the other half of Lee et al. 2022:
    flagging tells you how contaminated a doc is, removal actually
    cleans the training text): every token covered by at least one
    cross-document duplicated w-token window is dropped from the
    document, and the cleaned text is re-emitted alongside the token
    counts.  All occurrences are removed (the C4-style boilerplate
    treatment — a span shared across documents is noise in each of
    them), unlike keep-first dedup of whole documents.

    Output: (doc_id, n_tokens, n_removed, clean_text) over the
    NORMALIZED token stream (lowercased, punctuation-split — the same
    tokenization every passage operator here shares).

    Scale shape: positional windows are md5-hashed before the df
    aggregate (32-hex shuffle keys); the duplicated set joins back on
    the hash; covered token indices explode only for windows that ARE
    duplicated (bounded by dup density, not corpus size); the rebuild
    is a map-side indexed filter against each doc's own covered-index
    set.  No all-pairs anywhere; everything is joins/aggregates on
    hashes.
    """
    return remove_duplicated_passages_df(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), w
    )


def remove_duplicated_passages_df(docs: DataFrame, w: int = 8) -> DataFrame:
    toks = F.filter(F.split(F.lower(F.col("text")), TOKEN_SPLIT), lambda t: t != "")
    d1 = docs.select("doc_id", toks.alias("toks"))
    grams = F.transform(
        F.sequence(F.lit(1), F.size(F.col("toks")) - (w - 1)),
        lambda i: F.md5(
            F.concat_ws(
                " ", *[F.element_at(F.col("toks"), i + j) for j in range(w)]
            )
        ),
    )
    wins = d1.select(
        "doc_id",
        F.posexplode(
            F.when(F.size(F.col("toks")) >= w, grams).otherwise(
                F.array().cast("array<string>")
            )
        ).alias("p0", "h"),  # p0 = 0-based window start
    )
    dup = (
        wins.select("doc_id", "h")
        .distinct()
        .groupBy("h")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") >= 2)
        .select("h")
    )
    covered = (
        wins.join(dup, "h")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("p0"), F.col("p0") + (w - 1))
            ).alias("ti"),  # 0-based covered token index
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.collect_set("ti").alias("cov"))
    )
    keep = F.filter(
        F.col("toks"),
        lambda t, i: F.col("cov").isNull() | ~F.array_contains(F.col("cov"), i),
    )
    return (
        d1.join(covered, "doc_id", "left")
        .select(
            "doc_id",
            F.size("toks").cast("bigint").alias("n_tokens"),
            F.coalesce(F.size("cov"), F.lit(0)).cast("bigint").alias("n_removed"),
            F.concat_ws(" ", keep).alias("clean_text"),
        )
    )


def passage_windows(docs: DataFrame, w: int = 8) -> DataFrame:
    """Positional w-token window stream of a (doc_id, text) relation:
    one (doc_id, h) row per window, h = md5 of the space-joined
    lowercase tokens — hashed BEFORE any exchange so shuffles carry
    32-hex keys, never w-gram strings.  Docs shorter than w tokens
    emit no rows (callers left-join the doc universe back).  Shared by
    the batch detector and the streaming store so the two can never
    disagree on tokenization."""
    toks = F.filter(F.split(F.lower(F.col("text")), TOKEN_SPLIT), lambda t: t != "")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (w - 1)),
        lambda i: F.md5(
            F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(w)])
        ),
    )
    return docs.select(
        "doc_id",
        F.explode(
            F.when(F.size(toks) >= w, grams).otherwise(
                F.array().cast("array<string>")
            )
        ).alias("h"),
    )


def duplicated_passages_df(
    docs: DataFrame, w: int = 8, persist: bool = True
) -> DataFrame:
    """DataFrame-core of :func:`duplicated_passages` over any
    (doc_id, text) relation.

    The hashed window stream is consumed twice (document-frequency
    aggregate, then the join-back); ``persist=True`` (default) caches
    it DISK_ONLY so tokenize+md5 run once — measured 53.5 → 31.8 s at
    the 100k-doc probe.  The cached stream is (doc_id, 32-hex-hash)
    rows, ~w× the corpus token count in narrow rows — disk-backed and
    sequential, cheaper than a second full CPU pass at any scale;
    pass persist=False to trade CPU for zero storage.

    Cache lifetime: with persist=True the per-doc aggregate is
    materialized eagerly (localCheckpoint) and the window stream is
    unpersisted before returning, so repeated invocations do NOT
    accumulate cached blocks for the app lifetime — the returned
    DataFrame reads the small checkpointed aggregate, not the cache."""
    wins = passage_windows(docs, w)
    if persist:
        from pyspark.storagelevel import StorageLevel

        wins = wins.persist(StorageLevel.DISK_ONLY)
    dup = (
        wins.distinct()
        .groupBy("h")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") >= 2)
        .select("h", F.lit(1).alias("is_dup"))
    )
    agg = (
        wins.join(dup, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_windows"),
            F.sum(F.coalesce(F.col("is_dup"), F.lit(0))).alias("n_dup_windows"),
        )
    )
    if persist:
        # Materialize the small per-doc aggregate (both passes over the
        # cached window stream happen here), then release the cache so
        # repeated calls don't leak DISK_ONLY blocks for the app lifetime.
        agg = agg.localCheckpoint(eager=True)
        wins.unpersist()
    return (
        docs.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_windows", F.lit(0)).alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            F.round(
                F.when(
                    F.col("n_windows") > 0,
                    F.col("n_dup_windows") / F.col("n_windows"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("dup_frac"),
        )
    )


def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split that cannot leak near-duplicates across
    splits: the split key is the document's near-dup CLUSTER
    representative (min doc_id of its connected component; the doc
    itself when unclustered), so every member of a duplicate cluster
    lands in the same split — the assignment a naive per-doc hash
    split gets wrong (one copy in train, its twin in test, eval
    contaminated).

    Reference: none — SURVEY.md §2.8 (LLM-pipeline north star; the
    leakage control described in Lee et al. 2022 §6).

    Scale shape: the cluster relation only contains docs that appear
    in ≥1 candidate pair — orders of magnitude smaller than the corpus
    — so the left join broadcasts under AQE; the split itself is
    map-only md5 arithmetic (same portable bucket scheme as
    curation_pipeline).  Fractions: 0-c → train (13/16), d-e → val
    (2/16), f → test (1/16).
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    clusters = dedup_clusters(spark, sf_dir)
    joined = docs.join(clusters, "doc_id", "left")
    key = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    h = F.substring(F.md5(key.cast("string")), 1, 1)
    split = (
        F.when(h <= "c", F.lit("train"))
        .when(h <= "e", F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return joined.select("doc_id", key.alias("split_key"), split.alias("split"))


def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-crawl dedup: classify each NEW document (top 20% of
    the id range — the latest batch) against the EXISTING corpus (the
    other 80%) as 'dup_of_corpus' (near-dup of an existing doc),
    'dup_in_batch' (novel vs the corpus but a near-dup of an
    earlier-id doc in the same batch), or 'new'.

    Reference: none — SURVEY.md §2.8.  This is the standing query of
    an incremental ingestion pipeline: the corpus is NOT re-deduped
    against itself each refresh; only new docs are checked, and the
    candidate generation reuses the MinHash-LSH banding (corpus
    signatures would be precomputed/stored in production — here both
    sides flow through one signature build).

    Scale shape: candidates come from the capped LSH buckets (no
    self-join, no all-pairs); the two flag sets contain only flagged
    new docs — tiny — so both status joins broadcast under AQE.  The
    batch threshold is exact integer arithmetic ((max_id*4) div 5) so
    the DuckDB oracle reproduces it bit-for-bit.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    thr = docs.agg(F.expr("(max(doc_id) * 4) div 5").alias("thr"))
    pairs = minhash_lsh_candidates(spark, sf_dir).crossJoin(F.broadcast(thr))
    vs_corpus = (
        pairs.where((F.col("doc_a") < F.col("thr")) & (F.col("doc_b") >= F.col("thr")))
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("dup_corpus", F.lit(1))
    )
    in_batch = (
        pairs.where(F.col("doc_a") >= F.col("thr"))
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("dup_batch", F.lit(1))
    )
    new = docs.crossJoin(F.broadcast(thr)).where(F.col("doc_id") >= F.col("thr"))
    return (
        new.join(vs_corpus, "doc_id", "left")
        .join(in_batch, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("dup_corpus") == 1, F.lit("dup_of_corpus"))
            .when(F.col("dup_batch") == 1, F.lit("dup_in_batch"))
            .otherwise(F.lit("new"))
            .alias("status"),
        )
    )


def dedup_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-signal duplicate clustering — the entity-resolution
    compose: edges from BOTH (a) identical content fingerprints (md5
    of the sorted distinct token set — catches reorderings LSH scores
    below threshold) and (b) MinHash-LSH candidates (catches near-dups
    fingerprints miss), unioned into one graph and clustered by
    connected components.  Every document gets a row:
    (doc_id, cluster_id = min doc of its component or itself,
    n_members, has_fp_edge, has_lsh_edge) — the provenance columns say
    WHICH signal(s) linked the doc, the audit a curation decision
    needs.

    Scale shape: fingerprint edges are star edges to the group
    representative (one groupBy, no pair expansion); LSH edges come
    from the capped-bucket candidate path; CC is the pointer-jumping
    O(log d) loop; membership stats are one count per cluster.  No
    all-pairs anywhere.
    """
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.concat_ws(" ", F.array_sort(tokens_expr())))
    fps = docs.select("doc_id", fp.alias("fingerprint"))
    rep = fps.groupBy("fingerprint").agg(F.min("doc_id").alias("rep"))
    fp_edges = (
        fps.join(rep, "fingerprint")
        .where(F.col("doc_id") != F.col("rep"))
        .select(F.col("rep").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )
    lsh_edges = minhash_lsh_candidates(spark, sf_dir).select("doc_a", "doc_b")
    edges = fp_edges.unionByName(lsh_edges).distinct()
    labels = connected_components(edges)
    fp_docs = (
        fp_edges.select(F.col("doc_a").alias("doc_id"))
        .union(fp_edges.select("doc_b"))
        .distinct()
        .withColumn("has_fp_edge", F.lit(1))
    )
    lsh_docs = (
        lsh_edges.select(F.col("doc_a").alias("doc_id"))
        .union(lsh_edges.select("doc_b"))
        .distinct()
        .withColumn("has_lsh_edge", F.lit(1))
    )
    base = (
        docs.select("doc_id")
        .join(labels.withColumnRenamed("cluster_id", "lab"), "doc_id", "left")
        .select(
            "doc_id", F.coalesce("lab", F.col("doc_id")).alias("cluster_id")
        )
    )
    sizes = base.groupBy("cluster_id").agg(F.count("*").alias("n_members"))
    return (
        base.join(sizes, "cluster_id")
        .join(fp_docs, "doc_id", "left")
        .join(lsh_docs, "doc_id", "left")
        .select(
            "doc_id",
            "cluster_id",
            "n_members",
            F.coalesce("has_fp_edge", F.lit(0)).alias("has_fp_edge"),
            F.coalesce("has_lsh_edge", F.lit(0)).alias("has_lsh_edge"),
        )
    )


def cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware representative selection per near-dup cluster —
    the policy production dedup actually applies: don't keep an
    arbitrary duplicate, keep the HIGHEST-QUALITY one (the C4/RefinedWeb
    practice).  Composes three subsystems: MinHash-LSH candidates →
    connected components → Gopher rule scores.

    Per clustered document: its cluster, how many of the four Gopher
    rules it passes, and the keep/drop action.  The representative is
    the argmax by (rules passed DESC, n_tokens DESC, doc_id ASC) —
    fully deterministic, so the whole policy value-hashes against the
    recursive-CTE + rule-expression oracle.

    Scale shape: CC is the usual O(log d) pointer-jumping over the
    candidate graph (≪ corpus); the quality join touches only
    clustered docs (semi-join pruned); one window per cluster picks
    the representative.
    """
    from pyspark.sql.window import Window as W

    from heatmap_spark.operators.textops import gopher_quality_df

    cl = connected_components(minhash_lsh_candidates(spark, sf_dir))
    docs = load_table(spark, sf_dir, "documents")
    g = gopher_quality_df(docs.join(cl.select("doc_id"), "doc_id", "left_semi"))
    ok_count = (
        F.col("ok_token_count").cast("int")
        + F.col("ok_mean_word_len").cast("int")
        + F.col("ok_alpha_frac").cast("int")
        + F.col("ok_stopwords").cast("int")
    )
    j = cl.join(
        g.select("doc_id", "n_tokens", ok_count.alias("rules_passed")), "doc_id"
    )
    w = W.partitionBy("cluster_id").orderBy(
        F.desc("rules_passed"), F.desc("n_tokens"), F.asc("doc_id")
    )
    rn = F.row_number().over(w)
    return j.select(
        "doc_id",
        "cluster_id",
        F.col("rules_passed").cast("int").alias("rules_passed"),
        F.col("n_tokens").cast("int").alias("n_tokens"),
        (rn == 1).alias("is_representative"),
        F.when(rn == 1, F.lit("keep")).otherwise(F.lit("drop")).alias("action"),
    )


def canonicalize_url(url: F.Column) -> F.Column:
    """Crawl-style URL canonicalization, entirely JVM-side regex/string
    ops (map-only, fuses into the scan): strip scheme, lowercase the
    host, drop a leading www., drop the scheme's DEFAULT port only
    (:443 for https, :80 for http — a non-default port like
    http://x:443 is a different origin and is kept), drop the
    fragment, strip tracking query params (utm_*, ref) and any
    separator debris they leave, drop a trailing slash.  Patterns
    avoid lookarounds so the SAME regexes run under Java regex (Spark)
    and RE2 (DuckDB oracle).

    The tracking-param strip is ANCHORED to a ``[?&]`` separator so
    param names merely ending in the tracked words survive (pref=,
    href=, xref=); the separator is kept via backreference and one
    pass consumes every other param of a consecutive tracking run, so
    4 passes handle runs of up to 15 — beyond anything a real crawl
    carries."""
    u = F.regexp_replace(url, r"^https?://", "")
    host = F.regexp_replace(u, r"/.*$", "")
    rest = F.regexp_replace(u, r"^[^/]+", "")
    host = F.regexp_replace(F.lower(host), r"^www\.", "")
    host = (
        F.when(url.rlike(r"^https://"), F.regexp_replace(host, r":443$", ""))
        .when(url.rlike(r"^http://"), F.regexp_replace(host, r":80$", ""))
        .otherwise(host)
    )
    rest = F.regexp_replace(rest, r"#.*$", "")
    for _ in range(4):
        rest = F.regexp_replace(
            rest, r"([?&])(utm_[a-z]+|ref)=[^&#]*&?", r"$1"
        )
    rest = F.regexp_replace(rest, r"[?&]+$", "")
    rest = F.regexp_replace(rest, r"/$", "")
    return F.concat(host, rest)


def url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level crawl dedup: canonicalize each document's URL and
    group identical canonical forms — the cheapest dedup rung, run
    before any content hashing in a crawl pipeline (same page fetched
    as http/https, with/without www, with tracking params, with a
    fragment).

    The fixture documents carry no URL, so a deterministic messy URL
    is synthesized per doc (4 variant styles by doc_id % 4 over a
    host/path grid with deliberate collisions); the OPERATOR under
    test is :func:`canonicalize_url`, which sees only the URL string.

    Output per doc: the canonical URL, the group's representative
    (min doc_id), group size, and whether this doc is kept.  One
    shuffle on the canonical key; at 100 TB this is the same
    hash-partitioned group-by as exact dedup (dedup_exact), with the
    canonicalizer fused into the scan.

    Reference: none — SURVEY.md §2.8 dedup-family extension.
    """
    docs = load_table(spark, sf_dir, "documents")
    v = F.col("doc_id") % 4
    host = F.concat(F.col("source"), F.lit(".Example.COM"))
    path = F.concat(F.lit("/a/"), (F.col("doc_id") % 200).cast("string"))
    url = (
        F.when(v == 0, F.concat(F.lit("https://"), host, path))
        .when(
            v == 1,
            F.concat(
                F.lit("https://www."), F.upper(host), F.lit(":443"), path, F.lit("/")
            ),
        )
        .when(
            v == 2,
            F.concat(F.lit("http://"), host, path, F.lit("?utm_source=feed&ref=tw")),
        )
        .otherwise(F.concat(F.lit("https://"), host, path, F.lit("#section-2")))
    )
    with_url = docs.select("doc_id", url.alias("url")).select(
        "doc_id", "url", canonicalize_url(F.col("url")).alias("canonical_url")
    )
    from pyspark.sql.window import Window as W

    w = W.partitionBy("canonical_url")
    return with_url.select(
        "doc_id",
        "url",
        "canonical_url",
        F.min("doc_id").over(w).cast("bigint").alias("rep_doc_id"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_group"),
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("is_kept"),
    )


def negative_sampling(
    spark: SparkSession, sf_dir: str, k: int = 4
) -> DataFrame:
    """Deterministic negative sampling for contrastive training pairs:
    each document draws ``k`` pseudo-random partners from a fixed
    affine ring over the id space — neg(d, i) = (d·7919 + i·104729)
    mod N — then flags draws that are INVALID negatives: the document
    itself, or an LSH near-duplicate of it (a false negative that
    would poison a contrastive loss).  Flagging (not resampling) keeps
    the op one pass and fully deterministic; callers over-draw k and
    keep the valid ones.

    The ring runs over dense RANKS (row_number over doc_id order,
    0-based), not raw ids, so it is total and uniform for ANY id
    space — sparse, offset, or hashed ids included; the draw maps
    back rank→doc_id with one equi-join on the same narrow relation.
    For the fixtures' already-dense 0-based ids rank ≡ doc_id, so the
    output (and the DuckDB oracle, which rings over ids directly) is
    unchanged.

    Scale shape: the draws are map-only arithmetic (k rows per doc,
    no RNG state) plus the rank→id equi-join on doc-id summaries; the
    rank assignment is one global sorted pass of NARROW (doc_id) rows
    — the curriculum_buckets/NTILE pattern, never of documents.  The
    near-dup exclusion is one equi-join against the bucketed LSH
    candidate pairs (both orientations) — never an all-pairs
    similarity.

    Reference: none — SURVEY.md §2.8 extension (contrastive /
    embedding-training data prep).
    """
    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()  # one scalar — the ring modulus
    if n_docs == 0:
        # no modulus, no partners: the empty epoch, typed like the full one
        return spark.createDataFrame(
            [],
            "doc_id bigint, neg_rank int, neg_id bigint, "
            "is_self boolean, is_near_dup boolean, kept boolean",
        )
    ranked = docs.select(
        "doc_id",
        (F.row_number().over(W.orderBy("doc_id")) - 1).cast("bigint").alias("rnk"),
    )
    draws = ranked.select(
        "doc_id",
        "rnk",
        F.explode(F.array(*[F.lit(i) for i in range(1, k + 1)])).alias("neg_rank"),
    ).select(
        "doc_id",
        "neg_rank",
        ((F.col("rnk") * 7919 + F.col("neg_rank") * 104729) % n_docs).alias(
            "neg_pos"
        ),
    )
    draws = draws.join(
        ranked.select(
            F.col("rnk").alias("neg_pos"), F.col("doc_id").alias("neg_id")
        ),
        "neg_pos",
    ).drop("neg_pos")
    cand = minhash_lsh_candidates(spark, sf_dir).select("doc_a", "doc_b")
    both = cand.unionByName(
        cand.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).select(F.col("doc_a").alias("doc_id"), F.col("doc_b").alias("nd"))
    flagged = draws.join(
        both.withColumnRenamed("nd", "neg_id").withColumn(
            "is_near_dup", F.lit(True)
        ),
        ["doc_id", "neg_id"],
        "left",
    )
    is_self = F.col("neg_id") == F.col("doc_id")
    is_nd = F.coalesce("is_near_dup", F.lit(False))
    return flagged.select(
        "doc_id",
        F.col("neg_rank").cast("int").alias("neg_rank"),
        "neg_id",
        is_self.alias("is_self"),
        is_nd.alias("is_near_dup"),
        (~is_self & ~is_nd).alias("kept"),
    )


def curation_v2(
    spark: SparkSession, sf_dir: str, total_budget: int = 5000
) -> DataFrame:
    """The EXTENDED curation compose — the full pretraining-data
    refresh chaining this round's operators, every stage exact:

    1. URL dedup: keep each canonical URL's representative
       (:func:`url_dedup` — the cheap rung before content hashing).
    2. Quality gate: hashed-classifier label > 0
       (textops.quality_classifier — exact integer forward pass).
    3. Near-dup removal among survivors: drop doc_b of every LSH
       candidate pair whose BOTH ends survived stages 1-2 (keep-lowest
       -id canonical, the curation_pipeline policy).
    4. Temperature-budgeted mix: per-lang budget = floor(share(T=0.7)
       · total_budget) over the SURVIVORS' token counts
       (textops.temperature_mix), then the token_budget_mix selection
       — md5-shuffled docs per lang until the budget is hit.

    Output: the selected epoch (doc_id, lang, n_tokens, lang_budget,
    cum_tokens) — the exact document set a training run would read.

    Scale shape: stages 1-3 are map-only + broadcastable smalls on the
    doc-summary relation; stage 4 is one per-lang window over doc
    SUMMARIES.  Nothing corpus-sized sorts or collects.

    Reference: none — SURVEY.md §2.8 north-star compose, v2.
    """
    from pyspark.sql.window import Window as W

    from heatmap_spark.operators.textops import quality_classifier

    url_kept = url_dedup(spark, sf_dir).where(F.col("is_kept")).select("doc_id")
    quality = quality_classifier(spark, sf_dir).where(F.col("label")).select(
        "doc_id"
    )
    survivors = url_kept.join(quality, "doc_id")

    cand = minhash_lsh_candidates(spark, sf_dir).select("doc_a", "doc_b")
    both_alive = (
        cand.join(survivors.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .join(survivors.withColumnRenamed("doc_id", "doc_b"), "doc_b")
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    kept = survivors.join(both_alive, "doc_id", "left_anti")

    docs = load_table(spark, sf_dir, "documents")
    toks = F.size(
        F.filter(F.split("text", r"\s+"), lambda x: x != F.lit(""))
    ).cast("bigint")
    summary = docs.join(kept, "doc_id").select(
        "doc_id",
        "lang",
        toks.alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("rk"),
    )
    per = summary.groupBy("lang").agg(F.sum("n_tokens").alias("nl"))
    wt = F.pow(F.col("nl").cast("double"), F.lit(0.7))
    tot_w = F.sum(wt).over(W.partitionBy())
    budgets = per.select(
        "lang",
        F.floor(wt / tot_w * F.lit(float(total_budget)))
        .cast("bigint")
        .alias("lang_budget"),
    )
    w = (
        W.partitionBy("lang")
        .orderBy("rk", "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = summary.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.sum("n_tokens").over(w).cast("bigint").alias("cum_tokens"),
    )
    return (
        cum.join(F.broadcast(budgets), "lang")
        .where(F.col("cum_tokens") <= F.col("lang_budget"))
        .select("doc_id", "lang", "n_tokens", "lang_budget", "cum_tokens")
    )
