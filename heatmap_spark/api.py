"""Fluent engine API — the user-facing lifecycle (SURVEY.md §3 E2'):

    Heatmap(spark).from_events_dir(sf_dir).pyramid().resultsets().table().save(path)

Each step stays a DataFrame, so the whole chain is ONE Catalyst plan:
parse/analyze → optimize → whole-stage codegen → AQE.  Compare the
reference's lifecycle (heatmap.py:152-158): config-hack context
restart, RDD drop-down after load, 32 shuffle stages, zero optimizer
visibility.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from heatmap_spark.functions.timespans import DEFAULT_TIMESPANS
from heatmap_spark.operators import pyramid as _pyr
from heatmap_spark.sources.locations import load_locations


class Heatmap:
    """Entry point bound to a SparkSession."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def from_locations(self, df: DataFrame) -> "HeatmapBuilder":
        """Start from any DataFrame with the locations schema
        (latitude, longitude, ts, user_id, source[, weight])."""
        if "weight" not in df.columns:
            from pyspark.sql import functions as F

            df = df.withColumn("weight", F.lit(1.0))
        return HeatmapBuilder(self.spark, df)

    def from_parquet(self, path: str) -> "HeatmapBuilder":
        return self.from_locations(self.spark.read.parquet(path))

    def from_events_dir(self, sf_dir: str) -> "HeatmapBuilder":
        """Start from the deterministic events→locations derivation."""
        return HeatmapBuilder(self.spark, load_locations(self.spark, sf_dir))


class HeatmapBuilder:
    def __init__(self, spark: SparkSession, df: DataFrame, stage: str = "locations"):
        self.spark = spark
        self._df = df
        self._stage = stage

    def pyramid(
        self,
        mode: str = "explode",
        timespans: tuple[str, ...] = DEFAULT_TIMESPANS,
        min_zoom: int = _pyr.MIN_PYRAMID_ZOOM,
        max_zoom: int = _pyr.DETAIL_MAX_ZOOM,
    ) -> "HeatmapBuilder":
        if self._stage != "locations":
            raise ValueError(f"pyramid() must follow locations, not {self._stage}")
        df = _pyr.build_pyramid(
            self._df, mode=mode, timespans=timespans, min_zoom=min_zoom, max_zoom=max_zoom
        )
        return HeatmapBuilder(self.spark, df, "pyramid")

    def resultsets(self) -> "HeatmapBuilder":
        if self._stage != "pyramid":
            raise ValueError(f"resultsets() must follow pyramid(), not {self._stage}")
        return HeatmapBuilder(self.spark, _pyr.resultsets(self._df), "resultsets")

    def smooth(self, zoom: int) -> "HeatmapBuilder":
        """3x3 kernel smoothing of one pyramid level (see
        operators/pyramid.smooth_tiles)."""
        if self._stage != "pyramid":
            raise ValueError(f"smooth() must follow pyramid(), not {self._stage}")
        return HeatmapBuilder(self.spark, _pyr.smooth_tiles(self._df, zoom), "smoothed")

    def table(self) -> "HeatmapBuilder":
        """The sink shape (id, heatmap JSON) — reference heatmap.py:156-157."""
        if self._stage != "resultsets":
            raise ValueError(f"table() must follow resultsets(), not {self._stage}")
        return HeatmapBuilder(self.spark, _pyr.heatmap_table(self._df), "table")

    def df(self) -> DataFrame:
        return self._df

    def save(self, path: str, fmt: str = "parquet", mode: str = "append") -> None:
        """Append to the heatmaps sink (reference heatmap.py:149-150 used
        Cassandra append; parquet is the test/fixture sink)."""
        self._df.write.format(fmt).mode(mode).save(path)


class Corpus:
    """Fluent training-data curation lifecycle over a documents relation:

        Corpus(spark).from_sf_dir(sf).quality_filter().repetition_filter()
              .decontaminate().dedup().split().save(path)

    Each stage narrows the same DataFrame, so the full pipeline is ONE
    Catalyst plan (quality predicates push toward the scan, dedup's
    candidate doc-ids broadcast into an anti-join, nothing collects to
    the driver) — the compose `operators/dedup.curation_pipeline`
    hard-codes, exposed as a builder so users pick their own stages and
    thresholds.
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def from_documents(self, df: DataFrame) -> "CorpusBuilder":
        """Start from any (doc_id, text[, ...]) relation."""
        return CorpusBuilder(self.spark, df)

    def from_parquet(self, path: str) -> "CorpusBuilder":
        return self.from_documents(self.spark.read.parquet(path))

    def from_sf_dir(self, sf_dir: str) -> "CorpusBuilder":
        from heatmap_spark.sources.tables import load_table

        return self.from_documents(load_table(self.spark, sf_dir, "documents"))


class CorpusBuilder:
    def __init__(self, spark: SparkSession, df: DataFrame):
        self.spark = spark
        self._df = df

    def quality_filter(self) -> "CorpusBuilder":
        """Keep documents passing the Gopher-style rules
        (operators/textops.gopher_quality_df); map-only."""
        from pyspark.sql import functions as F

        from heatmap_spark.operators.textops import gopher_quality_df

        keep = gopher_quality_df(self._df).where(F.col("keep")).select("doc_id")
        return CorpusBuilder(
            self.spark, self._df.join(keep, "doc_id", "left_semi")
        )

    def repetition_filter(
        self,
        max_dup_token_frac: float = 0.9,
        max_top_bigram_frac: float = 0.5,
    ) -> "CorpusBuilder":
        """Drop boilerplate/templated documents by repetition signals
        (operators/textops.repetition_metrics_df)."""
        from pyspark.sql import functions as F

        from heatmap_spark.operators.textops import repetition_metrics_df

        keep = (
            repetition_metrics_df(self._df)
            .where(
                (F.col("dup_token_frac") <= max_dup_token_frac)
                & (F.col("top_bigram_frac") <= max_top_bigram_frac)
            )
            .select("doc_id")
        )
        return CorpusBuilder(
            self.spark, self._df.join(keep, "doc_id", "left_semi")
        )

    def decontaminate(
        self, benchmark: DataFrame | None = None, shingle_n: int = 5
    ) -> "CorpusBuilder":
        """Remove documents sharing any shingle with the benchmark set
        (operators/dedup.decontaminate_df).  ``benchmark`` is a
        (doc_id, text) relation of held-out eval documents; default is
        the fixture's doc_id % 97 == 0 stand-in.  Benchmark members
        themselves are also removed from the corpus."""
        from pyspark.sql import functions as F

        from heatmap_spark.operators.dedup import decontaminate_df

        if benchmark is None:
            docs = self._df
            is_bench = F.col("doc_id") % 97 == 0
        else:
            # corpus ∪ benchmark with a membership flag (benchmark wins
            # on doc_id collision); the benchmark id set is tiny →
            # broadcast left join
            bench_ids = F.broadcast(
                benchmark.select(F.col("doc_id").alias("__bid__")).distinct()
            )
            docs = (
                self._df.select("doc_id", "text")
                .unionByName(benchmark.select("doc_id", "text"))
                .dropDuplicates(["doc_id"])
                .join(bench_ids, F.col("doc_id") == F.col("__bid__"), "left")
            )
            is_bench = F.col("__bid__").isNotNull()
        status = decontaminate_df(docs, is_bench, shingle_n)
        clean = status.where(F.col("keep")).select("doc_id")
        return CorpusBuilder(
            self.spark, self._df.join(clean, "doc_id", "left_semi")
        )

    def dedup(self, method: str = "minhash") -> "CorpusBuilder":
        """Near-dup removal keeping the lowest doc_id of each candidate
        pair: 'minhash' (LSH banding) or 'exact' (identical text)."""
        from pyspark.sql import functions as F

        from heatmap_spark.operators.dedup import minhash_lsh_candidates_df

        if method == "exact":
            w_keep = self._df.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
            return CorpusBuilder(
                self.spark,
                self._df.join(
                    w_keep.select("doc_id"), "doc_id", "left_semi"
                ),
            )
        if method != "minhash":
            raise ValueError(f"unknown dedup method {method!r}")
        dupes = (
            minhash_lsh_candidates_df(self._df.select("doc_id", "text"))
            .select(F.col("doc_b").alias("doc_id"))
            .distinct()
        )
        return CorpusBuilder(
            self.spark,
            self._df.join(F.broadcast(dupes), "doc_id", "left_anti"),
        )

    def split(
        self, train_hex: str = "c", val_hex: str = "e", leakage_safe: bool = False
    ) -> "CorpusBuilder":
        """Deterministic md5-prefix train/val/test split column (stable
        under repartitioning; same policy as curation_pipeline).

        ``leakage_safe=True`` keys the hash on the doc's near-dup
        cluster representative instead of the doc itself, so duplicate
        clusters can never straddle splits (operators/dedup.
        leakage_safe_split semantics over the CURRENT corpus stage —
        run it before .dedup() to protect evaluation integrity even
        when near-dups survive)."""
        from pyspark.sql import functions as F

        if leakage_safe:
            from heatmap_spark.operators.dedup import (
                connected_components,
                minhash_lsh_candidates_df,
            )

            clusters = connected_components(
                minhash_lsh_candidates_df(self._df.select("doc_id", "text"))
            )
            joined = self._df.join(clusters, "doc_id", "left")
            key = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
            base = joined
        else:
            key = F.col("doc_id")
            base = self._df
        h = F.substring(F.md5(key.cast("string")), 1, 1)
        split = (
            F.when(h <= train_hex, F.lit("train"))
            .when(h <= val_hex, F.lit("val"))
            .otherwise(F.lit("test"))
        )
        out = base.withColumn("split", split)
        if leakage_safe:
            out = out.drop("cluster_id")
        return CorpusBuilder(self.spark, out)

    def remove_duplicated_passages(self, w: int = 8) -> "CorpusBuilder":
        """ExactSubstr removal stage (operators/dedup.
        remove_duplicated_passages_df): every token covered by a
        cross-document duplicated w-token window is dropped and the
        document's ``text`` becomes the cleaned (normalized) token
        stream — downstream stages keep composing on ``text``.  Other
        columns survive via a doc_id join; ``n_removed_tokens`` is
        carried for filtering/reporting."""
        from pyspark.sql import functions as F

        from heatmap_spark.operators.dedup import remove_duplicated_passages_df

        cleaned = remove_duplicated_passages_df(
            self._df.select("doc_id", "text"), w
        ).select(
            "doc_id",
            F.col("clean_text").alias("text"),
            F.col("n_removed").alias("n_removed_tokens"),
        )
        return CorpusBuilder(
            self.spark, self._df.drop("text").join(cleaned, "doc_id")
        )

    def classifier_filter(self, n_buckets: int = 4096) -> "CorpusBuilder":
        """Keep documents the hashed linear classifier scores positive
        (textops.quality_classifier_df — exact integer forward pass;
        the model-based rung above quality_filter's rules)."""
        from pyspark.sql import functions as F

        from heatmap_spark.operators.textops import quality_classifier_df

        keep = (
            quality_classifier_df(self._df, n_buckets)
            .where(F.col("label"))
            .select("doc_id")
        )
        return CorpusBuilder(
            self.spark, self._df.join(keep, "doc_id", "left_semi")
        )

    def dsir_select(
        self, n_buckets: int = 1024, target_lang: str = "en"
    ) -> "CorpusBuilder":
        """Keep documents whose DSIR importance log-weight is positive
        (textops.dsir_weights_df — the target-distribution n-gram model
        likes them better than the raw-corpus model; the
        distribution-matching rung above classifier_filter).  Requires
        a ``lang`` column (the fixture target-slice marker)."""
        from pyspark.sql import functions as F

        from heatmap_spark.operators.textops import dsir_weights_df

        keep = (
            dsir_weights_df(self._df, n_buckets, target_lang)
            .where(F.col("selected"))
            .select("doc_id")
        )
        return CorpusBuilder(
            self.spark, self._df.join(keep, "doc_id", "left_semi")
        )

    def span_corruption(
        self, block: int = 3, mask_pct: int = 15
    ) -> "CorpusBuilder":
        """Self-supervised objective stage: the corpus becomes
        (doc_id, n_tokens, n_masked_spans, inputs, targets) — T5-style
        span-corruption pairs (textops.span_corruption_df).
        Terminal-ish, like chunk()."""
        from heatmap_spark.operators.textops import span_corruption_df

        return CorpusBuilder(
            self.spark, span_corruption_df(self._df, block, mask_pct)
        )

    def chunk(self, w: int = 64, stride: int = 48) -> "CorpusBuilder":
        """RAG chunking stage: the corpus becomes (doc_id, chunk_idx,
        chunk_text, n_chunk_tokens) — overlapping w-token windows at
        stride steps (textops.chunk_documents, map-only).  Terminal-ish:
        downstream stages that expect a ``text`` column don't apply."""
        from heatmap_spark.operators.textops import chunk_documents_df

        return CorpusBuilder(self.spark, chunk_documents_df(self._df, w, stride))

    def df(self) -> DataFrame:
        return self._df

    def save(self, path: str, fmt: str = "parquet", mode: str = "overwrite") -> None:
        self._df.write.format(fmt).mode(mode).save(path)
