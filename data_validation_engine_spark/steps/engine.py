"""The Spark step engine: every step type is a binding or a handler, and
every step is lazy DataFrame ops.

Design notes (vs reference, for the parity audit):

- Dispatch: a step type is declared once, by its config class in
  ``configs``. ``StepEngine.evaluate`` looks the config type up in
  ``BINDINGS`` and then in ``HANDLERS``, which is read at import from
  the handler methods' own signatures: a public method whose
  keyword-only ``config`` is annotated ``configs.X`` handles ``X`` (dve
  base/rules.py:97-122 fills ``__step_functions__`` by the same
  reflection over type hints). A binding row names a library function
  as ``"module:function"``, imported when the step runs, and maps
  config fields to its frames and arguments; a step that only forwards
  its fields needs nothing else. Steps that orchestrate (joins and
  their integrity checks, orphans, notifications, the sync-filter
  stage, side-table resolution, multi-branch steps) keep a handler
  method.
- Joins are theta joins on SQL conditions (dve spark/rules.py:144-166);
  Catalyst picks broadcast/hash/sort-merge/nested-loop. Column-conflict
  resolution is last-wins, case-insensitive, preserving last casing
  (dve spark/rules.py:168-208).
- Integrity checks (one_to_one_join / has_match): the reference runs TWO
  count() actions (dve spark/rules.py:217-227, 250-259); here a single
  aggregation over a per-row id computes (total, distinct) in ONE action.
- join_header: the reference collects the header row to the driver and
  rebuilds it as a literal (dve spark/rules.py:272-297); here it stays
  distributed — ``crossJoin(broadcast(header struct))``.
- identify_orphans: the reference shuffles twice (groupBy + join-back,
  dve spark/rules.py:339-374); here one groupBy over a per-row id
  reconstructs the row with ``first()`` — single shuffle, no join-back.
- notify: the reference loops rows on the driver (``toLocalIterator``,
  dve spark/rules.py:400-420); here messages are a DataFrame with the
  template compiled to a ``concat`` Column (messages.py).
"""

from __future__ import annotations

import importlib
import inspect
import uuid
from typing import (
    Callable,
    MutableMapping,
    NamedTuple,
    Optional,
    get_args,
    get_type_hints,
)

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from data_validation_engine_spark.errors import ConfigurationError, ConstraintError
from data_validation_engine_spark.exprs import parse_multiple_expressions
from data_validation_engine_spark.messages import (
    MessageCollector,
    messages_for_failures,
)
from data_validation_engine_spark.steps import configs

Entities = MutableMapping[str, DataFrame]
Messages = Optional[DataFrame]


def _qcol(name: str) -> Column:
    return F.col(f"`{name}`")


def _truthy(expression: str) -> Column:
    """SQL expression -> non-null boolean Column (null => false)."""
    return F.coalesce(F.expr(expression).cast("boolean"), F.lit(False))


class Binding(NamedTuple):
    """A step that only forwards config fields to one library function.

    ``impl`` is ``"module:function"`` under the package, looked up each
    time the step runs: importing the engine loads no llmops module, and a
    function patched on its module is the one called. ``args`` lists the
    config fields passed positionally and ``kwargs`` maps parameter ->
    config field. A field written ``"@field"`` holds an entity name and
    passes that entity's frame.
    Tuples pass as lists and dicts as copies. The function's result
    becomes the step's output entity.
    """

    impl: str
    args: tuple[str, ...]
    kwargs: dict[str, str]

    def function(self) -> Callable[..., DataFrame]:
        module, name = self.impl.split(":")
        return getattr(
            importlib.import_module(f"data_validation_engine_spark.{module}"),
            name,
        )

    def __call__(self, entities: Entities, config: configs.AnyStep) -> DataFrame:
        def value(field: str):
            if field.startswith("@"):
                return entities[getattr(config, field[1:])]
            v = getattr(config, field)
            if isinstance(v, tuple):
                return list(v)
            if isinstance(v, dict):
                return dict(v)
            return v

        args = [value(f) for f in self.args]
        kwargs = {p: value(f) for p, f in self.kwargs.items()}
        return self.function()(*args, **kwargs)


def _bind(impl: str, *args: str, **kwargs: str) -> Binding:
    return Binding(impl, args, kwargs)


#: config type -> binding, for every step that only forwards its fields;
#: the steps that orchestrate keep a handler method on StepEngine
BINDINGS: dict[type, Binding] = {
    # -- text / corpus -------------------------------------------------------
    configs.TextStats: _bind(
        "llmops.text:text_stats", "@entity_name", "id_column", "text_column"
    ),
    configs.RepetitionStats: _bind(
        "llmops.text:repetition_stats",
        "@entity_name", "id_column", "text_column",
        max_top_token_frac="max_top_token_frac",
        max_dup_bigram_frac="max_dup_bigram_frac",
    ),
    configs.PiiScrub: _bind(
        "llmops.text:pii_scrub", "@entity_name", "id_column", "text_column",
        out_col="clean_column",
    ),
    configs.LanguageId: _bind(
        "llmops.text:language_id", "@entity_name", "id_column", "text_column",
        out_col="lang_column",
    ),
    configs.BuildVocab: _bind(
        "llmops.text:build_vocab", "@entity_name", "id_column", "text_column",
        min_count="min_count", min_doc_freq="min_doc_freq",
    ),
    configs.EncodeTokens: _bind(
        "llmops.text:encode_tokens",
        "@entity_name", "id_column", "text_column", "@vocab_entity",
        unk_id="unk_id",
    ),
    configs.TfIdfTopTerms: _bind(
        "llmops.text:tfidf_top_terms",
        "@entity_name", "id_column", "text_column",
        top_n="top_n",
    ),
    configs.Bm25Search: _bind(
        "llmops.text:bm25_search",
        "@entity_name", "id_column", "text_column", "query",
        k1="k1", b="b", round_to="round_to", detail="detail",
    ),
    configs.TextFingerprint: _bind(
        "llmops.text:text_fingerprint",
        "@entity_name", "id_column", "text_column",
        shingle_size="shingle_size", winnow_k="winnow_k",
    ),
    configs.ScriptProfile: _bind(
        "llmops.text:script_profile", "@entity_name", "text_column",
        prefix="prefix",
    ),
    configs.NormalizeText: _bind(
        "llmops.normalize:normalize_text", "@entity_name", "text_column",
        form="form", lowercase="lowercase", strip_control="strip_control",
        collapse_whitespace="collapse_whitespace",
        output_col="output_column",
    ),
    configs.MojibakeStats: _bind(
        "llmops.normalize:mojibake_stats", "@entity_name", "text_column"
    ),
    configs.FixMojibake: _bind(
        "llmops.normalize:fix_mojibake", "@entity_name", "text_column",
        output_col="output_column", flag_col="flag_column",
    ),
    configs.CompressionRatio: _bind(
        "llmops.compress:compression_ratio", "@entity_name", "text_column",
        level="level", output_col="output_column",
    ),
    configs.Decontaminate: _bind(
        "llmops.decontam:decontaminate",
        "@entity_name", "@target_name", "id_column", "text_column",
        ngram="ngram",
    ),
    configs.ParagraphDedup: _bind(
        "llmops.paragraphs:remove_repeated_paragraphs",
        "@entity_name", "key_column", "text_column",
        sep="separator", min_chars="min_chars", normalize="normalize",
        max_docs="max_docs", keep="keep", out_col="output_column",
    ),
    configs.SplitSentences: _bind(
        "llmops.paragraphs:split_sentences",
        "@entity_name", "key_column", "text_column",
        min_chars="min_chars",
    ),
    configs.RemoveRepeatedSubstrings: _bind(
        "llmops.substrings:remove_repeated_substrings",
        "@entity_name", "id_column", "text_column",
        min_len="min_len", min_docs="min_docs", depth="depth",
        width="width", seed="seed", out_col="output_column",
        exact_verify="exact_verify",
    ),
    configs.C4Clean: _bind(
        "llmops.c4:c4_clean", "@entity_name", "text_column",
        min_line_words="min_line_words", min_sentences="min_sentences",
        clean_col="clean_column", keep_col="keep_column",
    ),
    configs.GopherQualityFlags: _bind(
        "llmops.gopher:gopher_quality_flags", "@entity_name", "text_column",
        min_words="min_words", max_words="max_words",
        min_mean_word_len="min_mean_word_len",
        max_mean_word_len="max_mean_word_len",
        max_symbol_word_ratio="max_symbol_word_ratio",
        max_bullet_line_frac="max_bullet_line_frac",
        max_ellipsis_line_frac="max_ellipsis_line_frac",
        min_alpha_word_frac="min_alpha_word_frac",
        min_stop_words="min_stop_words", keep_col="keep_column",
    ),
    configs.GopherRepetitionFlags: _bind(
        "llmops.gopher:gopher_repetition_flags",
        "@entity_name", "text_column",
        max_dup_line_frac="max_dup_line_frac",
        max_dup_para_frac="max_dup_para_frac",
        max_dup_line_char_frac="max_dup_line_char_frac",
        max_dup_para_char_frac="max_dup_para_char_frac",
        max_top_gram_fracs="max_top_gram_fracs",
        max_dup_gram_fracs="max_dup_gram_fracs",
        keep_col="keep_column",
    ),
    # -- chunking / chat -----------------------------------------------------
    configs.ChunkDocuments: _bind(
        "llmops.chunking:chunk_documents",
        "@entity_name", "id_column", "text_column",
        chunk_tokens="chunk_tokens", overlap="overlap",
    ),
    configs.ChunkBySentences: _bind(
        "llmops.chunking:chunk_by_sentences",
        "@entity_name", "key_column", "text_column",
        max_tokens="max_tokens", overlap_sentences="overlap_sentences",
        min_chars="min_chars",
    ),
    configs.ChunkByContent: _bind(
        "llmops.chunking:chunk_by_content",
        "@entity_name", "key_column", "text_column",
        target_tokens="target_tokens", min_tokens="min_tokens",
        max_tokens="max_tokens", gram="gram", seed="seed",
    ),
    configs.PackSequences: _bind(
        "llmops.chunking:pack_sequences",
        "@entity_name", "id_column", "text_column",
        capacity="capacity", n_shards="n_shards", seed="seed",
    ),
    configs.MaterializePacks: _bind(
        "llmops.chunking:materialize_packs",
        "@entity_name", "key_column", "ids_column",
        capacity="capacity", n_shards="n_shards", seed="seed",
        pad_id="pad_token_id", eod_id="eod_token_id",
    ),
    configs.RenderChat: _bind(
        "llmops.chat:render_chat",
        "@entity_name", "key_column", "conversation_column",
        role_open="role_open", role_close="role_close",
        turn_end="turn_end", mask_roles="mask_roles",
    ),
    configs.ConversationStats: _bind(
        "llmops.chat:conversation_stats",
        "@entity_name", "key_column", "conversation_column",
        user_role="user_role", assistant_role="assistant_role",
        system_role="system_role",
    ),
    # -- near-duplicates / vectors -------------------------------------------
    configs.SimHashSignatures: _bind(
        "llmops.dedup:simhash_table",
        "@entity_name", "id_column", "text_column",
        bits="bits",
    ),
    configs.SimHashPairs: _bind(
        "llmops.dedup:simhash_pairs",
        "@entity_name", "id_column", "text_column",
        bits="bits", max_hamming="max_hamming",
    ),
    configs.NgramJaccardPairs: _bind(
        "llmops.dedup:ngram_jaccard_pairs",
        "@entity_name", "id_column", "text_column",
        shingle_size="shingle_size", threshold="threshold",
    ),
    configs.ContainmentPairs: _bind(
        "llmops.dedup:containment_pairs",
        "@entity_name", "id_column", "text_column",
        threshold="threshold", shingle_size="shingle_size",
    ),
    configs.ClusterRepresentatives: _bind(
        "llmops.dedup:cluster_representatives",
        "@entity_name", "cluster_column",
        score_col="score_column", id_col="id_column",
    ),
    configs.CompactMinhashIndex: _bind(
        "llmops.dedup:compact_minhash_index",
        "@entity_name", "@live_entity", "id_column",
    ),
    configs.LabelCentroids: _bind(
        "llmops.vectors:label_centroids",
        "@entity_name", "label_column", "id_column", "vector_column",
        dim="dim", segment_size="segment_size",
    ),
    configs.NearestCentroid: _bind(
        "llmops.vectors:nearest_centroid", "@entity_name", "@target_name",
        id_col="id_column", vec_col="vector_column",
        label_col="label_column", centroid_col="centroid_column",
    ),
    configs.QuantizeVectors: _bind(
        "llmops.vectors:quantize_vectors",
        "@entity_name", "id_column", "vector_column",
        round_to="round_to",
    ),
    configs.KnnJoin: _bind(
        "llmops.similarity:knn_join", "@entity_name", "k",
        id_col="id_column", vec_col="vector_column",
        n_planes="n_planes", n_tables="n_tables", dim="dim",
    ),
    configs.HardNegativeSamples: _bind(
        "llmops.similarity:hard_negative_samples", "@entity_name", "k",
        id_col="id_column", vec_col="vector_column",
        min_cosine="min_cosine", max_cosine="max_cosine",
        candidate_factor="candidate_factor",
        n_planes="n_planes", n_tables="n_tables", dim="dim",
    ),
    configs.AnnRecall: _bind(
        "llmops.recall:ann_recall", "@entity_name", "@target_name",
        id_col="id_column", group_cols="group_columns", k="k",
        recall_col="recall_column",
    ),
    configs.PairRecall: _bind(
        "llmops.recall:pair_recall", "@entity_name", "@target_name",
        id_a="id_a_column", id_b="id_b_column",
        group_cols="group_columns", broadcast_exact="broadcast_exact",
    ),
    # -- sampling / splits ---------------------------------------------------
    configs.HashSplit: _bind(
        "llmops.split:hash_split", "@entity_name", "key_column",
        splits="splits", seed="seed", split_col="split_column",
    ),
    configs.HashSample: _bind(
        "llmops.split:deterministic_sample",
        "@entity_name", "key_column", "fraction",
        seed="seed",
    ),
    configs.StratifiedSample: _bind(
        "llmops.split:stratified_sample",
        "@entity_name", "key_column", "strata_column", "fractions",
        default_fraction="default_fraction", seed="seed",
    ),
    configs.WeightedSample: _bind(
        "llmops.split:weighted_sample",
        "@entity_name", "key_column", "weight_column",
        rate="rate", seed="seed",
    ),
    configs.CorpusMix: _bind(
        "llmops.split:corpus_mix",
        "@entity_name", "key_column", "label_column", "weight_column",
        "targets", "budget",
        temperature="temperature", seed="seed",
    ),
    configs.SelectTokenBudget: _bind(
        "llmops.split:select_token_budget",
        "@entity_name", "score_column", "token_column",
        group_cols="group_by", budget_tokens="budget_tokens",
        budget_frac="budget_frac", tiebreak_col="tiebreak_column",
        keep_col="keep_column",
    ),
    configs.NegativeSamples: _bind(
        "llmops.split:negative_samples",
        "@entity_name", "@pool_name", "anchor_column", "pool_column",
        k="k", seed="seed", exclude_self="exclude_self",
        pool_cols="pool_columns",
    ),
    configs.InterleaveSources: _bind(
        "llmops.split:interleave_sources",
        "@entity_name", "source_column", "weights", "key_column",
        seed="seed", order_col="order_column",
    ),
    # -- analytics / statistics ----------------------------------------------
    configs.AsofJoin: _bind(
        "llmops.asof:asof_join", "@entity_name", "@target_name", "on",
        left_ts="left_ts", right_ts="right_ts", value_cols="value_columns",
        prefix="prefix", direction="direction", tolerance="tolerance",
    ),
    configs.FuzzyJoin: _bind(
        "llmops.linkage:fuzzy_string_join",
        "@entity_name", "@right_entity", "left_column", "right_column",
        max_distance="max_distance", prefix_len="prefix_len",
        length_bucket="length_bucket", prefix="prefix",
    ),
    configs.SaltedJoin: _bind(
        "scale:salted_left_join", "@entity_name", "@target_name", "key",
        n_salts="n_salts", how="how",
    ),
    configs.ProfileColumns: _bind(
        "llmops.analytics:profile_columns", "@entity_name", "columns"
    ),
    configs.ProfileDiff: _bind(
        "llmops.analytics:profile_diff", "@entity_name", "@target_name",
        columns="columns",
    ),
    configs.GroupedQuantiles: _bind(
        "llmops.analytics:grouped_quantiles",
        "@entity_name", "group_by", "value_column", "probs",
        round_to="round_to",
    ),
    configs.SampledQuantiles: _bind(
        "llmops.analytics:sampled_quantiles",
        "@entity_name", "group_by", "value_column", "key_column", "probs",
        k="k", round_to="round_to", seed="seed",
    ),
    configs.FrequentItems: _bind(
        "llmops.analytics:frequent_items",
        "@entity_name", "group_by", "value_column", "k",
        min_count="min_count",
    ),
    configs.QuantileBuckets: _bind(
        "llmops.analytics:quantile_buckets",
        "@entity_name", "group_by", "value_column", "n_buckets",
        bucket_col="bucket_column",
    ),
    configs.OutlierFlags: _bind(
        "llmops.analytics:outlier_flags",
        "@entity_name", "group_by", "value_column",
        factor="factor", flag_col="flag_column",
    ),
    configs.ApproxDistinct: _bind(
        "llmops.sketch:kmv_distinct",
        "@entity_name", "group_by", "value_column",
        k="k", seed="seed",
    ),
    configs.HeavyHitters: _bind(
        "llmops.sketch:heavy_hitters",
        "@entity_name", "value_column", "min_count",
        weight_col="weight_column", depth="depth", width="width",
        seed="seed",
    ),
    configs.WindowedHeavyHitters: _bind(
        "llmops.sketch:windowed_heavy_hitters",
        "@cells_entity", "@entity_name", "ts_column", "value_column",
        "min_count",
        window_seconds="window_seconds", depth="depth", width="width",
        seed="seed", check_totals="check_totals",
    ),
    configs.GroupedAuc: _bind(
        "llmops.stats:grouped_auc",
        "@entity_name", "score_column", "label_column",
        group_cols="group_by",
    ),
    configs.Chi2Drift: _bind(
        "llmops.stats:chi2_drift", "@entity_name", "@target_name", "column",
        round_to="round_to",
    ),
    configs.GroupedRegression: _bind(
        "llmops.stats:grouped_regression",
        "@entity_name", "group_by", "x_column", "y_column",
        scale="scale", round_to="round_to",
    ),
    configs.Standardize: _bind(
        "llmops.stats:standardize", "@entity_name", "value_column",
        group_cols="group_by", method="method", out_col="output_column",
        ddof="ddof", broadcast_stats="broadcast_stats",
    ),
    configs.RetentionCohorts: _bind(
        "llmops.events:retention_cohorts",
        "@entity_name", "user_column", "ts_us_column",
        period_us="period_us",
    ),
    # -- graphs --------------------------------------------------------------
    configs.PageRankStep: _bind(
        "llmops.graph:pagerank", "@entity_name",
        src_col="src_column", dst_col="dst_column",
        weight_col="weight_column", iterations="iterations",
        damping="damping",
    ),
    configs.TriangleCount: _bind(
        "llmops.graph:triangle_count", "@entity_name",
        src_col="src_column", dst_col="dst_column",
    ),
    # -- change data ---------------------------------------------------------
    configs.MergeUpsert: _bind(
        "merge:merge_upsert", "@entity_name", "@target_name", "keys",
        update_cols="update_columns", sequence_col="sequence_column",
        insert_missing="insert_missing",
    ),
    configs.ApplyChanges: _bind(
        "merge:apply_changes", "@entity_name", "@target_name", "keys",
        op_col="op_column", sequence_col="sequence_column",
    ),
    configs.SnapshotDiff: _bind(
        "merge:snapshot_diff", "@entity_name", "@target_name", "keys",
        op_col="op_column", compare_cols="compare_columns",
    ),
    configs.Scd2Build: _bind(
        "merge:scd2_from_ledger", "@entity_name", "keys",
        sequence_col="sequence_column", op_col="op_column",
    ),
    # -- web -----------------------------------------------------------------
    configs.ExtractHtmlText: _bind(
        "llmops.web:extract_html_text", "@entity_name", "html_column",
        unescape="unescape", output_col="output_column",
    ),
    configs.ExtractLinks: _bind(
        "llmops.web:extract_links", "@entity_name", "html_column",
        base_url_col="base_url_column", output_col="output_column",
        unique="unique",
    ),
    configs.ExtractAnchorTexts: _bind(
        "llmops.web:extract_anchor_texts", "@entity_name", "html_column",
        output_href="output_href", output_text="output_text",
    ),
    configs.ParseJson: _bind(
        "llmops.web:parse_json_column",
        "@entity_name", "json_column", "json_schema",
        output_col="output_column", valid_col="valid_column",
    ),
    configs.UrlBlocklist: _bind(
        "llmops.web:url_blocklist",
        "@entity_name", "@target_name", "url_column",
        id_col="id_column", blocked_host_col="blocked_host_column",
        host_col="host_column", max_labels="max_labels",
        flag_col="flag_column",
    ),
    configs.ParseRobots: _bind(
        "llmops.robots:parse_robots",
        "@entity_name", "host_column", "robots_column",
    ),
    configs.RobotsAllowed: _bind(
        "llmops.robots:robots_allowed",
        "@entity_name", "@rules_name", "url_column",
        agent="agent", host_col="host_column", out_col="output_column",
    ),
}


class StepEngine:
    """Evaluates step configs against an entity namespace.

    Stateless between calls apart from the SparkSession and the registered
    SQL function library; safe to share across threads (Spark sessions are
    thread-safe for job submission).
    """

    def __init__(self, spark: SparkSession, *, register_functions: bool = True):
        self.spark = spark
        self._persisted: list[DataFrame] = []
        if register_functions:
            # engine's scalar function library becomes callable in rule SQL
            from data_validation_engine_spark.functions.library import (
                register_all_functions,
            )

            register_all_functions(spark)

    # -- dispatch ----------------------------------------------------------
    def evaluate(self, entities: Entities, *, config: configs.AnyStep) -> Messages:
        binding = BINDINGS.get(type(config))
        if binding is not None:
            entities[config.output_name] = binding(entities, config)
            return None
        handler = HANDLERS.get(type(config))
        if handler is None:
            raise ConfigurationError(f"unsupported step type {type(config).__name__}")
        return handler(self, entities, config=config)

    def run(self, entities: Entities, steps: list[configs.AnyStep]) -> Messages:
        """Evaluate a list of steps in order; returns the unioned messages."""
        collector = MessageCollector()
        for step in steps:
            collector.add(self.evaluate(entities, config=step))
        return collector.union()

    # -- column / projection ----------------------------------------------
    def add(self, entities: Entities, *, config: configs.ColumnAddition) -> Messages:
        df = entities[config.entity_name]
        entities[config.output_name] = df.withColumn(
            config.column_name, F.expr(config.expression)
        )
        return None

    def remove(self, entities: Entities, *, config: configs.ColumnRemoval) -> Messages:
        df = entities[config.entity_name]
        entities[config.output_name] = df.drop(config.column_name)
        return None

    def select(self, entities: Entities, *, config: configs.SelectColumns) -> Messages:
        df = entities[config.entity_name]
        out = df.selectExpr(*parse_multiple_expressions(config.columns))
        if config.distinct:
            out = out.distinct()
        entities[config.output_name] = out
        return None

    def group_by(self, entities: Entities, *, config: configs.Aggregation) -> Messages:
        df = entities[config.entity_name]
        group_exprs = [
            F.expr(e) for e in parse_multiple_expressions(config.group_by)
        ]
        agg_exprs = [
            F.expr(e)
            for e in parse_multiple_expressions(config.agg_columns or [])
        ]

        if config.grouping == "rollup":
            grouped = df.rollup(*group_exprs)
        elif config.grouping == "cube":
            grouped = df.cube(*group_exprs)
        else:
            grouped = df.groupBy(*group_exprs)
        if config.pivot_column:
            if config.grouping != "groups":
                raise ConfigurationError(
                    "pivot composes only with plain grouping"
                )
            if not agg_exprs:
                raise ConfigurationError("pivot requires agg_columns")
            # fixed pivot values avoid the extra distinct-values job
            grouped = grouped.pivot(config.pivot_column, config.pivot_values)
        if agg_exprs:
            out = grouped.agg(*agg_exprs)
        elif config.grouping != "groups":
            raise ConfigurationError(
                f"{config.grouping} requires agg_columns"
            )
        else:
            # aggregation with no agg expressions == distinct group keys
            out = df.select(*group_exprs).distinct()
        entities[config.output_name] = out
        return None

    # -- filters / notifications ------------------------------------------
    def filter(
        self, entities: Entities, *, config: configs.ImmediateFilter
    ) -> Messages:
        df = entities[config.entity_name]
        entities[config.output_name] = df.where(F.expr(config.expression))
        return None

    def deferred_filter(
        self, entities: Entities, *, config: configs.DeferredFilter
    ) -> Messages:
        """A deferred filter evaluated standalone == a sync stage of one."""
        from data_validation_engine_spark.steps.sync_filters import (
            apply_sync_filters,
        )

        return apply_sync_filters(entities, [config])

    def notify(self, entities: Entities, *, config: configs.Notification) -> Messages:
        df = entities[config.entity_name]
        # The predicate is evaluated on the FULL frame (excluded columns stay
        # visible to the expression); they are only omitted from the message
        # payload/template. Parity: dve spark/rules.py notify filters first
        # and drops excluded columns from the payload only — the sync stage
        # relies on expressions referencing excluded helper columns.
        predicate_fails_for_matches = ~_truthy(config.expression)
        return messages_for_failures(
            config.entity_name,
            df,
            predicate_fails_for_matches,
            config.reporting,
            exclude_columns=tuple(config.excluded_columns or ()),
        )

    # -- joins -------------------------------------------------------------
    def _theta_join(
        self,
        entities: Entities,
        config: configs.AbstractJoin,
        how: str,
        *,
        source_extra: list[tuple[str, Column]] | None = None,
        target_extra: list[tuple[str, Column]] | None = None,
    ) -> tuple[DataFrame, DataFrame, DataFrame]:
        source = entities[config.entity_name]
        for name, col in source_extra or []:
            source = source.withColumn(name, col)
        source = source.alias(config.entity_name)
        target = entities[config.target_name]
        for name, col in target_extra or []:
            target = target.withColumn(name, col)
        target = target.alias(config.target_name)
        if getattr(config, "broadcast_target", False):
            target = F.broadcast(target)
        joined = source.join(target, on=F.expr(config.join_condition), how=how)
        return source, target, joined

    def _project_join_result(
        self,
        source: DataFrame,
        joined: DataFrame,
        config: configs.AbstractNewColumnJoin,
        *,
        drop_source_columns: tuple[str, ...] = (),
    ) -> DataFrame:
        """All source columns + new_columns, last-wins case-insensitive."""
        exprs = [
            f"{config.entity_name}.`{c}`"
            for c in source.columns
            if c not in drop_source_columns
        ]
        exprs += parse_multiple_expressions(config.new_columns or [])
        wide = joined.selectExpr(*exprs)

        # Deduplicate case-insensitively, keeping the LAST occurrence and its
        # casing. Duplicate names can't be selected by name, so rename all
        # columns positionally first.
        names = wide.columns
        keep_index: dict[str, int] = {}
        casing: dict[str, str] = {}
        for i, name in enumerate(names):
            key = name.upper()
            keep_index[key] = i
            casing[key] = name
        if len(keep_index) == len(names):
            return wide
        positional = wide.toDF(*[f"_c{i}" for i in range(len(names))])
        return positional.select(
            *[
                F.col(f"_c{i}").alias(casing[key])
                for key, i in keep_index.items()
            ]
        )

    def _assert_join_not_multiplying(
        self, joined: DataFrame, rowid: str, config: configs.AbstractJoin
    ) -> DataFrame:
        """Single-execution integrity check: persist the join, run ONE action
        computing (total, distinct source rows), raise if any source row
        matched more than once. The returned (persisted) frame must be used
        for the downstream projection so the join executes exactly once —
        the reference runs two ``count()`` actions AND re-executes the join
        at write time (dve spark/rules.py:217-227)."""
        if joined.isStreaming:
            raise ConfigurationError(
                "integrity-checked joins (one_to_one_join / has_match with "
                "perform_integrity_check) are batch-only: count-equality "
                "over an unbounded stream is undefined; use a plain "
                "left_join or a per-microbatch foreachBatch check"
            )
        joined = joined.persist(StorageLevel.MEMORY_AND_DISK)
        self._persisted.append(joined)
        total, distinct = joined.select(
            F.count(F.lit(1)), F.count_distinct(_qcol(rowid))
        ).first()
        if total != distinct:
            joined.unpersist()
            raise ConstraintError(
                f"Multiple matches for some records from {config.entity_name!r} "
                f"for condition {config.join_condition!r}",
                constraint=(
                    f"records in source entity ({config.entity_name!r}) must "
                    f"match at most a single record in the target "
                    f"({config.target_name!r})"
                ),
            )
        return joined

    def cleanup(self) -> None:
        """Unpersist every frame cached for integrity checks."""
        for df in self._persisted:
            try:
                df.unpersist()
            except Exception:
                pass
        self._persisted.clear()

    def _new_column_join(
        self, entities: Entities, config: configs.AbstractNewColumnJoin, how: str,
        *, integrity_check: bool = False,
    ) -> Messages:
        rowid = f"__rowid_{uuid.uuid4().hex[:8]}"
        extra = (
            [(rowid, F.monotonically_increasing_id())] if integrity_check else None
        )
        source, _, joined = self._theta_join(
            entities, config, how, source_extra=extra
        )
        if integrity_check:
            joined = self._assert_join_not_multiplying(joined, rowid, config)
        entities[config.output_name] = self._project_join_result(
            source, joined, config,
            drop_source_columns=(rowid,) if integrity_check else (),
        )
        return None

    def left_join(self, entities: Entities, *, config: configs.LeftJoin) -> Messages:
        return self._new_column_join(entities, config, "left")

    def inner_join(self, entities: Entities, *, config: configs.InnerJoin) -> Messages:
        return self._new_column_join(entities, config, "inner")

    def one_to_one_join(
        self, entities: Entities, *, config: configs.OneToOneJoin
    ) -> Messages:
        return self._new_column_join(
            entities, config, "left",
            integrity_check=config.perform_integrity_check,
        )

    def semi_join(self, entities: Entities, *, config: configs.SemiJoin) -> Messages:
        _, _, joined = self._theta_join(entities, config, "left_semi")
        entities[config.output_name] = joined
        return None

    def anti_join(self, entities: Entities, *, config: configs.AntiJoin) -> Messages:
        _, _, joined = self._theta_join(entities, config, "left_anti")
        entities[config.output_name] = joined
        return None

    def has_match(
        self, entities: Entities, *, config: configs.ConfirmJoinHasMatch
    ) -> Messages:
        rowid = f"__rowid_{uuid.uuid4().hex[:8]}"
        check = config.perform_integrity_check
        extra = [(rowid, F.monotonically_increasing_id())] if check else None
        source, _, joined = self._theta_join(
            entities, config, "left", source_extra=extra
        )
        if check:
            joined = self._assert_join_not_multiplying(joined, rowid, config)
        out_cols = [
            f"{config.entity_name}.`{c}`" for c in source.columns if c != rowid
        ]
        out = joined.select(
            *[F.expr(e) for e in out_cols],
            F.coalesce(
                F.expr(config.join_condition).cast("boolean"), F.lit(False)
            ).alias(config.column_name),
        )
        entities[config.output_name] = out
        return None

    def join_header(
        self, entities: Entities, *, config: configs.HeaderJoin
    ) -> Messages:
        source = entities[config.entity_name]
        header = entities[config.target_name]
        # exactly-one-row check: fetch at most 2 rows, never a full count
        probe = header.take(2)
        if len(probe) != 1:
            raise ConstraintError(
                f"Unable to join header {config.target_name!r} to "
                f"{config.entity_name!r}: expected 1 record, got {len(probe)}",
                constraint=(
                    f"Header entity {config.target_name!r} must contain a "
                    f"single record"
                ),
            )
        # distributed: broadcast the 1-row struct, cross join (no driver
        # literal rebuild — cf. dve spark/rules.py:272-297)
        header_struct = header.select(
            F.struct(*[_qcol(c) for c in header.columns]).alias(
                config.header_column_name
            )
        )
        entities[config.output_name] = source.crossJoin(
            F.broadcast(header_struct)
        )
        return None

    def union(self, entities: Entities, *, config: configs.TableUnion) -> Messages:
        source = entities[config.entity_name]
        target = entities[config.target_name]

        # source order + casing wins; target-only columns appended in target
        # order; missing sides null-filled (dve spark/rules.py:299-337)
        source_by_upper = {c.upper(): c for c in source.columns}
        target_by_upper = {c.upper(): c for c in target.columns}
        ordered_upper = [c.upper() for c in source.columns] + [
            c.upper() for c in target.columns if c.upper() not in source_by_upper
        ]

        source_sel: list[Column] = []
        target_sel: list[Column] = []
        for key in ordered_upper:
            s_name = source_by_upper.get(key)
            t_name = target_by_upper.get(key)
            out_name = s_name or t_name or key
            if s_name:
                source_sel.append(_qcol(s_name))
            else:
                source_sel.append(F.lit(None).alias(out_name))
            if t_name:
                target_sel.append(_qcol(t_name).alias(out_name))
            else:
                target_sel.append(F.lit(None).alias(out_name))

        entities[config.output_name] = source.select(*source_sel).union(
            target.select(*target_sel)
        )
        return None

    def identify_orphans(
        self, entities: Entities, *, config: configs.OrphanIdentification
    ) -> Messages:
        """Boolean ``IsOrphaned`` flag: no match in target under the theta
        condition; OR-accumulated with a pre-existing flag.

        Scale plan: the left join can multiply each source row by its match
        count, so the joined frame is never shuffled wide. It is projected to
        the narrow ``(rowid, match)`` pair, aggregated to one flag per row,
        and the flags (2 columns) are joined back to the un-multiplied
        source. The wide data moves through exactly one join-key shuffle —
        vs the reference's uuid-keyed groupBy + join-back over all columns
        (dve spark/rules.py:339-374).

        ``rowid`` is a CONTENT hash — ``md5(to_json(struct(*columns)))`` —
        not ``monotonically_increasing_id``: the source subtree executes
        twice in this plan (once under the join, once as the join-back left
        side), and positional ids are only stable across executions for a
        deterministic scan. On derived entities (post-join/post-aggregate)
        intra-partition order can differ between executions, silently
        attaching flags to the wrong rows. A content hash is identical on
        both executions by construction; rows with byte-identical content
        are interchangeable under any join condition (the condition only
        reads columns), so collapsing them to one flag group is exact —
        each source row still joins exactly one flag row (no
        multiplication). Falls back to ``monotonically_increasing_id`` over
        an eagerly local-checkpointed source only if a column type is not
        ``to_json``-serialisable.
        """
        rowid = f"__rowid_{uuid.uuid4().hex[:8]}"
        match = f"__match_{uuid.uuid4().hex[:8]}"
        base = entities[config.entity_name]
        # microsecond timestamp formats: to_json's defaults truncate to
        # milliseconds, which would collapse rows differing only in sub-ms
        # timestamps into one rowid (and let a matching row mask a
        # non-matching near-twin); Spark timestamps are at most µs precision
        # so these render losslessly, including inside nested types
        content_id = F.md5(
            F.to_json(
                F.struct(*[_qcol(c) for c in base.columns]),
                {
                    "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
                    "timestampNTZFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
                },
            )
        )
        try:
            # force analysis so unsupported column types surface here
            _ = base.select(content_id.alias(rowid)).schema
            rowid_col = content_id
        except Exception:
            rowid_col = F.monotonically_increasing_id()
            if not base.isStreaming:
                # one materialisation both plan branches read, so the
                # positional ids cannot disagree between executions (same
                # data/schema — safe to keep for later steps too)
                entities[config.entity_name] = base.localCheckpoint(
                    eager=True
                )
        source, _, joined = self._theta_join(
            entities,
            config,
            "left",
            source_extra=[(rowid, rowid_col)],
            target_extra=[(match, F.lit(1))],
        )
        src_name = config.entity_name
        source_cols = [c for c in source.columns if c != rowid]

        # narrow aggregation: (rowid, match) only — no wide shuffle of the
        # multiplied join output
        flags = (
            joined.select(
                F.col(f"{src_name}.`{rowid}`").alias(rowid), _qcol(match)
            )
            .groupBy(rowid)
            .agg((F.count(_qcol(match)) == F.lit(0)).alias("__orphaned_now"))
        )

        out = source.join(flags, on=rowid, how="inner")
        if "IsOrphaned" in source_cols:
            orphan_col = (_qcol("IsOrphaned") | F.col("__orphaned_now")).alias(
                "IsOrphaned"
            )
            ordered = source_cols
        else:
            orphan_col = F.col("__orphaned_now").alias("IsOrphaned")
            ordered = source_cols + ["IsOrphaned"]
        out = out.select(
            *[
                orphan_col if c == "IsOrphaned" else _qcol(c)
                for c in ordered
            ]
        )
        entities[config.output_name] = out
        return None

    # -- entity namespace --------------------------------------------------
    def copy_entity(
        self, entities: Entities, *, config: configs.CopyEntity
    ) -> Messages:
        entities[config.new_entity_name] = entities[config.entity_name]
        return None

    def rename_entity(
        self, entities: Entities, *, config: configs.RenameEntity
    ) -> Messages:
        entities[config.new_entity_name] = entities[config.entity_name]
        del entities[config.entity_name]
        return None

    def remove_entities(
        self, entities: Entities, *, config: configs.EntityRemoval
    ) -> Messages:
        for name in config.entity_names:
            del entities[name]
        return None

    # -- corpus (llmops) steps ---------------------------------------------
    # The llmops steps that need more than a binding row. Imports are
    # local, as in BINDINGS: llmops is an optional surface for
    # pure-validation users, and importing the engine loads none of it.

    def dedup_exact(
        self, entities: Entities, *, config: configs.ExactDedup
    ) -> Messages:
        from data_validation_engine_spark.llmops.dedup import exact_dedup

        keys = (
            [config.key_columns]
            if isinstance(config.key_columns, str)
            else list(config.key_columns)
        )
        out = exact_dedup(
            entities[config.entity_name],
            keys,
            order_col=config.order_column,
            normalize_text=config.normalize_text,
        )
        if config.count_column is None:
            out = out.drop("n_copies")
        elif config.count_column != "n_copies":
            out = out.withColumnRenamed("n_copies", config.count_column)
        entities[config.output_name] = out
        return None

    def dedup_minhash(
        self, entities: Entities, *, config: configs.MinHashDedup
    ) -> Messages:
        from data_validation_engine_spark.llmops.dedup import minhash_dedup

        kwargs: dict = {"threshold": config.threshold}
        if config.shingle_size is not None:
            kwargs["shingle_size"] = config.shingle_size
        if config.num_hashes is not None:
            kwargs["num_hashes"] = config.num_hashes
        if config.bands is not None:
            kwargs["bands"] = config.bands
        entities[config.output_name] = minhash_dedup(
            entities[config.entity_name],
            config.id_column,
            config.text_column,
            exact_components=config.exact_components,
            component_algorithm=config.component_algorithm,
            quality_col=config.quality_column,
            higher_is_better=config.higher_is_better,
            **kwargs,
        )
        return None

    def embedding_neardup(
        self, entities: Entities, *, config: configs.EmbeddingNearDup
    ) -> Messages:
        if config.target_name is not None:
            from data_validation_engine_spark.llmops.similarity import (
                incremental_embedding_dedup,
            )

            entities[config.output_name] = incremental_embedding_dedup(
                entities[config.entity_name],
                entities[config.target_name],
                id_col=config.id_column,
                vec_col=config.vector_column,
                corpus_index=(
                    entities[config.index_entity]
                    if config.index_entity
                    else None
                ),
                n_planes=config.n_planes,
                n_tables=config.n_tables,
                dim=config.dim,
                threshold=config.threshold,
            )
            return None
        from data_validation_engine_spark.llmops.similarity import (
            embedding_neardup_pairs,
        )

        entities[config.output_name] = embedding_neardup_pairs(
            entities[config.entity_name],
            id_col=config.id_column,
            vec_col=config.vector_column,
            n_planes=config.n_planes,
            dim=config.dim,
            threshold=config.threshold,
        )
        return None

    def kmeans(self, entities: Entities, *, config: configs.KMeansFit) -> Messages:
        from data_validation_engine_spark.llmops.ivf import ivf_assign
        from data_validation_engine_spark.llmops.vectors import kmeans_fit

        df = entities[config.entity_name]
        cents = kmeans_fit(
            df,
            config.k,
            id_col=config.id_column,
            vec_col=config.vector_column,
            dim=config.dim,
            n_iters=config.n_iters,
            segment_size=config.segment_size,
        )
        counts = (
            ivf_assign(
                df.select(config.id_column, config.vector_column),
                cents,
                vec_col=config.vector_column,
            )
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        cent_rows = self.spark.createDataFrame(
            [(i, c) for i, c in enumerate(cents)],
            "cell int, centroid array<double>",
        )
        entities[config.output_name] = (
            cent_rows.join(counts, on="cell", how="left")
            .select(
                "cell",
                F.coalesce(F.col("n"), F.lit(0)).alias("n"),
                "centroid",
            )
        )
        return None

    def connected_components(
        self, entities: Entities, *, config: configs.ConnectedComponents
    ) -> Messages:
        from data_validation_engine_spark.llmops.dedup import (
            connected_components,
            connected_components_star,
        )

        cc = (
            connected_components_star
            if config.algorithm == "star"
            else connected_components
        )
        entities[config.output_name] = cc(entities[config.entity_name])
        return None

    def sessionize(self, entities: Entities, *, config: configs.Sessionize) -> Messages:
        from data_validation_engine_spark.streaming.sessions import (
            session_stats,
            sessionize,
        )

        fn = session_stats if config.output == "sessions" else sessionize
        entities[config.output_name] = fn(
            entities[config.entity_name],
            config.user_column,
            config.ts_column,
            gap_seconds=config.gap_seconds,
        )
        return None

    def quality_filters(
        self, entities: Entities, *, config: configs.QualityFilters
    ) -> Messages:
        from data_validation_engine_spark.llmops.text import quality_filters
        from data_validation_engine_spark.steps.sync_filters import (
            apply_sync_filters,
        )

        target = config.output_name
        if target != config.entity_name:
            entities[target] = entities[config.entity_name]
        gates = quality_filters(
            target,
            config.text_column,
            min_tokens=config.min_tokens,
            max_tokens=config.max_tokens,
            max_punct_ratio=config.max_punct_ratio,
            min_avg_token_len=config.min_avg_token_len,
            max_avg_token_len=config.max_avg_token_len,
        )
        return apply_sync_filters(entities, gates)

    def similarity_topk(
        self, entities: Entities, *, config: configs.SimilarityTopK
    ) -> Messages:
        from data_validation_engine_spark.llmops.ivf import ivf_topk
        from data_validation_engine_spark.llmops.similarity import (
            ann_topk,
            cosine_topk,
            multiprobe_ann_topk,
        )

        table = entities[config.entity_name]
        query = entities[config.target_name]
        if config.method == "pq":
            from data_validation_engine_spark.llmops.pq import pq_topk

            books = self._resolve_pq_codebooks(entities, config, table)
            out = pq_topk(
                table,
                query,
                config.k,
                codebooks=books,
                id_col=config.id_column,
                vec_col=config.vector_column,
                codes_col=config.codes_column,
                exclude_self=config.exclude_self,
                refine_factor=config.pq_refine,
            )
        elif config.method == "ivf":
            out = ivf_topk(
                table,
                query,
                config.k,
                id_col=config.id_column,
                vec_col=config.vector_column,
                centroids=(
                    [list(c) for c in config.centroids]
                    if config.centroids
                    else None
                ),
                n_cells=config.n_cells,
                n_probe=config.n_probe,
                exclude_self=config.exclude_self,
            )
        elif config.method == "multiprobe":
            out = multiprobe_ann_topk(
                table,
                query,
                config.k,
                id_col=config.id_column,
                vec_col=config.vector_column,
                n_planes=config.n_planes,
                n_tables=config.n_tables,
                dim=config.dim,
                exclude_self=config.exclude_self,
            )
        elif config.method == "ann":
            out = ann_topk(
                table,
                query,
                config.k,
                id_col=config.id_column,
                vec_col=config.vector_column,
                n_planes=config.n_planes,
                dim=config.dim,
                exclude_self=config.exclude_self,
            )
        else:
            out = cosine_topk(
                table,
                query,
                config.k,
                id_col=config.id_column,
                vec_col=config.vector_column,
                exclude_self=config.exclude_self,
            )
        entities[config.output_name] = out
        return None

    # -- interval / windowed analytics -------------------------------------
    def interval_join(
        self, entities: Entities, *, config: configs.IntervalJoin
    ) -> Messages:
        from data_validation_engine_spark.llmops.interval import interval_join

        entities[config.output_name] = interval_join(
            entities[config.entity_name],
            entities[config.target_name],
            left_start=config.left_start,
            left_end=config.left_end,
            right_start=config.right_start,
            right_end=config.right_end,
            on=list(config.on) or None,
            bucket_width=config.bucket_width,
            prefix=config.prefix,
        )
        return None

    def top_k(self, entities: Entities, *, config: configs.TopKPerGroup) -> Messages:
        from data_validation_engine_spark.llmops.analytics import grouped_topk

        entities[config.output_name] = grouped_topk(
            entities[config.entity_name],
            list(config.group_by),
            config.order_column,
            config.k,
            descending=config.descending,
            tiebreak_cols=list(config.tiebreak_columns) or None,
            rank_col=config.rank_column,
        )
        return None

    def rolling_agg(
        self, entities: Entities, *, config: configs.RollingAggregate
    ) -> Messages:
        from data_validation_engine_spark.llmops.analytics import rolling_agg

        entities[config.output_name] = rolling_agg(
            entities[config.entity_name],
            partition_cols=list(config.partition_by),
            ts_col=config.ts_column,
            window_seconds=config.window_seconds,
            aggs={name: F.expr(expr) for name, expr in config.aggregations},
            include_current=config.include_current,
        )
        return None

    def dedup_incremental(
        self, entities: Entities, *, config: configs.IncrementalDedup
    ) -> Messages:
        from data_validation_engine_spark.llmops.dedup import (
            incremental_exact_dedup,
            incremental_ngram_dedup,
        )

        new_df = entities[config.entity_name]
        corpus = entities[config.target_name]
        if config.method == "minhash":
            from data_validation_engine_spark.llmops.dedup import (
                incremental_minhash_dedup,
            )

            out = incremental_minhash_dedup(
                new_df,
                corpus,
                config.id_column,
                config.text_column,
                corpus_index=(
                    entities[config.index_entity]
                    if config.index_entity
                    else None
                ),
                threshold=config.threshold,
                shingle_size=config.shingle_size,
                num_hashes=config.num_hashes,
                bands=config.bands,
            )
            entities[config.output_name] = out
            return None
        if config.method == "ngram":
            out = incremental_ngram_dedup(
                new_df,
                corpus,
                config.id_column,
                config.text_column,
                threshold=config.threshold,
                shingle_size=config.shingle_size,
            )
        else:
            out = incremental_exact_dedup(
                new_df,
                corpus,
                config.text_column,
                order_col=config.id_column,
                normalize_text=config.normalize_text,
            )
        entities[config.output_name] = out
        return None

    def profile_gate(
        self, entities: Entities, *, config: configs.ProfileGate
    ) -> Messages:
        """Dataset-level thresholds over the single-pass column profile,
        reported as SUBMISSION-severity messages (the reference's
        failure_type taxonomy, messages.py:36) — entirely lazy: the
        profile aggregate and the threshold filters are one plan, no
        driver-side inspection of the stats."""
        from data_validation_engine_spark.llmops.analytics import (
            profile_columns,
        )
        from data_validation_engine_spark.messages import RECORD_INDEX

        df = entities[config.entity_name]
        prof = profile_columns(
            df,
            list(config.columns) if config.columns is not None else None,
        )

        def msg(
            filtered: DataFrame,
            template: Column,
            value: Column,
            *,
            field: Column | None = None,
        ):
            # entity-level violations (min_rows) carry a NULL
            # reporting_field — blaming an arbitrary column would
            # misattribute a dataset-wide failure
            field = F.col("column") if field is None else field
            return filtered.select(
                F.lit(config.entity_name).alias("entity"),
                F.lit(config.entity_name).alias("original_entity"),
                F.lit(None).cast("long").alias(RECORD_INDEX),
                F.lit(config.code).alias("error_code"),
                template.alias("error_message"),
                F.lit(None).cast("string").alias("error_location"),
                F.lit("submission").alias("failure_type"),
                F.lit(False).alias("is_informational"),
                F.lit("profile").alias("category"),
                field.alias("reporting_field"),
                value.cast("string").alias("value"),
                F.lit(None).cast("string").alias("record_json"),
            )

        feeds = []
        if config.max_null_frac is not None:
            frac = F.col("n_null") / F.greatest(F.col("n_rows"), F.lit(1))
            feeds.append(
                msg(
                    prof.where(frac > F.lit(float(config.max_null_frac))),
                    F.concat(
                        F.lit("column "), F.col("column"),
                        F.lit(" null fraction "),
                        F.round(frac, 4).cast("string"),
                        F.lit(f" exceeds {float(config.max_null_frac)!r}"),
                    ),
                    frac,
                )
            )
        if config.min_distinct is not None:
            feeds.append(
                msg(
                    prof.where(
                        F.col("n_distinct") < F.lit(int(config.min_distinct))
                    ),
                    F.concat(
                        F.lit("column "), F.col("column"),
                        F.lit(" has "), F.col("n_distinct").cast("string"),
                        F.lit(f" distinct values, below {int(config.min_distinct)}"),
                    ),
                    F.col("n_distinct"),
                )
            )
        if config.min_rows is not None:
            feeds.append(
                msg(
                    prof.limit(1).where(
                        F.col("n_rows") < F.lit(int(config.min_rows))
                    ),
                    F.concat(
                        F.lit("entity has "),
                        F.col("n_rows").cast("string"),
                        F.lit(f" rows, below {int(config.min_rows)}"),
                    ),
                    F.col("n_rows"),
                    field=F.lit(None).cast("string"),
                )
            )
        from data_validation_engine_spark.messages import union_messages

        return union_messages(feeds)

    def semantic_dedup(
        self, entities: Entities, *, config: configs.SemanticDedup
    ) -> Messages:
        from data_validation_engine_spark.llmops import semdedup

        fn = {
            "kept": semdedup.semantic_dedup,
            "groups": semdedup.semantic_dup_groups,
            "pairs": semdedup.semantic_pairs,
        }[config.output]
        entities[config.output_name] = fn(
            entities[config.entity_name],
            id_col=config.key_column,
            vec_col=config.vector_column,
            dim=config.dim,
            n_cells=config.n_cells,
            threshold=config.threshold,
            n_iters=config.n_iters,
        )
        return None

    def shared_spans(
        self, entities: Entities, *, config: configs.SharedSpans
    ) -> Messages:
        from data_validation_engine_spark.llmops.spans import (
            shared_span_pairs,
            shared_spans_incremental,
            winnowed_fingerprints,
        )

        if config.mode == "fingerprints":
            if config.index_name is not None:
                raise ConfigurationError(
                    "shared_spans: mode='fingerprints' builds an index "
                    "— index_name applies only to mode='pairs' probes"
                )
            entities[config.output_name] = winnowed_fingerprints(
                entities[config.entity_name],
                config.key_column,
                config.text_column,
                width=config.width,
                window=config.window,
                normalize=config.normalize,
            )
            return None
        if config.index_name is not None:
            entities[config.output_name] = shared_spans_incremental(
                entities[config.entity_name],
                entities[config.index_name],
                config.key_column,
                config.text_column,
                width=config.width,
                window=config.window,
                min_shared=config.min_shared,
                normalize=config.normalize,
                broadcast_new=config.broadcast_new,
            )
            return None
        entities[config.output_name] = shared_span_pairs(
            entities[config.entity_name],
            config.key_column,
            config.text_column,
            width=config.width,
            window=config.window,
            min_shared=config.min_shared,
            normalize=config.normalize,
        )
        return None

    def lm_perplexity(
        self, entities: Entities, *, config: configs.LmPerplexity
    ) -> Messages:
        from data_validation_engine_spark.llmops.lm import (
            perplexity_score,
            train_char_lm,
        )

        model, total, vocab = train_char_lm(
            entities[config.reference_name], config.text_column, n=config.n
        )
        df = entities[config.entity_name]
        scores = perplexity_score(
            df, model, total, vocab,
            config.key_column, config.text_column,
            n=config.n, alpha=config.alpha,
        )
        entities[config.output_name] = df.join(
            scores, config.key_column, "left"
        )
        return None

    def word_lm(
        self, entities: Entities, *, config: configs.WordLm
    ) -> Messages:
        from data_validation_engine_spark.llmops.lm import (
            stupid_backoff_score,
            train_word_lm,
            word_lm_from_rows,
            word_lm_to_rows,
        )

        if (config.reference_name is None) == (config.model_name is None):
            raise ConfigurationError(
                "word_lm: pass exactly one of reference_name / model_name"
            )
        if config.model_name is not None:
            model, total = word_lm_from_rows(entities[config.model_name])
        else:
            model, total = train_word_lm(
                entities[config.reference_name],
                config.text_column,
                n=config.n,
                min_count=config.min_count,
            )
        if config.model_entity:
            entities[config.model_entity] = word_lm_to_rows(model, total)
        df = entities[config.entity_name]
        scores = stupid_backoff_score(
            df,
            model,
            total,
            config.key_column,
            config.text_column,
            n=config.n,
            alpha=config.alpha,
            broadcast_model=config.broadcast_model,
        )
        entities[config.output_name] = df.join(
            scores.drop(config.text_column)
            if config.text_column in scores.columns
            else scores,
            config.key_column,
            "left",
        )
        return None

    def hll_profile(
        self, entities: Entities, *, config: configs.HllProfile
    ) -> Messages:
        from data_validation_engine_spark.llmops.sketch import (
            hll_profile,
            hll_rollup,
        )

        df = entities[config.entity_name]
        if config.mode == "rollup":
            entities[config.output_name] = hll_rollup(
                df, list(config.group_by), sketch_col=config.value_column
            )
        else:
            entities[config.output_name] = hll_profile(
                df,
                list(config.group_by),
                config.value_column,
                lg_k=config.lg_k,
                keep_sketch=config.keep_sketch,
            )
        return None

    def pca_project(
        self, entities: Entities, *, config: configs.PcaProject
    ) -> Messages:
        from data_validation_engine_spark.llmops.pca import (
            pca_fit,
            pca_project,
        )

        df = entities[config.entity_name]
        mean, comps, expl = pca_fit(
            df, config.k,
            id_col=config.key_column,
            vec_col=config.vector_column,
            dim=config.dim,
        )
        entities[config.output_name] = pca_project(
            df, mean, comps,
            vec_col=config.vector_column,
            out_col=config.output_column,
        )
        if config.components_entity:
            entities[config.components_entity] = self.spark.createDataFrame(
                [
                    (i, expl[i], comps[i])
                    for i in range(len(comps))
                ],
                "component int, explained_variance double, weights array<double>",
            )
        return None

    def exact_quota_sample(
        self, entities: Entities, *, config: configs.ExactQuotaSample
    ) -> Messages:
        from data_validation_engine_spark.llmops.split import (
            exact_quota_sample,
        )

        entities[config.output_name] = exact_quota_sample(
            entities[config.entity_name],
            config.key_column,
            config.n,
            strata_cols=list(config.strata_columns)
            if config.strata_columns
            else None,
            seed=config.seed,
        )
        return None

    def winsorize(
        self, entities: Entities, *, config: configs.Winsorize
    ) -> Messages:
        from data_validation_engine_spark.llmops.analytics import winsorize

        entities[config.output_name] = winsorize(
            entities[config.entity_name],
            list(config.group_by) if config.group_by else [],
            config.value_column,
            lower=config.lower,
            upper=config.upper,
            out_col=config.output_column,
            round_to=config.round_to,
        )
        return None

    def impute(self, entities: Entities, *, config: configs.Impute) -> Messages:
        from data_validation_engine_spark.llmops.analytics import (
            impute_nulls,
        )

        entities[config.output_name] = impute_nulls(
            entities[config.entity_name],
            dict(config.columns),
            group_cols=list(config.group_by) if config.group_by else None,
            round_to=config.round_to,
        )
        return None

    def kmv_set(
        self, entities: Entities, *, config: configs.KmvSetOps
    ) -> Messages:
        from data_validation_engine_spark.llmops.sketch import (
            kmv_set_estimates,
            kmv_sketch,
        )

        groups = list(config.group_by)
        sk_a = kmv_sketch(
            entities[config.entity_name],
            groups,
            config.value_column,
            k=config.k,
            seed=config.seed,
        )
        sk_b = kmv_sketch(
            entities[config.target_name],
            groups,
            config.target_value_column or config.value_column,
            k=config.k,
            seed=config.seed,
        )
        entities[config.output_name] = kmv_set_estimates(
            sk_a, sk_b, groups, k=config.k
        )
        return None

    def window_funnel(
        self, entities: Entities, *, config: configs.WindowFunnel
    ) -> Messages:
        from data_validation_engine_spark.llmops.events import (
            funnel_counts,
            window_funnel,
        )

        per_user = window_funnel(
            entities[config.entity_name],
            config.user_column,
            config.ts_us_column,
            config.event_column,
            list(config.steps),
            window_us=config.window_us,
        )
        entities[config.output_name] = (
            funnel_counts(per_user, n_steps=len(config.steps))
            if config.counts
            else per_user
        )
        return None

    def pseudonymize(
        self, entities: Entities, *, config: configs.Pseudonymize
    ) -> Messages:
        df = entities[config.entity_name]
        n = int(config.token_length)
        for c in config.columns:
            token = F.substring(
                F.sha2(
                    F.concat(F.lit(config.salt), F.col(c).cast("string")),
                    256,
                ),
                1,
                n,
            )
            df = df.withColumn(
                c, F.when(F.col(c).isNotNull(), token)
            )
        entities[config.output_name] = df
        return None

    def cms_sketch(
        self, entities: Entities, *, config: configs.CmsSketch
    ) -> Messages:
        from data_validation_engine_spark.llmops.sketch import (
            cms_build,
            cms_merge,
            cms_query,
        )

        groups = list(config.group_by)
        df = entities[config.entity_name]
        if config.mode == "merge":
            entities[config.output_name] = cms_merge(df, groups)
        elif config.mode == "query":
            if not config.sketch_name:
                raise ValueError(
                    "cms_sketch mode='query' needs sketch_name"
                )
            entities[config.output_name] = cms_query(
                entities[config.sketch_name],
                df,
                config.value_column,
                group_cols=groups,
                depth=config.depth,
                width=config.width,
                seed=config.seed,
            )
        else:
            entities[config.output_name] = cms_build(
                df,
                config.value_column,
                group_cols=groups,
                depth=config.depth,
                width=config.width,
                weight_col=config.weight_column,
                seed=config.seed,
            )
        return None

    def bloom_filter(
        self, entities: Entities, *, config: configs.BloomFilter
    ) -> Messages:
        from data_validation_engine_spark.llmops.sketch import (
            bloom_build,
            bloom_merge,
            bloom_might_contain,
        )

        groups = list(config.group_by)
        df = entities[config.entity_name]
        if config.mode == "merge":
            entities[config.output_name] = bloom_merge(df, groups)
        elif config.mode == "query":
            if not config.bloom_name:
                raise ValueError(
                    "bloom_filter mode='query' needs bloom_name"
                )
            entities[config.output_name] = bloom_might_contain(
                entities[config.bloom_name],
                df,
                config.value_column,
                group_cols=groups,
                m_bits=config.m_bits,
                k_hashes=config.k_hashes,
                seed=config.seed,
            )
        else:
            entities[config.output_name] = bloom_build(
                df,
                config.value_column,
                group_cols=groups,
                m_bits=config.m_bits,
                k_hashes=config.k_hashes,
                seed=config.seed,
            )
        return None

    def dsir_resample(
        self, entities: Entities, *, config: configs.DsirResample
    ) -> Messages:
        from data_validation_engine_spark.llmops import dsir

        df = entities[config.entity_name]
        keys = list(config.key_columns)
        if config.mode == "counts":
            entities[config.output_name] = dsir.dsir_bucket_counts(
                df,
                config.text_column,
                n_max=config.n_max,
                buckets=config.buckets,
                seed=config.seed,
                lowercase=config.lowercase,
            )
        elif config.mode == "ratio":
            if not config.target_name:
                raise ValueError(
                    "dsir_resample mode='ratio' needs target_name "
                    "(the target corpus's count entity)"
                )
            entities[config.output_name] = dsir.dsir_log_ratio(
                entities[config.target_name],
                df,
                buckets=config.buckets,
                alpha=config.alpha,
            )
        elif config.mode == "score":
            if not config.ratio_name:
                raise ValueError(
                    "dsir_resample mode='score' needs ratio_name"
                )
            entities[config.output_name] = dsir.dsir_score(
                df,
                config.text_column,
                entities[config.ratio_name],
                key_cols=keys,
                n_max=config.n_max,
                buckets=config.buckets,
                seed=config.seed,
                lowercase=config.lowercase,
                normalize=config.normalize,
                broadcast_ratios=config.broadcast_ratios,
            )
        else:
            if not keys:
                raise ValueError(
                    "dsir_resample mode='select' needs key_columns[0] "
                    "(the Gumbel noise key)"
                )
            entities[config.output_name] = dsir.gumbel_topk(
                df,
                config.logw_column,
                config.n_select,
                key_col=keys[0],
                seed=config.seed,
                temperature=config.temperature,
            )
        return None

    def rrf_fuse(
        self, entities: Entities, *, config: configs.RrfFuse
    ) -> Messages:
        from data_validation_engine_spark.llmops.fusion import rrf_fuse

        frames = [entities[config.entity_name]] + [
            entities[n] for n in config.more_entities
        ]
        entities[config.output_name] = rrf_fuse(
            frames,
            query_cols=list(config.query_columns),
            doc_col=config.doc_column,
            rank_col=config.rank_column,
            k=config.k,
            scale=config.scale,
            top_n=config.top_n,
        )
        return None

    def classifier_fit(
        self, entities: Entities, *, config: configs.ClassifierFit
    ) -> Messages:
        from data_validation_engine_spark.llmops.classifier import (
            classifier_fit,
        )

        weights, bias = classifier_fit(
            entities[config.entity_name],
            config.text_column,
            config.label_column,
            n_buckets=config.n_buckets,
            n_max=config.n_max,
            seed=config.seed,
            average=config.average,
            char_n=config.char_n,
            epochs=config.epochs,
            lr=config.lr,
            l2=config.l2,
        )
        spark = entities[config.entity_name].sparkSession
        # bucket -2 declares n_buckets: a partially read
        # or written entity that lost TRAILING bucket rows would
        # otherwise reconstruct a smaller feature space and score
        # everything wrong silently — the sentinel lets the consumer
        # validate completeness instead of inferring it from max()
        entities[config.output_name] = spark.createDataFrame(
            [(-2, float(len(weights))), (-1, float(bias))]
            + [(b, float(w)) for b, w in enumerate(weights)],
            "bucket int, weight double",
        )
        return None

    def _resolve_pq_codebooks(self, entities: Entities, config, table):
        """Shared codebook resolution for the PQ search steps: inline
        literal, a ``pq_fit`` output entity (bounded m×k+1-row collect
        with dense-grid validation — the classifier weights-entity
        discipline), or the deterministic placeholder."""
        from data_validation_engine_spark.llmops.pq import (
            default_codebooks,
            pq_codebooks_from_rows,
        )

        if (
            config.codebooks is not None
            and config.codebooks_entity is not None
        ):
            raise ConfigurationError(
                f"{config.operation}: pass at most one of codebooks / "
                "codebooks_entity"
            )
        if config.codebooks:
            return [[list(cw) for cw in book] for book in config.codebooks]
        if config.codebooks_entity is not None:
            return pq_codebooks_from_rows(
                entities[config.codebooks_entity].collect()
            )
        return default_codebooks(
            table,
            id_col=config.id_column,
            vec_col=config.vector_column,
            dim=config.dim,
            m=config.pq_m,
            k=config.pq_k,
        )

    def pq_topk_many(
        self, entities: Entities, *, config: configs.PQTopKMany
    ) -> Messages:
        from data_validation_engine_spark.llmops.pq import (
            ivf_pq_topk_many,
            pq_topk_many,
        )

        table = entities[config.entity_name]
        queries = entities[config.target_name]
        books = self._resolve_pq_codebooks(entities, config, table)
        if config.cell_column is not None and config.centroids is None:
            raise ConfigurationError(
                "pq_topk_many: cell_column needs centroids (the query "
                "side must rank the same quantizer's cells to probe)"
            )
        kw = dict(
            codebooks=books,
            id_col=config.id_column,
            vec_col=config.vector_column,
            codes_col=config.codes_column,
            query_id_col=config.query_id_column,
            exclude_self=config.exclude_self,
        )
        if config.centroids is not None:
            entities[config.output_name] = ivf_pq_topk_many(
                table,
                queries,
                config.k,
                centroids=[list(c) for c in config.centroids],
                cell_col=config.cell_column,
                n_probe=config.n_probe,
                **kw,
            )
        else:
            entities[config.output_name] = pq_topk_many(
                table, queries, config.k, **kw
            )
        return None

    def pq_encode(
        self, entities: Entities, *, config: configs.PQEncode
    ) -> Messages:
        from data_validation_engine_spark.llmops.ivf import ivf_assign
        from data_validation_engine_spark.llmops.pq import pq_encode

        table = entities[config.entity_name]
        books = self._resolve_pq_codebooks(entities, config, table)
        if config.centroids is not None:
            table = ivf_assign(
                table,
                [list(c) for c in config.centroids],
                vec_col=config.vector_column,
                cell_col=config.cell_column,
            )
        entities[config.output_name] = pq_encode(
            table,
            books,
            vec_col=config.vector_column,
            codes_col=config.codes_column,
            keep_vec=config.keep_vector,
        )
        return None

    def pq_fit(self, entities: Entities, *, config: configs.PQFit) -> Messages:
        from data_validation_engine_spark.llmops.pq import (
            pq_codebooks_to_rows,
            pq_fit,
        )

        books = pq_fit(
            entities[config.entity_name],
            id_col=config.id_column,
            vec_col=config.vector_column,
            dim=config.dim,
            m=config.pq_m,
            k=config.pq_k,
            n_iters=config.n_iters,
            round_to=config.round_to,
        )
        spark = entities[config.entity_name].sparkSession
        # (-1, -1, [m, k, dsub]) geometry sentinel included by the
        # exporter — the consumer validates the full grid instead of
        # inferring it (the classifier_fit bucket=-2 discipline)
        entities[config.output_name] = spark.createDataFrame(
            pq_codebooks_to_rows(books),
            "subspace int, code int, centroid array<double>",
        )
        return None

    def _resolve_classifier_weights(
        self, entities: Entities, config: configs.ClassifierScore
    ) -> tuple[list[float], float]:
        if (config.weights is None) == (config.weights_entity is None):
            raise ConfigurationError(
                "classifier_score: pass exactly one of weights / "
                "weights_entity"
            )
        if config.weights is not None:
            return list(config.weights), config.bias
        # bounded collect: the weights entity is n_buckets+1 rows by
        # the classifier_fit contract
        rows = entities[config.weights_entity].collect()
        bias = None
        declared = None
        pairs: dict[int, float] = {}
        for r in rows:
            if r["bucket"] == -2:
                declared = int(r["weight"])
            elif r["bucket"] == -1:
                bias = float(r["weight"])
            else:
                pairs[int(r["bucket"])] = float(r["weight"])
        if not pairs:
            raise ConfigurationError(
                f"classifier_score: weights entity "
                f"'{config.weights_entity}' holds no bucket rows"
            )
        # completeness check: classifier_fit writes one
        # row per bucket 0..n_buckets-1, a bias row (-1), and an
        # n_buckets sentinel (-2). A sparser entity (filtered read,
        # partial write) silently SHRINKS the feature space — every
        # n-gram then hashes to a different bucket and all scores are
        # wrong with no error — so fail loudly instead. The sentinel
        # also catches TRAILING loss, which density alone cannot.
        n = declared if declared is not None else max(pairs) + 1
        if len(pairs) != n or max(pairs) != n - 1 or bias is None:
            missing = (
                "bias row (bucket = -1)"
                if bias is None
                else f"{n - len(pairs)} of {n} bucket rows"
            )
            raise ConfigurationError(
                f"classifier_score: weights entity "
                f"'{config.weights_entity}' is not a dense "
                f"classifier_fit export — missing {missing}; "
                "re-export the fitted weights without filtering"
            )
        return [pairs.get(b, 0.0) for b in range(n)], bias

    def classifier_score(
        self, entities: Entities, *, config: configs.ClassifierScore
    ) -> Messages:
        from data_validation_engine_spark.llmops.classifier import (
            classifier_filter,
            classifier_score,
        )

        weights, bias = self._resolve_classifier_weights(
            entities, config
        )
        if config.threshold_prob is not None:
            entities[config.output_name] = classifier_filter(
                entities[config.entity_name],
                config.text_column,
                weights,
                bias=bias,
                n_max=config.n_max,
                seed=config.seed,
                average=config.average,
                char_n=config.char_n,
                threshold_prob=config.threshold_prob,
                keep_col=config.keep_column,
                score_col=config.score_column,
            )
        else:
            entities[config.output_name] = classifier_score(
                entities[config.entity_name],
                config.text_column,
                weights,
                bias=bias,
                n_max=config.n_max,
                seed=config.seed,
                average=config.average,
                char_n=config.char_n,
                out_col=config.score_column,
                prob_col=config.prob_column,
            )
        return None

    def classifier_eval(
        self, entities: Entities, *, config: configs.ClassifierEval
    ) -> Messages:
        from data_validation_engine_spark.llmops.classifier import (
            classifier_eval,
        )

        # same weight resolution (and dense-export validation) as
        # classifier_score — train -> eval -> filter compose over one
        # weights entity
        weights, bias = self._resolve_classifier_weights(
            entities, config
        )
        entities[config.output_name] = classifier_eval(
            entities[config.entity_name],
            config.text_column,
            config.label_column,
            weights,
            bias=bias,
            n_max=config.n_max,
            seed=config.seed,
            average=config.average,
            char_n=config.char_n,
            threshold_prob=config.threshold_prob,
            group_cols=list(config.group_columns) or None,
        )
        return None

    def bpe_train(
        self, entities: Entities, *, config: configs.BpeTrain
    ) -> Messages:
        from data_validation_engine_spark.llmops.bpe import bpe_train

        merges = bpe_train(
            entities[config.entity_name],
            config.text_column,
            n_merges=config.n_merges,
            lowercase=config.lowercase,
        )
        entities[config.output_name] = self.spark.createDataFrame(
            [(i, l, r) for i, (l, r) in enumerate(merges)],
            "rank int, left string, right string",
        )
        return None

    def bpe_encode(
        self, entities: Entities, *, config: configs.BpeEncode
    ) -> Messages:
        from data_validation_engine_spark.llmops.bpe import bpe_encode

        # merge table is K rows by construction — a bounded collect
        merges = [
            (r["left"], r["right"])
            for r in entities[config.merges_name]
            .orderBy("rank")
            .collect()
        ]
        entities[config.output_name] = bpe_encode(
            entities[config.entity_name],
            config.id_column,
            config.text_column,
            merges,
            lowercase=config.lowercase,
        )
        return None

    def repartition(
        self, entities: Entities, *, config: configs.Repartition
    ) -> Messages:
        df = entities[config.entity_name]
        cols = [F.col(c) for c in config.columns]
        if config.mode == "coalesce":
            if config.n is None:
                raise ValueError("coalesce requires n")
            out = df.coalesce(config.n)
        elif config.mode == "range":
            if not cols:
                raise ValueError("range repartition requires columns")
            out = (
                df.repartitionByRange(config.n, *cols)
                if config.n
                else df.repartitionByRange(*cols)
            )
        else:
            if config.n and cols:
                out = df.repartition(config.n, *cols)
            elif cols:
                out = df.repartition(*cols)
            elif config.n:
                out = df.repartition(config.n)
            else:
                raise ValueError("hash repartition requires n or columns")
        entities[config.output_name] = out
        return None

    def sql_query(
        self, entities: Entities, *, config: configs.SqlQuery
    ) -> Messages:
        names = dict.fromkeys([config.entity_name, *config.inputs])
        # entity names become spark.sql(**kwargs) template frames, so they
        # must be valid Python identifiers, and 'args' is reserved by
        # pyspark's spark.sql(..., args=...) parameter — an entity named
        # 'args' would silently bind as the parameter dict instead of a
        # {args} template frame
        for n in names:
            if not n.isidentifier() or n == "args":
                reason = (
                    "collides with pyspark's reserved spark.sql 'args' "
                    "parameter" if n == "args"
                    else "is not a valid identifier"
                )
                raise ConfigurationError(
                    f"sql_query entity name {n!r} {reason}; rename the "
                    "entity (copy_entity/rename_entity) before the SQL "
                    "step"
                )
        frames = {n: entities[n] for n in names}
        entities[config.output_name] = self.spark.sql(
            config.query, **frames
        )
        return None

    def ecdf_normalize(
        self, entities: Entities, *, config: configs.EcdfNormalize
    ) -> Messages:
        from data_validation_engine_spark.llmops.stats import (
            ecdf_normalize,
        )

        entities[config.output_name] = ecdf_normalize(
            entities[config.entity_name],
            config.value_column,
            group_cols=list(config.group_by) if config.group_by else None,
            out_col=config.output_column,
            round_to=config.round_to,
        )
        return None

    def bucket_by_length(
        self, entities: Entities, *, config: configs.BucketByLength
    ) -> Messages:
        from data_validation_engine_spark.llmops.chunking import (
            bucket_by_length,
        )

        entities[config.output_name] = bucket_by_length(
            entities[config.entity_name],
            config.id_column,
            config.text_column,
            batch_size=config.batch_size,
            bucket_edges=list(config.bucket_edges)
            if config.bucket_edges
            else None,
            n_shards=config.n_shards,
            seed=config.seed,
        )
        return None

    def unpivot(self, entities: Entities, *, config: configs.Unpivot) -> Messages:
        entities[config.output_name] = entities[
            config.entity_name
        ].unpivot(
            list(config.id_columns),
            list(config.value_columns),
            config.variable_column,
            config.value_column,
        )
        return None

    def project_vectors(
        self, entities: Entities, *, config: configs.ProjectVectors
    ) -> Messages:
        from data_validation_engine_spark.llmops.vectors import (
            project_vectors,
            projection_matrix,
        )

        entities[config.output_name] = project_vectors(
            entities[config.entity_name],
            config.id_column,
            config.vector_column,
            projection_matrix(
                config.in_dim, config.out_dim, seed=config.seed
            ),
        )
        return None


def _handlers() -> dict[type, Callable[..., Messages]]:
    """Each public ``StepEngine`` method whose keyword-only ``config`` is
    annotated with a step type handles that type."""
    step_types = set(get_args(get_args(configs.AnyStep)[0]))
    table = {}
    for method in vars(StepEngine).values():
        if not inspect.isfunction(method) or method.__name__.startswith("_"):
            continue
        config = inspect.signature(method).parameters.get("config")
        if config is None or config.kind is not config.KEYWORD_ONLY:
            continue
        step_type = get_type_hints(method)["config"]
        if step_type in step_types:
            table[step_type] = method
    return table


#: config type -> handler method, for every step type without a binding
HANDLERS = _handlers()
