"""Typed step configurations (the public rule-program API).

Pydantic v2 models mirroring the reference's step vocabulary
(dve backends/metadata/rules.py:88-563 and configuration/v1/steps.py:58-365,
discriminated on ``operation``). Configs are frozen/hashable; the engine
dispatches on config type.

A model that declares an ``operation`` tag is a step type, and its class
is the type's only declaration: ``AnyStep`` collects every such model,
``steps`` re-exports them and the engine routes each to its binding or
handler.

Every step reads ``entity_name`` from the namespace and writes its result
under ``new_entity_name or entity_name``.
"""

from __future__ import annotations

from typing import Annotated, Literal, Optional, Union

from pydantic import BaseModel, ConfigDict, Field

from data_validation_engine_spark.exprs import MultipleExpressions
from data_validation_engine_spark.messages import Reporting


class AbstractStep(BaseModel):
    """Base for all step configs."""

    model_config = ConfigDict(frozen=True, extra="forbid")

    entity_name: str
    new_entity_name: Optional[str] = None

    @property
    def output_name(self) -> str:
        return self.new_entity_name or self.entity_name


# -- column / projection steps ---------------------------------------------
class ColumnAddition(AbstractStep):
    """Add (or overwrite) one column from a SQL expression."""

    operation: Literal["add"] = "add"
    column_name: str
    expression: str


class ColumnRemoval(AbstractStep):
    """Drop one column."""

    operation: Literal["remove"] = "remove"
    column_name: str


class SelectColumns(AbstractStep):
    """Project expressions, optionally distinct."""

    operation: Literal["select"] = "select"
    columns: MultipleExpressions
    distinct: bool = False


class Aggregation(AbstractStep):
    """Group-by + aggregate expressions, with optional pivot.

    ``grouping`` extends the plain GROUP BY to hierarchy subtotals:
    ``rollup`` adds the prefix-subtotal grid (a,b), (a), (); ``cube``
    every subset. Aggregate expressions may call ``grouping_id()`` to
    tag which level a row belongs to. Pivot composes only with plain
    grouping."""

    operation: Literal["group_by"] = "group_by"
    group_by: MultipleExpressions
    agg_columns: Optional[MultipleExpressions] = None
    pivot_column: Optional[str] = None
    pivot_values: Optional[list[str]] = None
    grouping: Literal["groups", "rollup", "cube"] = "groups"


# -- filters / notifications -------------------------------------------------
class ImmediateFilter(AbstractStep):
    """Keep rows where the expression is truthy; no messages."""

    operation: Literal["filter_without_notifying"] = "filter_without_notifying"
    expression: str


class DeferredFilter(AbstractStep):
    """Filter with user feedback, applied in the synchronised filter stage:
    every filter for an entity is evaluated before any row is dropped, so one
    record can collect multiple error codes (dve base/rules.py:356-555).
    """

    operation: Literal["filter"] = "filter"
    expression: str
    reporting: Reporting = Reporting()


class Notification(AbstractStep):
    """Emit a message per row matching the expression; no mutation."""

    operation: Literal["notify"] = "notify"
    expression: str
    reporting: Reporting = Reporting()
    excluded_columns: Optional[list[str]] = None


# -- joins -------------------------------------------------------------------
class AbstractJoin(AbstractStep):
    """Theta join: ``join_condition`` is an arbitrary SQL condition over
    ``<entity_name>.<col>`` / ``<target_name>.<col>`` references; Catalyst
    picks broadcast/hash/sort-merge/NL physical strategy.
    ``broadcast_target`` pins the broadcast-hash strategy for a target
    known to be dimension-sized when its statistics don't show it
    (post-filter lineage, fresh files) — the declarable form of the
    100 TB "broadcast the small side" lever.
    """

    target_name: str
    join_condition: str
    broadcast_target: bool = False


class AbstractNewColumnJoin(AbstractJoin):
    """Join keeping all source columns plus ``new_columns`` expressions.

    New columns may overwrite source columns — last-wins with
    case-insensitive matching, preserving the last-specified casing
    (dve spark/rules.py:168-208).
    """

    new_columns: Optional[MultipleExpressions] = None


class LeftJoin(AbstractNewColumnJoin):
    operation: Literal["left_join"] = "left_join"


class InnerJoin(AbstractNewColumnJoin):
    operation: Literal["inner_join"] = "inner_join"


class OneToOneJoin(AbstractNewColumnJoin):
    """Left join + integrity check: join must not multiply source rows."""

    operation: Literal["join"] = "join"
    perform_integrity_check: bool = True


class SemiJoin(AbstractJoin):
    """Keep source rows with at least one match."""

    operation: Literal["semi_join"] = "semi_join"


class AntiJoin(AbstractJoin):
    """Keep source rows with no match."""

    operation: Literal["anti_join"] = "anti_join"


class ConfirmJoinHasMatch(AbstractJoin):
    """Add a boolean column: did the join condition match? Optional 1:1
    integrity check."""

    operation: Literal["has_match"] = "has_match"
    column_name: str
    perform_integrity_check: bool = False


class HeaderJoin(AbstractStep):
    """Attach a single-row header entity as one struct column on every row.

    Errors if the header entity does not contain exactly one row.
    """

    operation: Literal["join_header"] = "join_header"
    target_name: str
    header_column_name: str


class TableUnion(AbstractStep):
    """Union by name (case-insensitive); missing columns null-filled; source
    column order and casing win; target-only columns appended
    (dve spark/rules.py:299-337)."""

    operation: Literal["union"] = "union"
    target_name: str


class OrphanIdentification(AbstractStep):
    """Add/extend boolean ``IsOrphaned``: true where no target row matches
    the join condition; OR-combined with a pre-existing ``IsOrphaned``."""

    operation: Literal["identify_orphans"] = "identify_orphans"
    target_name: str
    join_condition: str


# -- entity namespace steps ---------------------------------------------------
class CopyEntity(AbstractStep):
    operation: Literal["copy_entity"] = "copy_entity"
    new_entity_name: str  # type: ignore[assignment]  # mandatory for copy


class RenameEntity(AbstractStep):
    operation: Literal["rename_entity"] = "rename_entity"
    new_entity_name: str  # type: ignore[assignment]


class EntityRemoval(BaseModel):
    model_config = ConfigDict(frozen=True, extra="forbid")
    operation: Literal["remove_entity"] = "remove_entity"
    entity_names: tuple[str, ...]


# -- corpus (llmops) steps ---------------------------------------------------
# Declarative wrappers over :mod:`llmops`: the reference drives everything
# through a dischema ``transformations`` list (dve configuration/v1/
# steps.py:346-365, discriminated union), so corpus cleaning must be
# declarable the same way — a JSON step, not a Python call.


class ExactDedup(AbstractStep):
    """Exact deduplication: one survivor (min ``order_column``) per key.

    Keys are md5-hashed before the group-by (32-byte shuffle key regardless
    of text size). ``normalize_text`` canonicalises each key part first
    (lowercase, collapse whitespace). The survivor row gains a copy-count
    column unless ``count_column`` is null.
    """

    operation: Literal["dedup_exact"] = "dedup_exact"
    key_columns: Union[str, tuple[str, ...]]
    order_column: str
    normalize_text: bool = False
    count_column: Optional[str] = "n_copies"


class MinHashDedup(AbstractStep):
    """Near-duplicate removal via MinHash-LSH banded candidates + exact
    Jaccard verification; keeps one representative per duplicate cluster.

    ``exact_components=True`` resolves transitive clusters iteratively and
    keeps exactly the minimum id per cluster (default greedy keep-min is
    single-pass but over-keeps on chains). Defaults of ``None`` use the
    library defaults (:mod:`llmops.dedup`).
    """

    operation: Literal["dedup_minhash"] = "dedup_minhash"
    id_column: str
    text_column: str
    threshold: float = 0.5
    shingle_size: Optional[int] = None
    num_hashes: Optional[int] = None
    bands: Optional[int] = None
    exact_components: bool = False
    # survivor selection: keep the best-QUALITY member per cluster instead
    # of the minimum id (ties -> ascending id)
    quality_column: Optional[str] = None
    higher_is_better: bool = True
    # with exact_components: "label" propagates min labels (O(diameter)
    # rounds), "star" runs large-star/small-star (O(log² n) — deep chains)
    component_algorithm: Literal["label", "star"] = "label"


class QualityFilters(AbstractStep):
    """Document-quality gates (token count, punctuation ratio, average
    token length) applied as one synchronised filter pass: every gate is
    evaluated before any row drops, each failing doc gets a message per
    failed gate, survivors replace the entity (or land under
    ``new_entity_name``).
    """

    operation: Literal["quality_filters"] = "quality_filters"
    text_column: str = "text"
    min_tokens: int = 5
    max_tokens: int = 5000
    max_punct_ratio: float = 0.2
    min_avg_token_len: float = 2.0
    max_avg_token_len: float = 15.0


class SimilarityTopK(AbstractStep):
    """Top-k most-similar vectors to a single query row (``target_name``
    holds the 1-row query frame). ``method="exact"`` scores the whole
    table (broadcast query, per-partition top-k); ``method="ann"`` probes
    only the query's LSH bucket (~1/2^n_planes of the table);
    ``method="multiprobe"`` unions the probe buckets of ``n_tables``
    independent hyperplane tables (OR-amplified recall, cost linear in
    table count); ``method="ivf"`` coarse-quantizes into ``n_cells``
    cells and scores only the ``n_probe`` nearest. ``centroids``
    (ivf only) injects an offline-trained quantizer — e.g. k-means cell
    centres — instead of the deterministic first-``n_cells`` placeholder.
    ``method="pq"`` ranks by product-quantization ADC distance
    (ascending — a distance, not a cosine): ``pq_m`` subspaces ×
    ``pq_k`` codewords from ``codebooks`` (``pq_fit`` output or any
    offline training) or from a ``pq_fit`` step's output entity
    (``codebooks_entity`` — a bounded m×k-row collect with the dense-
    export validation classifier weights get; at most one of the two),
    else the deterministic first-``pq_k``-vectors placeholder;
    ``codes_column`` names a pre-encoded ``pq_encode`` column so the
    probe never scans the raw vectors (the 100 TB deployment shape).
    """

    operation: Literal["similarity_topk"] = "similarity_topk"
    target_name: str
    k: int = 10
    id_column: str = "vec_id"
    vector_column: str = "embedding"
    method: Literal["exact", "ann", "multiprobe", "ivf", "pq"] = "exact"
    n_planes: int = 4
    dim: int = 64
    n_tables: int = 3
    n_cells: int = 16
    n_probe: int = 4
    exclude_self: bool = True
    centroids: Optional[tuple[tuple[float, ...], ...]] = None
    pq_m: int = 8
    pq_k: int = 16
    codebooks: Optional[tuple[tuple[tuple[float, ...], ...], ...]] = None
    codebooks_entity: Optional[str] = None
    codes_column: Optional[str] = None
    # exact re-rank of the k x pq_refine ADC shortlist (FAISS refine)
    pq_refine: Optional[int] = None


class PQFit(AbstractStep):
    """Train product-quantization codebooks (``pq_m`` independent
    deterministic per-subspace k-means runs — llmops/pq.py pq_fit) and
    export them as a ``(subspace, code, centroid)`` entity with the
    geometry sentinel row, the persistable train→search handoff: feed
    the entity to ``similarity_topk(method="pq")`` via
    ``codebooks_entity`` (the ``classifier_fit`` → ``weights_entity``
    pattern)."""

    operation: Literal["pq_fit"] = "pq_fit"
    id_column: str = "vec_id"
    vector_column: str = "embedding"
    dim: int = 64
    pq_m: int = 8
    pq_k: int = 16
    n_iters: int = 2
    round_to: int = 6


class UrlBlocklist(AbstractStep):
    """Flag rows whose URL host (or any parent domain) appears in the
    blocklist entity (``target_name``) — the RefinedWeb-style URL cut
    (llmops/web.py url_blocklist): candidate-suffix explode + one
    equi-join, ids-only shuffle, unparseable URLs flag NULL (loud)."""

    operation: Literal["url_blocklist"] = "url_blocklist"
    target_name: str
    url_column: str = "url"
    id_column: str = "doc_id"
    blocked_host_column: str = "host"
    host_column: Optional[str] = None
    max_labels: int = 10
    flag_column: str = "url_blocked"


class C4Clean(AbstractStep):
    """C4 line-level cleaning + page gate (Raffel 2020 §2.2 —
    llmops/c4.py): rebuild the page from prose-looking lines (terminal
    punctuation, >= min_line_words, no javascript boilerplate), then
    gate on the cleaned sentence floor and the lorem-ipsum/brace page
    rules. Zero-shuffle projection."""

    operation: Literal["c4_clean"] = "c4_clean"
    text_column: str = "text"
    min_line_words: int = 3
    min_sentences: int = 5
    clean_column: str = "c4_text"
    keep_column: str = "c4_keep"


class GopherQualityFlags(AbstractStep):
    """Attach the Gopher-rule quality metrics, per-rule booleans, and
    the ``keep_column`` conjunction (Rae 2021 §A1.1 — llmops/gopher.py;
    defaults are the paper's thresholds). Pure per-row projection;
    compose with a filter step on ``keep_column`` (or re-weigh on the
    individual flags) downstream."""

    operation: Literal["gopher_quality_flags"] = "gopher_quality_flags"
    text_column: str = "text"
    min_words: int = 50
    max_words: int = 100_000
    min_mean_word_len: float = 3.0
    max_mean_word_len: float = 10.0
    max_symbol_word_ratio: float = 0.1
    max_bullet_line_frac: float = 0.9
    max_ellipsis_line_frac: float = 0.3
    min_alpha_word_frac: float = 0.8
    min_stop_words: int = 2
    keep_column: str = "gopher_keep"


class GopherRepetitionFlags(AbstractStep):
    """Attach the Gopher §A1.2 repetition-removal signals, per-rule
    booleans, and the ``keep_column`` conjunction (Rae 2021 Table A1 —
    llmops/gopher.py gopher_repetition_flags; defaults are the paper's
    thresholds): duplicate line/paragraph count + char fractions, top
    2/3/4-gram char mass, duplicated 5..10-gram char coverage. Pure
    per-row ordered folds, zero shuffle; the other half of the Gopher
    filter whose quality rules are ``gopher_quality_flags``."""

    operation: Literal["gopher_repetition_flags"] = (
        "gopher_repetition_flags"
    )
    text_column: str = "text"
    max_dup_line_frac: float = 0.30
    max_dup_para_frac: float = 0.30
    max_dup_line_char_frac: float = 0.20
    max_dup_para_char_frac: float = 0.20
    max_top_gram_fracs: tuple[float, ...] = (0.20, 0.18, 0.16)
    max_dup_gram_fracs: tuple[float, ...] = (
        0.15, 0.14, 0.13, 0.12, 0.11, 0.10,
    )
    keep_column: str = "rep_keep"


class MojibakeStats(AbstractStep):
    """Attach ``mojibake_count``/``mojibake_frac`` — occurrences of the
    pinned UTF-8-as-Latin-1 artifact markers (llmops/normalize.py;
    the ftfy-class detection signal). Exact integers + one
    correctly-rounded division; zero shuffle."""

    operation: Literal["mojibake_stats"] = "mojibake_stats"
    text_column: str = "text"


class FixMojibake(AbstractStep):
    """Repair UTF-8-as-Latin-1 mojibake via the inverse encode/decode
    round-trip under three conservative per-row guards (Latin-1
    losslessness, clean UTF-8 re-decode, strict marker-count
    decrease); untouched rows flag false. All JVM builtins, zero
    shuffle."""

    operation: Literal["fix_mojibake"] = "fix_mojibake"
    text_column: str = "text"
    output_column: Optional[str] = None
    flag_column: str = "mojibake_fixed"


class PQEncode(AbstractStep):
    """The one-time ingest step of the PQ deployment shape: attach the
    ``array<int>`` PQ codes column (and, with ``centroids``, the IVF
    cell column) so the persisted table serves codes-only probes —
    write it PARTITIONED BY the cell column and every later probe
    reads ~n_probe/K of the bytes scanning 8-byte codes. Codebooks
    resolve as ``similarity_topk(method="pq")`` (inline / ``pq_fit``
    entity / placeholder). ``keep_vector=False`` drops the raw vector
    column (keep a separate raw table for ``refine_df`` re-ranking)."""

    operation: Literal["pq_encode"] = "pq_encode"
    id_column: str = "vec_id"
    vector_column: str = "embedding"
    dim: int = 64
    pq_m: int = 8
    pq_k: int = 16
    codebooks: Optional[tuple[tuple[tuple[float, ...], ...], ...]] = None
    codebooks_entity: Optional[str] = None
    codes_column: str = "pq_codes"
    keep_vector: bool = True
    centroids: Optional[tuple[tuple[float, ...], ...]] = None
    cell_column: str = "ivf_cell"


class PQTopKMany(AbstractStep):
    """Batched PQ search: ADC top-k for EVERY row of the query entity
    (``target_name``) in one distributed pass — ``(query_id, id,
    pq_dist, rank)``. With ``centroids`` set, each query scans only its
    ``n_probe`` nearest IVF cells (probe cells computed as an
    expression, no driver loop over queries). Codebooks resolve exactly
    as ``similarity_topk(method="pq")``: inline, from a ``pq_fit``
    entity, or the deterministic placeholder. Bit-identical to
    per-query ``similarity_topk`` calls by construction."""

    operation: Literal["pq_topk_many"] = "pq_topk_many"
    target_name: str
    k: int = 10
    id_column: str = "vec_id"
    vector_column: str = "embedding"
    query_id_column: Optional[str] = None
    dim: int = 64
    pq_m: int = 8
    pq_k: int = 16
    codebooks: Optional[tuple[tuple[tuple[float, ...], ...], ...]] = None
    codebooks_entity: Optional[str] = None
    codes_column: Optional[str] = None
    # set centroids (or cell_column + centroids) for the IVF-pruned path
    centroids: Optional[tuple[tuple[float, ...], ...]] = None
    cell_column: Optional[str] = None
    n_probe: int = 4
    exclude_self: bool = True


class AnnRecall(AbstractStep):
    """Recall@k of an approximate top-k entity against the exact top-k
    entity (llmops/recall.py): per ``group_columns`` slice, ``n_hits``/
    ``n_exact``/``n_approx`` exact longs plus ``recall`` = n_hits / (k
    or n_exact). ``entity_name`` is the APPROXIMATE frame,
    ``target_name`` the exact one — the tuning gauge for
    n_probe/pq_m/refine_factor."""

    operation: Literal["ann_recall"] = "ann_recall"
    target_name: str
    id_column: str = "vec_id"
    group_columns: tuple[str, ...] = ()
    k: Optional[int] = None
    recall_column: str = "recall"


class PairRecall(AbstractStep):
    """Recall/precision of an approximate near-duplicate PAIR entity
    against exact ground truth (llmops/recall.py pair_recall — the
    dedup-side sibling of ann_recall): per ``group_columns`` slice,
    ``n_hits``/``n_exact``/``n_approx`` exact longs plus ``recall`` and
    ``precision`` single-division doubles. ``entity_name`` is the
    APPROXIMATE pair frame, ``target_name`` the exact one — the tuning
    gauge for bands/num_hashes/max_hamming."""

    operation: Literal["pair_recall"] = "pair_recall"
    target_name: str
    id_a_column: str = "id_a"
    id_b_column: str = "id_b"
    group_columns: tuple[str, ...] = ()
    broadcast_exact: bool = False


class EmbeddingNearDup(AbstractStep):
    """Embedding-cosine near-duplicate pairs: LSH-bucketed self-join
    (bounded hot buckets, never all-pairs) + exact cosine verification.
    Output entity holds ``(id_a, id_b, cosine)`` with ``id_a < id_b``.
    """

    operation: Literal["embedding_neardup"] = "embedding_neardup"
    id_column: str = "vec_id"
    vector_column: str = "embedding"
    n_planes: int = 6
    n_tables: int = 1
    dim: int = 64
    threshold: float = 0.9
    # when target_name is set, run as the INCREMENTAL admission
    # filter — this entity is the NEW batch, target_name the corpus, and
    # the output keeps only non-near-dup batch rows (optionally probing a
    # pre-built embedding_bucket_index entity instead of bucketing the
    # corpus inline)
    target_name: str | None = None
    index_entity: str | None = None


class TextStats(AbstractStep):
    """Per-document quality statistics (chars, whitespace/BPE-ish token
    counts, average token length, punctuation/stopword ratios) plus a
    boolean quality gate — one lambda-free projection, no shuffle."""

    operation: Literal["text_stats"] = "text_stats"
    id_column: str
    text_column: str = "text"


class LanguageId(AbstractStep):
    """Heuristic language ID (CJK charset check + stopword vote) as a new
    entity ``(id, lang_column)``."""

    operation: Literal["lang_id"] = "lang_id"
    id_column: str
    text_column: str = "text"
    lang_column: str = "lang_pred"


class TfIdfTopTerms(AbstractStep):
    """Top ``top_n`` TF-IDF terms per document (rank order tf desc, df
    asc, term asc — integer/string keys only)."""

    operation: Literal["tfidf_top_terms"] = "tfidf_top_terms"
    id_column: str
    text_column: str = "text"
    top_n: int = 1


class TextFingerprint(AbstractStep):
    """Canonical md5 fingerprint + min-k winnowed shingle sketch per
    document."""

    operation: Literal["text_fingerprint"] = "text_fingerprint"
    id_column: str
    text_column: str = "text"
    shingle_size: int = 3
    winnow_k: int = 4


class SimHashSignatures(AbstractStep):
    """Per-document SimHash bit-string signatures (explode + hash
    aggregation scale path)."""

    operation: Literal["dedup_simhash"] = "dedup_simhash"
    id_column: str
    text_column: str = "text"
    bits: int = 16


class SimHashPairs(AbstractStep):
    """SimHash near-duplicate pairs: banded-signature self-join
    (pigeonhole-exact candidates, skew-bounded) + exact hamming verify.
    Output entity holds ``(id_a, id_b, hamming)``."""

    operation: Literal["dedup_simhash_pairs"] = "dedup_simhash_pairs"
    id_column: str
    text_column: str = "text"
    bits: int = 32
    max_hamming: int = 1


class HashSplit(AbstractStep):
    """Deterministic train/val/test assignment by key hash: adds a
    ``split`` label cut from bucket ``md5(seed || key)[0:4]`` — row-stable
    across reruns, engines, and repartitions (never ``randomSplit``,
    which is partitioning-dependent). ``splits`` fractions must sum to 1;
    ``seed`` derives independent assignments per experiment."""

    operation: Literal["hash_split"] = "hash_split"
    key_column: str
    splits: dict[str, float] = Field(
        default_factory=lambda: {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    seed: str = ""
    split_column: str = "split"


class StratifiedSample(AbstractStep):
    """Deterministic per-stratum sampling (stable ``sampleBy``): keep a
    row iff its key's hash bucket clears its stratum's fraction —
    downsample over-represented languages/domains to a target mix,
    reproducibly. Strata absent from ``fractions`` fall back to
    ``default_fraction`` (0 = drop)."""

    operation: Literal["stratified_sample"] = "stratified_sample"
    key_column: str
    strata_column: str
    fractions: dict[str, float]
    default_fraction: float = 0.0
    seed: str = ""


class AsofJoin(AbstractStep):
    """Point-in-time join: attach to every row of ``entity_name`` the
    latest row of ``target_name`` at-or-before its timestamp, per key —
    feature materialisation / leakage-safe label construction. One keyed
    window shuffle (tagged union + carry-forward), never a range join.
    ``value_columns=None`` carries every non-key, non-timestamp column."""

    operation: Literal["asof_join"] = "asof_join"
    target_name: str
    on: tuple[str, ...]
    left_ts: str
    right_ts: Optional[str] = None
    value_columns: Optional[tuple[str, ...]] = None
    prefix: str = "asof_"
    direction: Literal["backward", "forward"] = "backward"
    # staleness budget in timestamp units (seconds for timestamps);
    # matches beyond it are treated as missing
    tolerance: Optional[float] = None


class HashSample(AbstractStep):
    """Deterministic stable sampling by key hash: keeps ``fraction`` of
    rows as a pure function of the keys (reruns, repartitions, appends,
    and other engines agree row-for-row; smaller fractions are nested
    subsets of larger ones — subsample-ladder comparable)."""

    operation: Literal["hash_sample"] = "hash_sample"
    key_column: str
    fraction: float
    seed: str = ""


class WeightedSample(AbstractStep):
    """Deterministic weighted (PPS-style) Bernoulli sample: keep a row
    with probability ``min(1, rate * weight)``, decided by the key's md5
    bucket — quality-weighted corpus downsampling that is a pure
    function of (key, weight, seed). Integer/rational arithmetic only,
    so the decision is bit-identical in any engine."""

    operation: Literal["weighted_sample"] = "weighted_sample"
    key_column: str
    weight_column: str
    rate: float
    seed: str = ""


class NgramJaccardPairs(AbstractStep):
    """EXACT n-gram Jaccard near-duplicate pairs (not probabilistic):
    AllPairs/PPJoin prefix filtering over rare-first ordered shingles,
    skew-bounded posting self-join, exact-Jaccard verification. Output
    entity holds ``(id_a, id_b, jaccard)`` with ``id_a < id_b`` —
    exactly every pair at or above ``threshold``."""

    operation: Literal["dedup_ngram_pairs"] = "dedup_ngram_pairs"
    id_column: str
    text_column: str = "text"
    threshold: float = 0.5
    shingle_size: int = 3


class ConnectedComponents(AbstractStep):
    """Connected components over a pair entity (``id_a``/``id_b``
    columns): output ``(id, component)`` with component = min reachable
    id. ``algorithm="star"`` uses large-star/small-star (O(log² n)
    rounds) for deep-chained graphs."""

    operation: Literal["connected_components"] = "connected_components"
    algorithm: Literal["label", "star"] = "label"


class Sessionize(AbstractStep):
    """Per-user sessionization (gap rule) as a declarable step:
    ``output="events"`` keeps every row and adds ``session_idx``;
    ``output="sessions"`` rolls up to ``(user, session_idx, n_events,
    duration_us)``. One user-keyed window shuffle either way."""

    operation: Literal["sessionize"] = "sessionize"
    user_column: str
    ts_column: str
    gap_seconds: int = 1800
    output: Literal["events", "sessions"] = "sessions"


class IntervalJoin(AbstractStep):
    """Interval-overlap (range) join: all (entity, target) row pairs
    whose closed ``[start, end]`` intervals overlap, optionally per
    ``on`` key — restated as a bucketized equi-join (explode onto
    fixed-width time buckets, join on (key, bucket), exact predicate +
    anchor-bucket dedup) so Catalyst never falls back to a nested-loop
    join. ``bucket_width`` is in seconds on the epoch line; pick it near
    the typical interval span."""

    operation: Literal["interval_join"] = "interval_join"
    target_name: str
    left_start: str
    left_end: str
    right_start: str
    right_end: str
    on: tuple[str, ...] = ()
    bucket_width: float = 3600.0
    prefix: str = "r_"


class TopKPerGroup(AbstractStep):
    """Top-``k`` rows per group by ``order_column`` (descending by
    default), deterministic under ``tiebreak_columns``; adds a 1-based
    ``rank_column``. One shuffle; the rank filter rides the window so
    Spark's WindowGroupLimit keeps a size-k heap per key map-side."""

    operation: Literal["top_k"] = "top_k"
    group_by: tuple[str, ...]
    order_column: str
    k: int
    descending: bool = True
    tiebreak_columns: tuple[str, ...] = ()
    rank_column: str = "rank"


class RollingAggregate(AbstractStep):
    """Trailing event-time window aggregates per key: for each row,
    aggregate the partition's rows with timestamp in
    ``[ts - window_seconds, ts]``. ``aggregations`` maps output column
    -> SQL aggregate expression (e.g. ``"avg(value)"``);
    ``include_current=False`` gives the leakage-safe strictly-before
    frame. One keyed window shuffle, exact microsecond RANGE frame."""

    operation: Literal["rolling_agg"] = "rolling_agg"
    partition_by: tuple[str, ...]
    ts_column: str
    window_seconds: float
    aggregations: tuple[tuple[str, str], ...]
    include_current: bool = True


class ContainmentPairs(AbstractStep):
    """ASYMMETRIC near-dup pairs: ``(id_a, id_b, containment)`` where at
    least ``threshold`` of id_a's shingles appear in id_b — catches a
    document quoted or wrapped inside a longer one, which symmetric
    Jaccard structurally misses. One-sided prefix-filter candidates,
    postings-count verification."""

    operation: Literal["dedup_containment_pairs"] = "dedup_containment_pairs"
    id_column: str
    text_column: str = "text"
    threshold: float = 0.8
    shingle_size: int = 3


class IncrementalDedup(AbstractStep):
    """Dedup a NEW batch against an existing corpus entity without
    re-clustering (or even re-pairing) the corpus. ``method="exact"``
    anti-joins 32-byte text-hash keys; ``method="ngram"`` drops a new
    row iff some corpus row or smaller-id new row has exact n-gram
    Jaccard >= ``threshold``; ``method="minhash"`` uses
    banded MinHash-LSH candidates (optionally against a pre-built
    persisted index entity, ``index_entity``) verified with exact
    Jaccard — the corpus-scale path where the exact prefix filter is
    too expensive (conservative filter semantics — ids must be unique
    across both entities)."""

    operation: Literal["dedup_incremental"] = "dedup_incremental"
    target_name: str  # the corpus entity
    method: Literal["exact", "ngram", "minhash"] = "exact"
    id_column: str = "doc_id"
    text_column: str = "text"
    threshold: float = 0.5
    shingle_size: int = 3
    normalize_text: bool = False
    num_hashes: int = 12
    bands: int = 4
    index_entity: str | None = None  # pre-built minhash_index frame


class RepetitionStats(AbstractStep):
    """Per-document repetition signals (Gopher-style): top-token fraction
    (distributed mode), duplicated bigram/trigram fractions (per-row),
    and a boolean ``repetitive`` gate."""

    operation: Literal["text_repetition"] = "text_repetition"
    id_column: str
    text_column: str = "text"
    max_top_token_frac: float = 0.2
    max_dup_bigram_frac: float = 0.6


class PiiScrub(AbstractStep):
    """Redact emails / card-like digit runs / IPv4s from a text column;
    per-row match counts + the scrubbed column. One projection, zero
    shuffle."""

    operation: Literal["pii_scrub"] = "pii_scrub"
    id_column: str
    text_column: str = "text"
    clean_column: str = "clean"


class Decontaminate(AbstractStep):
    """Flag entity docs whose word n-grams overlap the benchmark entity
    ``target_name`` (exact n-gram decontamination; benchmark broadcast)."""

    operation: Literal["decontaminate"] = "decontaminate"
    target_name: str  # the benchmark entity
    id_column: str = "doc_id"
    text_column: str = "text"
    ngram: int = 5


class ChunkDocuments(AbstractStep):
    """Split each document into ``chunk_tokens``-word windows with
    ``overlap`` tokens carried between windows (per-row + posexplode,
    zero shuffle)."""

    operation: Literal["chunk_documents"] = "chunk_documents"
    id_column: str
    text_column: str = "text"
    chunk_tokens: int = 256
    overlap: int = 0


class PackSequences(AbstractStep):
    """Greedy contiguous sequence packing into fixed-capacity token packs,
    sharded by md5 bucket so each shard packs independently (one narrow
    shuffle; integer arithmetic only)."""

    operation: Literal["pack_sequences"] = "pack_sequences"
    id_column: str
    text_column: str = "text"
    capacity: int = 2048
    n_shards: int = 64
    seed: str = ""


class LabelCentroids(AbstractStep):
    """Per-label centroid vectors via the deterministic two-level ordered
    segment fold (partitioning-independent float sums)."""

    operation: Literal["label_centroids"] = "label_centroids"
    label_column: str = "label"
    id_column: str = "vec_id"
    vector_column: str = "embedding"
    dim: int
    segment_size: int = 1024


class NearestCentroid(AbstractStep):
    """Assign each vector of the entity to its nearest centroid in the
    ``target_name`` entity by cosine (broadcast prototypes; rounded-cosine
    + label tiebreak keeps the argmax engine-exact)."""

    operation: Literal["nearest_centroid"] = "nearest_centroid"
    target_name: str  # the centroids entity
    id_column: str = "vec_id"
    vector_column: str = "embedding"
    label_column: str = "label"
    centroid_column: str = "centroid"


class KMeansFit(AbstractStep):
    """Deterministic distributed k-means: writes the entity
    ``(cell, n, centroid)`` after ``n_iters`` Lloyd iterations (squared-L2
    argmin assignment, ordered-fold centroid update — engine-exact)."""

    operation: Literal["kmeans"] = "kmeans"
    id_column: str = "vec_id"
    vector_column: str = "embedding"
    k: int = 8
    n_iters: int = 2
    dim: int = 64
    segment_size: int = 1024


class KnnJoin(AbstractStep):
    """Approximate k-NN JOIN: top-k same-LSH-bucket neighbours for every
    row (skew-bounded bucket self-join; optional OR-amplification across
    ``n_tables`` plane sets)."""

    operation: Literal["knn_join"] = "knn_join"
    id_column: str = "vec_id"
    vector_column: str = "embedding"
    k: int = 10
    n_planes: int = 6
    n_tables: int = 1
    dim: int = 64


class BuildVocab(AbstractStep):
    """Corpus vocabulary table ``(term, count, doc_freq)`` with frequency
    floors — tokenizer-training prep."""

    operation: Literal["build_vocab"] = "build_vocab"
    id_column: str
    text_column: str = "text"
    min_count: int = 1
    min_doc_freq: int = 1


class EncodeTokens(AbstractStep):
    """Encode documents to token-id sequences under a vocabulary entity
    (a ``build_vocab`` output): ``(id, n_tokens, n_unk, ids_csv)``."""

    operation: Literal["encode_tokens"] = "encode_tokens"
    vocab_entity: str
    id_column: str
    text_column: str = "text"
    unk_id: int = 0


class ApproxDistinct(AbstractStep):
    """Per-group approximate distinct count via the deterministic KMV
    sketch (k smallest md5 hashes; exact below ``k`` distinct values) —
    O(k) state per group instead of the full distinct set."""

    operation: Literal["approx_distinct"] = "approx_distinct"
    group_by: tuple[str, ...]
    value_column: str
    k: int = 256
    seed: str = ""


class GroupedQuantiles(AbstractStep):
    """Exact per-group quantiles (percentile_cont / type-7 linear
    interpolation), rounded for cross-engine rendering."""

    operation: Literal["grouped_quantiles"] = "grouped_quantiles"
    group_by: tuple[str, ...]
    value_column: str
    probs: tuple[float, ...] = (0.25, 0.5, 0.75)
    round_to: int = 6


class ProfileColumns(AbstractStep):
    """Column-level data profile: one row per column with row/null/
    distinct counts and stringified min/max — the pre-contract
    data-quality summary."""

    operation: Literal["profile"] = "profile"
    columns: Optional[tuple[str, ...]] = None


class QuantileBuckets(AbstractStep):
    """Equi-depth binning: 1-based ntile bucket of ``value_column``
    within each group (equal population per bucket)."""

    operation: Literal["quantile_buckets"] = "quantile_buckets"
    group_by: tuple[str, ...] = ()
    value_column: str
    n_buckets: int = 10
    bucket_column: str = "bucket"


class OutlierFlags(AbstractStep):
    """Tukey IQR outlier flags per group: value outside
    [q25 - factor*iqr, q75 + factor*iqr] of its group's distribution."""

    operation: Literal["outlier_flags"] = "outlier_flags"
    group_by: tuple[str, ...] = ()
    value_column: str
    factor: float = 1.5
    flag_column: str = "is_outlier"


class SnapshotDiff(AbstractStep):
    """Row-level diff of two snapshots as a CDC ledger: one I/U/D row
    per key whose state differs (NULL-safe compare; values from the
    ``target_name`` NEW side). The inverse of apply_changes."""

    operation: Literal["snapshot_diff"] = "snapshot_diff"
    target_name: str
    keys: tuple[str, ...]
    op_column: str = "op"
    compare_columns: Optional[tuple[str, ...]] = None


class CorpusMix(AbstractStep):
    """Deterministic multi-source downsampling to target token shares:
    each source keeps ``min(1, share*budget/source_tokens)`` of its rows
    by md5 keep-decision; unlisted sources are dropped. Set
    ``temperature=alpha`` instead of ``targets`` to derive the shares
    from the observed totals (tokens^alpha rebalancing — alpha=1
    natural, alpha→0 uniform)."""

    operation: Literal["corpus_mix"] = "corpus_mix"
    key_column: str
    label_column: str
    weight_column: str
    targets: Optional[dict[str, float]] = None
    temperature: Optional[float] = None
    budget: int
    seed: str = ""


class ProjectVectors(AbstractStep):
    """JL random projection of an embedding column to ``out_dim`` via the
    deterministic md5 Rademacher matrix; writes ``(id, proj)``."""

    operation: Literal["project_vectors"] = "project_vectors"
    id_column: str
    vector_column: str
    in_dim: int
    out_dim: int
    seed: str = ""


class SaltedJoin(AbstractStep):
    """Skew-resistant equi-join: the entity's hot keys scatter over
    ``n_salts`` sub-keys, ``target_name`` replicates to match — when one
    key dominates and AQE's skew split doesn't trigger. Result equals
    the plain join for 1:1/1:N targets."""

    operation: Literal["salted_join"] = "salted_join"
    target_name: str
    key: str
    n_salts: int = 8
    how: str = "left"


class QuantizeVectors(AbstractStep):
    """Symmetric per-vector int8 quantization of an embedding column:
    writes ``(id, scale, qvec)`` — the 4x-smaller storage form."""

    operation: Literal["quantize_vectors"] = "quantize_vectors"
    id_column: str
    vector_column: str
    round_to: int = 9


class SampledQuantiles(AbstractStep):
    """Approximate per-group quantiles from the deterministic min-k hash
    sample of ``key_column`` (mergeable, engine-exact estimates)."""

    operation: Literal["sampled_quantiles"] = "sampled_quantiles"
    group_by: tuple[str, ...] = ()
    value_column: str
    key_column: str
    probs: tuple[float, ...]
    k: int = 1024
    round_to: int = 6
    seed: str = ""


class MergeUpsert(AbstractStep):
    """ANSI MERGE INTO: rows of the entity matched by ``target_name``'s
    keys take the target's values; unmatched target rows insert (unless
    ``insert_missing`` is false). The incremental-refresh primitive."""

    operation: Literal["merge_upsert"] = "merge_upsert"
    target_name: str
    keys: tuple[str, ...]
    update_columns: Optional[tuple[str, ...]] = None
    sequence_column: Optional[str] = None
    insert_missing: bool = True


class ApplyChanges(AbstractStep):
    """CDC ledger application: collapse ``target_name``'s change rows to
    the latest per key, upsert inserts/updates, delete deletes."""

    operation: Literal["apply_changes"] = "apply_changes"
    target_name: str
    keys: tuple[str, ...]
    op_column: str = "op"
    sequence_column: Optional[str] = None


class Scd2Build(AbstractStep):
    """Slowly-changing-dimension TYPE 2 history from a CDC ledger: one
    row per (key, version) with ``valid_from``/``valid_to`` bounds in
    sequence units and an ``is_current`` flag. Deletes close intervals
    without opening one."""

    operation: Literal["scd2"] = "scd2"
    keys: tuple[str, ...]
    sequence_column: str
    op_column: str = "op"


class ExactQuotaSample(AbstractStep):
    """Deterministic exactly-n sample per stratum (or globally), ranked
    by md5(seed || key) with key tiebreak — exact counts where
    rate-based sampling only hits quota in expectation."""

    operation: Literal["exact_quota_sample"] = "exact_quota_sample"
    key_column: str
    n: int
    strata_columns: Optional[tuple[str, ...]] = None
    seed: str = ""


class Winsorize(AbstractStep):
    """Clip a column to its group's [lower, upper] quantiles (exact
    interpolated percentiles, broadcast bounds, per-row clamp)."""

    operation: Literal["winsorize"] = "winsorize"
    value_column: str
    lower: float = 0.05
    upper: float = 0.95
    group_by: Optional[tuple[str, ...]] = None
    output_column: Optional[str] = None
    round_to: int = 6


class Impute(AbstractStep):
    """Fill NULLs per column by strategy — 'mean', 'median', or a
    literal constant — optionally per group (cohort-local centres,
    broadcast back)."""

    operation: Literal["impute"] = "impute"
    columns: dict[str, object]
    group_by: Optional[tuple[str, ...]] = None
    round_to: int = 6


class KmvSetOps(AbstractStep):
    """Union/intersection/Jaccard distinct-count estimates between this
    entity's and ``target_name``'s value sets from O(k) KMV sketches —
    set-overlap questions answered without shuffling the data."""

    operation: Literal["kmv_set"] = "kmv_set"
    target_name: str
    value_column: str
    target_value_column: Optional[str] = None
    group_by: tuple[str, ...] = ()
    k: int = 256
    seed: str = ""


class GroupedAuc(AbstractStep):
    """Per-group ROC AUC of a score column against a binary label —
    validates that a quality/dedup scorer actually ranks positives above
    negatives. Mann-Whitney with exact tie handling over distinct-score
    aggregates (never a corpus percent_rank sort); single-class groups
    emit NULL with n_pos/n_neg attesting why."""

    operation: Literal["grouped_auc"] = "grouped_auc"
    score_column: str
    label_column: str
    group_by: tuple[str, ...] = ()


class SharedSpans(AbstractStep):
    """Cross-document repeated-span pairs via winnowing fingerprints
    (MOSS): any copied span of >= ``width + window - 1`` chars produces
    at least one shared fingerprint at any offset. Output ``(id_a, id_b,
    n_shared)`` with ``n_shared >= min_shared``."""

    operation: Literal["shared_spans"] = "shared_spans"
    key_column: str
    text_column: str = "text"
    width: int = 24
    window: int = 8
    min_shared: int = 1
    normalize: bool = True
    # mode="fingerprints" emits the (key, h) winnowing index itself —
    # the thing to persist per corpus version so later batches probe it
    # incrementally (appends are independent rows; no rebuild)
    mode: Literal["pairs", "fingerprints"] = "pairs"
    # incremental mode: name a persisted (key, h) winnowing
    # fingerprint index entity and ONLY this entity (the new batch) is
    # fingerprinted — output becomes (new_id, corpus_id, n_shared),
    # corpus×corpus pairs never generated (the dedup_incremental
    # contract). broadcast_new hints the batch side; False → AQE.
    index_name: Optional[str] = None
    broadcast_new: bool = True


class LmPerplexity(AbstractStep):
    """CCNet-style LM quality scoring: train an add-alpha-smoothed char
    n-gram model on the ``reference_name`` entity (the clean corpus) and
    attach ``n_grams / logprob_avg / perplexity`` to every row of this
    entity. Scores are for threshold filtering (transcendental — not an
    engine-exact hashed surface)."""

    operation: Literal["lm_perplexity"] = "lm_perplexity"
    reference_name: str
    key_column: str
    text_column: str = "text"
    n: int = 3
    alpha: float = 1.0


class WordLm(AbstractStep):
    """Word n-gram LM with Stupid Backoff (Brants 2007): train counts
    on the ``reference_name`` entity (or load a persisted
    ``model_name`` counts entity carrying the ord=0 total sentinel) and
    attach ``n_tokens``, the exact-integer backoff histogram
    ``hits_0..hits_n`` and ``logprob_avg``/``perplexity`` to every row.
    ``model_entity`` exports the self-contained counts entity so
    train → persist → score composes as JSON (the classifier-weights
    pattern). Exactly one of ``reference_name``/``model_name``."""

    operation: Literal["word_lm"] = "word_lm"
    key_column: str
    text_column: str = "text"
    reference_name: Optional[str] = None
    model_name: Optional[str] = None
    model_entity: Optional[str] = None
    n: int = 3
    alpha: float = 0.4
    min_count: int = 1
    broadcast_model: bool = False


class HllProfile(AbstractStep):
    """Per-group distinct-count estimates via Spark's native DataSketches
    HLL (``mode="profile"``), or a rollup of a previously persisted
    sketch entity to a coarser grouping (``mode="rollup"`` — day→month,
    shard→corpus — without re-touching the raw data). The binary
    ``sketch`` column is what makes the profile incremental; set
    ``keep_sketch=False`` for a plain estimate table."""

    operation: Literal["hll_profile"] = "hll_profile"
    mode: Literal["profile", "rollup"] = "profile"
    group_by: tuple[str, ...] = ()
    value_column: str = "value"  # profile: raw column; rollup: sketch col
    lg_k: int = 12
    keep_sketch: bool = True


class Chi2Drift(AbstractStep):
    """Per-cell chi-square contributions of a categorical column
    between this entity (reference) and ``target_name`` (current) —
    composition-drift monitoring with no float-accumulation order in
    the output (cells, not the summed statistic)."""

    operation: Literal["chi2_drift"] = "chi2_drift"
    target_name: str
    column: str
    round_to: int = 6


class GroupedRegression(AbstractStep):
    """Per-group OLS slope/intercept/correlation from exact
    DECIMAL(38,0) sufficient statistics of integer-scaled x/y — the
    sums are mergeable across shards and the floats derive from them
    through one fixed IEEE expression."""

    operation: Literal["grouped_regression"] = "grouped_regression"
    x_column: str
    y_column: str
    group_by: tuple[str, ...] = ()
    scale: int = 100
    round_to: int = 6


class Pseudonymize(AbstractStep):
    """Replace column values with keyed SHA-256 tokens
    (``sha2(salt || value)``): the same (salt, value) maps to the same
    token in every entity, so joins and referential integrity survive
    while raw identifiers never leave the pipeline. NULL stays NULL.
    Per-row projection, zero shuffle."""

    operation: Literal["pseudonymize"] = "pseudonymize"
    columns: tuple[str, ...]
    salt: str = ""
    token_length: int = 16


class ClusterRepresentatives(AbstractStep):
    """One representative row per resolved dedup cluster — highest
    ``score_column`` (ties / no score: ascending ``id_column``) — the
    survivorship stage after fuzzy-dedup component resolution."""

    operation: Literal["cluster_representatives"] = (
        "cluster_representatives"
    )
    cluster_column: str
    id_column: str = "doc_id"
    score_column: Optional[str] = None


class BpeTrain(AbstractStep):
    """Learn BPE merges from the corpus (one corpus pass for word
    frequencies, then K rounds on the compact word table); output
    entity = the ordered merge table ``(rank, left, right)``."""

    operation: Literal["bpe_train"] = "bpe_train"
    text_column: str
    n_merges: int
    lowercase: bool = True


class BpeEncode(AbstractStep):
    """Apply a learned merge table (``merges_name`` entity, a
    ``bpe_train`` output — K rows, collected driver-side) to every
    document: ``(id, n_words, n_subwords, subwords_csv)``."""

    operation: Literal["bpe_encode"] = "bpe_encode"
    merges_name: str
    id_column: str
    text_column: str
    lowercase: bool = True


class Repartition(AbstractStep):
    """Declarable layout control: hash-repartition on columns, range-
    repartition (sorted layout for downstream range pruning), or
    coalesce to ``n`` — the shuffle-placement lever a pipeline author
    pulls before a hot join or a file-count-sensitive write."""

    operation: Literal["repartition"] = "repartition"
    n: Optional[int] = None
    columns: tuple[str, ...] = ()
    mode: Literal["hash", "range", "coalesce"] = "hash"


class SqlQuery(AbstractStep):
    """Raw Spark-SQL escape hatch: ``query`` runs with ``entity_name``
    (and every name in ``inputs``) bound as ``{name}`` template
    parameters — parameterized `spark.sql`, so no temp-view namespace
    is polluted and entity lineage stays per-call. The declarative
    sibling of the UDF/UDTF hatches: when a rule needs SQL shapes the
    step vocabulary lacks (correlated subqueries, VALUES, lateral
    views), it declares them instead of dropping to Python."""

    operation: Literal["sql"] = "sql"
    query: str
    inputs: tuple[str, ...] = ()


class EcdfNormalize(AbstractStep):
    """Rank-based (empirical-CDF) score normalization per group —
    collapses to distinct values before ranking, so no total sort of
    the raw rows at scale."""

    operation: Literal["ecdf_normalize"] = "ecdf_normalize"
    value_column: str
    group_by: tuple[str, ...] = ()
    output_column: str = "ecdf"
    round_to: int = 9


class BucketByLength(AbstractStep):
    """Length-bucketed fixed-count training batches with per-row
    padding waste — dynamic-padding prep, sharded within each bucket to
    break the hot length-bucket key."""

    operation: Literal["bucket_by_length"] = "bucket_by_length"
    id_column: str
    text_column: str
    batch_size: int
    bucket_edges: Optional[tuple[int, ...]] = None
    n_shards: int = 64
    seed: str = ""


class RetentionCohorts(AbstractStep):
    """Cohort-retention triangle over an epoch-microsecond event stream:
    users bucketed by first-seen period, counted once per later active
    period — ``(cohort, offset, n_users)``."""

    operation: Literal["retention_cohorts"] = "retention_cohorts"
    user_column: str
    ts_us_column: str
    period_us: int


class WindowFunnel(AbstractStep):
    """Ordered-step funnel within a time window, anchored at each
    user's first entry event: per-user deepest stage, optionally
    collapsed to per-stage counts (``counts=True``)."""

    operation: Literal["window_funnel"] = "window_funnel"
    user_column: str
    ts_us_column: str
    event_column: str
    steps: tuple[str, ...]
    window_us: int
    counts: bool = False


class Unpivot(AbstractStep):
    """Melt value columns into (variable, value) rows — the inverse of
    ``group_by``'s pivot; Spark's native unpivot, zero shuffle."""

    operation: Literal["unpivot"] = "unpivot"
    id_columns: tuple[str, ...]
    value_columns: tuple[str, ...]
    variable_column: str = "variable"
    value_column: str = "value"


class ProfileDiff(AbstractStep):
    """Schema/stat drift between this entity and ``target_name``: one row
    per column in either side (added/removed/common + null-rate delta)."""

    operation: Literal["profile_diff"] = "profile_diff"
    target_name: str
    columns: Optional[tuple[str, ...]] = None


class FrequentItems(AbstractStep):
    """Exact top-k most frequent values per group (heavy-hitter table):
    one (group, value) count aggregation + WindowGroupLimit ranking."""

    operation: Literal["frequent_items"] = "frequent_items"
    group_by: tuple[str, ...]
    value_column: str
    k: int = 10
    min_count: int = 1


class ProfileGate(AbstractStep):
    """Dataset-level quality gate over the column profile: one
    SUBMISSION-severity message per violated threshold (null fraction
    above ``max_null_frac``, distinct count below ``min_distinct``, row
    count below ``min_rows``) — the pre-contract sanity check a
    validation engine runs before row-level rules, computed from the
    same single profiling pass as the ``profile`` step."""

    operation: Literal["profile_gate"] = "profile_gate"
    columns: Optional[tuple[str, ...]] = None
    max_null_frac: Optional[float] = None
    min_distinct: Optional[int] = None
    min_rows: Optional[int] = None
    code: str = "PROFILE_GATE"


class FuzzyJoin(AbstractStep):
    """Blocked fuzzy string join against ``right_entity``: candidates
    share the casefolded ``prefix_len``-char block, matches sit within
    ``max_distance`` edits (exact Levenshtein verify). ``length_bucket``
    splits hot blocks exactly."""

    operation: Literal["fuzzy_join"] = "fuzzy_join"
    right_entity: str
    left_column: str
    right_column: str
    max_distance: int = 2
    prefix_len: int = 2
    length_bucket: Optional[int] = None
    prefix: str = "r_"


class Bm25Search(AbstractStep):
    """BM25 relevance of every matching document against a fixed query
    string (Okapi weights, +1 idf smoothing, ordered-fold score sum)."""

    operation: Literal["bm25"] = "bm25"
    id_column: str
    text_column: str = "text"
    query: str
    k1: float = 1.2
    b: float = 0.75
    round_to: int = 6
    #: emit the pre-fold per-term rows (id, term, tf, df, dl, n_docs,
    #: sum_dl, weight) instead of the folded scores — the
    #: explain-the-score surface whose integers are engine-exact
    detail: bool = False


class PageRankStep(AbstractStep):
    """Fixed-iteration deterministic PageRank over an edge-list entity;
    writes ``(node, pagerank)``."""

    operation: Literal["pagerank"] = "pagerank"
    src_column: str = "src"
    dst_column: str = "dst"
    weight_column: Optional[str] = None
    iterations: int = 3
    damping: float = 0.85


class TriangleCount(AbstractStep):
    """Exact per-node triangle counts over an (undirected) edge-list
    entity; writes ``(node, n_tri)`` for triangle-closing nodes."""

    operation: Literal["triangle_count"] = "triangle_count"
    src_column: str = "src"
    dst_column: str = "dst"


class PcaProject(AbstractStep):
    """Fit the top-``k`` principal components of a vector column (via
    mergeable moment statistics — one aggregation, d(d+3)/2 doubles of
    state) and project every row onto them as ``output_column``. When
    ``components_entity`` is set, the fitted model also lands as an
    entity of ``(component, explained_variance, weights)`` rows for
    audit/reuse."""

    operation: Literal["pca_project"] = "pca_project"
    key_column: str = "vec_id"
    vector_column: str = "embedding"
    dim: int
    k: int
    output_column: str = "pca"
    components_entity: Optional[str] = None


class SemanticDedup(AbstractStep):
    """SemDeDup (cluster-then-cosine) semantic dedup over an embedding
    entity: k-means cells block the pair space, within-cell cosine pairs
    >= ``threshold`` form duplicate groups, one representative (minimum
    id) survives per group. ``output="kept"`` writes the surviving rows
    (+ ``sem_group``); ``output="groups"`` writes the ``(id, group)``
    duplicate-group table; ``output="pairs"`` the verified cosine pairs.
    """

    operation: Literal["semantic_dedup"] = "semantic_dedup"
    key_column: str = "vec_id"
    vector_column: str = "embedding"
    dim: int
    n_cells: int = 8
    threshold: float = 0.95
    n_iters: int = 2
    output: Literal["kept", "groups", "pairs"] = "kept"


class ParagraphDedup(AbstractStep):
    """Corpus-level paragraph dedup / boilerplate removal (CCNet-style):
    rebuild each document with paragraphs repeated across more than
    ``max_docs`` distinct documents removed (``keep="none"``) or
    deduplicated to their canonical first occurrence (``keep="first"``).
    """

    operation: Literal["paragraph_dedup"] = "paragraph_dedup"
    key_column: str
    text_column: str = "text"
    separator: str = "\n"
    min_chars: int = 1
    normalize: bool = True
    max_docs: int = 1
    keep: Literal["none", "first"] = "none"
    output_column: Optional[str] = None


class SplitSentences(AbstractStep):
    """Heuristic sentence segmentation (JVM lookaround split on
    sentence-final punctuation before an opening capital/digit): one
    row per sentence in document order — sentence-granular prep for
    dedup/decontamination. Documented heuristic limits (abbreviations
    split early; caseless text stays whole). Zero shuffle."""

    operation: Literal["split_sentences"] = "split_sentences"
    key_column: str
    text_column: str = "text"
    min_chars: int = 1


class Standardize(AbstractStep):
    """Feature scaling within each group: zscore (x-mean)/std, minmax
    into [0,1], or robust (x-median)/IQR — the magnitude-preserving
    sibling of ecdf_normalize. Zero-spread groups scale to 0.0; NULLs
    stay NULL. A scoring feature, not a hashed surface."""

    operation: Literal["standardize"] = "standardize"
    value_column: str
    group_by: tuple[str, ...] = ()
    method: Literal["zscore", "minmax", "robust"] = "zscore"
    output_column: str = "scaled"
    ddof: int = 1
    # drop the broadcast hint above ~10M groups: a per-domain/per-user
    # stats frame is no longer "one row per group ≈ small" and a forced
    # broadcast OOMs the driver — let AQE decide from the measured size
    broadcast_stats: bool = True


class SelectTokenBudget(AbstractStep):
    """Quality-pruned curation to a TOKEN budget: within each group,
    keep the highest-scoring documents until their cumulative token
    count reaches the budget (absolute ``budget_tokens`` or per-group
    ``budget_frac``). Budget may overshoot by one document, never
    undershoots while candidates remain; NULL scores/token counts fail
    loudly. One group-keyed window shuffle."""

    operation: Literal["select_token_budget"] = "select_token_budget"
    score_column: str
    token_column: str
    group_by: tuple[str, ...] = ()
    budget_tokens: Optional[int] = None
    budget_frac: Optional[float] = None
    tiebreak_column: Optional[str] = None
    keep_column: Optional[str] = None


class ChunkBySentences(AbstractStep):
    """Sentence-aware greedy chunking: pack consecutive sentences into
    chunks of at most ``max_tokens`` whitespace tokens, boundaries on
    sentence boundaries (RAG/eval prep); ``overlap_sentences`` stitches
    trailing context onto each following chunk. Oversized sentences
    stay whole and loud. One row per chunk; zero shuffle."""

    operation: Literal["chunk_by_sentences"] = "chunk_by_sentences"
    key_column: str
    text_column: str = "text"
    max_tokens: int
    overlap_sentences: int = 0
    min_chars: int = 1


class ChunkByContent(AbstractStep):
    """Content-defined chunking (LBFS/FastCDC over word tokens): cut
    where the rolling ``gram``-token md5 hits ``h % target_tokens == 0``,
    clamped to ``[min_tokens, max_tokens]``. Boundaries depend only on
    local content, so edits leave downstream chunks byte-identical —
    the chunk-level-dedup-stable chunker. One row per chunk; zero
    shuffle."""

    operation: Literal["chunk_by_content"] = "chunk_by_content"
    key_column: str
    text_column: str = "text"
    target_tokens: int = 256
    min_tokens: Optional[int] = None
    max_tokens: Optional[int] = None
    gram: int = 8
    seed: str = ""


class ScriptProfile(AbstractStep):
    """Per-document Unicode writing-system profile: one letter-count
    column per script class (latin/cyrillic/han/arabic/devanagari/
    hangul/kana/greek/hebrew), the total letter count, and the
    dominant-script label — the pre-lang-id multilingual bucket
    signal. JVM regexp_count only; zero shuffle."""

    operation: Literal["script_profile"] = "script_profile"
    text_column: str = "text"
    prefix: str = "script_"


class CompressionRatio(AbstractStep):
    """Attach the deflate-bytes / utf8-bytes quality ratio (repetitive
    or templated text compresses below ~0.4; natural prose higher) —
    a scoring feature for threshold filters like lm_perplexity, not a
    hashable surface. One Arrow-batched zlib hop, zero shuffle."""

    operation: Literal["compression_ratio"] = "compression_ratio"
    text_column: str = "text"
    level: int = 6
    output_column: str = "compression_ratio"


class MaterializePacks(AbstractStep):
    """Materialize concat-and-split sequence packing into trainer-ready
    rows: one row per (shard, pack) with the concatenated token ids and
    the per-document span table (documents crossing a pack boundary are
    split, the tail spilling to the next pack — agreeing row-for-row
    with the pack_sequences arithmetic). ``pad_token_id`` right-pads
    each shard's final short pack."""

    operation: Literal["materialize_packs"] = "materialize_packs"
    key_column: str
    ids_column: str = "ids_csv"
    capacity: int = 2048
    n_shards: int = 64
    seed: str = ""
    pad_token_id: Optional[int] = None
    eod_token_id: Optional[int] = None


class ExtractHtmlText(AbstractStep):
    """Strip an HTML column to visible text (drop script/style blocks,
    block boundaries → newlines, strip tags, decode entities, collapse
    whitespace). ``unescape="basic"`` stays pure JVM; ``"full"`` adds
    Python's html.unescape as an Arrow-batched hop. Zero shuffle."""

    operation: Literal["extract_html_text"] = "extract_html_text"
    html_column: str = "html"
    unescape: Optional[str] = "basic"
    output_column: str = "text"


class HeavyHitters(AbstractStep):
    """Exact heavy hitters with the CMS pre-screen: every value with
    count (or ``weight_column`` total) >= ``min_count``, exact, without
    shuffling the full distinct-value set (the cell table collects once
    and broadcasts as a per-row screen; never-undercount keeps every
    true heavy hitter)."""

    operation: Literal["heavy_hitters"] = "heavy_hitters"
    value_column: str
    min_count: int
    weight_column: Optional[str] = None
    depth: int = 4
    width: int = 4096
    seed: str = ""


class InterleaveSources(AbstractStep):
    """Deterministic fixed-ratio source interleaving (stride
    scheduling): adds an integer order column such that reading in that
    order yields sources at their weight ratios in every prefix —
    partitioning/rerun/engine-stable. Sources missing from ``weights``
    fail loudly."""

    operation: Literal["interleave_sources"] = "interleave_sources"
    source_column: str
    weights: dict[str, float]
    key_column: str
    seed: str = ""
    order_column: str = "interleave_order"


class HardNegativeSamples(AbstractStep):
    """Hard-negative mining in a cosine band: up to ``k`` same-LSH-
    bucket neighbours per row with cosine in [min, max] (DPR/SimCSE
    recipe; pair with negative_samples for the uniform mix)."""

    operation: Literal["hard_negative_samples"] = "hard_negative_samples"
    k: int
    id_column: str = "vec_id"
    vector_column: str = "embedding"
    min_cosine: float = 0.3
    max_cosine: float = 0.85
    candidate_factor: int = 4
    n_planes: int = 6
    n_tables: int = 1
    dim: int = 64


class ParseRobots(AbstractStep):
    """Parse robots.txt bodies (one row per host) into an RFC 9309
    rule table: (host, agent, directive, pattern, match_regex,
    pattern_len). Per-row line folds, zero shuffle."""

    operation: Literal["parse_robots"] = "parse_robots"
    host_column: str = "host"
    robots_column: str = "body"


class RobotsAllowed(AbstractStep):
    """Evaluate a URL entity against a parse_robots rule table
    (``rules_name``) for ``agent``: RFC 9309 group selection,
    longest-pattern-wins, allow wins ties, absent rules mean
    allowed."""

    operation: Literal["robots_allowed"] = "robots_allowed"
    rules_name: str
    url_column: str = "url"
    agent: str = "*"
    host_column: Optional[str] = None
    output_column: str = "robots_allowed"


class ExtractAnchorTexts(AbstractStep):
    """Extract (href, anchor_text) pairs from an HTML column — the
    anchor-text relevance/label source; hrefs cleaned as extract_links,
    inner text tag-stripped + entity-decoded JVM-side."""

    operation: Literal["extract_anchor_texts"] = "extract_anchor_texts"
    html_column: str = "html"
    output_href: str = "href"
    output_text: str = "anchor_text"


class ExtractLinks(AbstractStep):
    """Extract anchor hrefs from an HTML column (one row per link,
    entity-decoded, fragment-stripped, pseudo-links dropped; optional
    relative-URL resolution against ``base_url_column``) — the edge
    extractor feeding the link-graph operators. Zero shuffle."""

    operation: Literal["extract_links"] = "extract_links"
    html_column: str = "html"
    base_url_column: Optional[str] = None
    output_column: str = "href"
    unique: bool = True


class ParseJson(AbstractStep):
    """Parse a JSON string column into a typed struct via an explicit
    DDL schema (never inferred). Malformed JSON → NULL struct +
    ``is_valid=false``; NULL input stays NULL and counts valid."""

    operation: Literal["parse_json"] = "parse_json"
    json_column: str
    json_schema: str
    output_column: str = "parsed"
    valid_column: str = "is_valid"


class CmsSketch(AbstractStep):
    """Count-Min frequency sketch: ``mode="build"`` turns a value
    column into a depth×width cell table (shuffle bounded by the cell
    count, not the value cardinality), ``mode="merge"`` rolls persisted
    cell tables up to a coarser grouping (cell-wise sum — equals the
    sketch of the unioned raw data), ``mode="query"`` point-estimates
    frequencies for a candidate entity (``sketch_name`` holds the cell
    table; estimates never undercount)."""

    operation: Literal["cms_sketch"] = "cms_sketch"
    mode: Literal["build", "merge", "query"] = "build"
    group_by: tuple[str, ...] = ()
    value_column: str = "value"
    weight_column: Optional[str] = None
    depth: int = 4
    width: int = 1024
    seed: str = ""
    sketch_name: Optional[str] = None


class BloomFilter(AbstractStep):
    """Bloom membership filter: ``mode="build"`` turns a value column
    into a sparse bit table of 63-bit long words (sign bit unused for
    cross-engine portability; at most ``m_bits/63 + 1`` rows per group — membership state without shipping the member set),
    ``mode="merge"`` ORs persisted word tables up to a coarser grouping
    (equals the filter of the unioned raw data), ``mode="query"`` flags
    a candidate entity with ``might_contain`` (``bloom_name`` holds the
    word table; never a false negative — the decontamination /
    incremental-dedup pre-screen)."""

    operation: Literal["bloom_filter"] = "bloom_filter"
    mode: Literal["build", "merge", "query"] = "build"
    group_by: tuple[str, ...] = ()
    value_column: str = "value"
    m_bits: int = 65536
    k_hashes: int = 5
    seed: str = ""
    bloom_name: Optional[str] = None


class NegativeSamples(AbstractStep):
    """Deterministic uniform negative sampling for contrastive pairs:
    each anchor row draws ``k`` pseudo-random rows from ``pool_name``
    by md5-rank indexing (uniform with replacement, rerun-stable, no
    cross join; ``exclude_self`` drops self-hits as gaps, never
    redraws)."""

    operation: Literal["negative_samples"] = "negative_samples"
    pool_name: str
    anchor_column: str
    pool_column: str
    k: int = 4
    seed: str = ""
    exclude_self: bool = True
    pool_columns: tuple[str, ...] = ()


class RrfFuse(AbstractStep):
    """Reciprocal Rank Fusion of ranked retrieval lists (Cormack 2009):
    the entity plus ``more_entities`` each carry ``query_columns +
    (doc_column, rank_column)``; the fused output ranks documents by
    the integer-exact ``sum(scale DIV (k + rank))`` with ``top_n``
    keeping each query's head. The hybrid-search join of BM25 and
    embedding retrieval."""

    operation: Literal["rrf_fuse"] = "rrf_fuse"
    more_entities: tuple[str, ...] = ()
    query_columns: tuple[str, ...] = ()
    doc_column: str = "doc_id"
    rank_column: str = "rank"
    k: int = 60
    scale: int = 10**12
    top_n: Optional[int] = None


class DsirResample(AbstractStep):
    """DSIR data selection (Xie et al. 2023): ``mode="counts"`` turns a
    corpus into its hashed-n-gram bucket counts (≤ ``buckets`` rows,
    sum-mergeable across batches); ``mode="ratio"`` combines a target
    and a raw count table (``target_name`` / the entity) into the
    per-bucket log-importance-ratio table; ``mode="score"`` scores raw
    documents against a ratio table (``ratio_name``) into
    ``n_feats + dsir_logw``; ``mode="select"`` draws ``n`` rows without
    replacement ∝ ``exp(logw/temperature)`` via deterministic
    Gumbel-top-k."""

    operation: Literal["dsir_resample"] = "dsir_resample"
    mode: Literal["counts", "ratio", "score", "select"] = "score"
    text_column: str = "text"
    key_columns: tuple[str, ...] = ()
    n_max: int = 2
    buckets: int = 10_000
    seed: str = ""
    lowercase: bool = True
    alpha: float = 1.0
    normalize: bool = False
    broadcast_ratios: bool = True
    target_name: Optional[str] = None
    ratio_name: Optional[str] = None
    logw_column: str = "dsir_logw"
    n_select: int = 0
    temperature: float = 1.0


class NormalizeText(AbstractStep):
    """Canonicalize a text column: Unicode form folding (NFKC by
    default — the tokenizer-prep recipe; ``form=null`` skips the one
    Pandas-UDF hop and stays pure JVM), control/format-char strip,
    optional lowercasing and whitespace collapse. Zero shuffle."""

    operation: Literal["normalize_text"] = "normalize_text"
    text_column: str = "text"
    form: Optional[str] = "NFKC"
    lowercase: bool = False
    strip_control: bool = True
    collapse_whitespace: bool = False
    output_column: Optional[str] = None


class RenderChat(AbstractStep):
    """Render a conversation column (``array<struct<role,content>>``)
    into one training string per row plus per-turn content spans and the
    loss-mask spans (roles in ``mask_roles``) — the standard
    chat-template prep before tokenization. Zero shuffle; spans come
    from an integer fold, never from searching the rendered text."""

    operation: Literal["render_chat"] = "render_chat"
    key_column: str
    conversation_column: str = "conversation"
    role_open: str = "<|"
    role_close: str = "|>\n"
    turn_end: str = "<|end|>\n"
    mask_roles: tuple[str, ...] = ("assistant",)


class ConversationStats(AbstractStep):
    """Per-conversation structural quality gates for instruction data:
    turn/role counts, content size, and the has_empty /
    has_unknown_role / alternates flags (one leading system turn
    allowed, then strict user/assistant alternation ending on
    assistant). Zero shuffle."""

    operation: Literal["conversation_stats"] = "conversation_stats"
    key_column: str
    conversation_column: str = "conversation"
    user_role: str = "user"
    assistant_role: str = "assistant"
    system_role: str = "system"



class ClassifierFit(AbstractStep):
    """Train the fastText-style quality classifier (full-batch
    logistic regression over hashed n-gram features; driver updates
    on n_buckets doubles per epoch — the pca_fit pattern). Output
    entity: ``(bucket, weight)`` rows with the bias at bucket = -1 —
    feed it to ``classifier_score`` via ``weights_entity``."""

    operation: Literal["classifier_fit"] = "classifier_fit"
    text_column: str
    label_column: str
    n_buckets: int = 4096
    n_max: int = 2
    seed: str = ""
    average: bool = True
    char_n: Optional[int] = None  # char n-grams instead of word grams
    epochs: int = 20
    lr: float = 0.5
    l2: float = 0.0


class ClassifierScore(AbstractStep):
    """fastText-style linear classifier over hashed n-gram features:
    score every row (zero shuffle — the weight vector rides one
    broadcast 1-row array, the score is a per-row ordered fold). With
    ``threshold_prob`` set, filter (or flag via ``keep_column``) in
    LOGIT space — the sigmoid never runs in the distributed plan.
    Weights come inline (``weights``) or from a ``classifier_fit``
    output entity (``weights_entity`` — a bounded n_buckets-row
    collect; exactly one of the two must be given, and ``bias`` is
    read from the entity's bucket = -1 row in that mode)."""

    operation: Literal["classifier_score"] = "classifier_score"
    text_column: str
    weights: Optional[list[float]] = None
    weights_entity: Optional[str] = None
    bias: float = 0.0
    n_max: int = 2
    seed: str = ""
    average: bool = True
    char_n: Optional[int] = None  # char n-grams instead of word grams
    score_column: str = "clf_logit"
    prob_column: Optional[str] = None
    threshold_prob: Optional[float] = None
    keep_column: Optional[str] = None


class ClassifierEval(AbstractStep):
    """Distributed holdout evaluation of a fitted classifier:
    confusion counts (n/tp/fp/tn/fn, exact longs) plus
    precision/recall/f1/accuracy at ``threshold_prob``, one row per
    ``group_columns`` slice (one total row when empty). Weights come
    inline or from a ``classifier_fit`` output entity, exactly as
    ``classifier_score``. Composes train -> eval -> filter as three
    JSON steps over the same feature-space parameters."""

    operation: Literal["classifier_eval"] = "classifier_eval"
    text_column: str
    label_column: str
    weights: Optional[list[float]] = None
    weights_entity: Optional[str] = None
    bias: float = 0.0
    n_max: int = 2
    seed: str = ""
    average: bool = True
    char_n: Optional[int] = None
    threshold_prob: float = 0.5
    group_columns: tuple[str, ...] = ()


class CompactMinhashIndex(AbstractStep):
    """Maintenance pass for a persisted minhash_index side-table:
    semi-join against the live corpus's ids and collapse re-ingest
    duplicates. Admission decisions against the compacted index equal
    a fresh index over the live corpus (pytest-pinned invariant)."""

    operation: Literal["compact_minhash_index"] = "compact_minhash_index"
    live_entity: str
    id_column: str


class RemoveRepeatedSubstrings(AbstractStep):
    """Exact repeated-substring removal (Lee 2021 ExactSubstr at
    fixed-gram granularity): cut every maximal run of character
    ``min_len``-grams shared by >= ``min_docs`` documents. The gram
    frequencies ride the CMS heavy-hitter screen, so the corpus text
    never shuffles; shared spans >= min_len are removed COMPLETELY
    (gram-cover guarantee)."""

    operation: Literal["remove_repeated_substrings"] = (
        "remove_repeated_substrings"
    )
    id_column: str
    text_column: str = "text"
    min_len: int = 50
    min_docs: int = 2
    depth: int = 4
    width: int = 65536
    seed: str = ""
    output_column: Optional[str] = None
    # re-verify marked grams on their exact TEXT (closes the 60-bit
    # hash collision window; only the hot sliver shuffles its text)
    exact_verify: bool = False


class WindowedHeavyHitters(AbstractStep):
    """Exact per-window heavy hitters from persisted streaming CMS
    cells (``entity_name`` = the raw events, ``cells_entity`` = the
    drained streaming_cms_cells table): per-window broadcast screen
    (never-undercount), exact count over the surviving sliver only."""

    operation: Literal["windowed_heavy_hitters"] = "windowed_heavy_hitters"
    cells_entity: str
    ts_column: str
    value_column: str
    min_count: int
    window_seconds: int
    depth: int = 4
    width: int = 4096
    seed: str = ""
    # assert per-window cells == depth x probed events (the
    # cells-cover-the-probe exactness premise) before screening
    check_totals: bool = False


#: every step type: each model above that declares an ``operation`` tag,
#: in definition order
AnyStep = Annotated[
    Union[
        tuple(
            model
            for model in globals().values()
            if isinstance(model, type)
            and issubclass(model, BaseModel)
            and model.__module__ == __name__
            and "operation" in model.model_fields
        )
    ],
    Field(discriminator="operation"),
]


class _StepParser(BaseModel):
    step: AnyStep


def parse_step(config: dict) -> AnyStep:
    """Parse one step dict (e.g. from a dischema JSON) into a typed config."""
    return _StepParser(step=config).step
