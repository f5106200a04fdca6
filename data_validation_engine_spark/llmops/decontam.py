"""Benchmark decontamination: flag corpus documents that share word
n-grams with an evaluation/benchmark set.

The standard pre-training hygiene pass (public method: exact n-gram
overlap, as in GPT-3 appendix C / PaLM / Llama decontamination): a
document is contaminated if any of its word n-grams also appears in the
benchmark. No reference counterpart — the reference has no corpus
surface; this is part of the engine's training-data vocabulary.

Scale shape: the benchmark is the small side by construction (eval sets
are thousands of documents, the corpus is billions), so its distinct
n-gram set is broadcast and the corpus side never shuffles for the
match itself — explode, broadcast-hash semi-join, then one map-side-
combining count keyed by the doc id. Corpus text is scanned once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_validation_engine_spark.llmops.dedup import (
    shingle_occurrence_rows,
)

DEFAULT_NGRAM = 5


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    *,
    ngram: int = DEFAULT_NGRAM,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Flag corpus docs sharing any word ``ngram``-gram with ``benchmark``.

    Returns one row per corpus document: ``(id, n_hits, contaminated)``
    where ``n_hits`` counts the document's DISTINCT n-grams that appear in
    the benchmark (shingles are distinct per doc, matching
    :func:`~data_validation_engine_spark.llmops.dedup.shingles_col`, so a
    doc repeating one leaked n-gram ten times counts it once). Documents
    shorter than ``ngram`` words contribute their whole text as the single
    gram — a short doc exactly equal to benchmark text still flags.

    ``broadcast_benchmark=False`` falls back to a shuffle hash join for
    the (unusual) case of a benchmark too large to broadcast.

    The match joins on ``md5(gram)`` rather than the raw n-gram string:
    the broadcast side is 32 hex bytes per distinct benchmark n-gram
    regardless of n-gram length, and md5-equality is gram-equality for
    the oracle's purposes (identical deterministic hash both engines).
    """
    hits = _gram_hits(
        corpus, benchmark, id_col, text_col,
        ngram=ngram, broadcast_benchmark=broadcast_benchmark,
    )
    return _attach_hits(corpus.select(id_col), hits, id_col)


def _gram_hits(
    matched: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    *,
    ngram: int,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """``(id, n_hits)`` for the docs in ``matched`` with at least one
    n-gram in ``benchmark`` — the exact-overlap core shared by
    :func:`decontaminate` (matched = whole corpus) and
    :func:`decontaminate_bloom` (matched = the screened suspects only)."""
    # Shingles as codegen OCCURRENCE rows, hashed as a plain projection:
    # a shingles_col + F.transform(md5) walk evaluates interpreted per
    # element (~14x slower measured). Occurrence rows may repeat a gram
    # within a doc, so the hit count dedupes with countDistinct —
    # identical to a count over the per-doc-distinct array.
    # the benchmark side needs no id column — only its text shingles
    bench_grams = (
        shingle_occurrence_rows(
            benchmark.select(F.lit(1).alias("__bid"), F.col(text_col)),
            "__bid",
            text_col,
            shingle_size=ngram,
        )
        .select(F.md5("shingle").alias("__gram"))
        .distinct()
    )
    if broadcast_benchmark:
        bench_grams = F.broadcast(bench_grams)
    matched_grams = shingle_occurrence_rows(
        matched, id_col, text_col, shingle_size=ngram
    ).select(F.col(id_col), F.md5("shingle").alias("__gram"))
    return (
        matched_grams.join(bench_grams, "__gram")
        .groupBy(id_col)
        .agg(F.countDistinct("__gram").alias("n_hits"))
    )


def _attach_hits(
    ids: DataFrame, hits: DataFrame, id_col: str
) -> DataFrame:
    """Left-join the sparse ``(id, n_hits)`` table onto the full id
    universe: docs without a hit row are exactly the clean ones."""
    return ids.join(hits, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
        (F.coalesce(F.col("n_hits"), F.lit(0)) > 0).alias(
            "contaminated"
        ),
    )


def decontaminate_bloom(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    *,
    ngram: int = DEFAULT_NGRAM,
    m_bits: int = 1 << 20,
    k_hashes: int = 5,
    seed: str = "",
    exact_verify: bool = True,
) -> DataFrame:
    """:func:`decontaminate` for corpora where exploding every corpus
    n-gram into a join is the dominant cost: screen documents against a
    Bloom filter of the benchmark's n-grams FIRST, then (optionally)
    run the exact join over the suspects only.

    Same output contract as :func:`decontaminate` — ``(id, n_hits,
    contaminated)`` — and, because Bloom filters never produce false
    negatives, with ``exact_verify=True`` the results are IDENTICAL to
    the exact operator: non-suspects are provably clean (0 hits) and
    suspects get exact counts. With ``exact_verify=False`` ``n_hits``
    is null and ``contaminated`` may include false positives at the
    filter's rate (``~(1-e^(-k*n/m))^k``) — the cheap triage mode.

    Scale shape, and why this beats the broadcast join at 100 TB: the
    benchmark's grams collapse into ``m_bits/63`` longs (~128 KiB at
    the default 2^20 bits) COLLECTED ONCE (a bounded control-plane
    fetch, the documented class) and shipped back as a 1-row broadcast
    array — so the corpus-side screen never joins against a
    benchmark-sized table and never shuffles text. The probe runs over
    EXPLODED shingle rows as plain codegen projections (an
    ``exists``/``forall`` nested-lambda formulation would evaluate every
    md5 and bit test interpreted): k md5
    bit positions per gram, an AND of bitmask tests against the
    broadcast word array, then the suspect ids collapse through a
    map-side-combined distinct — the only exchange is that id sliver
    (true hits + the filter's false-positive rate), never the corpus.
    Only the suspected sliver pays the exact join. The word array is
    :func:`~...sketch.bloom_build` state, so per-benchmark-version
    filters OR-merge without re-reading text.
    """
    from data_validation_engine_spark.llmops.sketch import (
        _bloom_position,
        bloom_build,
    )

    spark = corpus.sparkSession
    bench_grams = shingle_occurrence_rows(
        benchmark.select(F.lit(1).alias("__bid"), F.col(text_col)),
        "__bid",
        text_col,
        shingle_size=ngram,
    ).select(F.md5("shingle").alias("__gram"))
    sparse = bloom_build(
        bench_grams, "__gram",
        m_bits=m_bits, k_hashes=k_hashes, seed=seed,
    ).collect()  # <= m_bits/63 + 1 rows: bounded control-plane fetch
    dense = [0] * (m_bits // 63 + 1)
    for r in sparse:
        dense[r["word"]] = r["bits"]
    words_frame = spark.createDataFrame(
        [(dense,)], "___bloom_words array<long>"
    )

    def _bit_set(p: Column) -> Column:
        word = F.element_at(
            F.col("___bloom_words"), (p / F.lit(63)).cast("int") + F.lit(1)
        )
        # shiftleft with a COLUMN count via call_function (the Python
        # wrapper takes only literal counts): one bitwise op per
        # probed bit — exact for bit indices 0..62
        mask = F.call_function(
            "shiftleft",
            F.lit(1).cast("long"),
            (p % F.lit(63)).cast("int"),
        )
        return word.bitwiseAND(mask) != 0

    probe = None
    gram = F.md5(F.col("shingle"))
    for h in range(k_hashes):
        cond = _bit_set(_bloom_position(gram, h, m_bits, seed))
        probe = cond if probe is None else probe & cond
    suspect_ids = (
        shingle_occurrence_rows(
            corpus, id_col, text_col, shingle_size=ngram
        )
        .join(F.broadcast(words_frame))
        .where(probe)
        .select(id_col)
        .distinct()
    )
    if not exact_verify:
        return (
            corpus.select(id_col)
            .join(
                suspect_ids.withColumn("___suspect", F.lit(True)),
                id_col,
                "left",
            )
            .select(
                F.col(id_col),
                F.lit(None).cast("long").alias("n_hits"),
                F.coalesce(F.col("___suspect"), F.lit(False)).alias(
                    "contaminated"
                ),
            )
        )
    # Exact verify: the gram join runs over the screened suspects only,
    # and the sparse (id, n_hits) result attaches to a bare id
    # projection of the corpus — a doc without a hit row is clean by
    # construction (either the screen cleared it, with no false
    # negatives possible, or the exact join found nothing).
    suspects = corpus.join(suspect_ids, id_col, "semi")
    hits = _gram_hits(
        suspects, benchmark, id_col, text_col, ngram=ngram
    )
    return _attach_hits(corpus.select(id_col), hits, id_col)
