"""Exact repeated-substring removal — the ExactSubstr dedup of
Lee et al. 2021 ("Deduplicating Training Data Makes Language Models
Better", arXiv:2107.06499) re-expressed Spark-first: instead of a
distributed suffix array, anchor on fixed-length character grams and
screen their document frequencies with the repo's CMS heavy-hitter
machinery, so the corpus text never shuffles.

Guarantee (the reason fixed-length anchoring is enough): any substring
of length >= ``min_len`` shared verbatim by >= ``min_docs`` documents
has ALL of its length-``min_len`` grams shared by those documents, so
every one of its gram-anchored intervals is hot and their union covers
the entire span — shared spans are removed COMPLETELY, never partially
chewed. (Conversely the operator removes exactly the union of hot
grams, i.e. maximal runs of cross-document-repeated ``min_len``-grams
— the natural maximal-repeated-span semantics at granularity
``min_len``.)

Scale shape, and why this beats a suffix array on Spark: gram hashing
is a zero-shuffle explode-then-project pipeline (60-bit longs, the
``spans.py`` convention) that stays inside one whole-stage-codegen
span; document frequencies are screened by a map-side-combined CMS
(``cms_build`` + a bounded collect + the per-row ``cms_screen``
conjunction), so only the genuinely-hot sliver of grams pays an exact
group-by — and when the caller's ``width`` is too small for the data
to screen at all (expected cell load >= ``min_docs``), a length-only
prepass detects the saturation and goes straight to the exact
doc-frequency group-by instead of paying two wasted sketch passes
(identical hot set either way). Interval merge + text surgery are
per-row folds. The only data-sized shuffle is the narrow
``(hash, id)`` frequency exchange; the corpus text never shuffles.

Collision caveat: anchors are 60-bit md5-prefix hashes
with no exact-text verify, so "exact" holds up to hash collisions —
at the trillions-of-grams scale this module targets, a cold gram that
collides with a hot one marks a non-repeated span hot and excises
legitimate text (expected collisions ~ n²/2⁶¹; the reference
ExactSubstr verifies bytes). For collision-sensitive runs pass
``exact_verify=True`` to :func:`repeated_substring_spans` /
:func:`remove_repeated_substrings`: marked positions re-join on the
gram TEXT (only the hot sliver pays the text shuffle), eliminating
false excisions entirely.

No reference counterpart (`/root/reference` has no corpus surface).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "marked_positions",
    "verify_marked",
    "spans_from_marked",
    "repeated_substring_spans",
    "remove_repeated_substrings",
]


def marked_positions(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_len: int = 50,
    min_docs: int = 2,
    depth: int = 4,
    width: int = 1 << 16,
    seed: str = "",
) -> DataFrame:
    """The HOT-CANDIDATE gram positions — ``(id_col, __s 1-based start,
    __gt gram text)`` for every gram whose CMS-screened hash estimate
    reaches ``min_docs`` distinct documents (the exact per-hash count is
    applied inside :func:`~.sketch.heavy_hitters`; ``__gt`` carries the
    gram's text so an exact-verify pass can close the hash-collision
    window without re-touching the corpus).

    Kept apart from :func:`repeated_substring_spans` because the
    hash-replay and exact-verify span tables differ only in a filter over THIS frame, so a caller
    needing both (e.g. the roster row proving the two modes against
    independent oracles) computes the corpus gram hashing + CMS screen
    once — ideally on a persisted ``marked`` frame — instead of once
    per mode."""
    if min_len < 2:
        raise ValueError(f"min_len must be >= 2, got {min_len}")
    if min_docs < 2:
        raise ValueError(
            f"min_docs must be >= 2 (cross-document repetition), got "
            f"{min_docs}"
        )
    from data_validation_engine_spark.llmops.sketch import (
        cms_build,
        cms_screen,
    )

    # Positions as an EXPLODE-FIRST pipeline: explode the start positions
    # and hash each gram as a plain projection AFTER the Generate, all
    # inside one whole-stage-codegen span. A per-doc hash array built
    # with ``F.transform`` — a higher-order function whose lambda body
    # Spark evaluates INTERPRETED per element — would pay that
    # interpreted md5 walk on every scan. Nothing here shuffles:
    # Generate + Project pipeline row-at-a-time in the same stage, so
    # the text is never copied per generated row.
    t = F.coalesce(F.col(text_col), F.lit(""))
    pos = df.select(
        F.col(id_col),
        t.alias("__t"),
        F.explode(
            F.when(
                F.length(t) >= min_len,
                F.sequence(
                    F.lit(1), F.length(t) - F.lit(min_len) + F.lit(1)
                ),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("__s"),
    ).select(
        F.col(id_col),
        F.col("__s"),
        F.col("__t").substr(F.col("__s"), F.lit(min_len)).alias("__gt"),
    ).withColumn(
        "__h",
        F.conv(F.substring(F.md5(F.col("__gt")), 1, 15), 16, 10).cast(
            "long"
        ),
    )
    # Scale-adaptive screen cutover: the
    # CMS screen only discriminates when a cell's EXPECTED load stays
    # below the threshold — avg cell count = total grams / width; once
    # that reaches ``min_docs`` essentially every cell reads hot, the
    # screen passes everything, and the sketch machinery is two wasted
    # full-corpus hash passes bolted onto the exact group-by it was
    # meant to avoid. A length-only prepass (no per-gram hashing —
    # sub-second at any corpus the scan can list) decides which regime
    # the data is in; both regimes produce the IDENTICAL hot set, so
    # the output never depends on the choice.
    total_grams = (
        df.select(
            F.sum(
                F.greatest(
                    F.length(t) - F.lit(min_len) + F.lit(1), F.lit(0)
                )
            )
        ).first()[0]
        or 0
    )
    if total_grams >= min_docs * width:
        # Saturated sketch: go straight to the exact doc-frequency
        # group-by the oracle runs — one narrow (hash, id) shuffle —
        # and join the positions back against the hot set. Two
        # codegen gram-hash passes total (the floor without
        # persisting corpus-sized position rows; callers at larger
        # scale size ``width`` so the screened regime engages).
        hot = (
            pos.groupBy("__h")
            .agg(F.countDistinct(id_col).alias("__nd"))
            .where(F.col("__nd") >= min_docs)
            .select("__h")
        )
        return pos.join(hot, "__h").select(id_col, "__s", "__gt")
    # Screened regime: CMS doc-frequency estimate, built on gram
    # OCCURRENCES — occurrence count >= distinct-doc count, and the
    # sketch itself never undercounts, so no gram hot in >= min_docs
    # docs is ever screened out; the exact countDistinct below removes
    # every overcounted survivor. The survivor filter runs IN the
    # position-generating pass (fused — guide §1.2), so the corpus
    # pays exactly two gram-hash scans where the previous
    # heavy_hitters + join-back shape paid three; only the screened
    # sliver (bounded by the boilerplate present plus CMS leakage,
    # never corpus-sized) is persisted and shuffled.
    sketch = cms_build(
        pos.select("__h"), "__h", depth=depth, width=width, seed=seed
    ).collect()
    screen = cms_screen(
        sketch, F.col("__h"), min_docs,
        depth=depth, width=width, seed=seed,
    )
    sliver = pos.where(screen).persist()
    hot = (
        sliver.groupBy("__h")
        .agg(F.countDistinct(id_col).alias("__nd"))
        .where(F.col("__nd") >= min_docs)
        .select("__h")
    )
    return sliver.join(hot, "__h").select(id_col, "__s", "__gt")


def verify_marked(marked: DataFrame, id_col: str, min_docs: int) -> DataFrame:
    """Exact-verify filter over a :func:`marked_positions` frame: keep
    only positions whose gram TEXT occurs in >= ``min_docs`` distinct
    documents (collision closure — only the hot sliver carries its gram
    text here, the corpus never shuffles)."""
    verified = (
        marked.groupBy("__gt")
        .agg(F.countDistinct(id_col).alias("__nd"))
        .where(F.col("__nd") >= min_docs)
        .select("__gt")
    )
    return marked.join(verified, "__gt")


def spans_from_marked(
    marked: DataFrame, id_col: str, *, min_len: int
) -> DataFrame:
    """Merge a :func:`marked_positions` frame into the maximal repeated
    spans — ``(id_col, start, end)``, overlapping-or-adjacent
    ``[s, s + min_len)`` intervals unioned per document (one narrow
    shuffle by ``id_col``; the merge itself is a per-row fold)."""
    starts = marked.select(id_col, "__s").groupBy(id_col).agg(
        F.sort_array(F.collect_list("__s")).alias("__starts")
    )
    empty = F.array().cast("array<struct<s:int,e:int>>")
    merged = F.aggregate(
        F.col("__starts"),
        empty,
        lambda acc, s: F.when(
            (F.size(acc) == 0)
            | (s > F.element_at(acc, -1)["e"]),
            F.concat(
                acc,
                F.array(
                    F.struct(
                        s.alias("s"), (s + F.lit(min_len)).alias("e")
                    )
                ),
            ),
        ).otherwise(
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1)["s"].alias("s"),
                        F.greatest(
                            F.element_at(acc, -1)["e"],
                            s + F.lit(min_len),
                        ).alias("e"),
                    )
                ),
            )
        ),
    )
    return starts.select(
        F.col(id_col), F.explode(merged).alias("__m")
    ).select(
        id_col,
        F.col("__m")["s"].alias("start"),
        F.col("__m")["e"].alias("end"),
    )


def repeated_substring_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_len: int = 50,
    min_docs: int = 2,
    depth: int = 4,
    width: int = 1 << 16,
    seed: str = "",
    exact_verify: bool = False,
) -> DataFrame:
    """The merged character spans (1-based, half-open ``[start, end)``)
    of every maximal cross-document-repeated run: one row per span,
    ``(id_col, start, end)``.

    A gram is HOT when it occurs in at least ``min_docs`` DISTINCT
    documents (within-document repetition alone never triggers — a
    document quoting itself is a repetition signal, not shared
    boilerplate; see ``repetition_stats`` for that). Spans are unions
    of hot gram intervals ``[i, i + min_len)``, overlapping-or-adjacent
    intervals merged.

    ``depth``/``width`` size the CMS screen exactly as
    :func:`~.sketch.heavy_hitters` (never-undercount: no hot gram is
    missed; overcounted cold grams are removed by the exact count).

    ``exact_verify=True`` re-groups the marked positions by the gram's
    actual TEXT and keeps only grams whose text occurs in >=
    ``min_docs`` distinct documents — closing the 60-bit-hash collision
    window (module docstring) at the cost of shuffling the hot sliver's
    gram text (never the corpus)."""
    marked = marked_positions(
        df, id_col, text_col,
        min_len=min_len, min_docs=min_docs,
        depth=depth, width=width, seed=seed,
    )
    if exact_verify:
        marked = verify_marked(marked, id_col, min_docs)
    return spans_from_marked(marked, id_col, min_len=min_len)


def remove_repeated_substrings(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_len: int = 50,
    min_docs: int = 2,
    depth: int = 4,
    width: int = 1 << 16,
    seed: str = "",
    out_col: str | None = None,
    exact_verify: bool = False,
    spans: DataFrame | None = None,
) -> DataFrame:
    """Cut every :func:`repeated_substring_spans` span out of
    ``text_col``: all input columns plus ``n_spans`` and
    ``n_removed_chars``, the text spliced in place (or into
    ``out_col``). Documents with no repeated spans pass through
    byte-identical (left join — the corpus never inner-joins away).

    The splice is one per-row fold over the span list: segments
    between spans concatenate in order, so the kept text is exactly
    the original minus the spans — no re-normalization, no whitespace
    surgery (run ``normalize_text`` downstream if the cut edges need
    tidying).

    ``spans`` supplies a PRE-COMPUTED :func:`repeated_substring_spans`
    frame (same ``df``/``id_col``/span parameters — the caller owns
    that contract) and skips the internal span pipeline, for callers
    that need both the span table and
    the scrubbed corpus (one gram-hash + CMS pass instead of two)."""
    if spans is None:
        spans = repeated_substring_spans(
            df, id_col, text_col,
            min_len=min_len, min_docs=min_docs,
            depth=depth, width=width, seed=seed,
            exact_verify=exact_verify,
        )
    per_doc = spans.groupBy(id_col).agg(
        F.sort_array(
            F.collect_list(F.struct("start", "end"))
        ).alias("__spans")
    )
    target = out_col or text_col
    t = F.coalesce(F.col(text_col), F.lit(""))
    # fold: acc = (cursor, kept-so-far); each span appends the segment
    # before it and advances the cursor past it; the tail closes out
    spliced = F.aggregate(
        F.col("__spans"),
        F.struct(
            F.lit(1).alias("cur"), F.lit("").alias("kept")
        ),
        lambda acc, sp: F.struct(
            sp["end"].alias("cur"),
            F.concat(
                acc["kept"],
                F.substring(
                    t, acc["cur"], sp["start"] - acc["cur"]
                ),
            ).alias("kept"),
        ),
        lambda acc: F.concat(
            acc["kept"],
            F.substring(
                t, acc["cur"], F.length(t) - acc["cur"] + F.lit(1)
            ),
        ),
    )
    removed = F.aggregate(
        F.col("__spans"),
        F.lit(0),
        lambda acc, sp: acc
        + F.least(sp["end"], F.length(t) + F.lit(1))
        - sp["start"],
    )
    joined = df.join(per_doc, id_col, "left")
    has = F.col("__spans").isNotNull()
    # the spliced text gets a TEMP name first: aliasing it straight to
    # text_col would let Spark's lateral-column-alias resolution bind
    # the sibling expressions' length(text_col) to the OUTPUT text
    # instead of the input (caught in development — n_removed_chars
    # went negative)
    staged = joined.select(
        *df.columns,
        F.when(has, spliced).otherwise(F.col(text_col)).alias(
            "__clean_text"
        ),
        F.when(has, F.size("__spans")).otherwise(F.lit(0)).alias(
            "n_spans"
        ),
        F.when(has, removed).otherwise(F.lit(0)).alias(
            "n_removed_chars"
        ),
    )
    keep = [c for c in df.columns if c != text_col or target != text_col]
    return staged.select(
        *keep,
        F.col("__clean_text").alias(target),
        "n_spans",
        "n_removed_chars",
    )
