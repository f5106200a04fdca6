"""Byte-pair-encoding tokenizer training and application — the actual
merge-learning step of tokenizer prep (``build_vocab`` counts terms,
``encode_tokens`` applies a fixed vocabulary; this LEARNS the subword
merges).

Algorithm (canonical BPE, Sennrich et al. 2016 — public):

1. Count whitespace-word frequencies over the corpus — the ONLY pass
   that touches the corpus; everything after iterates on the compact
   word-frequency table (vocabulary-sized, not corpus-sized), which is
   the textbook way BPE training scales: a 100 TB corpus has a bounded
   distinct-word table.
2. Represent each word as a symbol array (initially single characters).
3. K times: count adjacent symbol pairs weighted by word frequency
   (one small aggregation), pick the most frequent pair —
   deterministic tiebreak (count DESC, left ASC, right ASC) — and
   merge its non-overlapping occurrences LEFT-TO-RIGHT in every word
   (greedy, so ``a a a`` + merge(a,a) → ``aa a``).

The merge application is a JVM-side ``aggregate`` fold over the symbol
array (no UDF): the accumulator carries the rebuilt array plus a
pending symbol, emitting merged pairs greedily. Each round is two
small Spark jobs over the word table plus a 1-row argmax collect —
K·O(vocab) work total, corpus touched once.

Driver-oracle split (honest): the corpus-facing stage (word counts →
round-1 pair statistics) is hash-attested against DuckDB in the
``bpe_pairstats`` driver row; the
iterative merge loop is not
SQL-expressible in closed form (per-word greedy sequential collapse),
so it is pinned by pytest against an independent pure-Python reference
implementation (tests/test_bpe.py), the same strategy the streaming
stateful operators use.

No reference counterpart (the reference engine has no tokenizer
vocabulary at all).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_validation_engine_spark.llmops.dedup import tokens_col


def word_frequencies(
    df: DataFrame, text_col: str, *, lowercase: bool = True
) -> DataFrame:
    """The corpus pass: ``(word, freq)`` over whitespace tokens."""
    text = F.col(text_col)
    if lowercase:
        text = F.lower(text)
    return (
        df.select(F.explode(tokens_col(text)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _pair_counts(words: DataFrame) -> DataFrame:
    """Adjacent-pair frequencies over the symbol arrays, weighted by
    word frequency: ``(left, right, count)``. One explode + one agg on
    the word table."""
    # 1-symbol words produce an empty zip — explode drops them, no filter
    pairs = words.select(
        "freq",
        F.explode(
            F.zip_with(
                F.slice(F.col("syms"), 1, F.size("syms") - 1),
                F.slice(F.col("syms"), 2, F.size("syms") - 1),
                lambda a, b: F.struct(a.alias("l"), b.alias("r")),
            )
        ).alias("p"),
    )
    return (
        pairs.select(F.col("p.l").alias("left"),
                     F.col("p.r").alias("right"), "freq")
        .groupBy("left", "right")
        .agg(F.sum("freq").alias("count"))
    )


def _merge_pair(syms: F.Column, left: str, right: str) -> F.Column:
    """Greedy left-to-right non-overlapping merge of (left, right) in a
    symbol array — a single JVM fold.

    Accumulator: ``(out array, pending symbol)``. For each symbol s:
    if pending == left and s == right → append left||right, clear
    pending; else append pending to out, s becomes pending. The final
    pending flushes after the fold.
    """
    merged = F.lit(left + right)
    zero = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(None).cast("string").alias("pend"),
    )

    def step(acc, s):
        hit = acc["pend"].eqNullSafe(F.lit(left)) & (s == F.lit(right))
        return F.when(
            hit,
            F.struct(
                F.concat(acc["out"], F.array(merged)).alias("out"),
                F.lit(None).cast("string").alias("pend"),
            ),
        ).otherwise(
            F.struct(
                F.when(
                    acc["pend"].isNull(), acc["out"]
                ).otherwise(
                    F.concat(acc["out"], F.array(acc["pend"]))
                ).alias("out"),
                s.alias("pend"),
            )
        )

    def finish(acc):
        return F.when(acc["pend"].isNull(), acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["pend"]))
        )

    return F.aggregate(syms, zero, step, finish)


def pair_stats(
    df: DataFrame, text_col: str, *, lowercase: bool = True
) -> DataFrame:
    """Round-1 adjacent-character pair statistics over the corpus —
    ``(left, right, count)`` weighted by word frequency. The
    corpus-facing stage of BPE training exposed on its own: this is
    the part a SQL oracle can replay exactly (the iterative merge loop
    cannot), and a useful corpus diagnostic (character bigram profile)
    in its own right."""
    words = word_frequencies(df, text_col, lowercase=lowercase).select(
        F.split(F.col("word"), "").alias("syms"), "freq"
    )
    return _pair_counts(words)


def bpe_train(
    df: DataFrame,
    text_col: str,
    *,
    n_merges: int,
    lowercase: bool = True,
    return_words: bool = False,
    checkpoint_interval: int = 1,
    loop_partitions: int | None = None,
) -> list[tuple[str, str]] | tuple[list[tuple[str, str]], DataFrame]:
    """Learn ``n_merges`` BPE merges from the corpus; returns the
    ordered merge list ``[(left, right), ...]``.

    Driver traffic per round is ONE row (the argmax pair); the word
    table is cached once and each round's rewrite is a narrow
    projection on it. Rounds stop early if no pair repeats.

    ``checkpoint_interval``: rounds between word-table
    localCheckpoints. Every checkpoint re-materialises the whole word
    table — negligible at test scale (measured flat 1 vs 12 on a 50k-
    word table once the JVM is warm) but the dominant per-round I/O
    when the vocabulary is genuinely large; between checkpoints the
    pending merges ride as chained ``_merge_pair`` expression layers
    (re-evaluated by each round's count agg), so the interval trades
    checkpoint I/O against bounded re-evaluation while keeping the
    constant-plan-size guarantee either way.

    ``return_words=True`` additionally returns the final ``word →
    (subwords, n_subwords)`` table the loop already materialises — the
    production encode path: ``bpe_encode(word_table=...)`` joins tokens
    against it instead of folding K merges into the plan, so encode cost
    is independent of K (at real tokenizer scale, K ≈ 30k chained folds
    would blow whole-stage codegen long before memory).

    ``loop_partitions`` (size iterative rounds to THEIR data, not the
    session default): the merge loop's
    per-round jobs run over the word table, which is VOCABULARY-bounded
    at any corpus scale — a quantity the session's corpus-sized shuffle
    width is wrong for in both directions, and one AQE cannot fix for
    the checkpoint re-materialisations (they are RDD jobs, not SQL
    exchanges). When set, the word table is coalesced to this many
    partitions after the initial count and each round's pair-count
    shuffle is pinned to the same width while it plans (the
    connected-components convention). Results are unchanged — only the
    task count per round moves. Size it to the vocabulary: single
    digits for test corpora, O(vocab rows / 1M) in production.
    """
    if n_merges <= 0:
        raise ValueError("n_merges must be positive")
    if checkpoint_interval <= 0:
        raise ValueError("checkpoint_interval must be positive")
    if loop_partitions is not None and loop_partitions <= 0:
        raise ValueError("loop_partitions must be positive")
    spark = df.sparkSession
    words = word_frequencies(df, text_col, lowercase=lowercase).select(
        "word", F.split(F.col("word"), "").alias("syms"), "freq"
    )
    if loop_partitions is not None:
        words = words.coalesce(loop_partitions)
    words = words.localCheckpoint()
    prev_width = spark.conf.get("spark.sql.shuffle.partitions")
    if loop_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(loop_partitions))
    try:
        merges, words, pending = _bpe_merge_loop(
            words, n_merges, checkpoint_interval
        )
    finally:
        if loop_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev_width)
    if pending and return_words:
        # callers reuse the table across many encode jobs — pin it
        words = words.localCheckpoint()
    if return_words:
        word_table = words.select(
            "word",
            F.concat_ws("▁", "syms").alias("subwords"),
            F.size("syms").cast("long").alias("n_subwords"),
        )
        return merges, word_table
    return merges


def _bpe_merge_loop(
    words: DataFrame, n_merges: int, checkpoint_interval: int
) -> tuple[list[tuple[str, str]], DataFrame, int]:
    """The argmax-merge rounds of :func:`bpe_train` (factored so the
    shuffle-width pin wraps exactly the loop's planning)."""
    merges: list[tuple[str, str]] = []
    pending = 0
    for _ in range(n_merges):
        top = (
            _pair_counts(words)
            .orderBy(F.desc("count"), F.asc("left"), F.asc("right"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["count"] < 2:
            break
        left, right = top[0]["left"], top[0]["right"]
        merges.append((left, right))
        words = words.select(
            "word",
            _merge_pair(F.col("syms"), left, right).alias("syms"),
            "freq",
        )
        pending += 1
        if pending >= checkpoint_interval:
            words = words.localCheckpoint()
            pending = 0
    return merges, words, pending


def bpe_encode(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges: list[tuple[str, str]] | None = None,
    *,
    word_table: DataFrame | None = None,
    broadcast_words: bool = True,
    lowercase: bool = True,
) -> DataFrame:
    """Apply a learned tokenizer to every document: ``(id, n_words,
    n_subwords, subwords_csv)`` with each word collapsed by the merges
    in training order (greedy per rule, canonical BPE application).

    Two application paths, identical results on trained vocabulary
    (pytest-pinned, tests/test_round9.py):

    - ``merges=[...]`` — the FOLD path: the merge list is a driver-side
      constant folded into the plan as K chained JVM ``aggregate``
      folds per word. Exact for ANY word (seen or unseen), but the
      expression tree grows with K — at production vocab sizes
      (K ≈ 30k) it blows whole-stage codegen (the Janino 64KB wall)
      long before memory. Keep K modest on this path.
    - ``word_table=...`` — the JOIN path (production): tokens join the
      ``word → subwords`` table ``bpe_train(return_words=True)``
      already materialised. Plan size is INDEPENDENT of K; the table is
      vocabulary-sized (bounded distinct words even at 100 TB), so it
      broadcasts (``broadcast_words=False`` for a shuffle join if a
      pathological vocabulary exceeds broadcast limits). Words absent
      from the table (encode corpus ≠ train corpus) fall back to
      character-level symbols — the documented OOV policy; re-train or
      extend the table to cover them with merges applied.

    Per-row projection, zero shuffle except the final doc regroup (and
    the word join on the join path).
    """
    if (merges is None) == (word_table is None):
        raise ValueError("pass exactly one of merges / word_table")
    text = F.col(text_col)
    if lowercase:
        text = F.lower(text)
    toks = df.select(
        F.col(id_col),
        F.posexplode(tokens_col(text)).alias("__pos", "word"),
    )
    if word_table is not None:
        wt = word_table.select("word", "subwords", "n_subwords")
        if broadcast_words:
            wt = F.broadcast(wt)
        chars = F.split(F.col("word"), "")
        per_word = toks.join(wt, "word", "left").select(
            F.col(id_col),
            "__pos",
            F.coalesce(
                F.col("subwords"), F.concat_ws("\u2581", chars)
            ).alias("__sub"),
            F.coalesce(
                F.col("n_subwords"), F.size(chars).cast("long")
            ).alias("__n"),
        )
    else:
        syms = F.split(F.col("word"), "")
        for left, right in merges:
            syms = _merge_pair(syms, left, right)
        per_word = toks.select(
            F.col(id_col),
            "__pos",
            F.concat_ws("\u2581", syms).alias("__sub"),
            F.size(syms).cast("long").alias("__n"),
        )
    return per_word.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("__n").alias("n_subwords"),
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list(F.struct("__pos", "__sub"))),
                lambda s: s["__sub"],
            ),
        ).alias("subwords_csv"),
    )


def bpe_decode(
    df: DataFrame,
    subwords_col: str = "subwords_csv",
    out_col: str = "decoded",
) -> DataFrame:
    """Inverse of :func:`bpe_encode`'s rendering: strip the intra-word
    joiner (U+2581, the sentencepiece-style visible space) so subwords
    fuse back into words; the inter-word single spaces survive. Exact
    round-trip property (pytest-pinned): ``decode(encode(t)) ==
    concat_ws(' ', whitespace_tokens(lower(t)))`` — BPE segmentation is
    lossless by construction, whatever merge list produced it. Zero
    shuffle, one per-row projection."""
    return df.withColumn(
        out_col, F.regexp_replace(F.col(subwords_col), "▁", "")
    )
