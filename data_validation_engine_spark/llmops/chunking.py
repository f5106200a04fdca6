"""Sequence preparation for training: token-window chunking and
greedy contiguous sequence packing.

Two operators every pre-training data pipeline runs between "clean
corpus" and "token shards" (public method — standard concat-and-split /
fixed-window practice, e.g. the GPT/T5 packing recipes). No reference
counterpart: the reference has no corpus surface.

Scale shape:
- :func:`chunk_documents` is one per-row projection + ``posexplode`` —
  zero shuffle at any corpus size.
- :func:`pack_sequences` needs a running token total, which is a global
  sort in the naive formulation. Instead documents are sharded into
  ``n_shards`` deterministic md5 buckets and packed independently per
  shard (one narrow shuffle, each shard's cumulative sum is an ordinary
  partitioned window) — exactly how production packers parallelise,
  since shard-local contiguity is all that matters for training.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_validation_engine_spark.llmops.dedup import tokens_col
from data_validation_engine_spark.llmops.split import hash_bucket


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    chunk_tokens: int = 256,
    overlap: int = 0,
) -> DataFrame:
    """Split each document into token windows of ``chunk_tokens`` words
    with ``overlap`` tokens of context carried between windows.

    Returns ``(id, chunk_idx, chunk_text, n_chunk_tokens)`` — one row per
    window, ``chunk_idx`` counting from 0 in stride order. Window starts
    step by ``chunk_tokens - overlap``; every start strictly inside the
    document emits a window, so the tail window may be short. Documents
    with zero tokens emit zero rows.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    step = chunk_tokens - overlap
    toks = tokens_col(F.col(text_col))
    n = F.size(toks)
    starts = F.when(n > 0, F.sequence(F.lit(0), n - 1, F.lit(step))).otherwise(
        F.array().cast("array<int>")
    )
    chunks = F.transform(
        starts, lambda s: F.concat_ws(" ", F.slice(toks, s + 1, chunk_tokens))
    )
    out = df.select(
        F.col(id_col),
        n.alias("__n"),
        F.posexplode(chunks).alias("chunk_idx", "chunk_text"),
    )
    # token count by integer arithmetic (the slice length), not a second
    # regex pass over every chunk's text
    return out.select(
        id_col,
        "chunk_idx",
        "chunk_text",
        F.least(
            F.lit(chunk_tokens), F.col("__n") - F.col("chunk_idx") * step
        ).alias("n_chunk_tokens"),
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    capacity: int = 2048,
    n_shards: int = 64,
    seed: str = "",
) -> DataFrame:
    """Greedy contiguous packing: assign each document to a fixed-capacity
    token pack.

    Documents are sharded by ``md5(seed || id) % n_shards`` and packed
    independently per shard in ascending id order (deterministic across
    engines and repartitions). Within a shard, a document starting at
    running-token-offset ``s`` lands in ``pack_idx = s // capacity`` at
    ``pack_offset = s % capacity`` — the concat-and-split rule, where a
    document longer than the remaining pack space spills into the next
    pack rather than being reordered. Integer arithmetic only, so the
    DuckDB oracle is bit-exact.

    Returns ``(id, n_tokens, shard, pack_idx, pack_offset)``.
    """
    if capacity <= 0 or n_shards <= 0:
        raise ValueError("capacity and n_shards must be positive")
    shard = (hash_bucket(F.col(id_col), seed=seed) % n_shards).alias("shard")
    base = df.select(
        F.col(id_col),
        F.size(tokens_col(F.col(text_col))).alias("n_tokens"),
        shard,
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("__start")
    return base.select(
        id_col, "n_tokens", "shard", start
    ).select(
        id_col,
        "n_tokens",
        "shard",
        # integer `div`, not float-divide-then-truncate: exact at any offset
        F.expr(f"__start div {capacity}").alias("pack_idx"),
        (F.col("__start") % capacity).alias("pack_offset"),
    )


def bucket_by_length(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    batch_size: int,
    bucket_edges: list[int] | None = None,
    n_shards: int = 64,
    seed: str = "",
) -> DataFrame:
    """Length-bucketed batch construction: group similar-length
    documents into fixed-count training batches so per-batch padding
    (to the batch max) stays small — the standard dynamic-padding prep.

    Documents land in the bucket of the first edge >= their token count
    (``bucket_edges`` ascending; an implicit +inf bucket catches the
    tail), are sharded ``md5(seed || id) % n_shards`` WITHIN the bucket
    (a length bucket concentrates a large corpus slice onto one key —
    the same hot-key hazard pack_sequences shards away), and batch by
    ascending id inside (bucket, shard): ``batch_idx = (row_number - 1)
    DIV batch_size``. Per-row ``pad_waste = batch max - n_tokens`` comes
    from a second window over the SAME partitioning (no extra shuffle).
    Integer arithmetic only — bit-exact cross-engine.

    Returns ``(id, n_tokens, bucket, shard, batch_idx, pad_waste)``.
    """
    if batch_size <= 0 or n_shards <= 0:
        raise ValueError("batch_size and n_shards must be positive")
    edges = sorted(int(e) for e in (bucket_edges or [64, 256, 1024]))
    if any(e <= 0 for e in edges):
        raise ValueError("bucket_edges must be positive")
    n_tok = F.size(tokens_col(F.col(text_col)))
    bucket = F.lit(len(edges))  # +inf tail bucket
    for i, e in reversed(list(enumerate(edges))):
        bucket = F.when(n_tok <= e, F.lit(i)).otherwise(bucket)
    shard = (hash_bucket(F.col(id_col), seed=seed) % n_shards).alias(
        "shard"
    )
    base = df.select(
        F.col(id_col), n_tok.alias("n_tokens"), bucket.alias("bucket"),
        shard,
    )
    w = Window.partitionBy("bucket", "shard").orderBy(id_col)
    batched = (
        base.withColumn("__rn0", F.row_number().over(w) - 1)
        # integral DIV (repo convention): no float-divide-then-truncate
        .withColumn(
            "batch_idx", F.expr(f"__rn0 DIV {int(batch_size)}")
        )
        .drop("__rn0")
    )
    wb = Window.partitionBy("bucket", "shard", "batch_idx")
    return batched.withColumn(
        "pad_waste", F.max("n_tokens").over(wb) - F.col("n_tokens")
    )


def materialize_packs(
    df: DataFrame,
    id_col: str,
    ids_col: str,
    *,
    capacity: int = 2048,
    n_shards: int = 64,
    seed: str = "",
    pad_id: int | None = None,
    eod_id: int | None = None,
) -> DataFrame:
    """Materialize :func:`pack_sequences`-style packing into
    trainer-ready rows: one row per (shard, pack) holding the
    concatenated token ids and the span table that tells the trainer
    where each document sits (for per-document attention masking /
    loss boundaries).

    ``ids_col`` is the token-id sequence per document —
    ``array<int>`` or a comma-joined string (``encode_tokens``'
    ``ids_csv``). Documents shard and order exactly as
    :func:`pack_sequences` (md5 shard, ascending id), so the two
    operators agree row-for-row; here a document whose tokens cross a
    pack boundary is actually SPLIT, its tail spilling into the next
    pack — the concat-and-split rule materialized.

    Returns ``(shard, pack_idx, n_docs, n_tokens, input_ids,
    doc_spans)`` where ``doc_spans`` is ``array<struct<id, start,
    len>>`` (offsets within the pack, span order = concatenation
    order) and every pack except each shard's last holds exactly
    ``capacity`` tokens. ``pad_id`` right-pads the final short pack
    (``n_tokens`` keeps the real count so the pad is recoverable).
    ``eod_id`` appends an end-of-document token to every document
    BEFORE packing (the standard pretraining separator) — each doc's
    span then covers its ids plus the trailing EOD, and the packing
    arithmetic simply sees length ``n + 1``.

    Scale shape: the per-shard cumulative window of
    :func:`pack_sequences`, one explode bounded by
    ``total_tokens/capacity + n_docs`` rows, one (shard, pack) group
    whose payload is bounded by ``capacity`` ids — no row ever holds
    more than one pack.
    """
    if capacity <= 0 or n_shards <= 0:
        raise ValueError("capacity and n_shards must be positive")
    ids = F.col(ids_col)
    if dict(df.dtypes)[ids_col] == "string":
        # only the blank-document artifact is filtered ('' splits to
        # ['']); any other non-numeric token hard-fails the ANSI cast —
        # silently shortening a training sequence would shift every doc
        # span after it (loud-corruption convention, like parse_json's
        # is_valid flag)
        ids = F.transform(
            F.filter(F.split(ids, ","), lambda s: s != ""),
            lambda s: s.cast("int"),
        )
    if eod_id is not None:
        # appended per NON-EMPTY doc before placement; empty docs stay
        # empty (no phantom EOD-only rows)
        ids = F.when(
            F.size(ids) > 0,
            F.concat(ids, F.array(F.lit(int(eod_id)).cast("int"))),
        ).otherwise(ids)
    shard = (hash_bucket(F.col(id_col), seed=seed) % n_shards).alias(
        "shard"
    )
    base = df.select(
        F.col(id_col), ids.alias("__ids"), shard
    ).withColumn("__n", F.size("__ids")).where(F.col("__n") > 0)
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = (F.sum("__n").over(w) - F.col("__n")).alias("__start")
    placed = base.select(id_col, "__ids", "__n", "shard", start)
    cap = F.lit(int(capacity))
    packs = F.sequence(
        F.expr(f"__start div {capacity}"),
        F.expr(f"(__start + __n - 1) div {capacity}"),
    )
    pieces = placed.select(
        id_col,
        "__ids",
        "__n",
        "shard",
        "__start",
        F.explode(packs).alias("pack_idx"),
    ).select(
        id_col,
        "shard",
        "pack_idx",
        # this doc's slice that lands in this pack, and where
        F.greatest(F.col("__start"), F.col("pack_idx") * cap).alias(
            "__abs_from"
        ),
        F.least(
            F.col("__start") + F.col("__n"),
            (F.col("pack_idx") + 1) * cap,
        ).alias("__abs_to"),
        "__ids",
        "__start",
    )
    sliced = pieces.select(
        id_col,
        "shard",
        "pack_idx",
        (F.col("__abs_from") - F.col("pack_idx") * cap).alias("__local"),
        F.slice(
            F.col("__ids"),
            (F.col("__abs_from") - F.col("__start") + 1).cast("int"),
            (F.col("__abs_to") - F.col("__abs_from")).cast("int"),
        ).alias("__piece"),
    )
    grouped = sliced.groupBy("shard", "pack_idx").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("__local").cast("long").alias("start"),
                    F.col(id_col).alias("id"),
                    F.col("__piece").alias("piece"),
                )
            )
        ).alias("__parts")
    )
    input_ids = F.flatten(
        F.transform(F.col("__parts"), lambda p: p["piece"])
    )
    out = grouped.select(
        "shard",
        "pack_idx",
        F.size("__parts").cast("long").alias("n_docs"),
        F.size(input_ids).cast("long").alias("n_tokens"),
        input_ids.alias("input_ids"),
        F.transform(
            F.col("__parts"),
            lambda p: F.struct(
                p["id"].alias("id"),
                p["start"].alias("start"),
                F.size(p["piece"]).cast("long").alias("len"),
            ),
        ).alias("doc_spans"),
    )
    if pad_id is not None:
        pad = F.array_repeat(
            F.lit(int(pad_id)).cast("int"),
            (cap - F.col("n_tokens")).cast("int"),
        )
        out = out.withColumn(
            "input_ids", F.concat(F.col("input_ids"), pad)
        )
    return out


def chunk_by_sentences(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_tokens: int,
    overlap_sentences: int = 0,
    min_chars: int = 1,
) -> DataFrame:
    """Sentence-aware chunking: pack CONSECUTIVE sentences greedily into
    chunks of at most ``max_tokens`` whitespace tokens — the RAG/eval
    prep that :func:`chunk_documents`'s fixed token windows can't give
    (a fixed window cuts mid-sentence; retrieval quality wants chunk
    boundaries on sentence boundaries — the standard public recipe,
    e.g. LangChain/LlamaIndex sentence splitters).

    Greedy rule: a sentence joins the current chunk unless that would
    exceed ``max_tokens`` and the chunk already has content; a single
    sentence longer than ``max_tokens`` gets its own (oversized) chunk
    rather than being dropped or cut — loud-data convention, the caller
    filters on ``n_tokens`` if hard caps matter. ``overlap_sentences``
    prepends the last k sentences of the previous chunk to each
    subsequent chunk (retrieval context stitching); overlap text is
    included in ``text`` but NOT in ``n_tokens``/``n_sentences`` (which
    describe the chunk's OWN sentences, keeping token accounting
    disjoint across chunks).

    Returns one row per chunk: ``(id_col, chunk_idx, text, n_sentences,
    n_tokens)``.

    Scale shape: sentence segmentation, the greedy fold, and chunk
    reassembly are all per-row higher-order functions over the
    document's own sentence array (state bounded by document size) —
    zero shuffle at any corpus size, same class as
    :func:`chunk_documents`. The reassembly's filter-per-chunk is
    O(n_chunks · n_sentences) per document — bounded by doc size,
    never corpus size.
    """
    if max_tokens <= 0:
        raise ValueError(f"max_tokens must be positive, got {max_tokens}")
    if overlap_sentences < 0:
        raise ValueError(
            f"overlap_sentences must be >= 0, got {overlap_sentences}"
        )
    # sentence split: same boundary as paragraphs.split_sentences,
    # inlined as a column expression so the whole operator stays one
    # projection (split_sentences returns an exploded frame)
    boundary = r"(?<=[.!?][\"'\)\]]?)\s+(?=[\"'\(\[]?[A-Z0-9])"
    trimmed = F.trim(F.coalesce(F.col(text_col), F.lit("")))
    sents = F.filter(
        F.transform(
            F.when(trimmed == "", F.array().cast("array<string>"))
            .otherwise(F.split(trimmed, boundary)),
            lambda s: F.trim(s),
        ),
        lambda s: F.length(s) >= int(min_chars),
    )
    # greedy fold: acc = (next chunk idx, tokens in open chunk,
    # array<struct<ci, pos, sent, t>>)
    elem_t = "array<struct<ci:int,pos:int,sent:string,t:int>>"
    zero = F.struct(
        F.lit(0).alias("ci"),
        F.lit(0).alias("cur"),
        F.expr(f"CAST(array() AS {elem_t})").alias("out"),
    )

    def _step(acc, s):
        t = F.size(F.split(s, r"\s+"))
        opens_new = (acc["cur"] > 0) & (acc["cur"] + t > max_tokens)
        ci = F.when(opens_new, acc["ci"] + 1).otherwise(acc["ci"])
        return F.struct(
            ci.alias("ci"),
            F.when(opens_new, t).otherwise(acc["cur"] + t).alias("cur"),
            F.concat(
                acc["out"],
                F.array(
                    F.struct(
                        ci.alias("ci"),
                        F.size(acc["out"]).alias("pos"),
                        s.alias("sent"),
                        t.alias("t"),
                    )
                ),
            ).alias("out"),
        )

    staged = df.select(
        F.col(id_col), F.aggregate(sents, zero, _step)["out"].alias("__a")
    )
    a = F.col("__a")
    n_chunks = F.when(F.size(a) > 0, F.element_at(a, -1)["ci"] + 1).otherwise(
        F.lit(0)
    )
    ov = int(overlap_sentences)

    def _chunk(ci):
        own = F.filter(a, lambda e: e["ci"] == ci)
        first_pos = F.element_at(own, 1)["pos"]
        lead = F.filter(
            a,
            lambda e: (e["pos"] >= first_pos - ov) & (e["pos"] < first_pos),
        )
        text = F.concat_ws(
            " ", F.transform(F.concat(lead, own), lambda e: e["sent"])
        )
        n_tok = F.aggregate(
            own, F.lit(0), lambda acc2, e: acc2 + e["t"]
        )
        return F.struct(
            ci.alias("chunk_idx"),
            text.alias("text"),
            F.size(own).alias("n_sentences"),
            n_tok.alias("n_tokens"),
        )

    chunks = F.transform(F.sequence(F.lit(0), n_chunks - 1), _chunk)
    exploded = staged.select(
        F.col(id_col),
        F.explode(
            F.when(n_chunks > 0, chunks).otherwise(
                F.expr(
                    "CAST(array() AS array<struct<chunk_idx:int,"
                    "text:string,n_sentences:int,n_tokens:int>>)"
                )
            )
        ).alias("__c"),
    )
    return exploded.select(
        F.col(id_col),
        F.col("__c.chunk_idx").alias("chunk_idx"),
        F.col("__c.text").alias("text"),
        F.col("__c.n_sentences").alias("n_sentences"),
        F.col("__c.n_tokens").alias("n_tokens"),
    )


def chunk_by_content(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    target_tokens: int = 256,
    min_tokens: int | None = None,
    max_tokens: int | None = None,
    gram: int = 8,
    seed: str = "",
) -> DataFrame:
    """Content-defined chunking: split each document at positions where
    a rolling window hash hits a divisor condition (the LBFS/rsync/
    FastCDC recipe, re-expressed over word tokens).

    Returns ``(id, chunk_idx, chunk_text, n_chunk_tokens)``. A position
    ``i`` is a candidate boundary when the md5-60-bit hash of the
    ``gram`` tokens ending at ``i`` satisfies ``h % target_tokens == 0``
    — so chunk length is geometric with mean ``target_tokens``, clamped
    to ``[min_tokens, max_tokens]`` (defaults ``target/4`` and
    ``target*4``; a boundary closer than ``min`` is skipped, a run
    longer than ``max`` is force-cut, as in FastCDC's normalization).

    Why not :func:`chunk_documents`? Fixed windows shift EVERY
    downstream chunk when one token is inserted — after any edit, every
    chunk hash changes and chunk-level dedup sees an entirely new
    document. Content-defined boundaries depend only on the local
    ``gram``-token window, so an edit disturbs at most the chunks it
    touches plus one: all later chunks realign and their hashes dedup
    against the unedited twin. That is the property that makes
    chunk-level dedup of near-identical crawl snapshots work at 100 TB.

    Scale shape: hashes, the boundary fold, and the chunk slices are
    all per-row JVM expressions — zero shuffle, no Python, fold state
    bounded by ``n/min_tokens`` ints. Hashes are the engine-portable
    md5 prefix (same family as the dedup shingles), so two engines
    derive identical boundaries.
    """
    if target_tokens < 2:
        raise ValueError("target_tokens must be >= 2")
    lo = target_tokens // 4 if min_tokens is None else min_tokens
    hi = target_tokens * 4 if max_tokens is None else max_tokens
    if not 1 <= lo <= hi:
        raise ValueError("need 1 <= min_tokens <= max_tokens")
    if gram < 1:
        raise ValueError("gram must be >= 1")
    toks = tokens_col(F.col(text_col))
    n = F.size(toks)

    # rolling hash at position i (1-indexed): md5 of the up-to-gram
    # tokens ending at i (space-joined: tokens hold no whitespace, so
    # the join is boundary-unambiguous); candidate iff h % target == 0
    def _cand(i: Column) -> Column:
        start = F.greatest(i - F.lit(gram - 1), F.lit(1))
        window = F.slice(toks, start, i - start + 1)
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(f"{seed}|cdc|"), F.concat_ws(" ", window)
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")  # 60-bit value: long, not decimal
        return (h % F.lit(target_tokens)) == 0

    cand = F.when(
        n > 0, F.transform(F.sequence(F.lit(1), n), _cand)
    ).otherwise(F.array().cast("array<boolean>"))

    staged = df.select(
        F.col(id_col), toks.alias("__toks"), cand.alias("__cand")
    )
    toks_c = F.col("__toks")
    n_c = F.size(toks_c)

    # left fold over positions: acc = ascending cut positions, acc[-1]
    # the last cut; min skips early candidates, max forces a cut
    cuts = F.aggregate(
        F.sequence(F.lit(1), n_c),
        F.array(F.lit(0)),
        lambda acc, i: F.when(
            (i - F.element_at(acc, -1) >= hi)
            | (
                F.element_at(F.col("__cand"), i)
                & (i - F.element_at(acc, -1) >= lo)
            ),
            F.concat(acc, F.array(i)),
        ).otherwise(acc),
        lambda acc: F.when(
            F.element_at(acc, -1) == n_c, acc
        ).otherwise(F.concat(acc, F.array(n_c))),
    )
    staged = staged.where(n_c > 0).withColumn("__cuts", cuts)

    def _chunk(j: Column) -> Column:
        a = F.element_at(F.col("__cuts"), j)
        b = F.element_at(F.col("__cuts"), j + 1)
        return F.struct(
            F.concat_ws(" ", F.slice(toks_c, a + 1, b - a)).alias("text"),
            (b - a).alias("n"),
        )

    chunks = F.transform(
        F.sequence(F.lit(1), F.size(F.col("__cuts")) - 1), _chunk
    )
    return staged.select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_idx", "__c")
    ).select(
        id_col,
        "chunk_idx",
        F.col("__c.text").alias("chunk_text"),
        F.col("__c.n").alias("n_chunk_tokens"),
    )
