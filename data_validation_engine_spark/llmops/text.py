"""Text-analysis operators over document tables.

All per-row (no shuffle) except TF-IDF, whose shuffles are the irreducible
term aggregations; everything is JVM Column expressions with exact SQL
oracles. Ratios divide doubles; rankings order on integer/string keys only
(tf, df, term) so cross-engine float rounding can never flip a rank.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_validation_engine_spark.llmops.dedup import tokens_col

#: BPE-ish tokeniser: letter runs, digit runs, single punctuation marks.
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

#: Punctuation-ish: anything not alphanumeric or whitespace.
PUNCT_RE = r"[^A-Za-z0-9\s]"

# Deterministic mini stopword lists for the language-ID vote. Public,
# dictionary-head words only.
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "that", "it", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "una", "los", "por"],
    "de": ["der", "die", "das", "und", "ist", "ein", "eine", "von", "zu", "mit"],
    "fr": ["le", "la", "les", "de", "et", "un", "une", "que", "pour", "dans"],
}

#: CJK unified ideographs — presence short-circuits the vote to 'zh'.
CJK_RE_JAVA = "[\\u4e00-\\u9fff]"


def token_count_bpe(text: Column) -> Column:
    """Token count under the BPE-ish regex tokeniser."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), F.lit(0)))


def _stopword_hits(toks: Column, words: list[str]) -> Column:
    return F.size(F.filter(toks, lambda t: F.lower(t).isin(words)))


def text_stats(
    df: DataFrame, id_col: str, text_col: str, *, round_to: int = 4
) -> DataFrame:
    """Per-document quality statistics + a simple quality gate.

    Columns: n_chars, n_tokens (whitespace), n_bpe_tokens, avg_token_len,
    punct_ratio, stopword_ratio, quality_ok. One projection per row — no
    shuffle, filters push to the scan.
    """
    text = F.col(text_col)
    toks = tokens_col(text)
    n_chars = F.length(text)
    n_tokens = F.size(toks)
    # sum of token lengths == count of non-whitespace chars (tokens are the
    # non-whitespace runs) — lambda-free, same value as a fold over lengths
    sum_tok_len = F.length(F.regexp_replace(text, r"\s+", ""))
    avg_token_len = F.round(
        sum_tok_len.cast("double") / n_tokens.cast("double"), round_to
    )
    n_punct = F.size(F.regexp_extract_all(text, F.lit(PUNCT_RE), F.lit(0)))
    punct_ratio = F.round(
        n_punct.cast("double") / n_chars.cast("double"), round_to
    )
    stop_hits = _stopword_hits(toks, STOPWORDS["en"])
    stopword_ratio = F.round(
        stop_hits.cast("double") / n_tokens.cast("double"), round_to
    )
    quality_ok = (
        n_tokens.between(5, 5000)
        & avg_token_len.between(2.0, 15.0)
        & (punct_ratio < 0.2)
    )
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        token_count_bpe(text).alias("n_bpe_tokens"),
        avg_token_len.alias("avg_token_len"),
        punct_ratio.alias("punct_ratio"),
        stopword_ratio.alias("stopword_ratio"),
        quality_ok.alias("quality_ok"),
    )


def language_id(
    df: DataFrame, id_col: str, text_col: str, *, out_col: str = "lang_pred"
) -> DataFrame:
    """Heuristic language ID: CJK charset check, then a stopword vote.

    Ties break in fixed priority (en > es > de > fr); zero hits => 'und'.
    Per-row expression only.
    """
    text = F.col(text_col)
    toks = tokens_col(text)
    hits = {
        lang: _stopword_hits(toks, words) for lang, words in STOPWORDS.items()
    }
    best = F.greatest(*hits.values())
    vote = (
        F.when(hits["en"] == best, F.lit("en"))
        .when(hits["es"] == best, F.lit("es"))
        .when(hits["de"] == best, F.lit("de"))
        .otherwise(F.lit("fr"))
    )
    pred = (
        F.when(text.rlike(CJK_RE_JAVA), F.lit("zh"))
        .when(best == 0, F.lit("und"))
        .otherwise(vote)
    )
    return df.select(F.col(id_col), pred.alias(out_col))


def quality_filters(
    entity_name: str,
    text_col: str = "text",
    *,
    min_tokens: int = 5,
    max_tokens: int = 5000,
    max_punct_ratio: float = 0.2,
    min_avg_token_len: float = 2.0,
    max_avg_token_len: float = 15.0,
) -> list:
    """Document-quality gates as DeferredFilters for the sync-filter stage.

    This is how llmops quality control plugs into the engine proper: each
    gate is an ordinary deferred filter (validate-all-then-drop, message per
    failing doc with its own error code), so a corpus-cleaning pass is just
    ``apply_sync_filters(entities, quality_filters("documents"))`` and the
    failures land in the standard error feed. Expressions are plain Spark
    SQL (no lambdas) so they fuse into one scan with any other filters.
    """
    from data_validation_engine_spark.messages import Reporting
    from data_validation_engine_spark.steps.configs import DeferredFilter

    t = text_col
    n_tokens = f"size(split(trim({t}), '\\\\s+'))"
    punct = f"size(regexp_extract_all({t}, '[^A-Za-z0-9\\\\s]', 0))"
    avg_len = f"(length(regexp_replace({t}, '\\\\s+', '')) / {n_tokens})"
    return [
        DeferredFilter(
            entity_name=entity_name,
            expression=f"{n_tokens} BETWEEN {min_tokens} AND {max_tokens}",
            reporting=Reporting(
                code="BAD_TOKEN_COUNT",
                message=f"document outside [{min_tokens}, {max_tokens}] tokens",
            ),
        ),
        DeferredFilter(
            entity_name=entity_name,
            expression=(
                f"{punct} / length({t}) < {max_punct_ratio}"
            ),
            reporting=Reporting(
                code="TOO_MUCH_PUNCTUATION",
                message=f"punctuation ratio >= {max_punct_ratio}",
            ),
        ),
        DeferredFilter(
            entity_name=entity_name,
            expression=(
                f"{avg_len} BETWEEN {min_avg_token_len} AND {max_avg_token_len}"
            ),
            reporting=Reporting(
                code="BAD_AVG_TOKEN_LEN",
                message="average token length out of range",
            ),
        ),
    ]


def repetition_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_top_token_frac: float = 0.2,
    max_dup_bigram_frac: float = 0.6,
    round_to: int = 6,
) -> DataFrame:
    """Per-document repetition signals (Gopher-style quality heuristics).

    Columns: ``n_tokens``, ``top_token_frac`` (count of the most frequent
    token / total tokens — the "most common word" signal), ``dup_bigram_frac``
    and ``dup_trigram_frac`` (1 - distinct/total word n-grams — the
    duplicated-n-gram signal), and a boolean ``repetitive`` gate.

    Scale shape: the n-gram fractions are pure per-row array expressions
    (zero shuffle); the token mode is computed the distributed way —
    explode → (id, token) count → per-id max — because a per-row
    nested-lambda mode is O(distinct·n) per document and melts on real
    corpora. Both aggregations combine map-side, keyed by the doc id, so
    the plan is two narrow hash aggregates at any corpus size. No
    reference counterpart (the reference has no corpus-quality surface);
    heuristics follow Rae et al. 2021 (Gopher), public.
    """
    text = F.col(text_col)
    toks = tokens_col(text)
    n_tokens = F.size(toks)

    def dup_frac(n: int) -> Column:
        grams = F.transform(
            F.sequence(F.lit(0), n_tokens - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
        total = n_tokens - (n - 1)
        return F.when(
            n_tokens >= n,
            F.round(
                1.0
                - F.size(F.array_distinct(grams)).cast("double")
                / total.cast("double"),
                round_to,
            ),
        ).otherwise(F.lit(0.0))

    per_row = df.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        dup_frac(2).alias("dup_bigram_frac"),
        dup_frac(3).alias("dup_trigram_frac"),
    )
    counts = (
        df.select(F.col(id_col), F.explode(toks).alias("__tok"))
        .groupBy(id_col, "__tok")
        .agg(F.count(F.lit(1)).alias("__c"))
        .groupBy(id_col)
        .agg(F.max("__c").alias("__top"), F.sum("__c").alias("__n"))
        .select(
            F.col(id_col),
            F.round(
                F.col("__top").cast("double") / F.col("__n").cast("double"),
                round_to,
            ).alias("top_token_frac"),
        )
    )
    # left join: zero-token docs have no exploded rows; they are not
    # repetitive by definition
    out = per_row.join(counts, id_col, "left").withColumn(
        "top_token_frac", F.coalesce(F.col("top_token_frac"), F.lit(0.0))
    )
    return out.withColumn(
        "repetitive",
        (F.col("top_token_frac") > max_top_token_frac)
        | (F.col("dup_bigram_frac") > max_dup_bigram_frac),
    )


#: PII patterns — conservative syntax valid in both Java regex (Spark) and
#: RE2 (DuckDB): no backrefs, no lookaround, no \b.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_LONGNUM_RE = r"[0-9]{13,19}"
PII_IPV4_RE = r"([0-9]{1,3}\.){3}[0-9]{1,3}"


def pii_scrub(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    out_col: str = "clean",
) -> DataFrame:
    """Redact common PII shapes from a text column.

    Replaces emails with ``<EMAIL>``, 13-19 digit runs (card-like) with
    ``<NUM>``, then IPv4-like dotted quads with ``<IP>``, in that order
    (emails are matched before their digit substrings can be). Returns
    ``(id, n_emails, n_longnums, n_ips, out_col)`` with the per-row match
    counts taken before replacement. One per-row projection — zero
    shuffle, pushes beneath any downstream filter. No reference
    counterpart; standard training-data-hygiene pass.
    """
    text = F.coalesce(F.col(text_col), F.lit(""))

    def n_hits(pat: str, col: Column) -> Column:
        return F.size(F.regexp_extract_all(col, F.lit(pat), F.lit(0)))

    after_email = F.regexp_replace(text, PII_EMAIL_RE, "<EMAIL>")
    after_num = F.regexp_replace(after_email, PII_LONGNUM_RE, "<NUM>")
    after_ip = F.regexp_replace(after_num, PII_IPV4_RE, "<IP>")
    return df.select(
        F.col(id_col),
        n_hits(PII_EMAIL_RE, text).alias("n_emails"),
        n_hits(PII_LONGNUM_RE, after_email).alias("n_longnums"),
        n_hits(PII_IPV4_RE, after_num).alias("n_ips"),
        after_ip.alias(out_col),
    )


def term_frequencies(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Per-document term frequencies: ``(id, term, tf)``.

    The shared base of the corpus-term family: :func:`tfidf_top_terms`,
    :func:`build_vocab` and :func:`build_postings` each start from
    exactly this tokenize → explode → (id, term) count — computing it
    once and passing it via their ``tf=`` parameter removes two of the
    three corpus tokenization passes and their first-level shuffles.
    One (id, term)-keyed aggregation with map-side partial counts.
    """
    return (
        df.select(
            F.col(id_col),
            F.explode(tokens_col(F.col(text_col))).alias("term"),
        )
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    top_n: int = 1,
    round_to: int = 6,
    tf: DataFrame | None = None,
) -> DataFrame:
    """Top TF-IDF terms per document.

    Returns ``(id, term, tf, df, n_docs, tfidf)`` for the ``top_n`` terms
    per doc. Rank order is (tf desc, df asc, term asc) — integers and
    strings only, so ranking is engine-exact; the float tfidf is reported,
    not ranked on. ``(tf, df, n_docs)`` are the exact rational inputs the
    tfidf value derives from — cross-engine comparisons should pin those
    integers, not the float (``ln`` is not IEEE-correctly-rounded, so
    JVM vs libm can differ by 1 ulp and flip a rounded decimal).
    Shuffles: one per term aggregation (tf, document frequency) — the
    irreducible cost of TF-IDF; doc count joins in via broadcast.
    ``top_n=1`` (the common "label each doc" call) replaces the ranking
    window with a ``min_by`` aggregation over the identical total order
    — one map-side-combining agg instead of a doc-keyed shuffle + full
    per-partition sort; the ordering struct is unique per doc
    (terms are distinct after the tf aggregation), so the argmin is
    deterministic and the rows are exactly the window path's.
    ``tf`` accepts a precomputed :func:`term_frequencies` frame so one
    tokenization pass can feed the whole corpus-term family.
    """
    if tf is None:
        tf = term_frequencies(df, id_col, text_col)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    ndocs = df.agg(F.count(F.lit(1)).alias("__n"))

    scored = tf.join(dfreq, on="term", how="inner")
    if top_n == 1:
        best = scored.groupBy(id_col).agg(
            F.min_by(
                F.struct("term", "tf", "df"),
                # (tf desc, df asc, term asc) as a single ascending key
                F.struct(
                    (-F.col("tf")).alias("ntf"), F.col("df"), F.col("term")
                ),
            ).alias("__b")
        ).select(id_col, "__b.term", "__b.tf", "__b.df")
        return best.crossJoin(F.broadcast(ndocs)).select(
            id_col,
            "term",
            "tf",
            "df",
            F.col("__n").alias("n_docs"),
            F.round(
                F.col("tf")
                * F.log(
                    F.col("__n").cast("double") / F.col("df").cast("double")
                ),
                round_to,
            ).alias("tfidf"),
        )

    w = Window.partitionBy(id_col).orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc()
    )
    return (
        scored
        .crossJoin(F.broadcast(ndocs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.log(F.col("__n").cast("double") / F.col("df").cast("double")),
                round_to,
            ),
        )
        .withColumn("__rank", F.row_number().over(w))
        .where(F.col("__rank") <= top_n)
        .select(
            id_col, "term", "tf", "df", F.col("__n").alias("n_docs"), "tfidf"
        )
    )


def build_vocab(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_count: int = 1,
    min_doc_freq: int = 1,
    tf: DataFrame | None = None,
) -> DataFrame:
    """Corpus vocabulary: ``(term, count, doc_freq)`` with frequency floors.

    The tokenizer-training prep table (BPE/unigram vocab seeding): total
    occurrences and document frequency per whitespace token, filtered to
    ``count >= min_count AND doc_freq >= min_doc_freq``. One term-keyed
    aggregation — the irreducible shuffle of any corpus-frequency table.
    No reference counterpart.

    ``tf`` accepts a precomputed :func:`term_frequencies` frame: the tf
    rows are one per (doc, term), so
    ``count(1)`` over them IS the distinct-doc count and ``sum(tf)``
    the total occurrence count — identical values to the direct
    tokenize + two-phase distinct aggregate, one pass cheaper.
    """
    if tf is None:
        tf = term_frequencies(df, id_col, text_col)
    return (
        tf.groupBy("term")
        .agg(
            F.sum("tf").alias("count"),
            F.count(F.lit(1)).alias("doc_freq"),
        )
        .where(
            (F.col("count") >= min_count)
            & (F.col("doc_freq") >= min_doc_freq)
        )
    )


def text_fingerprint(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_size: int = 3,
    winnow_k: int = 4,
) -> DataFrame:
    """Document fingerprints: canonical md5 + a winnowed shingle sketch.

    - ``fingerprint``: md5 of the canonicalised text (lowercase, collapsed
      whitespace) — exact-dup key robust to formatting noise.
    - ``winnow``: concatenation of the ``winnow_k`` smallest shingle hashes
      (a min-k sketch; documents sharing most shingles share most of the
      sketch).

    ONE per-row projection, zero shuffles (plan-asserted in
    tests/test_scale.py): the winnow sorts each row's own shingle-hash
    array, so no explode/groupBy/join-back is needed — measured ~3x faster
    than the exploded formulation at sf0.1 with identical output. (The
    exploded ``shingle_rows`` builder remains the right shape under the
    minhash plan, where the higher-order column form would sit beneath a
    multi-branch join and blow up codegen — see dedup.shingle_rows.)
    """
    from data_validation_engine_spark.llmops.dedup import shingles_col

    text = F.col(text_col)
    canonical = F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))
    hashes = F.transform(
        shingles_col(text, shingle_size), lambda s: F.md5(s)
    )
    return df.select(
        F.col(id_col),
        F.md5(canonical).alias("fingerprint"),
        F.concat_ws("", F.slice(F.array_sort(hashes), 1, winnow_k)).alias(
            "winnow"
        ),
    )


def bm25_search(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query: str,
    *,
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int = 6,
    detail: bool = False,
) -> DataFrame:
    """BM25 relevance of every matching document against ``query``
    (Robertson-Sparck Jones probabilistic ranking; the Okapi BM25 form
    with the +1 idf smoothing Lucene uses, so scores are non-negative).

    Returns ``(id, n_terms_hit, score)`` for each document containing at
    least one query term; rank downstream with ``grouped_topk`` (score
    is a double — tie-break on the id for determinism). With
    ``detail=True`` returns the pre-fold per-term rows instead:
    ``(id, term, tf, df, dl, n_docs, sum_dl, weight)`` — the exact
    integer inputs every weight derives from (the explain-the-score
    surface, and the environment-invariant frame to pin cross-engine:
    ``ln`` is libm-dependent, the integers are not).

    Scale shape: the document side explodes to ONLY the query's terms
    (the ``isin`` prune sits before the shuffle, so the term aggregation
    carries at most |query| rows per doc, not the corpus vocabulary);
    corpus stats (N, avgdl) and per-term document frequencies are
    broadcast. Per-term weights are rounded to ``round_to`` then summed
    with an ORDERED fold over the term-sorted list, so the score is
    reproducible bit-for-bit in any engine (float sums are the one
    aggregate where partition order leaks into the answer; the fold
    removes that).
    """
    qterms = sorted({t.lower() for t in query.split() if t})
    if not qterms:
        raise ValueError("query must contain at least one term")
    toks = F.transform(tokens_col(F.col(text_col)), lambda t: F.lower(t))
    base = df.select(
        F.col(id_col), toks.alias("__toks"), F.size(toks).alias("__dl")
    )
    corpus = base.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__dl").alias("__sumdl"),
    )
    hits = base.select(
        F.col(id_col),
        F.col("__dl"),
        F.explode(F.col("__toks")).alias("__term"),
    ).where(F.col("__term").isin(qterms))
    tf = hits.groupBy(id_col, "__term").agg(
        F.count(F.lit(1)).alias("__tf"), F.max("__dl").alias("__dl")
    )
    dfreq = tf.groupBy("__term").agg(F.count(F.lit(1)).alias("__df"))
    n = F.col("__n").cast("double")
    avgdl = F.col("__sumdl").cast("double") / n
    idf = F.log(
        F.lit(1.0)
        + (n - F.col("__df") + F.lit(0.5)) / (F.col("__df") + F.lit(0.5))
    )
    tfd = F.col("__tf").cast("double")
    weight = F.round(
        idf
        * (tfd * F.lit(k1 + 1.0))
        / (
            tfd
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * F.col("__dl") / avgdl)
        ),
        round_to,
    )
    weighted = (
        tf.join(F.broadcast(dfreq), on="__term", how="inner")
        .crossJoin(F.broadcast(corpus))
        .withColumn("__w", weight)
    )
    if detail:
        return weighted.select(
            F.col(id_col),
            F.col("__term").alias("term"),
            F.col("__tf").alias("tf"),
            F.col("__df").alias("df"),
            F.col("__dl").alias("dl"),
            F.col("__n").alias("n_docs"),
            F.col("__sumdl").alias("sum_dl"),
            F.col("__w").alias("weight"),
        )
    folded = weighted.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_terms_hit"),
        F.aggregate(
            F.transform(
                F.sort_array(F.collect_list(F.struct("__term", "__w"))),
                lambda s: s["__w"],
            ),
            F.lit(0.0),
            lambda acc, w: acc + w,
        ).alias("score"),
    )
    return folded


def vocab_ids(vocab: DataFrame) -> DataFrame:
    """Assign stable integer ids to a vocabulary table: rank by
    (count DESC, term ASC) — frequency order, the convention tokenizer
    vocabularies use (id 1 = most frequent term; 0 is reserved for UNK).

    The global window sorts only the (small, frequency-floored) vocab
    table, not the corpus."""
    w = Window.orderBy(F.col("count").desc(), F.col("term").asc())
    return vocab.select(
        "term", F.row_number().over(w).cast("bigint").alias("token_id")
    )


def encode_tokens(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vocab: DataFrame,
    *,
    unk_id: int = 0,
) -> DataFrame:
    """Encode every document WITH AT LEAST ONE TOKEN to its token-id
    sequence under ``vocab`` (a ``build_vocab`` output): returns ``(id,
    n_tokens, n_unk, ids_csv)`` where ``ids_csv`` is the comma-joined id
    sequence in token order (out-of-vocabulary tokens become
    ``unk_id``). Zero-token documents (null/blank text) have no sequence
    and emit no row.

    The model-input side of tokenizer prep: ``build_vocab`` learns the
    table, this applies it. Scale shape: the vocab (small by
    construction — frequency floors) broadcasts into the token join; the
    only wide shuffle is the per-document regroup, keyed by the doc id
    with positions carried so reassembly is order-exact under any
    partitioning."""
    ids = vocab_ids(vocab)
    toks = df.select(
        F.col(id_col),
        F.posexplode(tokens_col(F.col(text_col))).alias("__pos", "term"),
    )
    joined = toks.join(F.broadcast(ids), on="term", how="left").select(
        F.col(id_col),
        "__pos",
        F.coalesce(F.col("token_id"), F.lit(int(unk_id))).alias("__tid"),
        F.col("token_id").isNull().cast("long").alias("__unk"),
    )
    return joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("__unk").alias("n_unk"),
        F.concat_ws(
            ",",
            F.transform(
                F.sort_array(F.collect_list(F.struct("__pos", "__tid"))),
                lambda s: s["__tid"].cast("string"),
            ),
        ).alias("ids_csv"),
    )


def build_postings(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_doc_freq: int = 1,
    max_postings: int | None = None,
    tf: DataFrame | None = None,
) -> DataFrame:
    """Inverted index: one row per term with its posting list —
    ``(term, doc_freq, tf_total, postings_csv, postings_md5)`` where
    ``postings_csv`` is ``docid:tf`` pairs joined in ascending doc-id
    order (so the md5 is order-exact under any partitioning — the
    repo's ordered-fold convention).

    The retrieval-side sibling of ``build_vocab``: the vocab learns
    corpus statistics, this materialises the term→documents map a
    search or decontamination pass probes. Scale shape: one term-keyed
    shuffle after a per-(term, doc) map-side pre-aggregation — the
    posting list concentrates a term's corpus presence into one row,
    so ``max_postings`` (drop terms whose doc_freq exceeds it) is the
    stop-word/hot-key guard: the terms it drops are exactly the ones
    whose single-row lists would not fit a task at 100 TB, and they
    carry no retrieval signal. No reference counterpart.

    ``tf`` accepts a precomputed :func:`term_frequencies` frame — its ``(id, term, tf)`` rows are exactly this
    function's pre-aggregation, so the posting fold is unchanged.
    """
    if tf is None:
        tf = (
            df.select(
                F.col(id_col).alias("__id"),
                F.explode(tokens_col(F.col(text_col))).alias("term"),
            )
            .groupBy("term", "__id")
            .agg(F.count(F.lit(1)).alias("__tf"))
        )
    else:
        tf = tf.select(
            F.col(id_col).alias("__id"),
            F.col("term"),
            F.col("tf").alias("__tf"),
        )
    out = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("doc_freq"),
        F.sum("__tf").alias("tf_total"),
        F.concat_ws(
            ",",
            F.transform(
                F.sort_array(F.collect_list(F.struct("__id", "__tf"))),
                lambda s: F.concat_ws(
                    ":", s["__id"].cast("string"), s["__tf"].cast("string")
                ),
            ),
        ).alias("postings_csv"),
    )
    out = out.where(F.col("doc_freq") >= F.lit(int(min_doc_freq)))
    if max_postings is not None:
        out = out.where(F.col("doc_freq") <= F.lit(int(max_postings)))
    return out.withColumn("postings_md5", F.md5(F.col("postings_csv")))


# writing systems worth distinguishing in a multilingual corpus mix —
# Java regex script properties (\p{IsXxx}); "other" absorbs the rest
_SCRIPT_CLASSES: tuple[tuple[str, str], ...] = (
    ("latin", r"\p{IsLatin}"),
    ("cyrillic", r"\p{IsCyrillic}"),
    ("han", r"\p{IsHan}"),
    ("arabic", r"\p{IsArabic}"),
    ("devanagari", r"\p{IsDevanagari}"),
    ("hangul", r"\p{IsHangul}"),
    ("kana", r"[\p{IsHiragana}\p{IsKatakana}]"),
    ("greek", r"\p{IsGreek}"),
    ("hebrew", r"\p{IsHebrew}"),
)


def script_profile(
    df: DataFrame,
    text_col: str,
    *,
    prefix: str = "script_",
) -> DataFrame:
    """Per-document Unicode writing-system profile: one count column per
    script class (``script_latin``, ``script_han``, …), the total letter
    count, and the ``dominant_script`` label (most letters; ties to the
    class listed first; ``"none"`` for letterless/NULL text).

    The signal the lang-id heuristic (:func:`lang_id`) cannot give on
    non-Latin text: CJK vs Cyrillic vs Arabic corpora separate perfectly
    by script before any n-gram model runs, and mixed-script documents
    (spam, mojibake, code-switching) show up as split counts. Standard
    multilingual-corpus practice (mC4/CulturaX bucket by script family
    first).

    Scale shape: per-row JVM ``regexp_count`` per class — zero shuffle,
    whole-stage codegen, no Python. At 9 classes that is 9 linear scans
    of each string: still cheaper than one Arrow hop.
    """
    text = F.coalesce(F.col(text_col), F.lit(""))
    counts = {
        name: F.regexp_count(text, F.lit(pat)).alias(f"{prefix}{name}")
        for name, pat in _SCRIPT_CLASSES
    }
    letters = F.regexp_count(text, F.lit(r"\p{L}"))
    scored = F.array(
        *[
            F.struct(
                counts[name].alias("n"),
                # order index DESCENDS so array_max's lexicographic tie
                # break picks the FIRST-listed class on equal counts
                F.lit(len(_SCRIPT_CLASSES) - i).alias("ord"),
                F.lit(name).alias("name"),
            )
            for i, (name, _) in enumerate(_SCRIPT_CLASSES)
        ]
    )
    best = F.array_max(scored)
    dominant = F.when(
        (letters > 0) & (best["n"] > 0), best["name"]
    ).otherwise(F.lit("none"))
    return df.select(
        "*",
        *[counts[name] for name, _ in _SCRIPT_CLASSES],
        letters.alias(f"{prefix}letters"),
        dominant.alias("dominant_script"),
    )
