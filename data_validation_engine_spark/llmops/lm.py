"""Character n-gram language-model scoring (CCNet-style quality filter).

The strongest public web-corpus quality signal after rule heuristics is
LM perplexity against a clean reference corpus (Wenzek et al. 2020 CCNet
§3.3: score every paragraph with a KenLM model trained on Wikipedia,
keep the low-perplexity head). This module implements the Spark-native
version with an add-alpha-smoothed character n-gram model — deliberately
simple (no Kneser-Ney backoff) so the model is a plain DataFrame and
training is ONE aggregation; the ranking behaviour (gibberish and
boilerplate score high, fluent text scores low) is what the filter
needs, not SOTA language modelling.

Scale shape: training is one shuffle keyed by the n-gram (map-side
combined counts); scoring explodes docs into (doc, gram) rows and joins
the model — the model table is charset^n-bounded (a few hundred
thousand rows for char trigrams), so Spark broadcasts it and the score
is one doc-keyed aggregation. Log-probabilities are transcendental:
score columns are for FILTERING (threshold comparisons), not for
hashed engine-exact surfaces (FLOATS.md discipline).

No reference counterpart (`/root/reference` has no corpus surface).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "char_ngram_counts",
    "train_char_lm",
    "perplexity_score",
    "word_tokens",
    "word_ngram_counts",
    "train_word_lm",
    "word_lm_to_rows",
    "word_lm_from_rows",
    "stupid_backoff_score",
]


def _gram_rows(
    df: DataFrame, keep_cols: list[str], text_col: str, n: int
) -> DataFrame:
    """``keep_cols + (gram)`` occurrence rows: every character n-gram of
    ``lower(text)`` with runs of whitespace collapsed to one space.
    Explode-first shape: positions Generate, the gram substring
    projects after — all whole-stage codegen, zero shuffle (an
    ``F.transform`` array builder would evaluate its lambda interpreted
    per element). Docs shorter than ``n`` emit
    nothing, exactly like the empty-array formulation."""
    t = F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))
    return (
        df.select(*keep_cols, t.alias("__t"), F.length(t).alias("__l"))
        .where(F.col("__l") >= n)
        .select(
            *keep_cols,
            F.col("__t"),
            F.explode(
                F.sequence(F.lit(1), F.col("__l") - n + F.lit(1))
            ).alias("__i"),
        )
        .select(
            *keep_cols,
            F.col("__t").substr(F.col("__i"), F.lit(n)).alias("gram"),
        )
    )


def char_ngram_counts(
    df: DataFrame, text_col: str, *, n: int = 3
) -> DataFrame:
    """Corpus n-gram counts ``(gram, cnt)`` — one hash aggregation."""
    return (
        _gram_rows(df, [], text_col, n)
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def train_char_lm(
    df: DataFrame, text_col: str, *, n: int = 3
) -> tuple[DataFrame, int, int]:
    """Train on a reference corpus: returns ``(model, total, vocab)``
    where ``model`` is the count table and ``total``/``vocab`` the two
    scalars add-alpha smoothing needs. The two scalars are the only
    driver traffic; the count table stays distributed (and is the thing
    to persist for reuse across scoring runs)."""
    model = char_ngram_counts(df, text_col, n=n)
    row = model.agg(
        F.sum("cnt").alias("t"), F.count(F.lit(1)).alias("v")
    ).first()
    if row["t"] is None:
        raise ValueError("train_char_lm: reference corpus has no n-grams")
    return model, int(row["t"]), int(row["v"])


def perplexity_score(
    df: DataFrame,
    model: DataFrame,
    total: int,
    vocab: int,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    alpha: float = 1.0,
    round_to: int = 6,
) -> DataFrame:
    """Per-document perplexity under the smoothed model: ``id_col,
    n_grams, logprob_avg, perplexity``. P(g) = (cnt+α)/(total+α·(V+1))
    — unseen grams share the α mass (the +1 virtual unseen type keeps
    probabilities proper). Lower perplexity = more like the reference
    corpus; gate with ``perplexity <= threshold``.

    Plan: doc-gram explode → broadcast-or-shuffle join against the
    model → ONE doc-keyed aggregation. Docs shorter than ``n`` chars
    get NULL scores (no grams to judge — let the caller's length gate
    handle them, not a fake number).
    """
    denom = float(total) + alpha * float(vocab + 1)
    grams = _gram_rows(df, [id_col], text_col, n)
    scored = grams.join(F.broadcast(model), "gram", "left").select(
        F.col(id_col),
        F.log(
            (F.coalesce(F.col("cnt"), F.lit(0)).cast("double") + alpha)
            / F.lit(denom)
        ).alias("__lp"),
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.round(F.avg("__lp"), round_to).alias("logprob_avg"),
        F.round(F.exp(-F.avg("__lp")), round_to).alias("perplexity"),
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .withColumn("n_grams", F.coalesce(F.col("n_grams"), F.lit(0)))
    )


# ---------------------------------------------------------------------------
# Word n-gram LM with Stupid Backoff (Brants et al., EMNLP 2007,
# "Large Language Models in Machine Translation") — the LM smoothing
# designed FOR distributed count tables: no discounting pass, no
# held-out estimation, score = count ratio with a fixed backoff
# penalty, so training is nothing but grouped counting and scoring is
# nothing but a join. This is the word-level sibling of the char-LM
# above with one deliberate scale difference: the char model is
# charset^n-bounded and always broadcast, while a word model is
# vocab-bounded (unbounded at corpus scale), so scoring JOINS the
# counts table on the gram key (broadcast stays available as a knob for
# pruned models). Per FLOATS.md, the engine-exact surface is the
# integer backoff histogram (which order resolved each position) — the
# log-score itself is transcendental and is for threshold filtering.
# ---------------------------------------------------------------------------


def word_tokens(text: Column) -> Column:
    """Lowercased word tokens: maximal runs of ``[a-z0-9]`` after
    lowering — per-row expression, zero shuffle. The alphabet is pinned
    ASCII-alphanumeric so tokenization is engine-portable (any
    non-alphanumeric codepoint is a delimiter in every engine)."""
    return F.filter(
        F.split(F.lower(text), "[^a-z0-9]+"),
        lambda t: t != F.lit(""),
    )


def _word_gram_structs(toks: Column, n: int) -> Column:
    """Array of ``struct(pos, ord, gram)`` — for every 1-based token
    position ``pos`` and every order ``ord`` in ``1..min(n, pos)``, the
    space-joined gram ENDING at ``pos``. Empty-token rows yield an
    empty array (``sequence(1, 0)`` would count DOWN — guarded)."""
    T = F.size(toks)
    structs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), T),
            lambda i: F.transform(
                F.sequence(F.lit(1), F.least(F.lit(n), i)),
                lambda k: F.struct(
                    i.alias("pos"),
                    k.alias("ord"),
                    F.array_join(
                        F.slice(toks, i - k + F.lit(1), k), " "
                    ).alias("gram"),
                ),
            ),
        )
    )
    return F.when(T >= 1, structs).otherwise(
        F.array().cast("array<struct<pos:int,ord:int,gram:string>>")
    )


def word_ngram_counts(
    df: DataFrame, text_col: str, *, n: int = 3, min_count: int = 1
) -> DataFrame:
    """Training counts ``(ord, gram, cnt)`` for ALL orders ``1..n`` in
    one aggregation (map-side combined). ``min_count`` prunes every
    order with the same floor — safe for backoff because a gram's count
    never exceeds its prefix-context's count (each occurrence of the
    gram contains one of the prefix), so a surviving gram's context
    always survives too."""
    if n < 1:
        raise ValueError(f"word_ngram_counts: n must be >= 1, got {n}")
    out = (
        df.select(
            F.explode(
                _word_gram_structs(word_tokens(F.col(text_col)), n)
            ).alias("g")
        )
        .groupBy(
            F.col("g.ord").alias("ord"), F.col("g.gram").alias("gram")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    if min_count > 1:
        out = out.where(F.col("cnt") >= F.lit(int(min_count)))
    return out


def train_word_lm(
    df: DataFrame, text_col: str, *, n: int = 3, min_count: int = 1
) -> tuple[DataFrame, int]:
    """Returns ``(model, total)``: the count table and the UNPRUNED
    training token count (the unigram denominator — pruning shrinks the
    table, never the probability mass). ``total`` is the only driver
    traffic; the count table stays distributed (persist it for reuse
    across scoring runs, or export with :func:`word_lm_to_rows`)."""
    row = df.select(
        F.sum(F.size(word_tokens(F.col(text_col)))).alias("t")
    ).first()
    if row["t"] is None or int(row["t"]) == 0:
        raise ValueError("train_word_lm: reference corpus has no tokens")
    model = word_ngram_counts(df, text_col, n=n, min_count=min_count)
    return model, int(row["t"])


def word_lm_to_rows(model: DataFrame, total: int) -> DataFrame:
    """Pack ``(model, total)`` into one self-contained entity: the count
    rows plus a ``(ord=0, gram='', cnt=total)`` sentinel row carrying
    the scalar (the classifier-weights / pq-codebooks entity pattern —
    a partially-written or foreign table fails loudly on load)."""
    spark = model.sparkSession
    sentinel = spark.createDataFrame(
        [(0, "", int(total))], "ord int, gram string, cnt long"
    )
    return model.select(
        F.col("ord").cast("int"),
        F.col("gram").cast("string"),
        F.col("cnt").cast("long"),
    ).unionByName(sentinel)


def word_lm_from_rows(rows: DataFrame) -> tuple[DataFrame, int]:
    """Unpack a :func:`word_lm_to_rows` entity — validates exactly one
    sentinel row (1-row bounded collect, control-plane only)."""
    sent = rows.where(F.col("ord") == 0).select("cnt").collect()
    if len(sent) != 1:
        raise ValueError(
            "word_lm_from_rows: expected exactly one (ord=0) sentinel "
            f"row, found {len(sent)} — not a word_lm_to_rows entity"
        )
    total = int(sent[0]["cnt"])
    if total <= 0:
        raise ValueError(
            f"word_lm_from_rows: sentinel total must be > 0, got {total}"
        )
    return rows.where(F.col("ord") > 0), total


def stupid_backoff_score(
    df: DataFrame,
    model: DataFrame,
    total: int,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    alpha: float = 0.4,
    round_to: int = 6,
    broadcast_model: bool = False,
) -> DataFrame:
    """Per-document Stupid Backoff score: for each token position with
    ``m = min(n, pos)`` available orders, the score is

        ``alpha^(m-k) * cnt_k / ctx_k``

    for the LARGEST order ``k`` whose gram was seen in training
    (``ctx_k`` = training count of the gram's length-``k-1`` prefix;
    ``ctx_1 = total``); a position whose word is out-of-vocabulary
    backs off once more to the ``alpha^m / total`` floor. Output per
    input row: ``n_tokens``, the exact-integer backoff histogram
    ``hits_0 .. hits_n`` (``hits_0`` = OOV positions — the engine-exact
    surface), and ``logprob_avg`` / ``perplexity`` (transcendental —
    threshold filtering only, per FLOATS.md).

    Plan: per-row gram explode (zero shuffle) → ONE equi-join against
    the counts table on ``(ord, gram)`` — the scale path for a
    vocab-sized model; ``broadcast_model=True`` for pruned models —
    → one doc-keyed aggregation collecting ``(pos, ord, cnt)`` structs,
    then the whole cascade is an ordered per-row array fold (state
    bounded by document length, like the text itself). A foreign model
    with inconsistent per-order pruning (a seen gram whose context
    count is missing) raises loudly instead of scoring wrong.
    """
    if n < 1:
        raise ValueError(f"stupid_backoff_score: n must be >= 1, got {n}")
    if not 0.0 < alpha <= 1.0:
        raise ValueError(
            f"stupid_backoff_score: alpha must be in (0, 1], got {alpha}"
        )
    ftotal = float(total)
    rows = df.select(
        F.col(id_col),
        F.explode(
            _word_gram_structs(word_tokens(F.col(text_col)), n)
        ).alias("g"),
    ).select(id_col, "g.pos", "g.ord", "g.gram")
    joinable = F.broadcast(model) if broadcast_model else model
    with_cnt = rows.join(joinable, ["ord", "gram"], "left").select(
        id_col,
        "pos",
        "ord",
        F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
    )
    # one shuffle by doc id; sort_array gives the deterministic
    # (pos, ord) order every downstream fold relies on
    agged = with_cnt.groupBy(id_col).agg(
        F.sort_array(
            F.collect_list(F.struct("pos", "ord", "cnt"))
        ).alias("__pcs")
    )
    # per-order count array: element j of __c{k} is the count of the
    # order-k gram ending at pos = k + j - 1; the order-k gram at pos i
    # lives at index i-k+1, and its context (the order-(k-1) gram at
    # pos i-1) lives at the SAME index of __c{k-1}
    # NOTE: closure factories, not default-arg lambdas — pyspark counts
    # lambda parameters to decide whether to pass the element index, so
    # ``lambda x, kk=k`` would receive the array index as ``kk``
    def _ord_eq(kk: int):
        return lambda x: x["ord"] == F.lit(kk)

    ck_cols = [
        F.transform(
            F.filter(F.col("__pcs"), _ord_eq(k)),
            lambda x: x["cnt"],
        ).alias(f"__c{k}")
        for k in range(1, n + 1)
    ]
    agged = agged.select(id_col, *ck_cols).withColumn(
        "__T", F.size(F.col("__c1"))
    )

    def _position_struct(i: Column) -> Column:
        avail = F.least(F.lit(n), i)
        # OOV floor: one backoff step past the unigram
        res = F.struct(
            F.lit(0).alias("o"),
            (
                F.pow(F.lit(alpha), avail.cast("double")) / F.lit(ftotal)
            ).alias("s"),
            F.lit(False).alias("bad"),
        )
        for k in range(1, n + 1):
            cnt_k = F.element_at(F.col(f"__c{k}"), i - F.lit(k) + F.lit(1))
            ctx_k = (
                F.lit(ftotal)
                if k == 1
                else F.element_at(
                    F.col(f"__c{k - 1}"), i - F.lit(k) + F.lit(1)
                ).cast("double")
            )
            # an inconsistent model (seen gram, missing context) must
            # not hit ANSI DIVIDE_BY_ZERO before our own loud raise:
            # null the divisor out and flag the position instead
            ctx_ok = F.when(ctx_k > F.lit(0.0), ctx_k)
            score_k = (
                F.pow(F.lit(alpha), (avail - F.lit(k)).cast("double"))
                * cnt_k.cast("double")
                / ctx_ok
            )
            cond = (avail >= F.lit(k)) & (cnt_k > 0)
            res = F.when(
                cond,
                F.struct(
                    F.lit(k).alias("o"),
                    score_k.alias("s"),
                    (ctx_k.isNull() | (ctx_k <= F.lit(0.0))).alias("bad"),
                ),
            ).otherwise(res)
        return res

    scored = agged.withColumn(
        "__ps",
        F.when(
            F.col("__T") >= 1,
            F.transform(F.sequence(F.lit(1), F.col("__T")), _position_struct),
        ).otherwise(
            F.array().cast("array<struct<o:int,s:double,bad:boolean>>")
        ),
    )
    def _o_eq(kk: int):
        return lambda x: x["o"] == F.lit(kk)

    hit_cols = [
        F.size(F.filter(F.col("__ps"), _o_eq(k))).alias(f"hits_{k}")
        for k in range(0, n + 1)
    ]
    n_bad = F.size(F.filter(F.col("__ps"), lambda x: x["bad"]))
    lp_sum = F.aggregate(
        F.col("__ps"),
        F.lit(0.0),
        lambda acc, x: acc + F.log(x["s"]),
    )
    avg = lp_sum / F.col("__T").cast("double")
    per_doc = scored.select(
        id_col,
        F.col("__T").alias("n_tokens"),
        *hit_cols,
        F.when(
            n_bad > 0,
            F.raise_error(
                F.lit(
                    "stupid_backoff_score: model is inconsistent — a "
                    "seen gram's context has count 0 (per-order pruning "
                    "mismatch?); refuse to score wrong"
                )
            ).cast("double"),
        )
        .otherwise(F.round(avg, round_to))
        .alias("logprob_avg"),
        F.when(n_bad > 0, F.lit(None).cast("double"))
        .otherwise(F.round(F.exp(-avg), round_to))
        .alias("perplexity"),
    )
    int_cols = ["n_tokens"] + [f"hits_{k}" for k in range(0, n + 1)]
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            *[
                F.coalesce(F.col(c), F.lit(0)).alias(c) for c in int_cols
            ],
            "logprob_avg",
            "perplexity",
        )
    )
