"""DSIR: data selection via importance resampling (Xie et al. 2023,
"Data Selection for Language Models via Importance Resampling",
arXiv:2302.03169).

The problem at 100 TB: you have a small high-quality TARGET corpus
(Wikipedia, textbooks, a domain you care about) and a vast RAW pool
(web crawl); you want the raw documents whose n-gram distribution looks
most like the target. DSIR's recipe, re-expressed Spark-first:

1. **Hashed n-gram features** — every word unigram and bigram hashes
   into one of ``B`` buckets (:func:`ngram_buckets`). The feature space
   is fixed at ``B`` regardless of vocabulary, so the model state is
   bounded and mergeable — the same trick as the CMS/Bloom sketches in
   this package, and the hash is the same engine-portable
   md5-prefix-mod so two engines (and two days' batches) agree.
2. **Bag-of-buckets unigram models** — per-bucket counts on target and
   raw (:func:`dsir_bucket_counts`, one map-side-combined agg each;
   counts are MERGEABLE across batches by plain sum).
3. **Log importance ratios** — ``log p_target(b) - log p_raw(b)`` per
   bucket with add-``alpha`` smoothing (:func:`dsir_log_ratio`; ``B``
   rows total).
4. **Per-document scores** — each raw doc's log weight is the sum of
   its features' log ratios (:func:`dsir_score`: explode → join the
   ``B``-row ratio table → sum; the ratio table is broadcast by
   default with the same escape hatch as ``standardize``).
5. **Gumbel-top-k resampling** — sampling WITHOUT replacement
   proportional to ``exp(logw / temperature)`` equals taking the top
   ``k`` of ``logw/T + Gumbel noise`` (Vieira 2014); the noise is
   md5-derived so the draw is deterministic and engine-portable
   (:func:`gumbel_topk`, executed as TakeOrderedAndProject — top-k per
   partition then a k-row driver merge, never a global sort).

Scale shape: the raw corpus is touched twice (count pass, score pass),
both embarrassingly parallel; the only shuffles are the two bounded
``B``-cell aggregations; nothing driver-side ever exceeds ``B`` rows
(counts) or ``k`` rows (selection).

Hash-discipline note (FLOATS.md): bucket ids and counts are exact
integers — oracle-attestable. ``log_ratio`` / ``dsir_logw`` contain
``ln`` and are therefore float THRESHOLD features: hash the integer
inputs and wide-margin selection sets, never the floats, same policy as
LM perplexity.

The reference engine has no data-selection surface (batch row
validation only); net-new extension per SURVEY §8.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_validation_engine_spark.llmops.dedup import tokens_col

DEFAULT_BUCKETS = 10_000

#: 16^15 = 2^60, the shared md5-prefix hash space (llmops/split.py:34)
_HASH_SPACE = float(1 << 60)


def ngram_buckets(
    text: Column,
    *,
    n_max: int = 2,
    buckets: int = DEFAULT_BUCKETS,
    seed: str = "",
    lowercase: bool = True,
) -> Column:
    """``array<int>``: the hashed-n-gram feature multiset of a text
    column — every word n-gram for ``n = 1..n_max`` mapped to
    ``md5(seed|n|gram) % buckets``. NULL/blank text → empty array
    (:func:`tokens_col` contract). Pure per-row projection, zero
    shuffle, no Python."""
    if n_max < 1:
        raise ValueError("n_max must be >= 1")
    if buckets < 2:
        raise ValueError("buckets must be >= 2")
    toks = tokens_col(F.lower(text) if lowercase else text)

    # factories, NOT `lambda x, n=n`: higher-order functions pass the
    # element INDEX as a second argument to any two-parameter callable,
    # which would silently rebind n to the index Column
    def _gram_at(n: int):
        return lambda i: F.concat_ws(
            " ", F.slice(toks, i - F.lit(n - 1), F.lit(n))
        )

    def _bucket_of(n: int):
        return lambda s: (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{seed}|dsir{n}|"), s)),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")  # 60-bit value: long, not decimal
            % F.lit(buckets)
        ).cast("int")

    grams = []
    for n in range(1, n_max + 1):
        if n == 1:
            g = toks
        else:
            # gram ending at token i (1-indexed i from n..len)
            g = F.transform(F.sequence(F.lit(n), F.size(toks)), _gram_at(n))
        g = F.when(F.size(toks) >= n, g).otherwise(
            F.array().cast("array<string>")
        )
        grams.append(F.transform(g, _bucket_of(n)))
    out = grams[0]
    for g in grams[1:]:
        out = F.concat(out, g)
    return out


def dsir_bucket_counts(
    df: DataFrame,
    text_col: str,
    *,
    n_max: int = 2,
    buckets: int = DEFAULT_BUCKETS,
    seed: str = "",
    lowercase: bool = True,
    features_col: str | None = None,
) -> DataFrame:
    """Bag-of-buckets counts for a corpus: ``(bucket, n)`` with at most
    ``buckets`` rows. One scan, map-side combine collapses rows into
    buckets before the exchange. Counts are mergeable across batches by
    summing — persist per-batch counts and never re-scan raw text.

    ``features_col`` names a precomputed :func:`ngram_buckets` array
    column: a caller scoring target AND
    raw counts AND per-doc features hashes each gram once into a shared
    (usually persisted) feature frame instead of once per consumer. The
    column must be built with the same n_max/buckets/seed/lowercase —
    counts are then identical by construction."""
    feats = (
        F.col(features_col)
        if features_col is not None
        else ngram_buckets(
            F.col(text_col),
            n_max=n_max,
            buckets=buckets,
            seed=seed,
            lowercase=lowercase,
        )
    )
    return (
        df.select(F.explode(feats).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def dsir_log_ratio(
    target_counts: DataFrame,
    raw_counts: DataFrame,
    *,
    buckets: int = DEFAULT_BUCKETS,
    alpha: float = 1.0,
) -> DataFrame:
    """Per-bucket log importance ratio table:
    ``(bucket, n_target, n_raw, log_ratio)`` where ``log_ratio =
    ln((n_t + alpha)/(T + alpha*B)) - ln((n_r + alpha)/(R + alpha*B))``
    — add-``alpha``-smoothed unigram models over the hashed feature
    space. At most ``buckets`` rows (buckets unseen by BOTH corpora are
    omitted: their ratio is the constant ``ln(R') - ln(T')`` absorbed
    into every doc identically, so ranking is unaffected... except via
    feature counts — so they ARE materialised, from a full bucket
    spine, to keep scores exact).

    The totals ride a 1-row broadcast struct join (the documented
    pattern, never a driver literal)."""
    if alpha <= 0:
        raise ValueError("alpha must be > 0 (smoothing)")
    spark = target_counts.sparkSession
    spine = spark.range(buckets).select(
        F.col("id").cast("int").alias("bucket")
    )
    t = target_counts.select("bucket", F.col("n").alias("__nt"))
    r = raw_counts.select("bucket", F.col("n").alias("__nr"))
    joined = (
        spine.join(t, "bucket", "left")
        .join(r, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("__nt", F.lit(0)).cast("long").alias("n_target"),
            F.coalesce("__nr", F.lit(0)).cast("long").alias("n_raw"),
        )
    )
    totals = joined.agg(
        F.sum("n_target").alias("__T"), F.sum("n_raw").alias("__R")
    )
    ab = float(alpha) * buckets
    with_tot = joined.join(F.broadcast(totals))
    return with_tot.select(
        "bucket",
        "n_target",
        "n_raw",
        (
            F.log(F.col("n_target") + F.lit(float(alpha)))
            - F.log(F.col("__T") + F.lit(ab))
            - F.log(F.col("n_raw") + F.lit(float(alpha)))
            + F.log(F.col("__R") + F.lit(ab))
        ).alias("log_ratio"),
    )


def dsir_score(
    df: DataFrame,
    text_col: str,
    ratio_table: DataFrame,
    *,
    key_cols: list[str] | None = None,
    n_max: int = 2,
    buckets: int = DEFAULT_BUCKETS,
    seed: str = "",
    lowercase: bool = True,
    normalize: bool = False,
    broadcast_ratios: bool = True,
    features_col: str | None = None,
) -> DataFrame:
    """Score raw documents against a :func:`dsir_log_ratio` table:
    ``key_cols + (n_feats, dsir_logw)`` where ``dsir_logw`` is the sum
    (``normalize=True``: mean — length-debiased, the paper's appendix
    variant) of the doc's features' log ratios. Zero-feature docs score
    0.0 with ``n_feats = 0`` — kept, flagged, never NULL.

    ``broadcast_ratios``: the ratio table is exactly ``buckets`` rows,
    so broadcast is right for any sane ``B`` (10^4–10^6); pass False
    above that to let AQE decide (same escape policy as
    ``standardize``'s ``broadcast_stats``).

    ``features_col``: precomputed :func:`ngram_buckets` array column —
    same contract as :func:`dsir_bucket_counts`; one hash pass feeds
    counts and scores."""
    keys = list(key_cols or [])
    feat_arr = (
        F.col(features_col)
        if features_col is not None
        else ngram_buckets(
            F.col(text_col),
            n_max=n_max,
            buckets=buckets,
            seed=seed,
            lowercase=lowercase,
        )
    )
    feats = df.select(
        *keys,
        F.explode_outer(feat_arr).alias("bucket"),
    )
    rt = ratio_table.select("bucket", "log_ratio")
    rt = F.broadcast(rt) if broadcast_ratios else rt
    scored = feats.join(rt, "bucket", "left")
    agg = scored.groupBy(*keys).agg(
        F.count("bucket").alias("n_feats"),
        F.coalesce(F.sum("log_ratio"), F.lit(0.0)).alias("__sumw"),
    )
    logw = (
        F.when(
            F.col("n_feats") > 0, F.col("__sumw") / F.col("n_feats")
        ).otherwise(F.lit(0.0))
        if normalize
        else F.col("__sumw")
    )
    return agg.select(*keys, "n_feats", logw.alias("dsir_logw"))



def _gumbel_key(
    logw_col: str, key_col: str, seed: str, temperature: float
) -> Column:
    """Shared Gumbel-max sort key: ``logw/T - ln(-ln(u))`` with the
    md5-uniform ``u`` of (seed, key) — ONE derivation for both the
    global and grouped top-k so the two can never desynchronize."""
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(f"{seed}|gumbel|"),
                        F.col(key_col).cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("double")
        + F.lit(1.0)
    ) / F.lit(_HASH_SPACE + 2.0)
    return F.col(logw_col) / F.lit(float(temperature)) - F.log(-F.log(u))


def gumbel_topk(
    df: DataFrame,
    logw_col: str,
    n: int,
    *,
    key_col: str,
    seed: str = "",
    temperature: float = 1.0,
) -> DataFrame:
    """Select ``n`` rows without replacement with probability
    proportional to ``exp(logw / temperature)`` — the Gumbel-max trick:
    top-``n`` of ``logw/T + g`` where ``g = -ln(-ln(u))`` and ``u`` is
    the md5-uniform of ``(seed, key)`` (deterministic, engine-portable,
    rerun-stable). ``temperature → 0`` degenerates to greedy top-``n``
    by weight; large ``T`` approaches uniform sampling.

    Executes as ``orderBy(...).limit(n)`` — Spark plans
    TakeOrderedAndProject: top-``n`` per partition, then an ``n``-row
    merge on the driver. No global sort, no full shuffle."""
    if n <= 0:
        raise ValueError("n must be positive")
    if temperature <= 0:
        raise ValueError("temperature must be > 0")
    key = _gumbel_key(logw_col, key_col, seed, temperature)
    return (
        df.withColumn("__gumbel_key", key)
        .orderBy(F.col("__gumbel_key").desc(), F.col(key_col))
        .limit(n)
        .drop("__gumbel_key")
    )


def gumbel_topk_grouped(
    df: DataFrame,
    logw_col: str,
    n: int,
    *,
    group_cols: list[str],
    key_col: str,
    seed: str = "",
    temperature: float = 1.0,
) -> DataFrame:
    """Per-group :func:`gumbel_topk`: ``n`` rows WITHOUT replacement
    per group, probability proportional to ``exp(logw/temperature)``
    within the group — per-domain / per-language subsampling with the
    same deterministic md5-Gumbel noise. Plans as WindowGroupLimit
    (per-partition heads before the shuffle), not a global sort."""
    if n <= 0:
        raise ValueError("n must be positive")
    if temperature <= 0:
        raise ValueError("temperature must be > 0")
    if not group_cols:
        raise ValueError("group_cols must be non-empty (use gumbel_topk)")
    from pyspark.sql import Window

    key = _gumbel_key(logw_col, key_col, seed, temperature)
    w = Window.partitionBy(*group_cols).orderBy(
        key.desc(), F.col(key_col)
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= n)
        .drop("__rn")
    )
