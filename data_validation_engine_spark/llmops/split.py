"""Deterministic dataset splitting and sampling by key hash.

A 100 TB training pipeline cannot use ``df.sample()`` / ``randomSplit()``
for train/val/test assignment: those are seed- and partitioning-dependent
(a re-read with different file splits reassigns rows), and they cannot be
reproduced by another engine auditing the split. The standard fix —
public practice in every large ML-data stack — is HASH bucketing: assign
each row a bucket from a cryptographic hash of a stable key and cut the
bucket range. Properties:

- row-stable: a document keeps its split forever, across reruns, engines,
  repartitions, and appends (new data lands proportionally);
- leakage-safe: assignment depends only on the key, so near-duplicate
  handling can share the key (e.g. split by the dedup CLUSTER id so all
  near-copies of a doc land in the same side);
- zero-shuffle: one per-row md5 projection, fully codegen'd JVM-side;
- oracle-checkable: md5 is engine-independent, so the exact assignment is
  reproducible in any SQL engine.

The bucket is the first 4 hex digits of ``md5(seed || key)`` read as an
integer (0..65535) — uniform for md5's avalanche, and wide enough that
split fractions resolve to 0.0015%% granularity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: bucket space: 16^4 — 4 hex chars of the md5
N_BUCKETS = 65536


def hash_bucket(key: Column, *, seed: str = "", algo: str = "md5") -> Column:
    """Deterministic bucket in ``[0, 65536)`` from a hash of
    ``seed || key``.

    ``seed`` derives an independent assignment (e.g. per experiment);
    ``key`` is cast to string so any key type works. Pure per-row
    projection — no shuffle, no Python.

    ``algo``:

    - ``"md5"`` (default) — the engine-portable assignment: DuckDB (and
      any engine with md5) reproduces the buckets bit-for-bit, which is
      what the oracle twins and cross-engine reproducibility contracts
      rely on. Cost: a full 128-bit cryptographic digest per row.
    - ``"xxhash64"`` — the PRODUCTION-throughput assignment: Spark's
      codegen'd 64-bit xxHash is ~10× cheaper per row, which matters
      when bucketing 100 TB (the hash is the whole map-side cost of a
      split/shard pass). Deterministic across runs, partitionings and
      Spark versions (pinned algorithm), but NOT portable to non-Spark
      engines — keep md5 wherever an external system must re-derive
      the same assignment.
    """
    if algo == "md5":
        digest = F.md5(F.concat(F.lit(seed), key.cast("string")))
        return F.conv(F.substring(digest, 1, 4), 16, 10).cast("int")
    if algo == "xxhash64":
        # xxhash64 SKIPS null arguments (hashing the seed alone), which
        # would route every NULL key into one real bucket while the md5
        # path yields a NULL bucket — pin the md5 path's NULL semantics
        h = F.xxhash64(F.lit(seed), key.cast("string"))
        return F.when(
            key.isNotNull(), F.pmod(h, F.lit(N_BUCKETS)).cast("int")
        )
    raise ValueError(f"algo must be 'md5' or 'xxhash64', got {algo!r}")


def hash_split(
    df: DataFrame,
    key_col: str,
    *,
    splits: dict[str, float] | None = None,
    seed: str = "",
    bucket_col: str | None = None,
    split_col: str = "split",
) -> DataFrame:
    """Add a deterministic ``split`` label column cut from the key's hash
    bucket: ``{"train": 0.8, "val": 0.1, "test": 0.1}`` maps buckets
    ``[0, 52428)`` / ``[52428, 58982)`` / ``[58982, 65536)``. Fractions
    must sum to 1 (the last split absorbs the rounding remainder so every
    bucket is labelled). Set ``bucket_col`` to also keep the raw bucket.
    """
    splits = splits or {"train": 0.8, "val": 0.1, "test": 0.1}
    if not splits:
        raise ValueError("splits must name at least one part")
    total = sum(splits.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1, got {total}")
    bucket = hash_bucket(F.col(key_col), seed=seed)
    names = list(splits)
    # cumulative integer cut points; the last split takes everything left
    cuts, acc = [], 0.0
    for name in names[:-1]:
        acc += splits[name]
        cuts.append(int(acc * N_BUCKETS))
    expr: Column = F.lit(names[-1])
    for name, cut in zip(reversed(names[:-1]), reversed(cuts)):
        expr = F.when(bucket < F.lit(cut), F.lit(name)).otherwise(expr)
    out = df.withColumn(split_col, expr)
    if bucket_col:
        out = out.withColumn(bucket_col, bucket)
    return out


def stratified_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    fractions: dict[str, float],
    *,
    default_fraction: float = 0.0,
    seed: str = "",
) -> DataFrame:
    """Deterministic per-stratum sampling — the stable analog of
    ``df.sampleBy``: keep a row iff its key's hash bucket clears its
    stratum's fraction. Strata absent from ``fractions`` fall back to
    ``default_fraction`` (0 = drop). Same key ⇒ same outcome across
    reruns/engines, and per-stratum kept-sets nest as fractions grow
    (the subsample-ladder property, per stratum). The canonical corpus
    use: downsample over-represented languages/domains to a target mix
    without sacrificing reproducibility.

    One zero-shuffle projection: the fraction map compiles to a CASE
    over ``strata_col`` (strata are config-sized, like every fixed
    values list in the engine).
    """
    for name, frac in fractions.items():
        if not 0.0 <= frac <= 1.0:
            raise ValueError(
                f"fraction for stratum {name!r} must be in [0, 1], got {frac}"
            )
    if not 0.0 <= default_fraction <= 1.0:
        raise ValueError(
            f"default_fraction must be in [0, 1], got {default_fraction}"
        )
    cut: Column = F.lit(int(round(default_fraction * N_BUCKETS)))
    for name, frac in fractions.items():
        cut = F.when(
            F.col(strata_col) == F.lit(name),
            F.lit(int(round(frac * N_BUCKETS))),
        ).otherwise(cut)
    return df.where(hash_bucket(F.col(key_col), seed=seed) < cut)


def deterministic_sample(
    df: DataFrame, key_col: str, fraction: float, *, seed: str = ""
) -> DataFrame:
    """Keep a stable ``fraction`` of rows by key hash — unlike
    ``df.sample()`` the kept set is a pure function of the keys: re-runs,
    repartitions, appends, and other engines agree row-for-row. The kept
    set of a smaller fraction is a SUBSET of a larger one (nested
    samples), which is what makes scaling-law subsample ladders
    comparable."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    cut = int(round(fraction * N_BUCKETS))
    return df.where(hash_bucket(F.col(key_col), seed=seed) < F.lit(cut))


def weighted_keep(
    key: Column, weight: Column, *, rate: float, seed: str = ""
) -> Column:
    """Boolean keep-decision for DETERMINISTIC weighted (PPS-style)
    Bernoulli sampling: row kept with probability
    ``min(1, rate * weight)``, decided by the key's md5 bucket — a pure
    function of (key, weight, seed), so reruns, appends, repartitions
    and other engines agree row-for-row (``df.sample`` can do none of
    this, and true PPS-without-replacement needs a global sort).

    The comparison is ``bucket < p * 65536`` with only +,*,/ and
    ``least`` on doubles — IEEE-exact in every engine, no
    transcendentals, so the decision is bit-identical cross-engine (the
    oracle-checkability the ``u^(1/w)`` reservoir formulation cannot
    offer, since ``pow``/``ln`` are not correctly rounded everywhere).

    The canonical corpus use: quality-weighted downsampling — weight =
    a quality score, rate tuned so the expected kept volume hits the
    token budget, high-quality documents kept proportionally more often.
    """
    p = F.least(F.lit(1.0), F.lit(float(rate)) * weight.cast("double"))
    return hash_bucket(key, seed=seed).cast("double") < p * F.lit(
        float(N_BUCKETS)
    )


def weighted_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    *,
    rate: float,
    seed: str = "",
) -> DataFrame:
    """Filter to the rows :func:`weighted_keep` selects. Zero-shuffle
    per-row projection; expected kept rows = ``sum(min(1, rate * w))``.
    """
    return df.where(
        weighted_keep(
            F.col(key_col), F.col(weight_col), rate=rate, seed=seed
        )
    )


def mix_fractions(
    label_tokens: dict[str, int],
    targets: dict[str, float],
    budget: int,
) -> dict[str, float]:
    """Per-label keep fractions for :func:`corpus_mix`:
    ``min(1, share * budget / available)`` — a label with less material
    than its share under-delivers rather than stealing from others
    (water-filling reallocation is a policy decision left to the
    caller). Pure float arithmetic in a fixed operation order so any
    engine replays it bit-for-bit."""
    if budget < 0:
        raise ValueError(f"token budget must be >= 0, got {budget}")
    bad = [k for k, v in targets.items() if v < 0]
    if bad:
        raise ValueError(f"negative target shares: {bad}")
    fracs = {}
    for label, share in targets.items():
        avail = label_tokens.get(label, 0)
        fracs[label] = (
            min(1.0, share * float(budget) / float(avail))
            if avail > 0
            else 0.0
        )
    return fracs


def temperature_targets(
    label_tokens: dict[str, int], alpha: float
) -> dict[str, float]:
    """Temperature-weighted target shares: source ``l`` gets share
    ``tokens_l^alpha / sum_k tokens_k^alpha`` — the standard
    multilingual/multi-source rebalancing rule (alpha=1 keeps natural
    proportions, alpha→0 approaches uniform; published as the sampling
    recipe of mBERT/XLM-R/mT5). The power is transcendental, so it runs
    DRIVER-side over the collected per-source totals (bounded by the
    number of sources) and lands in the plan as literal fractions; the
    per-row keep decision stays rational and engine-exact."""
    if not alpha > 0:
        raise ValueError(f"temperature alpha must be > 0, got {alpha}")
    # a NULL label or an all-NULL-weight source is dropped, matching the
    # explicit-targets path's "unlisted sources are dropped" policy
    # (sorted() would also TypeError on a None key)
    usable = {
        label: tok
        for label, tok in label_tokens.items()
        if label is not None and tok is not None and tok > 0
    }
    pows = {
        label: float(tok) ** alpha
        for label, tok in sorted(usable.items())
    }
    total = sum(pows.values())
    if total <= 0:
        return {}
    return {label: p / total for label, p in pows.items()}


def corpus_mix(
    df: DataFrame,
    key_col: str,
    label_col: str,
    weight_col: str,
    targets: dict[str, float] | None,
    budget: int,
    *,
    temperature: float | None = None,
    seed: str = "",
) -> DataFrame:
    """Deterministically downsample a multi-source corpus to target
    token proportions: each ``label_col`` source keeps rows with
    probability ``min(1, share * budget / source_tokens)`` decided by
    the row key's md5 bucket, so the EXPECTED kept volume of source
    ``l`` is ``min(source_tokens_l, share_l * budget)`` — the
    data-mixing step every multi-source training run needs (web vs code
    vs books at 60/30/10), reproducible row-for-row across reruns,
    engines, and repartitionings. Labels absent from ``targets`` are
    dropped (an unlisted source in the mix is a bug, not a default).

    Pass ``temperature=alpha`` INSTEAD of explicit ``targets`` to derive
    the shares from the observed totals via
    :func:`temperature_targets` (tokens^alpha rebalancing) — same one
    totals aggregation, no extra pass.

    Scale shape: ONE map-side-combined aggregation for the per-source
    token totals (driver collect bounded by the number of SOURCES, never
    rows) + one zero-shuffle per-row keep projection against the
    literal fraction map. The keep rule is +,*,/ and a comparison — no
    transcendentals — so the decision replays exactly in the SQL oracle.
    """
    if (targets is None) == (temperature is None):
        raise ValueError(
            "corpus_mix: pass exactly one of targets= or temperature="
        )
    totals = {
        r["__label"]: r["__tok"]
        for r in df.groupBy(F.col(label_col).alias("__label"))
        .agg(F.sum(F.col(weight_col).cast("bigint")).alias("__tok"))
        .collect()
    }
    if temperature is not None:
        targets = temperature_targets(totals, temperature)
    fracs = mix_fractions(totals, targets, budget)
    frac_col = None
    for label, frac in fracs.items():
        clause = F.when(
            F.col(label_col) == F.lit(label), F.lit(frac)
        )
        frac_col = clause if frac_col is None else frac_col.when(
            F.col(label_col) == F.lit(label), F.lit(frac)
        )
    if frac_col is None:
        return df.where(F.lit(False))
    frac_col = frac_col.otherwise(F.lit(0.0))
    keep = hash_bucket(F.col(key_col), seed=seed).cast(
        "double"
    ) < frac_col * F.lit(float(N_BUCKETS))
    return df.where(keep)


def exact_quota_sample(
    df: DataFrame,
    key_col: str,
    n: int,
    *,
    strata_cols: list[str] | None = None,
    seed: str = "",
) -> DataFrame:
    """Deterministic EXACT-size sample: exactly ``min(n, stratum_size)``
    rows per stratum (or globally with no strata), chosen by ranking on
    ``md5(seed || key)`` — the same engine-portable hash family as
    :func:`hash_split`, so the selection replays identically anywhere
    and is stable under repartitioning. Rate-based sampling
    (:func:`stratified_sample`) only hits its quota in expectation; eval
    sets, benchmark slices, and labelling budgets need exact counts.

    Ties (hash collisions) break on the key itself, so the sample is a
    total-order prefix — fully deterministic even across engines.

    Scale shape, per stratum: ``row_number`` over the stratum window
    plans with WindowGroupLimit, which keeps a running top-``n`` per
    partition BEFORE the exchange — the shuffle carries at most
    ``n x partitions`` rows, not the stratum. The global (no-strata)
    case plans as TakeOrderedAndProject (per-partition ``n``-heaps, one
    driver merge of ``n x P`` rows); for ``n`` too large for one driver
    merge, pass a constant stratum instead.
    """
    if n < 1:
        raise ValueError(f"sample size must be >= 1, got {n}")
    digest = F.md5(F.concat(F.lit(seed), F.col(key_col).cast("string")))
    if strata_cols:
        w = Window.partitionBy(*strata_cols).orderBy(
            digest.asc(), F.col(key_col).asc()
        )
        rank = "__dve_quota_rank"
        if rank in df.columns:
            raise ValueError(
                f"input column collides with helper name: {rank}"
            )
        return (
            df.withColumn(rank, F.row_number().over(w))
            .where(F.col(rank) <= n)
            .drop(rank)
        )
    return df.orderBy(digest.asc(), F.col(key_col).asc()).limit(n)


def select_token_budget(
    df: DataFrame,
    score_col: str,
    token_col: str,
    *,
    group_cols: list[str] | None = None,
    budget_tokens: int | None = None,
    budget_frac: float | None = None,
    tiebreak_col: str | None = None,
    keep_col: str | None = None,
) -> DataFrame:
    """Quality-pruned corpus curation to a TOKEN budget: within each
    group (domain, language, source), keep the highest-``score_col``
    documents until their cumulative ``token_col`` reaches the budget —
    "train on the best N tokens per domain", the standard curation move
    after quality scoring (perplexity/classifier filtering to a token
    target rather than a doc-count target, since training cost is
    token-denominated).

    Exactly one of ``budget_tokens`` (absolute per group) or
    ``budget_frac`` (fraction of each group's total tokens) must be
    given. A document is kept when the cumulative token count of all
    strictly-better documents is below the budget — so the budget may
    be OVERSHOT by at most one document (the one that crosses the
    line), never undershot while candidates remain; an oversized best
    document is kept, not silently dropped (loud-data convention, same
    stance as ``chunk_by_sentences``). Order is score-descending with
    ``tiebreak_col`` (default: the token column, then arbitrary-but-
    deterministic only if a unique tiebreak is given — pass a key
    column for full determinism).

    ``keep_col`` flags rows instead of filtering (audit mode).

    NULL scores or token counts FAIL loudly (a NULL has no rank — the
    repo's raise_error guard idiom); filter or impute first.

    Scale shape: one group-keyed window cumulative sum over
    (score DESC) — a single shuffle on the group keys; with
    ``budget_frac`` one extra map-side-combined per-group total joined
    back (AQE-decidable, group-count-sized). No driver collect, no
    global sort.
    """
    if (budget_tokens is None) == (budget_frac is None):
        raise ValueError(
            "pass exactly one of budget_tokens / budget_frac"
        )
    if budget_tokens is not None and budget_tokens < 0:
        raise ValueError(f"budget_tokens must be >= 0, got {budget_tokens}")
    if budget_frac is not None and not 0.0 <= budget_frac <= 1.0:
        raise ValueError(f"budget_frac must be in [0, 1], got {budget_frac}")
    groups = list(group_cols or [])

    def _nn(c: str) -> Column:
        return F.when(F.col(c).isNotNull(), F.col(c)).otherwise(
            F.raise_error(
                F.lit(
                    f"select_token_budget: NULL in column '{c}' — a NULL "
                    "has no rank; filter or impute before budgeting"
                )
            )
        )

    toks = _nn(token_col).cast("long")
    # the guard lives INSIDE the window order expression — a separate
    # guard column would be pruned away unevaluated
    order = [_nn(score_col).desc()]
    order.append(
        F.col(tiebreak_col).asc()
        if tiebreak_col is not None
        else F.col(token_col).asc()
    )
    w = (
        Window.partitionBy(*[F.col(g) for g in groups])
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum(toks).over(w), F.lit(0).cast("long"))
    if budget_tokens is not None:
        budget: Column = F.lit(int(budget_tokens)).cast("long")
        staged = df
    else:
        totals = df.groupBy(*groups).agg(
            F.sum(toks).alias("__grp_tokens")
        )
        if groups:
            # eqNullSafe: groupBy keeps a NULL group key as a real
            # group; a plain equi-join would silently DROP NULL-group
            # rows here while the budget_tokens path keeps them (same
            # discipline as cms_query/standardize)
            totals_r = totals.select(
                *[F.col(g).alias(f"__g_{g}") for g in groups],
                "__grp_tokens",
            )
            cond = None
            for g in groups:
                c = F.col(g).eqNullSafe(F.col(f"__g_{g}"))
                cond = c if cond is None else cond & c
            staged = df.join(totals_r, cond).drop(
                *[f"__g_{g}" for g in groups]
            )
        else:
            staged = df.crossJoin(F.broadcast(totals))
        # integer budget floor: frac of the group total, exact long math
        budget = F.floor(
            F.col("__grp_tokens") * F.lit(float(budget_frac))
        ).cast("long")
    # window expressions cannot sit in a WHERE predicate — project the
    # decision to a column first, then filter on it
    flag = keep_col or "__dve_budget_keep"
    # the raise_error inside toks only fires via other rows' window
    # frames — the LAST row in each group is never frame input, so the
    # keep decision re-checks the token column itself
    decision = F.when(
        F.col(token_col).isNotNull(), before < budget
    ).otherwise(
        F.raise_error(
            F.lit(
                f"select_token_budget: NULL in column '{token_col}' — a "
                "NULL has no rank; filter or impute before budgeting"
            )
        )
    )
    out = staged.withColumn(flag, decision)
    if keep_col is None:
        out = out.where(F.col(flag)).drop(flag)
    return out.drop("__grp_tokens") if budget_frac is not None else out


def negative_samples(
    anchors: DataFrame,
    pool: DataFrame,
    anchor_col: str,
    pool_col: str,
    *,
    k: int = 4,
    seed: str = "",
    exclude_self: bool = True,
    pool_cols: list[str] | None = None,
) -> DataFrame:
    """Deterministic uniform negative sampling for contrastive training
    (word2vec/SimCLR/DPR-style: each anchor needs ``k`` pseudo-random
    "negative" rows from a pool): ``anchors' columns + (neg_idx,
    pool_col [+ pool_cols])`` with up to ``k`` rows per anchor.

    The draw is the classic rank-indexing trick, fully distributed:
    every pool row gets a dense rank in global md5 order (a
    deterministic shuffle of the pool), each (anchor, draw j) computes
    ``target = md5(seed|anchor|j) % pool_size``, and an equi-join on
    the rank fetches the drawn row. Uniform with replacement,
    engine-portable, rerun-stable, and — unlike ``rand()``-based
    sampling — immune to partition count and task retries.

    ``exclude_self`` drops draws that hit the anchor's own key (those
    anchors may get fewer than ``k`` negatives — loud in ``neg_idx``
    gaps rather than silently redrawn, which would make draw j's value
    depend on the anchor's own membership). A NULL ``anchor_col``
    raises (the module's loud-failure discipline — a NULL key has no
    deterministic draws); NULL pool keys are excluded up front, see
    below.

    Scale shape: the global rank is TWO-PHASE — rows bucket by their
    md5's first 4 hex chars, rank locally per bucket, and add the
    bucket's cumulative offset (a 65536-row metadata frame; its cumsum
    window is the only single-partition step). Bucket-prefix order IS
    global md5 order, so the result equals a global sort's ranks with
    no single-partition data window. Then ONE shuffle equi-join of
    ``anchors*k`` 8-byte probe rows against the ranked pool; no cross
    join at any size; the pool's payload ships once per DRAWN row
    only. The pool size rides the offset frame's broadcast, never a
    driver literal.
    """
    if k <= 0:
        raise ValueError("k must be positive")
    extra = list(pool_cols or [])
    # NULL pool keys are excluded up front: they would count into
    # __pool_n (NULLs sort first in the offset math) yet drop at the
    # rank equi-join, leaving unreachable targets — i.e. silently
    # fewer than k draws AND a non-uniform draw over the real pool
    hashed = pool.select(
        F.col(pool_col).alias("__neg"), *extra
    ).where(F.col("__neg").isNotNull()).withColumn(
        "__h",
        F.md5(
            F.concat(
                F.lit(f"{seed}|negpool|"), F.col("__neg").cast("string")
            )
        ),
    ).withColumn(
        "__b", F.conv(F.substring("__h", 1, 4), 16, 10).cast("int")
    )
    counts = hashed.groupBy("__b").agg(F.count(F.lit(1)).alias("__c"))
    offsets = counts.select(
        "__b",
        (
            F.coalesce(
                F.sum("__c").over(
                    Window.orderBy("__b").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            )
        ).alias("__off"),
        F.sum("__c").over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("__pool_n"),
    )
    local = Window.partitionBy("__b").orderBy("__h", "__neg")
    ranked = (
        hashed.withColumn("__lrk", F.row_number().over(local) - 1)
        .join(F.broadcast(offsets), "__b")
        .withColumn("__rk", F.col("__off") + F.col("__lrk"))
        .drop("__b", "__h", "__lrk", "__off")
    )
    size = offsets.select("__pool_n").limit(1)
    probes = (
        anchors.join(F.broadcast(size))
        .select(
            "*",
            F.explode(
                F.sequence(F.lit(0), F.lit(k - 1))
            ).alias("neg_idx"),
        )
        .withColumn(
            "__rk",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit(f"{seed}|neg|"),
                                # a NULL anchor key would md5 to NULL
                                # and silently vanish at the rank
                                # equi-join — fail loudly instead,
                                # matching interleave_sources /
                                # select_token_budget
                                F.when(
                                    F.col(anchor_col).isNotNull(),
                                    F.col(anchor_col).cast("string"),
                                ).otherwise(
                                    F.raise_error(
                                        F.lit(
                                            "negative_samples: NULL in "
                                            f"anchor column '{anchor_col}'"
                                            " — a NULL key has no "
                                            "deterministic draws; filter "
                                            "or impute first"
                                        )
                                    )
                                ),
                                F.lit("|"),
                                F.col("neg_idx").cast("string"),
                            )
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long")  # 60-bit value: long, not decimal
                % F.col("__pool_n")
            ).cast("long"),
        )
        .drop("__pool_n")
    )
    out = probes.join(ranked.drop("__pool_n"), "__rk").drop("__rk")
    if exclude_self:
        out = out.where(
            ~F.col(anchor_col).cast("string").eqNullSafe(
                F.col("__neg").cast("string")
            )
        )
    return out.withColumnRenamed("__neg", f"neg_{pool_col}")


def interleave_sources(
    df: DataFrame,
    source_col: str,
    weights: dict[str, float],
    key_col: str,
    *,
    seed: str = "",
    order_col: str = "interleave_order",
) -> DataFrame:
    """Deterministic fixed-ratio interleaving order for a mixed training
    corpus: adds ``order_col`` (a long) such that reading rows in that
    order yields sources at their ``weights`` ratios, evenly spread
    from the first batch to the last — stride scheduling (Waldspurger &
    Weihl 1995), the rule behind every "sample sources at fixed
    ratios into one stream" data loader.

    Each source's rows get a deterministic within-source md5 shuffle
    rank (two-phase bucketed, no single-partition data window — the
    same machinery as :func:`negative_samples`); row ``r`` of source
    ``s`` is scheduled at virtual time ``(r + 1) / weight_s``. Rows
    sort by that time, realised exactly in integers: ``(r + 1) *
    round(SCALE * total / weight_s)`` with ``SCALE = 2^20`` —
    engine-exact, ratios realised to ~1e-6, overflow-safe while
    ``rows_per_source * total/share < 2^43`` (~8·10^12 at a 1:1 mix);
    equal order values tie-break downstream on (source, key). Downstream, ``materialize_packs`` / shard writers sort by
    ``order_col`` instead of a random shuffle: same epoch order on
    every engine, every rerun, every partitioning.

    ``weights`` maps source value → positive share (any scale; only
    ratios matter). Rows whose source is missing from ``weights`` FAIL
    loudly — silent drops would change the mix. Scale shape: one
    shuffle per the rank's bucket exchange; the schedule itself is a
    per-row projection.
    """
    if not weights:
        raise ValueError("weights must be non-empty")
    if any(w <= 0 for w in weights.values()):
        raise ValueError("weights must be positive")
    total = float(sum(weights.values()))
    scale = 1 << 20
    # integer stride per source: SCALE / normalized-share, floored —
    # shares realised to ~1e-12, exact on every engine
    strides = {
        s: int(scale * total / float(w)) for s, w in weights.items()
    }
    hashed = df.withColumn(
        "__h",
        F.md5(
            F.concat(
                F.lit(f"{seed}|interleave|"),
                F.col(key_col).cast("string"),
            )
        ),
    ).withColumn(
        "__b", F.conv(F.substring("__h", 1, 4), 16, 10).cast("int")
    )
    counts = hashed.groupBy(source_col, "__b").agg(
        F.count(F.lit(1)).alias("__c")
    )
    w_off = (
        Window.partitionBy(source_col)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        source_col,
        "__b",
        F.coalesce(F.sum("__c").over(w_off), F.lit(0)).alias("__off"),
    )
    local = Window.partitionBy(source_col, "__b").orderBy(
        "__h", F.col(key_col)
    )
    # null-safe offsets join: a NULL source must SURVIVE to the stride
    # CASE below and raise there — a plain equi-join (or a guard inside
    # a projection) gets defeated by Catalyst's inferred isnotnull
    # filter, silently dropping the row instead of failing loudly
    off_r = offsets.select(
        F.col(source_col).alias("__o_src"),
        F.col("__b").alias("__o_b"),
        "__off",
    )
    ranked = (
        hashed.withColumn("__lrk", F.row_number().over(local) - 1)
        .join(
            F.broadcast(off_r),
            F.col(source_col).eqNullSafe(F.col("__o_src"))
            & (F.col("__b") == F.col("__o_b")),
        )
        .withColumn("__rk", F.col("__off") + F.col("__lrk"))
        .drop("__b", "__h", "__lrk", "__off", "__o_src", "__o_b")
    )
    expr = None
    for s, st in strides.items():
        cond = F.col(source_col).cast("string") == F.lit(s)
        val = (F.col("__rk") + 1) * F.lit(st)
        expr = F.when(cond, val) if expr is None else expr.when(cond, val)
    expr = expr.otherwise(
        F.raise_error(
            F.concat(
                F.lit("interleave_sources: source not in weights "
                      "(or NULL): "),
                F.coalesce(
                    F.col(source_col).cast("string"), F.lit("NULL")
                ),
            )
        )
    )
    return ranked.withColumn(order_col, expr).drop("__rk")
