"""Deduplication operators: exact, MinHash-LSH, SimHash.

Scale design (the point of these operators is 100 TB, not 60k rows):

- **Exact dedup** groups on a hash of the text, not the text itself, so the
  shuffle moves a 32-byte key + the kept row — never the full text twice.
- **MinHash-LSH** generates candidate pairs through a *banded bucket join*:
  signatures are computed per-row (narrow, no shuffle), band keys explode to
  ``bands`` rows per doc, and only docs sharing a (band, key) bucket ever
  meet in the join. There is no ``crossJoin`` anywhere in the plan — the
  all-pairs O(n²) comparison the naive formulation needs is replaced by a
  shuffle join on band keys whose fan-in per bucket is the collision rate,
  tuned by (num_hashes, bands).
- **SimHash** is a per-row signature (no shuffle at all); near-dup pairs
  again come from banding the signature.

Portability invariant: every hash is an ``md5`` hex string (lexicographic
``min`` over uniformly-distributed hex strings is a valid min-hash
permutation surrogate), so each operator has an exact DuckDB/ANSI-SQL
oracle. No Python UDFs — everything below is JVM Column expressions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_validation_engine_spark.llmops.pairs import (
    DEFAULT_MAX_BUCKET_ROWS,
    bounded_self_join,
)

DEFAULT_SHINGLE_SIZE = 3
DEFAULT_NUM_HASHES = 12
DEFAULT_BANDS = 4


def tokens_col(text: Column) -> Column:
    """Whitespace tokens of a text column.

    NULL and blank text both normalise to ZERO tokens (empty array) so
    every downstream formulation — column-form simhash, exploded-table
    simhash, shingles, and the DuckDB oracles — agrees on degenerate docs
    instead of diverging through null propagation.

    The trim is FULL whitespace (``\\s``), not ``F.trim``'s space-only:
    text ending in ``\\n`` or ``\\t`` (e.g. ``render_chat``'s
    newline-terminated templates) would otherwise keep a phantom empty
    last token through the ``\\s+`` split, inflating ``n_tokens`` and
    injecting a spurious UNK id at the end of every training sequence
    via ``encode_tokens`` → ``materialize_packs``."""
    trimmed = F.regexp_replace(
        F.coalesce(text, F.lit("")), r"^\s+|\s+$", ""
    )
    return F.when(trimmed == "", F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )


def shingles_col(text: Column, n: int = DEFAULT_SHINGLE_SIZE) -> Column:
    """Distinct word ``n``-gram shingles of a text column.

    Texts shorter than ``n`` words contribute their whole text as the single
    shingle, so every non-empty doc has ≥1 shingle.
    """
    toks = tokens_col(text)
    ngrams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    return F.array_distinct(
        F.when(F.size(toks) >= n, ngrams).otherwise(
            F.array(F.concat_ws(" ", toks))
        )
    )


def shingle_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_size: int = DEFAULT_SHINGLE_SIZE,
) -> DataFrame:
    """Distinct (id, shingle) ROWS — the scale-path shingle builder.

    Same shingle set as :func:`shingles_col`, but built lambda-free:
    ``posexplode`` the tokens and assemble n-grams with window ``lead``
    (plain codegen'd expressions; one narrow shuffle by id). The
    higher-order ``transform``/``slice`` formulation evaluates interpreted
    and compiles a very large generated class — fine for one-off column
    use, pathological when it sits under a multi-branch dedup plan.
    """
    from pyspark.sql import Window

    toks = tokens_col(F.col(text_col))
    toked = df.select(
        F.col(id_col), F.col(text_col), toks.alias("__toks"),
        F.size(toks).alias("__n"),
    )
    w = Window.partitionBy(id_col).orderBy("__pos")
    long = (
        toked.where(F.col("__n") >= shingle_size)
        .select(
            id_col, F.posexplode("__toks").alias("__pos", "__tok")
        )
        .select(
            F.col(id_col),
            F.concat_ws(
                " ",
                F.col("__tok"),
                *[F.lead("__tok", i).over(w) for i in range(1, shingle_size)],
            ).alias("shingle"),
            F.lead("__tok", shingle_size - 1).over(w).alias("__tail"),
        )
        .where(F.col("__tail").isNotNull())
        .drop("__tail")
    )
    # short docs (including blank -> '' shingle, matching shingles_col's
    # single-element array) contribute their whole text as one shingle
    short = toked.where(F.col("__n") < shingle_size).select(
        F.col(id_col), F.concat_ws(" ", "__toks").alias("shingle")
    )
    return long.unionByName(short).distinct()


def shingle_occurrence_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_size: int = DEFAULT_SHINGLE_SIZE,
) -> DataFrame:
    """``(id, shingle)`` OCCURRENCE rows — one per n-gram start
    position, NOT deduplicated per document.

    Fastest shingle generator in the module: explode the start positions and assemble each n-gram with
    ``slice`` + ``concat_ws`` as plain projections after the Generate —
    everything runs in whole-stage codegen with ZERO shuffle (no
    window, no distinct), ~14x faster than the higher-order
    ``shingles_col`` walk on local[32]. Use it whenever the consumer
    is duplicate-insensitive — min-hashing, Bloom/CMS probes,
    ``countDistinct`` aggregations, ``array_intersect``/``array_union``
    set algebra — and :func:`shingle_rows` only when genuinely
    distinct ROWS must leave the generator.

    Same shingle universe as :func:`shingles_col`: short docs
    (including blank -> '' shingle) contribute their whole text as one
    shingle."""
    toks = tokens_col(F.col(text_col))
    base = df.select(
        F.col(id_col), toks.alias("__toks"), F.size(toks).alias("__n")
    )
    long = (
        base.where(F.col("__n") >= shingle_size)
        .select(
            F.col(id_col),
            F.col("__toks"),
            F.explode(
                F.sequence(
                    F.lit(1), F.col("__n") - shingle_size + F.lit(1)
                )
            ).alias("__i"),
        )
        .select(
            F.col(id_col),
            F.concat_ws(
                " ", F.slice(F.col("__toks"), F.col("__i"), shingle_size)
            ).alias("shingle"),
        )
    )
    short = base.where(F.col("__n") < shingle_size).select(
        F.col(id_col), F.concat_ws(" ", "__toks").alias("shingle")
    )
    return long.unionByName(short)


def band_keys(
    sig_cols: list[str], bands: int
) -> list[Column]:
    """Group the signature into ``bands`` bands; key = md5 of the band."""
    if len(sig_cols) % bands:
        raise ValueError(
            f"num_hashes ({len(sig_cols)}) must divide evenly into "
            f"bands ({bands})"
        )
    rows = len(sig_cols) // bands
    return [
        F.md5(
            F.concat_ws("|", *[F.col(c) for c in sig_cols[b * rows : (b + 1) * rows]])
        ).alias(f"band_{b}")
        for b in range(bands)
    ]


def jaccard_col(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two (distinct-element) arrays."""
    return F.size(F.array_intersect(a, b)) / F.size(F.array_union(a, b))


def minhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_size: int = DEFAULT_SHINGLE_SIZE,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    threshold: float = 0.5,
    max_bucket_rows: int = DEFAULT_MAX_BUCKET_ROWS,
) -> DataFrame:
    """Near-duplicate pairs via MinHash-LSH, verified with exact Jaccard.

    Returns ``(id_a, id_b, jaccard)`` with ``id_a < id_b`` and
    ``jaccard >= threshold``. Candidate generation is banded (docs meet only
    when a whole band of their signatures collides); candidates are then
    verified with the exact Jaccard over distinct shingle sets. The plan
    contains shuffle joins on band keys and ids — never a cartesian product,
    and the band self-join is skew-bounded (``max_bucket_rows``; see
    :mod:`llmops.pairs`), so one hot band bucket cannot put n² pairs into a
    single task.
    """
    sig_names = [f"mh_{i}" for i in range(num_hashes)]
    # (id, shingle) occurrence rows, zero-shuffle codegen. Several plan
    # branches read this (signatures + both verify sides) and it is
    # deliberately NOT persisted: measured on local[32], caching the
    # 3-branch DAG serialises behind block-manager contention (~30x
    # slower than recomputing), and the recompute is one narrow scan per
    # branch that AQE plans freely. On a real cluster, checkpoint to
    # parquet instead if the upstream scan is expensive — never
    # in-memory-cache a frame consumed by concurrent query stages.
    shingled = shingle_occurrence_rows(
        df, id_col, text_col, shingle_size=shingle_size
    )
    # NARROW signature aggregation: 12 codegen'd md5 mins only (an
    # array_min(transform(...)) lambda computes the same values but
    # evaluates interpreted and compiles a very large generated class).
    # min() over a multiset equals min() over its set, so the zero-shuffle
    # occurrence rows feed the signatures unchanged.
    # The verification shingle sets do NOT ride this exchange: only
    # banding SURVIVORS need their sets, and a collect_list of every
    # document's shingles here (shared with the verify sides through
    # ReuseExchange) costs more in full-corpus array payload than the
    # shared exchange saves (dedup_minhash min +5% measured). The sets are
    # aggregated AFTER banding, over candidate ids only.
    sig = shingled.groupBy(id_col).agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"mh{i}|"), F.col("shingle")))).alias(
                f"mh_{i}"
            )
            for i in range(num_hashes)
        ],
    )
    # NARROW band frame: (id, band_idx, band_key) only. The wide shingle
    # arrays never enter the candidate join/shuffle — they join back in by
    # id for the verification step.
    narrow_bands = sig.select(
        F.col(id_col),
        F.posexplode(F.array(*band_keys(sig_names, bands))).alias(
            "__band_idx", "__band_key"
        ),
    )
    candidates = (
        bounded_self_join(
            narrow_bands,
            ["__band_idx", "__band_key"],
            order_col=id_col,
            max_bucket_rows=max_bucket_rows,
        )
        .select(
            F.col(f"a.`{id_col}`").alias("id_a"),
            F.col(f"b.`{id_col}`").alias("id_b"),
        )
        # a pair may collide in several bands — dedupe before verification
        .distinct()
        # materialise: THREE consumers branch from candidates (the
        # survivor-id semi-join below + both verify joins); without this
        # the block join + distinct would re-execute per consumer.
        # bounded_self_join already checkpointed its tagged frame, so this
        # re-runs only the (tiny) block join + distinct — same
        # recompute-on-executor-loss tradeoff documented there.
        .localCheckpoint(eager=True)
    )
    # Aggregate verification sets for banding survivors ONLY (guide §8:
    # decide with small rows, attach the heavy payload to survivors once).
    # The candidate-id set post-LSH is a small fraction of the corpus —
    # broadcast-semi-join it onto the occurrence rows so the collect_list
    # exchange carries survivor shingles only. The inner verify joins
    # restrict to exactly these ids already, so the result is unchanged.
    # At cluster scale, if the survivor-id set ever outgrows a broadcast,
    # swap the hint for a runtime Bloom filter (guide §3.2) — the
    # aggregation stays downstream of the filter either way.
    cand_ids = (
        candidates.select(F.col("id_a").alias(id_col))
        .union(candidates.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    surv_sets = (
        shingled.join(F.broadcast(cand_ids), on=id_col, how="leftsemi")
        .groupBy(id_col)
        .agg(F.collect_list("shingle").alias("__shingles"))
    )
    return _verify_jaccard(
        candidates,
        shingled,
        id_col,
        threshold,
        sets=surv_sets,
    )


def _verify_jaccard(
    candidates: DataFrame,
    shingled: DataFrame,
    id_col: str,
    threshold: float,
    *,
    sets: DataFrame | None = None,
) -> DataFrame:
    """Exact-Jaccard verification of candidate ``(id_a, id_b)`` pairs:
    join each side's full distinct-shingle set back in by id (the wide
    arrays never rode the candidate shuffle) and keep pairs at or above
    ``threshold``. Shared by every shingle-based candidate generator.

    ``sets`` lets a caller that already aggregated per-id shingle arrays
    (e.g. alongside its signature columns) pass that frame in, so both
    verify sides project from the caller's aggregation and ReuseExchange
    collapses the shingle pipeline to a single computation."""
    if sets is None:
        sets = shingled.groupBy(id_col).agg(
            F.collect_list("shingle").alias("__shingles")
        )
    sh_a = sets.select(
        F.col(id_col).alias("id_a"), F.col("__shingles").alias("__sh_a")
    )
    sh_b = sets.select(
        F.col(id_col).alias("id_b"), F.col("__shingles").alias("__sh_b")
    )
    return (
        candidates.join(sh_a, on="id_a")
        .join(sh_b, on="id_b")
        .select(
            "id_a",
            "id_b",
            F.round(jaccard_col(F.col("__sh_a"), F.col("__sh_b")), 6).alias(
                "jaccard"
            ),
        )
        .where(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_size: int = DEFAULT_SHINGLE_SIZE,
    threshold: float = 0.5,
    max_bucket_rows: int = DEFAULT_MAX_BUCKET_ROWS,
) -> DataFrame:
    """EXACT n-gram Jaccard near-duplicate pairs via prefix filtering
    (the AllPairs/PPJoin candidate principle — Bayardo et al., WWW 2007;
    Xiao et al., WWW 2008 — public algorithms, re-expressed on
    DataFrames). Unlike :func:`minhash_pairs` this is not probabilistic:
    the result is exactly every pair with Jaccard >= ``threshold``.

    Returns ``(id_a, id_b, jaccard)`` with ``id_a < id_b``.

    Candidate generation without an all-pairs join: order each document's
    shingles by a GLOBAL total order (document frequency ascending, then
    shingle — rarest first, which minimises candidate fan-out), keep only
    the first ``|S| - ceil(t*|S|) + 1`` shingles (the prefix), and
    self-join the prefix postings on shingle. The prefix-filter theorem
    guarantees zero lost pairs: any pair with Jaccard >= t shares its
    smallest common shingle inside BOTH prefixes (J >= t implies overlap
    >= ceil(t*|S|) on each side, and an overlap-alpha pair must place its
    first common element within the first ``|S| - alpha + 1`` positions
    of each side). Candidates are then verified with the exact Jaccard.

    Scale shape: two grouped aggregations (per-doc size, per-shingle
    document frequency), one window rank per doc, and a skew-bounded
    equi-join on shingle (``max_bucket_rows`` decomposes hot shingles
    into bounded block pairs with no pair loss) — never a cartesian
    product. Rare-first ordering keeps hot (high-df) shingles out of
    prefixes wherever a rarer shingle can stand in, so the posting join
    is naturally skew-light; the bound handles the rest.
    """
    from pyspark.sql import Window

    shingled = shingle_rows(df, id_col, text_col, shingle_size=shingle_size)
    dfreq = shingled.groupBy("shingle").agg(
        F.count(F.lit(1)).alias("__df")
    )
    # Window-count fusion: per-doc set size as a count over the SAME
    # id-partitioned window the rank runs in — the dfreq inner join keeps
    # every shingled row (dfreq covers every distinct shingle of the same
    # frame), so the windowed count equals a separate groupBy(id)
    # aggregation + join-back, minus that aggregation's exchange and the
    # join.
    w_id = Window.partitionBy(id_col)
    w = w_id.orderBy(F.col("__df").asc(), F.col("shingle").asc())
    prefix = (
        shingled.join(dfreq, on="shingle")
        .withColumn("__sz", F.count(F.lit(1)).over(w_id))
        .withColumn("__rk", F.row_number().over(w))
        .where(
            F.col("__rk")
            <= F.col("__sz")
            - F.ceil(F.lit(float(threshold)) * F.col("__sz"))
            + F.lit(1)
        )
        .select(id_col, "shingle")
    )
    candidates = (
        bounded_self_join(
            prefix,
            ["shingle"],
            order_col=id_col,
            max_bucket_rows=max_bucket_rows,
            # prefix's lineage is one scan + three shuffles — cheap enough
            # that recomputing per join side inside the final job beats a
            # serialized up-front materialization action
            materialize=False,
        )
        .select(
            F.col(f"a.`{id_col}`").alias("id_a"),
            F.col(f"b.`{id_col}`").alias("id_b"),
        )
        # a pair may share several prefix shingles — dedupe before verify
        .distinct()
    )
    return _verify_jaccard(candidates, shingled, id_col, threshold)


def connected_components(
    pairs: DataFrame,
    *,
    max_iterations: int = 20,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components of a similarity-pair graph: (id, component)
    with component = min id reachable from each node.

    Iterative min-label propagation: each round every node adopts the
    smallest label among itself and its neighbours; converged when no
    label changes. Each round is ONE Spark action: the self-label rides
    the neighbour union (so no update join is needed), the changed flag
    is computed inline (so convergence needs no compare join), and the
    convergence count materialises a lazily local-checkpointed frame —
    join + aggregate + count all land in a single job. The driver loop is
    over ROUNDS, never rows, so this scales with cluster width. Rounds
    needed = graph diameter; near-dup graphs are shallow clusters, so
    convergence is typically 2-3 rounds. For adversarially DEEP graphs
    (long chains), use :func:`connected_components_star`, which converges
    in O(log² n) rounds instead of O(diameter).

    ``pairs`` must have ``id_a`` / ``id_b`` columns. ``stats`` (optional
    dict) receives ``{"rounds": N}`` for convergence diagnostics.
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(
                F.col("id_b").alias("src"), F.col("id_a").alias("dst")
            )
        )
        .distinct()
        # materialise once: edges join into EVERY round, and ``pairs``
        # usually carries an expensive lineage (minhash/LSH candidate
        # generation) that would otherwise recompute per round
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )
    id_type = labels.schema["component"].dataType
    for _ in range(max_iterations):
        # each node's candidate labels: its neighbours' components plus
        # its own (the self row also carries the OLD component so the
        # changed flag falls out of the same aggregation — exactly one
        # self row per id, so max(__old) is that row's value)
        contrib = (
            edges.join(
                labels.select(
                    F.col("id").alias("dst"),
                    F.col("component").alias("__c"),
                ),
                on="dst",
            )
            .select(
                F.col("src").alias("id"),
                "__c",
                F.lit(None).cast(id_type).alias("__old"),
            )
            .unionByName(
                labels.select(
                    "id",
                    F.col("component").alias("__c"),
                    F.col("component").alias("__old"),
                )
            )
        )
        updated = (
            contrib.groupBy("id")
            .agg(
                F.min("__c").alias("component"),
                F.max("__old").alias("__old"),
            )
            .select(
                "id",
                "component",
                (F.col("component") < F.col("__old")).alias("__chg"),
            )
            # lazy checkpoint: the convergence count below scans every
            # partition, so ONE job materialises the round, truncates the
            # lineage, and answers convergence
            .localCheckpoint(eager=False)
        )
        changed = updated.where("__chg").count()
        labels = updated.drop("__chg")
        if stats is not None:
            stats["rounds"] = stats.get("rounds", 0) + 1
        if changed == 0:
            break
    else:
        # silently returning partial labels would hand the caller WRONG
        # components (half-merged clusters) — at dedup scale that means
        # survivors that are actually duplicates; fail loudly instead
        raise RuntimeError(
            f"connected_components did not converge within {max_iterations}"
            " rounds; the graph's diameter exceeds the budget — raise"
            " max_iterations or use connected_components_star (O(log² n)"
            " rounds)"
        )
    return labels


def connected_components_star(
    pairs: DataFrame,
    *,
    max_iterations: int = 30,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components via alternating large-star/small-star rounds
    (the MapReduce CC algorithm of Kiveris et al., "Connected Components
    in MapReduce and Beyond", SoCC 2014 — public algorithm, re-implemented
    on DataFrames). Returns ``(id, component)`` with component = min id.

    Each round is two grouped aggregations + joins:

    - large-star: every node links its LARGER neighbours to its smallest
      neighbour (or itself) — long chains contract toward their minimum
      from every node at once;
    - small-star: every node links its smaller-or-equal neighbours to the
      local minimum — flattening partial stars.

    Converges in O(log² n) rounds regardless of graph DIAMETER, vs
    :func:`connected_components`'s one-hop-per-round label propagation —
    the right choice when dedup clusters can chain deeply (A~B~C~...~Z
    corpora: each doc near-dups only its neighbour). Convergence is
    detected by the edge multiset reaching a fixpoint (count + order-
    independent hash checksum), computed in the SAME job that
    materialises the round's lazily checkpointed edges — one Spark
    action per round.
    """
    # canonical undirected edge list, self-loops dropped
    edges = (
        pairs.select(
            F.least(F.col("id_a"), F.col("id_b")).alias("lo"),
            F.greatest(F.col("id_a"), F.col("id_b")).alias("hi"),
        )
        .where(F.col("lo") != F.col("hi"))
        .select(F.col("hi").alias("src"), F.col("lo").alias("dst"))
        .distinct()
        # materialise the input edge list: round 1 reads it twice (star
        # join + checksum) and ``pairs`` usually carries an expensive
        # candidate-generation lineage that must not recompute
        .localCheckpoint(eager=True)
    )
    all_ids = (
        pairs.select(F.col("id_a").alias("id"))
        .unionByName(pairs.select(F.col("id_b").alias("id")))
        .distinct()
    )

    def checksum(e: DataFrame) -> tuple[int, int]:
        row = e.select(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                # decimal accumulator: an int64 sum of 64-bit hashes
                # overflows (ANSI mode raises)
                F.xxhash64(F.col("src"), F.col("dst")).cast("decimal(38,0)")
            ).alias("h"),
        ).first()
        return (row["n"], row["h"])

    prev = None
    for _ in range(max_iterations):
        # large-star over the symmetric neighbourhood
        sym = edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        mins = sym.groupBy("src").agg(F.min("dst").alias("__m"))
        mins = mins.select(
            "src", F.least(F.col("__m"), F.col("src")).alias("__m")
        )
        large = (
            sym.join(mins, on="src")
            .where(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("__m").alias("dst"))
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )
        # small-star over min-oriented edges (src > dst by construction)
        smins = large.groupBy("src").agg(F.min("dst").alias("__m"))
        small = (
            large.join(smins, on="src")
            .select(
                F.col("dst").alias("src"), F.col("__m").alias("dst")
            )  # link each smaller neighbour to the local min
            .unionByName(
                smins.select(F.col("src"), F.col("__m").alias("dst"))
            )  # and the centre itself
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )
        # lazy checkpoint: the checksum aggregate scans every partition,
        # so ONE job materialises the round's edges, truncates lineage,
        # and answers convergence (was two jobs per round)
        edges = small.localCheckpoint(eager=False)
        if stats is not None:
            stats["rounds"] = stats.get("rounds", 0) + 1
        cur = checksum(edges)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components_star did not converge within"
            f" {max_iterations} rounds — raise max_iterations (the"
            " algorithm needs O(log² n); 30 covers any graph that fits"
            " on hardware, so non-convergence here usually means the"
            " pair input is being regenerated nondeterministically"
            " between rounds)"
        )

    return (
        all_ids.join(
            edges.select(F.col("src").alias("id"), F.col("dst").alias("__c")),
            on="id",
            how="left",
        )
        .select(
            "id", F.coalesce(F.col("__c"), F.col("id")).alias("component")
        )
    )


def minhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_size: int = DEFAULT_SHINGLE_SIZE,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    threshold: float = 0.5,
    max_bucket_rows: int = DEFAULT_MAX_BUCKET_ROWS,
    exact_components: bool = False,
    component_algorithm: str = "label",
    quality_col: str | None = None,
    higher_is_better: bool = True,
) -> DataFrame:
    """Drop near-duplicates, keeping one representative per cluster.

    The pairs are :func:`minhash_pairs` under the same parameters.
    Default: greedy keep-min (a doc is dropped if it pairs with ANY lower
    id) — single pass, no iteration, but over-keeps on transitive clusters
    whose members only pair through a higher id (e.g. pairs (1,3) and
    (2,3): greedy keeps 1 AND 2; they are one cluster through 3).
    ``exact_components=True`` resolves true connected components
    iteratively and keeps exactly the minimum id of each cluster;
    ``component_algorithm="star"`` uses large-star/small-star (O(log² n)
    rounds) instead of label propagation (O(diameter) rounds) — for
    corpora whose duplicate clusters chain deeply.

    ``quality_col`` switches survivor selection from min-id to
    BEST-QUALITY (the production pipeline shape — keep the cleanest copy,
    not the earliest): exact components are resolved, then each cluster
    keeps its ``max(quality)`` member (``higher_is_better=False`` keeps
    the min), ties broken by ascending id so the winner is deterministic
    even on equal scores. One extra grouped aggregation per run.
    """
    pairs = minhash_pairs(
        df,
        id_col,
        text_col,
        shingle_size=shingle_size,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
        max_bucket_rows=max_bucket_rows,
    )
    cc = (
        connected_components_star
        if component_algorithm == "star"
        else connected_components
    )
    if quality_col is not None:
        members = cc(pairs).join(
            df.select(
                F.col(id_col).alias("id"), F.col(quality_col).alias("__q")
            ),
            on="id",
        )
        qkey = F.col("__q") if higher_is_better else -F.col("__q")
        winners = members.groupBy("component").agg(
            F.max_by(
                F.col("id"), F.struct(qkey.alias("q"), (-F.col("id")).alias("t"))
            ).alias("__win")
        )
        drops = (
            members.join(winners, on="component")
            .where(F.col("id") != F.col("__win"))
            .select(F.col("id").alias(id_col))
        )
    elif exact_components:
        drops = cc(pairs).where(F.col("id") != F.col("component")).select(
            F.col("id").alias(id_col)
        )
    else:
        drops = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(drops, on=id_col, how="left_anti")


def dedup_key(
    key_cols: list[str] | str, *, normalize_text: bool = False
) -> Column:
    """The canonical 32-byte dedup key: md5 of the key columns cast to
    string and joined with a \\x01 separator (so ("ab","c") and
    ("a","bc") can never collide), optionally canonicalised first
    (lowercase, collapse whitespace).

    THE single definition: exact_dedup, incremental_exact_dedup, and
    streaming.streaming_incremental_dedup all key on this expression, so
    batch/stream/corpus key sets can never drift apart.
    """
    if isinstance(key_cols, str):
        key_cols = [key_cols]
    parts = [F.col(c).cast("string") for c in key_cols]
    if normalize_text:
        parts = [
            F.trim(F.regexp_replace(F.lower(p), r"\s+", " ")) for p in parts
        ]
    return F.md5(F.concat_ws("", *parts))


def exact_dedup(
    df: DataFrame,
    key_cols: list[str] | str,
    *,
    order_col: str,
    normalize_text: bool = False,
) -> DataFrame:
    """Exact dedup: one survivor (min ``order_col``) per key, plus
    ``n_copies``.

    ``key_cols`` are hashed (md5 of the concatenated key) before the
    group-by, so the shuffle key is 32 bytes regardless of text size.
    ``normalize_text=True`` canonicalises each key part first (lowercase,
    collapse whitespace) — "same text modulo whitespace/case" dedup.
    """
    keyed = df.withColumn(
        "__dedup_key", dedup_key(key_cols, normalize_text=normalize_text)
    )
    # min_by keeps the whole winning row without a second join-back pass
    survivors = keyed.groupBy("__dedup_key").agg(
        F.min_by(F.struct(*[F.col(c) for c in df.columns]), F.col(order_col)).alias(
            "__row"
        ),
        F.count(F.lit(1)).alias("n_copies"),
    )
    return survivors.select(
        *[F.col(f"__row.`{c}`").alias(c) for c in df.columns], "n_copies"
    )


def simhash(text: Column, *, bits: int = 16) -> Column:
    """SimHash signature of a text column as a ``bits``-length bit string.

    Bit ``b`` is set when more than half the distinct tokens hash to 1 at
    position ``b`` (the ±1-vote formulation: ``2*ones >= n``). Token bit =
    high bit of hex nibble ``b`` of ``md5(token)`` — md5 gives 32 nibbles,
    so ``bits <= 32``. Per-row only: no shuffle, exact SQL oracle.

    Degenerate docs (NULL/blank text) have zero tokens, so every vote is
    ``0 >= 0`` and the signature is all-ones — identical to
    :func:`simhash_table`'s no-vote backfill.
    """
    if bits > 32:
        raise ValueError("simhash supports at most 32 bits (md5 nibbles)")
    toks = F.array_distinct(tokens_col(text))
    high = ["8", "9", "a", "b", "c", "d", "e", "f"]

    def bit(b: int) -> Column:
        ones = F.size(
            F.filter(
                toks,
                lambda t: F.substring(F.md5(t), b + 1, 1).isin(high),
            )
        )
        return F.when(ones * 2 >= F.size(toks), F.lit("1")).otherwise(F.lit("0"))

    return F.concat(*[bit(b) for b in range(bits)])


def simhash_table(
    df: DataFrame, id_col: str, text_col: str, *, bits: int = 16
) -> DataFrame:
    """(id, simhash) for a whole table — the scale-path SimHash.

    Same bits as :func:`simhash`, computed via explode + hash aggregation:
    one md5 per distinct token (not per token per bit), 16 conditional sums
    combining map-side, tiny codegen. Docs with no tokens get the all-ones
    signature (0 >= 0 on every vote), matching the column formulation.
    """
    if bits > 32:
        raise ValueError("simhash supports at most 32 bits (md5 nibbles)")
    high = ["8", "9", "a", "b", "c", "d", "e", "f"]
    toks = F.array_distinct(tokens_col(F.col(text_col)))
    exploded = df.select(F.col(id_col), F.explode(toks).alias("__tok")).select(
        id_col, F.md5("__tok").alias("__h")
    )
    votes = exploded.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.sum(
                F.when(F.substring("__h", b + 1, 1).isin(high), 1).otherwise(0)
            ).alias(f"__ones_{b}")
            for b in range(bits)
        ],
    )
    sig = F.concat(
        *[
            F.when(F.col(f"__ones_{b}") * 2 >= F.col("__n"), F.lit("1")).otherwise(
                F.lit("0")
            )
            for b in range(bits)
        ]
    )
    return df.select(F.col(id_col)).join(
        votes.select(F.col(id_col), sig.alias("simhash")), on=id_col, how="left"
    ).select(
        id_col, F.coalesce(F.col("simhash"), F.lit("1" * bits)).alias("simhash")
    )


def hamming_distance(a: Column, b: Column, *, bits: int = 16) -> Column:
    """Hamming distance between two equal-length bit strings."""
    return F.size(
        F.filter(
            F.sequence(F.lit(1), F.lit(bits)),
            lambda i: a.substr(i, F.lit(1)) != b.substr(i, F.lit(1)),
        )
    )


def simhash_band_bounds(bits: int, n_bands: int) -> list[tuple[int, int]]:
    """(1-based start, width) of each contiguous signature band; the first
    ``bits % n_bands`` bands absorb the remainder."""
    base, rem = divmod(bits, n_bands)
    bounds, start = [], 1
    for i in range(n_bands):
        width = base + (1 if i < rem else 0)
        bounds.append((start, width))
        start += width
    return bounds


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    bits: int = 16,
    max_hamming: int = 2,
    n_bands: int | None = None,
    max_bucket_rows: int = 4096,
) -> DataFrame:
    """SimHash near-duplicate pairs: banded signature self-join + exact
    hamming verification. Returns ``(id_a, id_b, hamming)``, ``id_a <
    id_b``, ``hamming <= max_hamming``.

    Candidate generation is EXACT by pigeonhole: the signature splits into
    ``n_bands`` (default ``max_hamming + 1``) contiguous bands, and any
    pair within hamming ``max_hamming`` differs in at most ``max_hamming``
    bands, so at least one band matches — every qualifying pair is a
    candidate, never a cartesian product. The band-bucket self-join is
    skew-bounded (``bounded_self_join``), which matters here specifically:
    degenerate docs share the all-ones signature and would otherwise pile
    one n² bucket onto a single task.
    """
    if n_bands is None:
        n_bands = max_hamming + 1
    if not 1 <= n_bands <= bits:
        raise ValueError(f"n_bands must be in [1, {bits}], got {n_bands}")
    sigs = simhash_table(df, id_col, text_col, bits=bits)
    bounds = simhash_band_bounds(bits, n_bands)
    bands = sigs.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.substring("simhash", s, w).alias("band_key"),
                    )
                    for i, (s, w) in enumerate(bounds)
                ]
            )
        ).alias("__band"),
    ).select(
        id_col,
        "simhash",
        F.col("__band.band_idx").alias("band_idx"),
        F.col("__band.band_key").alias("band_key"),
    )
    cand = (
        bounded_self_join(
            bands,
            ["band_idx", "band_key"],
            order_col=id_col,
            max_bucket_rows=max_bucket_rows,
        )
        .select(
            F.col(f"a.`{id_col}`").alias("id_a"),
            F.col(f"b.`{id_col}`").alias("id_b"),
            F.col("a.simhash").alias("__sh_a"),
            F.col("b.simhash").alias("__sh_b"),
        )
        # a pair can surface from several matching bands: one row per pair
        .groupBy("id_a", "id_b")
        .agg(
            F.any_value(F.col("__sh_a")).alias("__sh_a"),
            F.any_value(F.col("__sh_b")).alias("__sh_b"),
        )
    )
    return cand.select(
        "id_a",
        "id_b",
        hamming_distance(
            F.col("__sh_a"), F.col("__sh_b"), bits=bits
        ).cast("long").alias("hamming"),
    ).where(F.col("hamming") <= max_hamming)


def incremental_exact_dedup(
    new_df: DataFrame,
    corpus_df: DataFrame,
    key_cols: list[str] | str,
    *,
    order_col: str,
    normalize_text: bool = False,
) -> DataFrame:
    """Exact dedup of a NEW batch against an existing corpus — the
    append-only production shape: the corpus is never re-clustered, only
    its 32-byte keys are joined.

    Keeps each new row iff (a) its key is absent from the corpus and
    (b) it is the ``order_col``-min holder of its key within the batch.
    Cost: one grouped agg over the batch + one broadcast-or-shuffled
    anti-join of batch keys against corpus keys; the corpus side is a
    key-projection scan only (at 100 TB the corpus keys can be a
    maintained parquet side-table instead of a rescan — same plan).
    """
    key = dedup_key(key_cols, normalize_text=normalize_text)

    batch_survivors = exact_dedup(
        new_df, key_cols, order_col=order_col, normalize_text=normalize_text
    )
    corpus_keys = corpus_df.select(key.alias("__dedup_key"))
    return (
        batch_survivors.withColumn("__dedup_key", key)
        .join(corpus_keys, on="__dedup_key", how="left_anti")
        .drop("__dedup_key")
    )


def incremental_ngram_dedup(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.5,
    shingle_size: int = DEFAULT_SHINGLE_SIZE,
    materialize: bool = True,
) -> DataFrame:
    """Fuzzy (EXACT n-gram Jaccard) dedup of a NEW batch against an
    existing corpus, without paying corpus x corpus: candidate postings
    are joined NEW-side-only against the union postings, so corpus rows
    never pair with each other.

    Semantics (conservative filter, deterministic, SQL-expressible): a
    new row is DROPPED iff some corpus row, or some new row with a
    smaller ``id_col``, has Jaccard >= ``threshold`` with it — ids must
    be unique across corpus and batch together. This is a filter, not a
    clustering: a new row is compared against every earlier row whether
    or not that row itself survives (exactly the EXISTS twin DuckDB
    runs as the oracle).

    Candidate completeness across the two sets uses the same
    prefix-filter theorem as :func:`ngram_jaccard_pairs` — document
    frequencies and the rare-first total order are computed over the
    UNION, so any qualifying (new, other) pair shares a shingle inside
    both prefixes. The postings join is an equi-join on shingle with the
    new side only on the left (AQE skew-join splits hot shingles; the
    rare-first prefix keeps them scarce).
    """
    tagged = corpus_df.select(
        F.col(id_col), F.col(text_col), F.lit(False).alias("__new")
    ).unionByName(
        new_df.select(
            F.col(id_col), F.col(text_col), F.lit(True).alias("__new")
        )
    )
    shingled = shingle_rows(tagged, id_col, text_col, shingle_size=shingle_size)
    # the shingle frame feeds FIVE consumers (sizes, dfreq, the prefix
    # window, and both verify sides) and Spark does not reuse the exchange
    # across those branches — left lazy, the plan re-expands the whole
    # tokenise-and-shingle lineage per consumer (~190 Exchanges observed
    # at sf0.1). Same materialise-once tradeoff as bounded_self_join
    # (pairs.py): one narrow (id, shingle) frame, recompute-on-loss.
    if materialize:
        shingled = shingled.localCheckpoint(eager=True)
    tags = tagged.select(id_col, "__new")

    from pyspark.sql import Window

    sizes = shingled.groupBy(id_col).agg(F.count(F.lit(1)).alias("__sz"))
    dfreq = shingled.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    # Window-count fusion: the prefix's per-doc size
    # rides the rank window's own id partitioning instead of joining the
    # sizes aggregate back in (sizes stays — the AllPairs length filter
    # below still needs it as a standalone frame).
    w_id = Window.partitionBy(id_col)
    w = w_id.orderBy(F.col("__df").asc(), F.col("shingle").asc())
    prefix = (
        shingled.join(dfreq, on="shingle")
        .withColumn("__sz", F.count(F.lit(1)).over(w_id))
        .withColumn("__rk", F.row_number().over(w))
        .where(
            F.col("__rk")
            <= F.col("__sz")
            - F.ceil(F.lit(float(threshold)) * F.col("__sz"))
            + F.lit(1)
        )
        .join(tags, on=id_col)
        .select(id_col, "shingle", "__new")
    )
    if materialize:
        # both posting sides branch from the prefix frame
        prefix = prefix.localCheckpoint(eager=True)
    new_postings = prefix.where(F.col("__new")).select(
        F.col(id_col).alias("id_a"), "shingle"
    )
    all_postings = prefix.select(
        F.col(id_col).alias("id_b"), "shingle", F.col("__new").alias("__new_b")
    )
    candidates = (
        new_postings.join(all_postings, on="shingle")
        # corpus partner, or an earlier new row — never self, never a
        # corpus x corpus pair (left side is new-only by construction)
        .where(
            (~F.col("__new_b")) | (F.col("id_b") < F.col("id_a"))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    # Verification WITHOUT shipping shingle arrays per pair (the array
    # formulation shuffles both full shingle sets for every candidate —
    # measured 2x slower at this fan-out). Two stages, both exact:
    # 1. AllPairs length filter (Bayardo et al., WWW 2007): J >= t
    #    forces t*|A| <= |B| and t*|B| <= |A| — a join against the tiny
    #    per-doc size frame prunes incompatible pairs for free;
    # 2. intersection COUNT via the postings themselves — candidates
    #    expand to their id_a postings once, then an equi-join on
    #    (id_b, shingle) counts shared shingles; Jaccard follows from
    #    |A∩B| / (|A| + |B| - |A∩B|). Narrow rows end-to-end.
    sz_a = sizes.select(
        F.col(id_col).alias("id_a"), F.col("__sz").alias("__sz_a")
    )
    sz_b = sizes.select(
        F.col(id_col).alias("id_b"), F.col("__sz").alias("__sz_b")
    )
    compatible = (
        candidates.join(sz_a, on="id_a")
        .join(sz_b, on="id_b")
        .where(
            (F.col("__sz_b") >= F.ceil(F.lit(float(threshold)) * F.col("__sz_a")))
            & (F.col("__sz_a") >= F.ceil(F.lit(float(threshold)) * F.col("__sz_b")))
        )
    )
    posts_a = shingled.select(F.col(id_col).alias("id_a"), "shingle")
    posts_b = shingled.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        compatible.join(posts_a, on="id_a")
        .join(posts_b, on=["id_b", "shingle"])
        .groupBy("id_a", "id_b", "__sz_a", "__sz_b")
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    drops = (
        inter.where(
            F.round(
                F.col("__inter")
                / (F.col("__sz_a") + F.col("__sz_b") - F.col("__inter")),
                6,
            )
            >= threshold
        )
        .select(F.col("id_a").alias(id_col))
        .distinct()
    )
    return new_df.join(drops, on=id_col, how="left_anti")


def minhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_size: int = DEFAULT_SHINGLE_SIZE,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """The persistable LSH index of a corpus: narrow ``(id, band_idx,
    band_key)`` rows — ``bands`` rows per document, 32-byte keys.

    This is the artifact a 100 TB dedup pipeline maintains as a parquet
    side-table (partitioned by ``band_idx``, appended as batches land):
    incremental near-dup admission then touches ONLY the new batch's
    texts plus this narrow index — the corpus text is never re-read and
    corpus rows never pair with each other. Signatures are the same
    md5-order-statistic MinHash as :func:`minhash_pairs`, so an index
    built at any time is join-compatible with any later batch encoded
    with the same ``(shingle_size, num_hashes, bands)``.
    """
    sig_names = [f"mh_{i}" for i in range(num_hashes)]
    # occurrence rows: min() over a multiset equals min() over its set,
    # so the zero-shuffle codegen generator feeds the signature
    # aggregation directly
    shingled = shingle_occurrence_rows(
        df, id_col, text_col, shingle_size=shingle_size
    )
    with_sig = shingled.groupBy(id_col).agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"mh{i}|"), F.col("shingle")))).alias(
                f"mh_{i}"
            )
            for i in range(num_hashes)
        ]
    )
    return with_sig.select(
        F.col(id_col),
        F.posexplode(F.array(*band_keys(sig_names, bands))).alias(
            "band_idx", "band_key"
        ),
    )


def incremental_minhash_dedup(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    corpus_index: DataFrame | None = None,
    threshold: float = 0.5,
    shingle_size: int = DEFAULT_SHINGLE_SIZE,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """MinHash-LSH dedup of a NEW batch against an existing corpus,
    without paying corpus x corpus — the banded sibling of
    :func:`incremental_ngram_dedup` for when the exact prefix filter is
    too expensive at corpus scale.

    Semantics (conservative filter, deterministic given the banding): a
    new row is DROPPED iff some corpus row, or some new row with a
    smaller ``id_col``, is a banded candidate AND has exact Jaccard >=
    ``threshold`` — ids must be unique across corpus and batch together.
    Candidates require a full signature band to collide, so recall
    follows the standard ``1-(1-s^r)^b`` LSH curve (pairs the banding
    misses are missed here AND in :func:`minhash_pairs` — the two are
    candidate-identical, which is what the equivalence pytest pins).

    ``corpus_index``: a pre-built :func:`minhash_index` frame for the
    corpus (typically read back from parquet). When supplied, the plan
    never touches the corpus text except to verify the candidates that
    actually arise (a semi-join prunes the corpus scan to those ids).
    Built on the fly from ``corpus_df`` when omitted.

    Scale shape: one band-keyed equi-join (new bands x union index; AQE
    skew-split handles hot bands), candidate ``distinct``, then exact
    verification over only the candidate documents' shingle sets.
    """
    new_index = minhash_index(
        new_df, id_col, text_col,
        shingle_size=shingle_size, num_hashes=num_hashes, bands=bands,
    )
    if corpus_index is None:
        corpus_index = minhash_index(
            corpus_df, id_col, text_col,
            shingle_size=shingle_size, num_hashes=num_hashes, bands=bands,
        )
    new_b = new_index.select(
        F.col(id_col).alias("id_a"), "band_idx", "band_key"
    )
    all_b = corpus_index.select(
        F.col(id_col).alias("id_b"), "band_idx", "band_key",
        F.lit(False).alias("__new_b"),
    ).unionByName(
        new_index.select(
            F.col(id_col).alias("id_b"), "band_idx", "band_key",
            F.lit(True).alias("__new_b"),
        )
    )
    candidates = (
        new_b.join(all_b, on=["band_idx", "band_key"])
        # corpus partner, or an earlier new row — never self, never a
        # corpus x corpus pair (left side is new-only by construction)
        .where((~F.col("__new_b")) | (F.col("id_b") < F.col("id_a")))
        .select("id_a", "id_b")
        .distinct()
    )
    union_text = corpus_df.select(
        F.col(id_col), F.col(text_col)
    ).unionByName(new_df.select(F.col(id_col), F.col(text_col)))
    ids_needed = (
        candidates.select(F.col("id_a").alias(id_col))
        .unionByName(candidates.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    # set-semantic Jaccard verify: duplicate-insensitive, so the
    # zero-shuffle occurrence generator applies
    shingled = shingle_occurrence_rows(
        union_text.join(ids_needed, on=id_col, how="left_semi"),
        id_col,
        text_col,
        shingle_size=shingle_size,
    )
    drops = (
        _verify_jaccard(candidates, shingled, id_col, threshold)
        .select(F.col("id_a").alias(id_col))
        .distinct()
    )
    return new_df.join(drops, on=id_col, how="left_anti")


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.8,
    shingle_size: int = DEFAULT_SHINGLE_SIZE,
) -> DataFrame:
    """ASYMMETRIC near-duplication: ordered pairs ``(id_a, id_b,
    containment)`` where at least ``threshold`` of ``id_a``'s shingles
    also appear in ``id_b`` (``|Sa ∩ Sb| / |Sa| >= t``, ``a != b``).

    Catches what symmetric Jaccard structurally cannot: a document
    quoted, wrapped, or embedded inside a much longer one drives J
    toward 0 as the host grows, while containment stays 1.0 — the
    boilerplate-wrapper and quote-chain cases in corpus dedup.

    Candidates via the one-sided prefix filter: containment >= t forces
    overlap >= ceil(t*|Sa|), so a qualifying pair must share a shingle
    inside ``a``'s first ``|Sa| - ceil(t*|Sa|) + 1`` rare-first-ordered
    shingles — only the INNER side is pruned (the host side must keep
    full postings, which is what makes the asymmetric join costlier than
    the symmetric one; same posting machinery as
    :func:`incremental_ngram_dedup`). Verification is the postings
    intersection count — narrow rows, no array shuffles.
    """
    from pyspark.sql import Window

    shingled = shingle_rows(df, id_col, text_col, shingle_size=shingle_size)
    shingled = shingled.localCheckpoint(eager=True)
    sizes = shingled.groupBy(id_col).agg(F.count(F.lit(1)).alias("__sz"))
    dfreq = shingled.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    # Window-count fusion, as in ngram_jaccard_pairs:
    # the prefix's per-doc size rides the rank window's id partitioning;
    # sizes stays for the containment denominator below.
    w_id = Window.partitionBy(id_col)
    w = w_id.orderBy(F.col("__df").asc(), F.col("shingle").asc())
    prefix = (
        shingled.join(dfreq, on="shingle")
        .withColumn("__sz", F.count(F.lit(1)).over(w_id))
        .withColumn("__rk", F.row_number().over(w))
        .where(
            F.col("__rk")
            <= F.col("__sz")
            - F.ceil(F.lit(float(threshold)) * F.col("__sz"))
            + F.lit(1)
        )
        .select(F.col(id_col).alias("id_a"), "shingle")
    )
    full_postings = shingled.select(
        F.col(id_col).alias("id_b"), "shingle"
    )
    candidates = (
        prefix.join(full_postings, on="shingle")
        .where(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sz_a = sizes.select(
        F.col(id_col).alias("id_a"), F.col("__sz").alias("__sz_a")
    )
    posts_a = shingled.select(F.col(id_col).alias("id_a"), "shingle")
    posts_b = shingled.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        candidates.join(sz_a, on="id_a")
        .join(posts_a, on="id_a")
        .join(posts_b, on=["id_b", "shingle"])
        .groupBy("id_a", "id_b", "__sz_a")
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    return (
        inter.select(
            "id_a",
            "id_b",
            F.round(F.col("__inter") / F.col("__sz_a"), 6).alias(
                "containment"
            ),
        )
        .where(F.col("containment") >= threshold)
    )


def cluster_representatives(
    df: DataFrame,
    cluster_col: str,
    *,
    score_col: str | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Survivorship policy for resolved near-dup clusters: ONE
    representative row per cluster — highest ``score_col`` (e.g. a
    quality score or document length), ties and the no-score case
    broken by ascending ``id_col`` so the choice is deterministic
    cross-engine and cross-run.

    The last stage of fuzzy dedup: pairs → connected components →
    pick the canonical document per component. One keyed window with
    the ``rank = 1`` filter directly on it, so Spark's WindowGroupLimit
    rewrite keeps a 1-row heap per cluster on the map side — the
    shuffle carries one candidate per cluster per map partition, not
    the cluster populations.
    """
    order = [F.col(id_col).asc()]
    if score_col is not None:
        order.insert(0, F.col(score_col).desc())
    w = Window.partitionBy(cluster_col).orderBy(*order)
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") == 1)
        .drop("__rk")
    )


def compact_minhash_index(
    index: DataFrame,
    live: DataFrame,
    id_col: str,
) -> DataFrame:
    """Maintenance pass for a persisted :func:`minhash_index` side-table,
    which otherwise grows forever as incremental-dedup batches append.

    Two kinds of garbage accumulate in an append-only index:

    - rows for documents no longer live (dropped as duplicates by a
      later admission pass, deleted, or retention-expired) — they keep
      matching future batches and force pointless exact-verify work
      against text that will never be admitted again;
    - duplicate ``(id, band_idx, band_key)`` rows from batch re-ingest
      / backfill replays — they multiply candidate rows for every
      future collision on that key.

    This pass semi-joins the index against the live id set and
    collapses exact duplicate rows (full-row ``distinct`` — NOT an
    arbitrary pick per ``(id, band_idx)``: if a live id was
    re-ingested with CHANGED text, both its old and new band keys
    survive, which is deliberate — stale keys only ADD candidates,
    and the exact-Jaccard verify against current text decides, so
    recall never drops; a keep-one policy could discard the current
    text's key and silently miss future near-duplicates). Output is
    the canonical narrow ``(id, band_idx, band_key)`` frame, ready to
    overwrite the side-table (write it partitioned by ``band_idx`` as
    before).

    Invariant (pytest-pinned): for an index whose rows were built from
    the live corpus's current text, admission decisions against the
    compacted index equal decisions against a FRESH index built over
    the live corpus — compaction never changes semantics, it only
    removes rows that could not alter any future decision. Singleton
    band keys are deliberately KEPT: a key with one live member is
    exactly what a future near-duplicate of that member will collide
    with.

    Scale shape: one broadcast-or-shuffle semi-join on the 32-byte id
    hash side (AQE decides; the live id set is usually far smaller
    than the index) plus one dedup shuffle over the narrow frame. Run
    it as a periodic maintenance job, not per batch — append-only
    ingest stays one cheap parquet append.

    The pass is schema-agnostic beyond ``id_col`` (semi-join + full-row
    distinct), so it maintains EVERY persisted admission side-table
    the engine produces — ``similarity.embedding_bucket_index``'s
    ``(id, table_idx, bucket)`` rows and ``spans.winnowed_fingerprints``'
    ``(id, h)`` index compact with the same call (pytest-pinned).
    """
    pruned = index.join(
        live.select(F.col(id_col)).distinct(), on=id_col, how="left_semi"
    )
    return pruned.distinct()


def minhash_index_stats(
    index: DataFrame, *, hot_threshold: int = 100
) -> DataFrame:
    """Band-skew report over a :func:`minhash_index` side-table: per
    ``band_idx`` — total rows, distinct keys, the largest key's
    multiplicity, and how many keys/rows sit at or above
    ``hot_threshold`` members.

    A band key with ``m`` members yields ``O(m²)`` candidate pairs in
    a self-join (``m × batch-hits`` incrementally), so the hot tail is
    THE cost driver of LSH dedup at 100 TB — this report is what
    decides whether to raise bands/rows, shard a hot key, or
    quarantine degenerate boilerplate before the join (the same
    motivation as ``scale.skew_report``, specialised to the index's
    (band_idx, band_key) geometry).

    One map-side-combining aggregation per level; output is
    ``bands``-rows small.
    """
    per_key = index.groupBy("band_idx", "band_key").agg(
        F.count(F.lit(1)).alias("__n")
    )
    hot = F.col("__n") >= F.lit(int(hot_threshold))
    return (
        per_key.groupBy("band_idx")
        .agg(
            F.sum("__n").alias("n_rows"),
            F.count(F.lit(1)).alias("n_keys"),
            F.max("__n").alias("max_key_rows"),
            F.sum(F.when(hot, 1).otherwise(0)).alias("n_hot_keys"),
            F.sum(F.when(hot, F.col("__n")).otherwise(0)).alias(
                "n_hot_rows"
            ),
        )
        .orderBy("band_idx")
    )
