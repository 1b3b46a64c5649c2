"""Deterministic dataset sampling and splitting for training pipelines.

Everything here is pure integer arithmetic on the row's id — NOT
``rand()``. At scale that matters three ways: (1) retried tasks
reproduce the same sample (rand() breaks exactly-once sinks), (2) the
same row lands in the same split on every run and every engine (the
DuckDB oracle can replay the exact arithmetic), (3) no RNG state needs
coordinating across 1000 executors.

The hash is Knuth's multiplicative scheme on 32 bits — weak as a
cryptographic hash, ideal as a splitter: a single multiply+mod per row,
uniform on sequential ids, and expressible in any SQL dialect.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Knuth 2^32 / phi. The id is folded to 31 bits BEFORE the multiply so
#: the product is bounded by (2^31-1) * 2654435761 < 2^63 — folding to
#: 2^32 would overflow int64 for folded ids above ~3.47e9 and yield
#: negative buckets that match no split (caught by hypothesis).
_KNUTH = 2654435761
_M31 = 2**31


def _knuth(c: Column) -> Column:
    """Knuth hash of an integer column into [0, 2^31): the one
    replayable draw under :func:`split_bucket`, :func:`weighted_uniform`
    and :func:`poisson_bootstrap`."""
    return (F.pmod(c, F.lit(_M31)) * _KNUTH) % _M31


def split_bucket(id_col: Column | str, *, buckets: int = 1000) -> Column:
    """Deterministic uniform bucket in [0, buckets) from an integer id.
    Pure int64 arithmetic (no overflow for any long id), replayable in
    any SQL dialect."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return _knuth(c) % buckets


def hash_split(
    df: DataFrame,
    id_col: str,
    *,
    fractions: dict[str, float],
    split_col: str = "split",
) -> DataFrame:
    """Assign every row to a named split (train/val/test...) by id hash.

    ``fractions`` maps split name -> fraction; they must sum to <= 1
    (any remainder is dropped — useful for subsampling while splitting).
    Stable across runs, engines, partitionings, and retries.
    """
    total = sum(fractions.values())
    assert total <= 1.0 + 1e-9, f"fractions sum to {total} > 1"
    b = split_bucket(id_col, buckets=1000)
    expr = F.lit(None).cast("string")
    hi = 0
    for name, frac in fractions.items():
        lo, hi = hi, hi + int(round(frac * 1000))
        expr = F.when((b >= lo) & (b < hi), F.lit(name)).otherwise(expr)
    out = df.withColumn(split_col, expr)
    return out.filter(F.col(split_col).isNotNull())


def deterministic_sample(df: DataFrame, id_col: str, fraction: float) -> DataFrame:
    """Keep a deterministic ~``fraction`` of rows by id hash (the
    reproducible twin of ``df.sample``)."""
    return df.filter(split_bucket(id_col) < int(round(fraction * 1000)))


def mix_sources(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    weights: dict[str, float],
) -> DataFrame:
    """Downsample each source so the output matches a target mixture.

    ``weights`` maps source name -> target mixture weight (need not sum
    to 1; they are relative). Unlike :func:`stratified_sample` (where
    the caller picks each keep-fraction by hand), this solves for them:
    the output is the LARGEST dataset achieving the requested mix
    without upsampling any source — the binding source (smallest
    ``n_s / w_s``) is kept whole and every other source is thinned to
    ``w_s * scale / n_s`` where ``scale = min_s(n_s / w_s)``. Sources
    absent from ``weights`` are dropped. Thinning granularity is 1/1000
    (the id-hash bucket resolution shared by the whole module).

    Scale design: per-source counts are a map-combinable aggregate over
    a handful of groups; the resulting per-source thresholds (a few
    rows) broadcast back onto the corpus, and the keep decision is the
    same pure int64 arithmetic as :func:`hash_split` — deterministic
    across runs, retries, partitionings, and engines (the DuckDB oracle
    replays count, scale, and hash exactly). No driver collect.
    """
    assert weights and all(w > 0 for w in weights.values())
    wmap = F.create_map(
        *[F.lit(x) for kv in weights.items() for x in (kv[0], float(kv[1]))]
    )
    counts = (
        df.filter(F.col(strata_col).isin(*weights))
        .groupBy(F.col(strata_col).alias("_s"))
        .agg(F.count("*").alias("_n"))
        .withColumn("_w", wmap[F.col("_s")])
    )
    scale = counts.agg(F.min(F.col("_n") / F.col("_w")).alias("_scale"))
    thresholds = counts.crossJoin(F.broadcast(scale)).select(
        "_s",
        F.floor(F.col("_w") * F.col("_scale") / F.col("_n") * 1000)
        .cast("long")
        .alias("_thr"),
    )
    out = df.join(
        F.broadcast(thresholds), df[strata_col] == F.col("_s"), "inner"
    )
    return out.filter(split_bucket(id_col) < F.col("_thr")).drop("_s", "_thr")


def sample_per_group(
    df: DataFrame,
    id_col: str,
    group_col: str,
    k: int,
    *,
    rank_col: str = "rnk",
) -> DataFrame:
    """EXACTLY ``min(k, group size)`` rows per group, deterministically.

    Fraction-based sampling (:func:`stratified_sample`) only hits its
    target in expectation; evaluation sets and per-language quotas need
    exact counts. Rows are ranked inside each group by (id-hash, id) —
    a uniform deterministic order — and the top ``k`` kept, so the
    chosen rows are stable across runs/engines and adding new rows to a
    group only perturbs the selection where hashes collide.

    Scale design: delegates to :func:`stats.topk_per_group`'s two-phase
    local prune, so no stage funnels a whole group through one task
    (the naive ``row_number() OVER (PARTITION BY group)`` does exactly
    that at 100 TB when groups are few and huge).
    """
    from kafka_streams_plumber_spark.operators.stats import topk_per_group

    return topk_per_group(
        df,
        group_col,
        [split_bucket(id_col), F.col(id_col)],
        k,
        rank_fn=F.row_number,
        rank_col=rank_col,
    )


def stratified_sample(
    df: DataFrame, id_col: str, strata_col: str, fractions: dict[str, float]
) -> DataFrame:
    """Per-stratum deterministic sampling (dataset mixing: e.g. keep 10%
    of crawl, 100% of curated). Strata missing from ``fractions`` are
    dropped. Same id-hash determinism as :func:`hash_split`."""
    b = split_bucket(id_col)
    cond = F.lit(False)
    for name, frac in fractions.items():
        cond = cond | (
            (F.col(strata_col) == name) & (b < int(round(frac * 1000)))
        )
    return df.filter(cond)


def group_split(
    df: DataFrame,
    group_col: str,
    *,
    fractions: dict[str, float],
    split_col: str = "split",
) -> DataFrame:
    """Leakage-free splits: assign by GROUP (user, domain, dedup
    cluster), not by row, so correlated rows — a user's events, a
    domain's pages, a near-duplicate family — never straddle
    train/test. Same id-hash arithmetic as :func:`hash_split` applied
    to the integer group key; within a group every row lands in the
    same split by construction (no join, no shuffle — the group id is
    already on the row)."""
    return hash_split(df, group_col, fractions=fractions, split_col=split_col)


def temporal_split(
    df: DataFrame,
    ts_col: str,
    *,
    train_frac: float = 0.8,
    embargo_ms: int = 0,
    split_col: str = "split",
) -> DataFrame:
    """Time-ordered train/val split with an embargo gap — the
    leakage-safe split for anything autocorrelated in time (market
    data, telemetry, interaction logs), where a hash split would let
    the model peek across the boundary.

    The cutoff is the exact ``train_frac`` quantile of the timestamp
    (interpolated like quantile_cont, the repo-wide exact-percentile
    parity). Rows at-or-before the cutoff are ``train``; rows inside
    ``(cutoff, cutoff + embargo_ms]`` are DROPPED (label horizons that
    straddle the boundary leak future into train — the embargo removes
    them); later rows are ``val``.

    Plan: one exact-percentile aggregate (broadcast back as a one-row
    literal frame) plus a pure filter/projection — the fact table is
    never shuffled.
    """
    if not 0.0 < train_frac < 1.0:
        raise ValueError("train_frac must be in (0, 1)")
    tms = F.unix_millis(F.col(ts_col))
    cut = df.agg(
        F.percentile(tms, F.lit(train_frac)).alias("_cut")
    )
    out = df.crossJoin(F.broadcast(cut))
    t = tms
    return (
        out.withColumn(
            split_col,
            F.when(t <= F.col("_cut"), F.lit("train")).when(
                t > F.col("_cut") + embargo_ms, F.lit("val")
            ),
        )
        .where(F.col(split_col).isNotNull())
        .drop("_cut")
    )


def importance_sample(
    df: DataFrame,
    score_col: str,
    id_col: str,
    *,
    temperature: float = 1.0,
    keep_col: str = "accept_p",
) -> DataFrame:
    """Importance resampling by a log-odds relevance score (the DSIR
    pattern: keep documents with probability sigmoid(score/T), where
    the score is a likelihood ratio such as classify.nb_score's).

    Acceptance is deterministic: a 1e6-bucket id hash is compared to
    the sigmoid rounded to 6 dp, so the SAME rows survive on every
    run, partitioning, and engine (the oracle-hash property), yet the
    kept set is distributed like an independent Bernoulli draw because
    the id hash is uniform and independent of content. Pure
    expressions — filter + arithmetic, pushes down to the scan when
    the score is a stored column."""
    p = F.round(
        F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col(score_col) / temperature)), 6
    )
    u = split_bucket(F.col(id_col), buckets=1_000_000) / 1_000_000.0
    return df.withColumn(keep_col, p).filter(u < F.col(keep_col))


def negative_samples(
    df: DataFrame,
    id_col: str,
    *,
    k: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Deterministic uniform negative sampling for contrastive training
    pairs: each row gets ``k`` negatives drawn from the corpus by
    walking a seeded global permutation at fixed strides — uniform
    (the permutation is a seeded md5 order), collision-free with the
    anchor, and reproducible across runs/engines/partitionings (no
    rand(), so retries and the SQL oracle replay the exact pairs).

    Plan: one :func:`~kafka_streams_plumber_spark.operators.ordering.
    rank_by` pass assigns positions (parallel sort, O(P) offset
    broadcast), then ``k`` equi-joins of (position, id) pairs on
    ``(pos + stride_j) % N`` — the join keys are 8-byte longs, the
    corpus rows never re-shuffle. Returns (id, neg_idx, neg_id).
    """
    from kafka_streams_plumber_spark.operators.ordering import (
        rank_by,
        shuffle_key,
    )

    pos = rank_by(
        df.select(F.col(id_col)).withColumn("_k", shuffle_key(id_col, seed=seed)),
        ["_k", id_col],
        pos_col="_pos",
    ).select(id_col, "_pos")
    n = pos.agg(F.count("*").alias("_n"))
    base = pos.crossJoin(F.broadcast(n))

    # N == 1 has no valid negative (any stride self-pairs): emit nothing.
    base = base.filter(F.col("_n") > 1)

    out = None
    for j in range(1, k + 1):
        # strides are k CONSECUTIVE residues mod (N-1), shifted into
        # [1, N-1]: pairwise distinct whenever k <= N-1 (a fixed
        # per-j constant mod N can collide across j's, silently
        # duplicating negatives), and never 0 mod N, so the negative
        # is never the anchor. For k > N-1 duplicates are unavoidable
        # (there are only N-1 distinct non-self offsets).
        stride = (F.lit(2654435761) + F.lit(j)) % (F.col("_n") - 1) + 1
        probe = base.select(
            F.col(id_col),
            F.lit(j).alias("neg_idx"),
            F.pmod(F.col("_pos") + stride, F.col("_n")).alias("_np"),
        )
        neg = probe.join(
            pos.select(F.col("_pos").alias("_np"), F.col(id_col).alias("neg_id")),
            "_np",
        ).select(id_col, "neg_idx", "neg_id")
        out = neg if out is None else out.unionByName(neg)
    assert out is not None
    return out


def weighted_uniform(id_col: Column | str) -> Column:
    """Deterministic uniform draw in (0, 1] from an integer id — the
    same Knuth multiplicative hash as :func:`split_bucket` at full
    31-bit resolution, shifted off zero so ``ln(u)`` is finite."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return (_knuth(c).cast("double") + 1.0) / float(_M31 + 1)


def weighted_sample_per_group(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    group_cols: str | list[str],
    k: int,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, k rows per group, by the
    Efraimidis-Spirakis A-ES scheme: each row draws a deterministic
    uniform ``u`` from its id and competes on the key ``u^(1/w)`` —
    ranked here as the monotone-equivalent ``ln(u)/w`` (descending) to
    stay in plain double arithmetic. Rows with NULL or non-positive
    weight are excluded.

    Inclusion probability rises with weight exactly as in weighted
    reservoir sampling — the curation primitive for "sample by quality
    score" — while staying deterministic across runs, engines, retries,
    and partitionings (no rand(), no RNG state on 1000 executors).

    The key is rounded to 9 dp before ranking (id tie-break) so libm
    ``ln`` noise between engines cannot flip ranks; top-k per group is
    the two-phase local-prune ranker, never a single-task-per-group
    window.
    """
    from kafka_streams_plumber_spark.operators.stats import topk_per_group

    w = F.col(weight_col).cast("double")
    eligible = df.filter(w.isNotNull() & (w > 0))
    keyed = eligible.withColumn(
        "_wkey", F.round(F.log(weighted_uniform(id_col)) / w, 9)
    )
    out = topk_per_group(
        keyed,
        group_cols,
        [F.col("_wkey").desc(), F.col(id_col)],
        k,
        rank_fn=F.row_number,
        rank_col="_wrnk",
    )
    return out.drop("_wkey", "_wrnk")


def temperature_mix(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    *,
    tau: float = 2.0,
) -> DataFrame:
    """Temperature-flattened source mixing: downsample so source
    shares follow ``n_s^(1/tau)`` (the multilingual-sampling rule —
    tau > 1 flattens toward uniform, lifting low-resource sources'
    RELATIVE share without upsampling anyone; tau = 1 is a no-op mix).

    :func:`mix_sources` with the target weights DERIVED from observed
    counts instead of caller-supplied — same largest-dataset-without-
    upsampling solve, same deterministic id-hash thinning, still no
    driver collect (weights never leave the executors). Weights are
    rounded to 6 dp after ``pow`` so libm ulp differences between
    engines can't move a 1/1000 keep-threshold boundary.
    """
    assert tau > 0
    counts = df.groupBy(F.col(strata_col).alias("_s")).agg(
        F.count("*").alias("_n")
    )
    w = F.round(F.pow(F.col("_n").cast("double"), 1.0 / tau), 6)
    counts = counts.withColumn("_w", w)
    scale = counts.agg(F.min(F.col("_n") / F.col("_w")).alias("_scale"))
    thresholds = counts.crossJoin(F.broadcast(scale)).select(
        "_s",
        F.floor(F.col("_w") * F.col("_scale") / F.col("_n") * 1000)
        .cast("long")
        .alias("_thr"),
    )
    out = df.join(
        F.broadcast(thresholds), df[strata_col] == F.col("_s"), "inner"
    )
    return out.filter(split_bucket(id_col) < F.col("_thr")).drop("_s", "_thr")


def kfold(
    df: DataFrame,
    id_col: str,
    *,
    k: int = 5,
    fold_col: str = "fold",
) -> DataFrame:
    """Deterministic k-fold cross-validation assignment: every row gets
    a ``fold`` in [0, k) from the id-hash — stable across runs,
    engines, partitionings, and retries, so fold i's train set is
    reproducible anywhere (`filter(fold != i)` / `filter(fold == i)`).

    Pass a GROUP key (user, domain, dedup cluster id) as ``id_col``
    for leakage-free grouped CV — correlated rows then never straddle
    a fold boundary, same rationale as :func:`group_split`. Pure
    projection; zero shuffles.
    """
    if k < 2:
        raise ValueError("k must be >= 2")
    return df.withColumn(
        fold_col, split_bucket(id_col, buckets=k).cast("int")
    )


def reweight_to_target(
    df: DataFrame,
    stratum_col: str,
    target: dict[str, float],
    *,
    weight_col: str = "weight",
) -> DataFrame:
    """Importance weights that make a corpus match a target stratum mix
    WITHOUT dropping rows: ``weight = target_share / actual_share`` per
    stratum (language, source, domain), so weighted losses/statistics
    behave as if the data had the target composition — the static
    reweighting alternative to resampling (keeps every example;
    complements :func:`mix_sources`, which thins).

    Strata absent from ``target`` get weight 0.0 (excluded from the
    weighted objective, still present for audit). ``target`` shares
    must sum to ~1 (validated).

    Plan: ONE map-combinable count aggregate (O(strata) rows) joined
    back broadcast — the fact table is never shuffled. The division is
    a single double expression over exact counts (6 dp), SQL-exact.
    """
    total = sum(target.values())
    if abs(total - 1.0) > 1e-6:
        raise ValueError(f"target shares sum to {total}, want 1.0")
    counts = df.groupBy(F.col(stratum_col)).agg(F.count("*").alias("_n"))
    counts = counts.crossJoin(
        df.agg(F.count("*").cast("long").alias("_total"))
    )
    tgt = F.lit(None).cast("double")
    for name, share in target.items():
        tgt = F.when(F.col(stratum_col) == name, F.lit(float(share))).otherwise(tgt)
    weights = counts.select(
        stratum_col,
        F.round(
            F.coalesce(tgt, F.lit(0.0))
            * F.col("_total")
            / F.col("_n"),
            6,
        ).alias(weight_col),
    )
    return df.join(F.broadcast(weights), stratum_col)


def sample_to_token_budget(
    df: DataFrame,
    group_col: str,
    id_col: str,
    token_col: str,
    *,
    budget: int,
    seed: int = 42,
) -> DataFrame:
    """Reproducibly sample each group down to a TOKEN budget (not a row
    fraction): walk the group's docs in seeded hash order and keep
    them until ``budget`` tokens are reached — how corpus mixes are
    actually specified ("500M tokens of src A, 2B of src B"), where a
    row-fraction sample over-serves short-doc sources.

    The first document that crosses the budget IS kept (each group's
    total lands in ``[budget, budget + max_doc_tokens)``; truncate
    that doc downstream if exact budgets matter). Deterministic across
    runs/engines/partitionings: the admission order is the seeded md5
    id-hash :func:`...ordering.shuffle_key`, and the cumulative
    token count is an exact integer prefix sum.

    Scale shape = :func:`...stats.weighted_percentiles`: range
    repartition on (group, hash) + local sort, one row-based
    prefix-sum window keyed by (physical partition, group) — never a
    whole group in one task — with O(P x G) offsets broadcast back.
    Output: the kept rows plus ``_cum_tokens`` (the group's running
    total through each kept doc).
    """
    from pyspark.sql import Window as W

    from kafka_streams_plumber_spark.operators.ordering import shuffle_key

    src = df.withColumn("_k", shuffle_key(id_col, seed=seed)).withColumn(
        "_w", F.col(token_col).cast("long")
    )
    ranked = (
        src.repartitionByRange(group_col, "_k")
        .sortWithinPartitions(group_col, "_k")
        .select(
            "*",
            F.spark_partition_id().alias("_pid"),
            F.monotonically_increasing_id().alias("_mid"),
        )
    )
    wloc = W.partitionBy("_pid", group_col).orderBy("_mid").rowsBetween(
        W.unboundedPreceding, 0
    )
    ranked = ranked.withColumn("_lcum", F.sum("_w").over(wloc))
    part_stats = ranked.groupBy("_pid", group_col).agg(
        F.sum("_w").alias("_wc")
    )
    woff = W.partitionBy(group_col).orderBy("_pid")
    offsets = part_stats.select(
        "_pid",
        group_col,
        (F.sum("_wc").over(woff) - F.col("_wc")).alias("_offw"),
    )
    r = ranked.join(F.broadcast(offsets), ["_pid", group_col]).withColumn(
        "_cum_tokens", F.col("_offw") + F.col("_lcum")
    )
    return (
        r.filter((F.col("_cum_tokens") - F.col("_w")) < budget)
        .drop("_k", "_w", "_pid", "_mid", "_lcum", "_offw")
    )


def neyman_sample(
    df: DataFrame,
    strata_col: str,
    value_col: str,
    id_col: str,
    *,
    total_n: int,
    value_scale: int = 1000,
) -> DataFrame:
    """Neyman-allocated stratified sampling: the statistically optimal
    split of a ``total_n`` budget across strata for estimating the mean
    of ``value_col`` — stratum h gets n_h proportional to N_h * S_h
    (size x population std), so high-variance strata are oversampled
    and near-constant ones barely cost budget. The principled
    alternative to proportional stratified_sample when the point of
    the sample is a measurement.

    Determinism: stratum stds come from exact scaled-long integer
    moments (the standardize device), the per-stratum keep fraction is
    reduced to an INTEGER threshold in [0, 1e6], and row selection is
    the repo-wide Knuth id-hash — replayable, retry-stable, and
    exactly SQL-oracle-able. Threshold selection keeps E[rows] = n_h
    without a per-stratum rank pass (the acceptance idiom of
    deterministic_sample / importance_sample).

    Plan: ONE map-combinable moment aggregate -> the O(strata)
    allocation frame (weights, thresholds) -> broadcast back; the fact
    table is scanned once, never window-funneled. Output: sampled rows
    as (id, stratum, n_target) plus the stratum threshold for audit.
    """
    xq = F.round(F.col(value_col) * value_scale).cast("long")
    moments = df.groupBy(strata_col).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(xq).alias("_s"),
        F.sum(xq * xq).alias("_ss"),
    )
    # Double rounding can leave a tiny NEGATIVE var for near-constant
    # strata; unclamped, sqrt -> NaN poisons _wsum and every threshold
    # (NaN casts to 0 long) so the whole sample silently comes back
    # empty. Clamp at 0 — a constant stratum legitimately gets weight 0.
    var = F.greatest(
        (F.col("_ss") / F.col("_n") - F.pow(F.col("_s") / F.col("_n"), 2))
        / (value_scale * value_scale),
        F.lit(0.0),
    )
    weighted = moments.select(
        strata_col,
        "_n",
        (F.col("_n") * F.sqrt(var)).alias("_w"),
    )
    tot = weighted.agg(
        F.sum("_w").alias("_wsum"), F.sum("_n").alias("_ntot")
    )
    # If EVERY stratum is exactly constant (_wsum = 0, or null on an
    # empty frame) Neyman weights are undefined — fall back to
    # proportional allocation (weight = N_h) instead of returning an
    # empty sample.
    degenerate = F.col("_wsum").isNull() | (F.col("_wsum") <= 0.0)
    eff_w = F.when(degenerate, F.col("_n").cast("double")).otherwise(
        F.col("_w")
    )
    eff_sum = F.when(degenerate, F.col("_ntot").cast("double")).otherwise(
        F.col("_wsum")
    )
    alloc = weighted.crossJoin(F.broadcast(tot)).select(
        strata_col,
        "_n",
        F.round(F.lit(float(total_n)) * eff_w / eff_sum)
        .cast("long")
        .alias("n_target"),
    )
    alloc = alloc.select(
        strata_col,
        "n_target",
        F.least(
            F.lit(1_000_000).cast("long"),
            F.round(F.lit(1_000_000.0) * F.col("n_target") / F.col("_n"))
            .cast("long"),
        ).alias("_thresh"),
    )
    keep = split_bucket(id_col, buckets=1_000_000) < F.col("_thresh")
    return (
        df.join(F.broadcast(alloc), strata_col)
        .where(keep)
        .select(id_col, strata_col, "n_target", F.col("_thresh").alias("threshold"))
    )


#: Poisson(1) CDF thresholds for the bootstrap weight draw (k = 0..7;
#: u above the last threshold -> weight 8). Literal doubles, repeated
#: VERBATIM in the SQL oracle so both engines compare the same bits.
POISSON1_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238463,
    0.9963401531726563,
    0.9994058151824183,
    0.999916758850712,
    0.9999897508033253,
)


def poisson_bootstrap(
    df: DataFrame,
    id_col: str,
    value_col: str,
    *,
    group_cols: str | Sequence[str] = (),
    b: int = 200,
    value_scale: int = 10**6,
    mean_scale: int = 10**9,
    ci: float = 0.95,
    salt_cells: int = 64,
) -> DataFrame:
    """Bootstrap standard error + percentile CI for the MEAN of
    ``value_col``, per group of ``group_cols``, via the Poisson
    bootstrap — the resampling scheme that actually works distributed:
    instead of materializing B resamples (impossible at 100 TB), every
    row draws an independent Poisson(1) replication weight per replica
    (the large-n limit of multinomial resampling), so the whole
    bootstrap is ONE widening projection + ONE map-combinable
    aggregate. Deterministic: the weight for (row, replica) is
    :func:`weighted_uniform` of ``id * b + replica`` (the repo's
    replayable Knuth hash), inverse-CDF'd through :data:`POISSON1_CDF`
    — so a retried task recomputes the same answer.

    One output row per group: ``(*group_cols, n_rows, n_replicas,
    point_mean, boot_mean, boot_se, ci_lo, ci_hi)`` — 6 dp; with no
    ``group_cols``, one row over the whole frame. Group keys match
    NULL-safely. Replicas whose total weight is 0 drop NULL-safely; a
    group whose every replica did (a handful of rows and a small ``b``)
    keeps its point estimate with NULL bootstrap columns.

    Exactness: values ride scaled longs (``round(v * value_scale)``) with
    the caller contract ``|value| * value_scale < 2**63 / 8`` (the per-row
    weight-product stays in a long; weights cap at 8);
    per-replica sums are exact decimal(38,0) integers; each replica
    mean is one double division; replica means re-quantize to longs
    at ``mean_scale`` so the SE moments (B*Q - T^2, the integer
    variance identity) and the percentile CI (exact interpolated
    percentile over B longs) are summation-order-proof — SQL replays
    bit-for-bit.

    Scale design: the x``b`` explode is the method's honest cost
    (b ~ 100-200), but it never shuffles at row grain — the partial
    aggregation collapses each partition to <= groups x b x
    ``salt_cells`` long-typed rows map-side (the salt is what keeps the
    hot loop on long arithmetic; see the in-code note), so the exchange
    carries O(partitions x groups x b x salt_cells) tiny all-long rows
    (~4 GB at 1000 executors with defaults and one group — noise
    against a 100 TB scan); everything after lives on the
    groups x B-row frame. No self-joins at row grain, no Python, no
    driver-side loops.
    """
    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    alpha = (1.0 - ci) / 2.0
    v = F.round(F.col(value_col).cast("double") * value_scale, 0).cast("long")
    base = df.where(
        F.col(value_col).isNotNull() & F.col(id_col).isNotNull()
    ).select(*groups, F.col(id_col).cast("long").alias("_k"), v.alias("_v"))

    from kafka_streams_plumber_spark.plans.scale import ensure_parallelism

    # The x``b`` explode multiplies rows ~100-200x, so a narrow source
    # (one small parquet file = 1-3 scan splits) would run the whole
    # n*b hot loop on 1-3 cores; widen BEFORE the explode is attached
    # (guide §2.5 — AQE sizes by input bytes and cannot see the fanout).
    # The salt cell is computed here, pre-explode, so the xxhash64 runs
    # n times instead of n*b times.
    base = ensure_parallelism(base)
    rep = base.select(
        *groups,
        "_k",
        "_v",
        F.pmod(F.xxhash64(F.col("_k")), F.lit(salt_cells)).alias("_sl"),
        F.explode(F.sequence(F.lit(0), F.lit(b - 1))).alias("_r"),
    )
    u = weighted_uniform(F.col("_k") * b + F.col("_r"))
    # w = #{k : u >= CDF[k]} — branch-free indicator sum, identical to
    # walking the increasing CDF (first k with u < CDF[k], else 8) but
    # without the 8-deep nested-conditional codegen of an F.when chain.
    # This expression runs n*b times; it is the kernel's hot loop, so it
    # is materialized ONCE in a projection below instead of appearing in
    # two aggregate expressions (which would evaluate it twice per row).
    w: Column = sum(
        (u >= c).cast("long") for c in POISSON1_CDF
    )  # type: ignore[assignment]

    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    # Hot-loop arithmetic stays on LONGs end to end — measured 6x
    # faster than accumulating decimal(38,0) at n*b grain (the
    # BigDecimal add per exploded row dominated the whole kernel).
    # Exactness is preserved by a SALTED TWO-LEVEL SUM: level 1 sums
    # longs per (replica, hash-salt cell) — exact while any cell's
    # sum |w*v| stays under 2^63, i.e. roughly n/salt_cells * 8 *
    # |value|*value_scale < 2^63 (defaults: n up to ~7e13 rows of
    # |value|*value_scale <= 1e9, ~7e10 at |value|*value_scale <= 1e12; raise
    # ``salt_cells`` for more — but keep b*salt_cells within the
    # L2-resident range: measured 2.9 s at 6400 map-side keys vs
    # 6.9 s at 25600 on the sf0.1 probe) — and level 2
    # decimal-sums the b*salt_cells tiny partials, which CAN exceed
    # 2^63 at 100 TB row counts. The summed integers are
    # bit-identical to the single-level decimal sum, so the
    # SQL-oracle hash is unchanged. A per-cell (count, min, max)
    # guard rides along and NULLs the bootstrap columns if any cell
    # could have wrapped (fail-loud, never silent garbage); the
    # guard bound is conservative by construction (count * 8 *
    # max(|min|, |max|, 1) with the abs taken in DOUBLE so a
    # Long.MIN_VALUE saturation cannot wrap it, checked against
    # 2^62 to absorb double rounding; the 1.0 floor also bounds the
    # weight-sum partial).
    part = rep.select(
        *groups, "_r", "_sl", "_v", w.alias("_w")
    ).groupBy(*groups, "_r", "_sl").agg(
        F.sum(F.col("_w") * F.col("_v")).alias("_pv"),
        F.sum("_w").alias("_pw"),
        F.count(F.lit(1)).alias("_pc"),
        # min/max, NOT max(abs(_v)): if an input saturates the
        # double->long cast to Long.MIN_VALUE (outside the documented
        # |value|*value_scale < 2^63/8 contract), abs() WRAPS NEGATIVE and
        # would understate the guard magnitude — the guard could then
        # pass while the long partials had wrapped. abs is taken on
        # the DOUBLE side below, where MIN_VALUE maps to +9.22e18 and
        # trips the 2^62 threshold instead.
        F.max(F.col("_v")).alias("_px"),
        F.min(F.col("_v")).alias("_pn"),
    )
    # Per-cell magnitude bound on the double side (never wraps); the
    # greatest(..., 1.0) floor also bounds the _pw weight sum (<=
    # 8 * count per cell), so one guard covers both long partials.
    # Identical to the old max|v| for any cell with max|v| >= 1, i.e.
    # every reachable fixture — values and oracle hash unchanged.
    _mag = F.greatest(
        F.abs(F.col("_px").cast("double")),
        F.abs(F.col("_pn").cast("double")),
        F.lit(1.0),
    )
    per_rep = part.groupBy(*groups, "_r").agg(
        F.sum(dec(F.col("_pv"))).alias("_sv"),
        F.sum(dec(F.col("_pw"))).alias("_sw"),
        F.max(
            F.col("_pc").cast("double") * F.lit(8.0) * _mag
        ).alias("_risk"),
    )
    mean = (F.col("_sv").cast("double") / F.col("_sw").cast("double")) / value_scale
    means = per_rep.where(F.col("_sw") > 0).select(
        *groups,
        F.round(mean * mean_scale, 0).cast("long").alias("_ms"),
        F.col("_risk"),
    )

    point = base.groupBy(*groups).agg(
        F.count(F.lit(1)).alias("n_rows"),
        (
            (F.sum(dec(F.col("_v"))).cast("double") / F.count(F.lit(1)))
            / value_scale
        ).alias("_pm"),
    )
    # The boot side's keys are renamed so the NULL-safe join condition
    # names each side's column unambiguously.
    boot = means.groupBy(
        *[F.col(g).alias(f"_g{i}") for i, g in enumerate(groups)]
    ).agg(
        F.count(F.lit(1)).alias("n_replicas"),
        F.sum(dec(F.col("_ms"))).alias("_t"),
        F.sum(dec(F.col("_ms")) * dec(F.col("_ms"))).alias("_q"),
        F.expr(f"percentile(_ms, {alpha!r})").alias("_lo"),
        F.expr(f"percentile(_ms, {1.0 - alpha!r})").alias("_hi"),
        F.max("_risk").alias("_mrisk"),
    )
    nb = F.col("n_replicas").cast("decimal(38,0)")
    se = (
        F.sqrt(
            (nb * F.col("_q") - F.col("_t") * F.col("_t")).cast("double")
            / (
                F.col("n_replicas").cast("double")
                * (F.col("n_replicas") - 1).cast("double")
            )
        )
        / mean_scale
    )
    safe = F.col("_mrisk") < F.lit(float(2**62))
    on = [F.col(g).eqNullSafe(F.col(f"_g{i}")) for i, g in enumerate(groups)]
    return point.join(F.broadcast(boot), on or None, "left").select(
        *groups,
        "n_rows",
        "n_replicas",
        F.round("_pm", 6).alias("point_mean"),
        F.when(
            safe,
            F.round(
                (F.col("_t").cast("double") / F.col("n_replicas"))
                / mean_scale,
                6,
            ),
        ).alias("boot_mean"),
        F.when(safe, F.round(se, 6)).alias("boot_se"),
        F.when(safe, F.round(F.col("_lo") / mean_scale, 6)).alias("ci_lo"),
        F.when(safe, F.round(F.col("_hi") / mean_scale, 6)).alias("ci_hi"),
    )
