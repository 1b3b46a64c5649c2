"""Distribution-statistics operators.

``exact_percentiles`` replaces ``F.percentile`` for grouped exact
quantiles: the builtin aggregates a per-group hashmap of distinct
values (slow when values are mostly unique, e.g. prices), while this
formulation is a parallel range-partitioned sort + conditional
aggregation — faster at sf0.1 and bit-identical (it reproduces the
builtin's ``lo*(hiIdx-pos) + hi*(pos-loIdx)`` interpolation, which is
also DuckDB's ``quantile_cont``).

SCALE-PARAMETER CONVENTION (every operators/ module; VERDICT r9 item 5, enforced
by tests/test_stats.py::test_scale_parameter_convention_is_uniform):
every quantization knob is one of exactly two spellings —

- ``scale``: a base-10 EXPONENT; the kernel freezes values at
  ``round(v * 10**scale)`` (quantization unit 10^-scale). Defaults
  are small ints (2..9).
- ``*_scale`` (``value_scale``, ``mean_scale``, ``term_scale``,
  ``harmonic_scale``, ...): a RAW multiplier; the kernel freezes at
  ``round(v * value_scale)`` (quantization unit 1/value_scale).
  Defaults are power-of-ten literals (1000, 10**6, ...).

A raw multiplier must NEVER be named bare ``scale`` — that ambiguity
(10**6 meaning a million-fold multiplier in one kernel and an
impossible exponent in the next) is what the r8/r9 renames removed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def exact_percentiles(
    df: DataFrame,
    group_cols: str | list[str],
    value_col: str,
    percentiles: dict[str, float],
) -> DataFrame:
    """Exact linear-interpolated percentiles per group.

    ``percentiles`` maps output column name -> p in [0, 1]. Rows with
    NULL ``value_col`` are excluded (builtin semantics).

    Scale design — the global rank is computed WITHOUT a per-group
    window (``Window.partitionBy(group)`` funnels each whole group into
    a single task, which dies at 100 TB when group cardinality is small,
    exactly the common case for distribution stats):

      1. range-repartition on (group, value) + sortWithinPartitions —
         a fully parallel distributed sort, ties split across partition
         boundaries are harmless because equal values are interchangeable
         for order statistics;
      2. ``monotonically_increasing_id`` (consecutive within a
         partition) gives each row its local ordinal in one narrow pass;
      3. a TINY aggregate — per (partition, group): row count — is
         turned into per-partition group offsets with windows over P×G
         rows and broadcast back: global index = offset + (id - m0),
         where m0 (the group's first id within its partition) is
         derived ARITHMETICALLY as ``(pid << 33) + rows-before-group``
         rather than aggregated as min(id). The stats branch therefore
         consumes the range exchange WITHOUT the within-partition sort
         (counts per (pid, group) are sort-invariant, and groups are
         contiguous in the sorted main branch, so rows-before-group =
         the prefix sum of counts over the group sort order) — one
         full-data Sort removed from the plan's second consumer
         (guide §2.4; VERDICT r11 item 4);
      4. the percentile picks are then one ordinary partial+final
         aggregation; no per-group value map, no collect, no stage that
         holds a full group on one core.

    (The range partitioner's sampling pass re-running the exchange's
    child subtree once per execution is inherent to
    ``repartitionByRange`` — boundaries cannot be known without a
    sample — and is deliberately kept: the child here is a pruned
    scan/projection, and the alternative per-group window funnels
    whole groups into single tasks.)
    """
    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    src = df.filter(F.col(value_col).isNotNull()).select(
        *groups, F.col(value_col).alias("_v")
    )

    parted = src.repartitionByRange(*groups, "_v")
    ranked = parted.sortWithinPartitions(*groups, "_v").select(
        "*",
        F.spark_partition_id().alias("_pid"),
        F.monotonically_increasing_id().alias("_mid"),
    )

    # Counts per (pid, group) off the UNSORTED exchange output: this
    # branch shares the range exchange with `ranked` (ReusedExchange)
    # but skips its Sort — count is order-invariant.
    part_stats = (
        parted.select(F.spark_partition_id().alias("_pid"), *groups)
        .groupBy("_pid", *groups)
        .agg(F.count("*").alias("_c"))
    )
    woff = Window.partitionBy(*groups).orderBy("_pid")
    wtot = Window.partitionBy(*groups)
    # rows before this group within its partition, under the same
    # (groups...) ascending order sortWithinPartitions uses — the
    # group's first monotonically_increasing_id is exactly
    # (pid << 33) + that prefix, because ids within a partition are
    # consecutive from (pid << 33) and groups are contiguous after the
    # sort.
    wgrp = Window.partitionBy("_pid").orderBy(*groups)
    offsets = part_stats.select(
        "_pid",
        *groups,
        (
            F.shiftleft(F.col("_pid").cast("long"), 33)
            + (F.sum("_c").over(wgrp) - F.col("_c"))
        ).alias("_m0"),
        (F.sum("_c").over(woff) - F.col("_c")).alias("_off"),
        F.sum("_c").over(wtot).alias("_n"),
    )

    r = ranked.join(F.broadcast(offsets), ["_pid", *groups]).withColumn(
        "_i", F.col("_off") + (F.col("_mid") - F.col("_m0"))
    )

    agg_cols = []
    for name, p in percentiles.items():
        idx = F.lit(float(p)) * (F.col("_n") - 1)
        fl, cl = F.floor(idx), F.ceil(idx)
        agg_cols += [
            F.max(F.when(F.col("_i") == fl, F.col("_v"))).alias(f"_alo_{name}"),
            F.max(F.when(F.col("_i") == cl, F.col("_v"))).alias(f"_ahi_{name}"),
            F.max(cl.cast("double") - idx).alias(f"_awlo_{name}"),
            F.max(idx - fl.cast("double")).alias(f"_awhi_{name}"),
            F.max(fl == cl).alias(f"_aint_{name}"),
        ]
    out = r.groupBy(*groups).agg(*agg_cols)
    return out.select(
        *groups,
        *[
            F.when(F.col(f"_aint_{name}"), F.col(f"_alo_{name}"))
            .otherwise(
                F.col(f"_alo_{name}") * F.col(f"_awlo_{name}")
                + F.col(f"_ahi_{name}") * F.col(f"_awhi_{name}")
            )
            .alias(name)
            for name in percentiles
        ],
    )


def numeric_histogram(
    df: DataFrame,
    value_col: str,
    *,
    bins: int,
    lo: float,
    hi: float,
) -> DataFrame:
    """Fixed-width histogram of a numeric column.

    Returns one row per NON-EMPTY bin: ``bin`` (0-based index),
    ``bin_lo`` / ``bin_hi`` (edges), ``cnt``. Values outside [lo, hi)
    are clamped into the first/last bin (so the histogram always
    accounts for every non-NULL row); NULLs are excluded.

    Scale design: the bin index is a single arithmetic expression, so
    the whole histogram is one map-side-combinable ``groupBy(int)`` —
    the shuffle carries at most ``bins`` rows per input partition
    regardless of data size. Empty bins are absent (dense output over
    millions of bins would defeat the point).
    """
    assert bins >= 1 and hi > lo
    width = (hi - lo) / bins
    v = F.col(value_col).cast("double")
    idx = F.floor((v - F.lit(float(lo))) / F.lit(width)).cast("long")
    idx = F.least(F.lit(bins - 1), F.greatest(F.lit(0), idx))
    return (
        df.filter(v.isNotNull())
        .groupBy(idx.alias("bin"))
        .agg(F.count("*").alias("cnt"))
        .select(
            "bin",
            (F.lit(float(lo)) + F.col("bin") * F.lit(width)).alias("bin_lo"),
            (F.lit(float(lo)) + (F.col("bin") + 1) * F.lit(width)).alias(
                "bin_hi"
            ),
            "cnt",
        )
    )


def skew_profile(
    df: DataFrame, key_col: str, *, top_n: int = 20
) -> DataFrame:
    """Heavy-hitter profile for a join/aggregation key — the diagnostic
    to run BEFORE deciding whether a key needs salting
    (plans/scale.salted_join) or AQE skew-join handles it.

    Returns the ``top_n`` heaviest keys: ``key``, ``cnt``, ``share``
    (fraction of all rows), ``rnk``. Ties on count all survive at the
    boundary (rank semantics), matching SQL ``rank() <= n``.

    Scale design: per-key counts are one map-combinable shuffle keyed
    on the (possibly skewed) column — safe because the map-side partial
    aggregation collapses each partition's contribution to one row per
    key before the shuffle, which is exactly why counting a skewed key
    is cheap even when joining on it is not. The global top-n then runs
    through :func:`topk_per_group`'s two-phase prune (with a constant
    group) so no stage sorts all distinct keys in a single task.
    """
    counts = (
        df.groupBy(F.col(key_col).alias("key"))
        .agg(F.count("*").alias("cnt"))
        .withColumn("_g", F.lit(1))
    )
    total = counts.agg(F.sum("cnt").alias("_tot"))
    top = topk_per_group(
        counts,
        "_g",
        [F.col("cnt").desc(), F.col("key").asc()],
        top_n,
        rank_fn=F.rank,
        rank_col="rnk",
    )
    return top.crossJoin(F.broadcast(total)).select(
        "key",
        "cnt",
        F.round(F.col("cnt") / F.col("_tot"), 6).alias("share"),
        "rnk",
    )


def topk_per_group(
    df: DataFrame,
    group_cols: str | list[str],
    order_cols: list,
    k: int,
    *,
    rank_fn=F.dense_rank,
    rank_col: str = "rnk",
) -> DataFrame:
    """Top-k rows per group with a rank column, scalable to few groups.

    A single ``Window.partitionBy(group)`` puts each whole group in one
    task. Instead, two phases:

      1. local prune — rank within (group, input-partition): any row
         whose global rank is <= k also has local rank <= k (its local
         set of better rows is a subset of the global one), so
         ``local_rank <= k`` keeps every global survivor while cutting
         the data to at most groups x partitions x k rows;
      2. exact rank over that small remainder with the plain per-group
         window.

    Works for rank()/dense_rank()/row_number (any rank monotone in the
    set of preceding rows). Ties at rank k all survive, matching SQL
    ``dense_rank() <= k`` semantics.
    """
    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    pre = df.withColumn("_pid", F.spark_partition_id())
    wl = Window.partitionBy(*groups, "_pid").orderBy(*order_cols)
    local = (
        pre.withColumn("_lrnk", rank_fn().over(wl))
        .filter(F.col("_lrnk") <= k)
        .drop("_pid", "_lrnk")
    )
    wg = Window.partitionBy(*groups).orderBy(*order_cols)
    return local.withColumn(rank_col, rank_fn().over(wg)).filter(
        F.col(rank_col) <= k
    )


def winsorize(
    df: DataFrame,
    value_col: str,
    group_col: str,
    *,
    lo: float = 0.05,
    hi: float = 0.95,
    exact: bool = True,
    out_col: str | None = None,
) -> DataFrame:
    """Clip a value column to its per-group [lo, hi] quantiles — the
    standard outlier-taming step before length/score statistics drive
    curation decisions.

    ``exact=True`` uses the exact interpolated percentile (bit-identical
    to SQL ``quantile_cont``, hence oracle-gated) — it buffers each
    group's values on the agg side, fine when groups are few/bounded.
    For per-group bounds over billions of rows use ``exact=False``:
    ``percentile_approx`` is a mergeable sketch with map-side partials
    (bounded memory, same plan shape, approximate bounds).

    The bounds table is O(groups) rows and broadcast back; the data
    side never shuffles for the join.
    """
    q = F.percentile if exact else F.percentile_approx
    bounds = df.groupBy(group_col).agg(
        q(value_col, F.lit(lo)).alias("_lo"),
        q(value_col, F.lit(hi)).alias("_hi"),
    )
    out = out_col or f"{value_col}_clipped"
    v = F.col(value_col).cast("double")
    # NULL guard: Spark's greatest/least SKIP nulls, which would
    # fabricate the low bound for missing measurements — keep NULL NULL
    clipped = F.when(
        v.isNull(), F.lit(None).cast("double")
    ).otherwise(F.least(F.greatest(v, F.col("_lo")), F.col("_hi")))
    return (
        df.join(F.broadcast(bounds), group_col)
        .withColumn(out, clipped)
        .drop("_lo", "_hi")
    )


def k_anonymity(
    df: DataFrame,
    quasi_cols: list[str],
    *,
    k: int = 5,
) -> DataFrame:
    """Re-identification risk audit before a data release: a row is
    k-anonymous when at least ``k`` rows share its quasi-identifier
    combination (language, source, length bucket, domain...). One
    map-combinable aggregate over the combo key, one tiny rollup —
    nothing scales with anything but the number of DISTINCT combos.

    Returns a one-row frame: total rows, distinct combos, combos below
    k, rows at risk (in a below-k combo), min combo size, and the risk
    fraction — the numbers a privacy review asks for first.
    """
    combos = df.groupBy(*quasi_cols).agg(F.count("*").alias("_n"))
    return combos.agg(
        F.sum("_n").cast("long").alias("n_rows"),
        F.count("*").alias("n_combos"),
        F.sum((F.col("_n") < k).cast("long")).alias("combos_below_k"),
        F.sum(F.when(F.col("_n") < k, F.col("_n")).otherwise(0))
        .cast("long")
        .alias("rows_at_risk"),
        F.min("_n").cast("long").alias("min_combo_size"),
        F.round(
            F.sum(F.when(F.col("_n") < k, F.col("_n")).otherwise(0))
            / F.sum("_n"),
            6,
        ).alias("risk_fraction"),
    )


def mad_outliers(
    df: DataFrame,
    value_col: str,
    *,
    group_cols: str | list[str] | None = None,
    k: float = 3.5,
    consistency: float = 1.4826,
) -> DataFrame:
    """Robust outlier flagging via median absolute deviation.

    Adds ``med`` (per-group median), ``mad`` (median of |x - med|),
    and ``is_outlier`` = |x - med| > k * consistency * mad (the
    modified z-score test; ``consistency`` ~ 1.4826 scales MAD to a
    normal sigma). Unlike mean/stddev clipping, a few extreme rows
    cannot drag the threshold — which is the point for ingestion-feed
    sanity checks (corrupt byte counts, pathological doc lengths).

    NULL values pass through unflagged (``is_outlier`` NULL). In a
    zero-MAD group (>=50% identical values) any nonzero deviation is
    flagged — the limit of the test as mad->0, and the useful behavior
    for near-constant feeds where any drift is anomalous.

    Scale design: two map-combinable per-group aggregations (median,
    then MAD) joined back on the group key — group-level frames are
    O(#groups) and broadcast under AQE. Exact ``percentile`` keeps a
    per-group value->count map, so the bound is DISTINCT VALUES PER
    GROUP — fine for bounded-domain feeds; for a global median over
    an unbounded domain use stats.exact_percentiles (range-partitioned
    global rank) or approx_percentile and accept the epsilon.
    """
    groups = (
        [group_cols]
        if isinstance(group_cols, str)
        else list(group_cols or [])
    )
    v = F.col(value_col).cast("double")
    if groups:
        med = df.groupBy(*groups).agg(
            F.expr(f"percentile({value_col}, 0.5)").alias("med")
        )
        with_med = df.join(med, groups)
    else:
        med = df.agg(F.expr(f"percentile({value_col}, 0.5)").alias("med"))
        with_med = df.crossJoin(F.broadcast(med))
    dev = with_med.withColumn("_adev", F.abs(v - F.col("med")))
    if groups:
        mad = dev.groupBy(*groups).agg(
            F.expr("percentile(_adev, 0.5)").alias("mad")
        )
        out = dev.join(mad, groups)
    else:
        mad = dev.agg(F.expr("percentile(_adev, 0.5)").alias("mad"))
        out = dev.crossJoin(F.broadcast(mad))
    flag = F.when(
        v.isNull(), F.lit(None).cast("boolean")
    ).otherwise(F.col("_adev") > F.lit(k * consistency) * F.col("mad"))
    return out.withColumn("is_outlier", flag).drop("_adev")


def equi_depth_histogram(
    df: DataFrame,
    value_col: str,
    *,
    bins: int,
    group_cols: str | list[str] | None = None,
) -> DataFrame:
    """Equal-frequency histogram: ``bins`` buckets bounded by exact
    interpolated quantiles (the complement of the fixed-width
    :func:`numeric_histogram` — right for heavy-tailed length/score
    distributions where fixed widths put everything in one bar).

    Returns per non-empty bucket: ``bin`` (0-based), ``lo``/``hi``
    (bucket edges: the outer edges are the min/max), ``cnt``. A value
    lands in bucket ``#{interior boundaries < value}`` — ties at a
    boundary go LEFT, the convention both engines express as
    ``size(filter(bounds, b -> v > b))``.

    Scale design: ONE exact-percentile aggregate produces the
    boundary array (per group), which joins back as an O(groups)
    broadcast; assignment is a pure array expression; the final count
    is a map-combinable groupBy carrying <= bins rows per partition.
    NULLs are excluded.
    """
    assert bins >= 2
    groups = (
        [group_cols]
        if isinstance(group_cols, str)
        else list(group_cols or [])
    )
    v = F.col(value_col).cast("double")
    probs = ", ".join(str(i / bins) for i in range(1, bins))
    bounds_agg = [
        F.expr(f"percentile({value_col}, array({probs}))").alias("_bs"),
        F.min(v).alias("_mn"),
        F.max(v).alias("_mx"),
    ]
    data = df.filter(v.isNotNull())
    if groups:
        stats = data.groupBy(*groups).agg(*bounds_agg)
        joined = data.join(stats, groups)
    else:
        stats = data.agg(*bounds_agg)
        joined = data.crossJoin(F.broadcast(stats))
    binned = joined.withColumn(
        "bin", F.size(F.filter(F.col("_bs"), lambda b: v > b))
    )
    edges_lo = F.when(F.col("bin") == 0, F.col("_mn")).otherwise(
        F.element_at("_bs", F.col("bin"))
    )
    edges_hi = F.when(F.col("bin") == bins - 1, F.col("_mx")).otherwise(
        F.element_at("_bs", F.col("bin") + 1)
    )
    return (
        binned.groupBy(*groups, "bin")
        .agg(
            F.round(F.min(edges_lo), 6).alias("lo"),
            F.round(F.min(edges_hi), 6).alias("hi"),
            F.count("*").alias("cnt"),
        )
    )


def ab_test(
    df: DataFrame,
    unit_col: str,
    variant_col: str,
    converted_col: str,
    *,
    control: str | None = None,
) -> DataFrame:
    """Two-proportion z-test per experiment arm vs the control arm.

    ``df`` is event- or unit-grain; rows are first collapsed to one row
    per (unit, variant) with ``converted = max(converted_col)`` (a unit
    converts if ANY of its rows did), then each variant collapses to
    (n_units, n_converted). Every non-control arm is joined against the
    control row and scored:

    - ``rate_c`` / ``rate_t`` — conversion rates,
    - ``lift`` — ``rate_t - rate_c``,
    - ``z`` — pooled two-proportion z statistic
      ``(p_t - p_c) / sqrt(p(1-p)(1/n_c + 1/n_t))`` with the pooled
      ``p = (x_c + x_t) / (n_c + n_t)``; NULL when a pooled-variance
      term is zero (all-converted / none-converted arms).

    |z| >= 1.96 is the usual 95 % two-sided significance bar; the
    statistic is left un-thresholded so callers pick their own alpha.

    ``control`` defaults to the lexicographically-first variant name
    (deterministic without configuration), resolved in-frame — no
    driver round-trip.

    Scale: two map-combinable aggregates (unit collapse shuffles the
    unit key once; variant collapse is O(arms)) and an O(arms) join —
    the fact table is never shuffled wide. All doubles are single
    fixed-order expressions over exact integer counts, rounded to 6 dp,
    so any SQL engine replays them bit-for-bit.
    """
    units = df.groupBy(unit_col, variant_col).agg(
        F.max(F.col(converted_col).cast("int")).alias("_conv")
    )
    arms = units.groupBy(variant_col).agg(
        F.count("*").alias("n"),
        F.sum("_conv").cast("long").alias("x"),
    )
    if control is None:
        # one-row frame broadcast into both filters: arms is O(arms)
        ctrl = arms.agg(F.min(variant_col).alias("_ctrl"))
        tagged = arms.crossJoin(F.broadcast(ctrl))
    else:
        tagged = arms.withColumn("_ctrl", F.lit(control))
    c = tagged.filter(F.col(variant_col) == F.col("_ctrl")).select(
        F.col("n").alias("n_c"), F.col("x").alias("x_c")
    )
    t = tagged.filter(F.col(variant_col) != F.col("_ctrl")).select(
        F.col(variant_col).alias("variant"),
        F.col("n").alias("n_t"),
        F.col("x").alias("x_t"),
    )
    out = t.crossJoin(F.broadcast(c))
    p_c = F.col("x_c") / F.col("n_c")
    p_t = F.col("x_t") / F.col("n_t")
    pooled = (F.col("x_c") + F.col("x_t")) / (F.col("n_c") + F.col("n_t"))
    se = F.sqrt(
        pooled * (F.lit(1.0) - pooled) * (1.0 / F.col("n_c") + 1.0 / F.col("n_t"))
    )
    return out.select(
        "variant",
        "n_c",
        "x_c",
        "n_t",
        "x_t",
        F.round(p_c, 6).alias("rate_c"),
        F.round(p_t, 6).alias("rate_t"),
        F.round(p_t - p_c, 6).alias("lift"),
        F.round(
            F.when(se > 0.0, (p_t - p_c) / se).otherwise(F.lit(None)), 6
        ).alias("z"),
    )


def l_diversity(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    *,
    l: int = 2,
) -> DataFrame:
    """Attribute-disclosure audit, the follow-up question after
    :func:`k_anonymity`: a combo can be k-anonymous yet still leak —
    if all k rows share one sensitive value, membership reveals it
    (the homogeneity attack). A combo is (distinct) l-diverse when its
    rows carry at least ``l`` distinct sensitive values.

    Returns a one-row frame: total rows, distinct combos, combos
    below l, rows exposed (in a below-l combo), min diversity, and
    the exposed fraction.

    Cost: one exact distinct-count aggregate over the combo key (two
    map-combinable shuffles via Spark's count_distinct expansion) +
    one tiny rollup — scales with distinct (combo, sensitive) pairs,
    never with rows.
    """
    combos = df.groupBy(*quasi_cols).agg(
        F.count("*").alias("_n"),
        F.countDistinct(sensitive_col).alias("_l"),
    )
    return combos.agg(
        F.sum("_n").cast("long").alias("n_rows"),
        F.count("*").alias("n_combos"),
        F.sum((F.col("_l") < l).cast("long")).alias("combos_below_l"),
        F.sum(F.when(F.col("_l") < l, F.col("_n")).otherwise(0))
        .cast("long")
        .alias("rows_exposed"),
        F.min("_l").cast("long").alias("min_diversity"),
        F.round(
            F.sum(F.when(F.col("_l") < l, F.col("_n")).otherwise(0))
            / F.sum("_n"),
            6,
        ).alias("exposed_fraction"),
    )


def t_closeness(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    *,
    t: float = 0.15,
) -> DataFrame:
    """Distribution-disclosure audit — the third rung after
    :func:`k_anonymity` (size) and :func:`l_diversity` (distinct
    values): a combo can be k-anonymous AND l-diverse yet still leak
    by SKEW (90% of one diagnosis inside a combo vs 10% globally —
    the skewness attack). A combo is t-close when the variational
    distance between its sensitive-value distribution and the global
    one is at most ``t`` (the categorical/equal-ground-distance EMD,
    the standard form for label-like sensitive columns).

    Returns a one-row frame: total rows, distinct combos, combos above
    t, rows exposed (in an above-t combo), max distance (6 dp), and
    the exposed fraction. NULL sensitive values count as a category
    (they are an answer too).

    Exactness: with N_g/N the combo/global sizes and n_gc/n_c the
    counts, dist_g = sum_c |n_gc*N - n_c*N_g| / (2*N_g*N); categories
    ABSENT from the combo are folded in closed form —
    sum_absent n_c*N_g = N_g*N - sum_present n_c*N_g — so the sum
    never needs a combo x category cross-join. Every numerator is an
    exact integer on decimal(38,0) (n_c*N_g ~ rows^2: fine to ~1e19
    rows); the single division per combo happens once, identically in
    both engines.

    Scale design: one map-combinable (combo, sensitive) count, an
    O(categories) marginal broadcast joined back, one per-combo
    aggregate, one tiny rollup — scales with distinct (combo,
    sensitive) pairs, never with rows.
    """
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    gc = df.groupBy(
        *quasi_cols, F.col(sensitive_col).alias("_s")
    ).agg(F.count("*").alias("_ngc"))
    marg = gc.groupBy("_s").agg(F.sum("_ngc").alias("_nc"))
    tot = marg.agg(F.sum("_nc").cast("decimal(38,0)").alias("_N"))
    # per-combo size first (window over the (combo, category) grain —
    # bounded by distinct pairs, and the partition key IS the combo),
    # then one per-combo aggregate of the present-category terms
    wg = Window.partitionBy(*quasi_cols)
    # NULL-safe join: NULL sensitive values count as a category (they
    # are an answer too), so a plain equi-join — which drops NULL keys
    # — would exclude their per-combo mass while tot._N still counts
    # them, skewing every distance. eqNullSafe keeps the NULL category
    # in both the per-combo terms and the marginal.
    j = (
        gc.join(
            F.broadcast(marg.withColumnRenamed("_s", "_sm")),
            F.col("_s").eqNullSafe(F.col("_sm")),
        )
        .drop("_sm")
        .crossJoin(F.broadcast(tot))
        .withColumn("_ng", F.sum("_ngc").over(wg))
    )
    per_g = j.groupBy(*quasi_cols).agg(
        F.max("_ng").alias("_ng"),
        F.sum(
            F.abs(
                dec(F.col("_ngc")) * F.col("_N")
                - dec(F.col("_nc")) * dec(F.col("_ng"))
            )
        ).alias("_sp"),
        F.sum(dec(F.col("_nc"))).alias("_scp"),
        F.max(F.col("_N")).alias("_Nx"),
    )
    # dist numerator = present-term sum + absent mass
    #                = _sp + N_g*(N - sum_present n_c)
    num = F.col("_sp") + dec(F.col("_ng")) * (F.col("_Nx") - F.col("_scp"))
    dist = num.cast("double") / (
        F.lit(2.0) * F.col("_ng").cast("double") * F.col("_Nx").cast("double")
    )
    combos = per_g.select(
        F.col("_ng").alias("_n"), dist.alias("_d")
    )
    return combos.agg(
        F.sum("_n").cast("long").alias("n_rows"),
        F.count("*").alias("n_combos"),
        F.sum((F.col("_d") > t).cast("long")).alias("combos_above_t"),
        F.sum(F.when(F.col("_d") > t, F.col("_n")).otherwise(0))
        .cast("long")
        .alias("rows_exposed"),
        F.round(F.max("_d"), 6).alias("max_distance"),
        F.round(
            F.sum(F.when(F.col("_d") > t, F.col("_n")).otherwise(0))
            / F.sum("_n"),
            6,
        ).alias("exposed_fraction"),
    )


def weighted_percentiles(
    df: DataFrame,
    group_cols: str | list[str],
    value_col: str,
    weight_col: str,
    percentiles: dict[str, float],
) -> DataFrame:
    """Exact weighted percentiles per group (type-1 / inverse-CDF: the
    smallest value whose cumulative weight reaches ``p * total``) —
    what :func:`exact_percentiles` becomes once rows carry importance
    weights (soft-dedup weights, token counts, target-mix weights):
    the quantile of the corpus the TRAINER effectively sees, not of
    the raw row distribution.

    ``weight_col`` must be a positive INTEGER column (scale fractional
    weights, e.g. ``round(weight * 1e6)`` — integer cumulative sums
    are what make the result summation-order-proof and SQL-exact).
    Rows with NULL value or non-positive weight are excluded.

    Scale design mirrors exact_percentiles (no per-group single-task
    window): range-repartition on (group, value) + local sort; ONE
    row-based prefix-sum window keyed by (physical partition, group) —
    high-cardinality keys, so no task holds more than one partition's
    slice; per-(partition, group) totals roll into O(P x G) offsets
    broadcast back; the target pick is an ordinary aggregate. Ties on
    value are harmless: every tied row carries the same value, so
    whichever satisfies the boundary condition yields the same answer
    (this is also why a range-frame SQL window replays it exactly).
    """
    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    src = (
        df.filter(
            F.col(value_col).isNotNull() & (F.col(weight_col) > 0)
        )
        .select(
            *groups,
            F.col(value_col).alias("_v"),
            F.col(weight_col).cast("long").alias("_w"),
        )
    )
    ranked = (
        src.repartitionByRange(*groups, "_v")
        .sortWithinPartitions(*groups, "_v")
        .select(
            "*",
            F.spark_partition_id().alias("_pid"),
            F.monotonically_increasing_id().alias("_mid"),
        )
    )
    # local inclusive prefix weight within the (partition, group) slice
    wloc = Window.partitionBy("_pid", *groups).orderBy("_mid").rowsBetween(
        Window.unboundedPreceding, 0
    )
    ranked = ranked.withColumn("_lcum", F.sum("_w").over(wloc))

    part_stats = ranked.groupBy("_pid", *groups).agg(
        F.sum("_w").alias("_wc")
    )
    woff = Window.partitionBy(*groups).orderBy("_pid")
    wtot = Window.partitionBy(*groups)
    offsets = part_stats.select(
        "_pid",
        *groups,
        (F.sum("_wc").over(woff) - F.col("_wc")).alias("_off"),
        F.sum("_wc").over(wtot).alias("_wtot"),
    )
    r = ranked.join(F.broadcast(offsets), ["_pid", *groups]).withColumn(
        "_cum", F.col("_off") + F.col("_lcum")
    )

    agg_cols = []
    for name, p in percentiles.items():
        t = F.ceil(F.lit(float(p)) * F.col("_wtot"))
        hit = (F.col("_cum") >= t) & ((F.col("_cum") - F.col("_w")) < t)
        agg_cols.append(F.min(F.when(hit, F.col("_v"))).alias(name))
    return r.groupBy(*groups).agg(*agg_cols)


def approx_percentiles_bounded(
    df: DataFrame,
    group_cols: str | list[str],
    value_col: str,
    percentiles: dict[str, float],
    *,
    accuracy: int = 10000,
    slack: float = 0.01,
) -> DataFrame:
    """The 100 TB quantile path, self-checking: ``percentile_approx``
    (a mergeable rank-error sketch — constant-size state per group, so
    the shuffle carries one sketch instead of the value stream) next to
    the exact interpolated quantile ENVELOPE ``[q(p-slack), q(p+slack)]``
    from one builtin ``percentile`` call in the same aggregate.

    Output grain is one row per (group, label): the exact quantile plus
    ``within_bound`` — whether the sketch estimate landed inside the
    envelope. With ``accuracy=10000`` the sketch's rank error is 1e-4,
    far inside the default 0.01 slack, so a drifting sketch flips the
    boolean. The estimate itself is NOT emitted (sketch internals are
    engine-specific and can't be oracled — same device as the HLL
    ``within_bound`` in q_approx_distinct).

    The envelope is DISCRETE (actual elements near rank n*(p+-slack),
    via a 10x-tighter sketch): the estimate is always a real element,
    and on a tiny group a real element can sit outside the narrow
    INTERPOLATED envelope even when its rank is perfect — rank
    containment is the guarantee the sketch actually makes, and values
    are monotone in rank, so discrete bounds are the sound check.

    Like q_percentiles' kernel, the exact quantile reproduces
    ``lo*(hiIdx-pos) + hi*(pos-loIdx)`` interpolation — bit-identical
    to DuckDB ``quantile_cont``.
    """
    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    labels = list(percentiles)
    ps = [float(percentiles[k]) for k in labels]
    lo = [max(0.0, p - slack) for p in ps]
    hi = [min(1.0, p + slack) for p in ps]

    agg = df.filter(F.col(value_col).isNotNull()).groupBy(*groups).agg(
        F.percentile_approx(value_col, ps, accuracy).alias("_approx"),
        F.percentile(value_col, F.lit(ps)).alias("_exact"),
        F.percentile_approx(value_col, lo, accuracy * 10).alias("_lo"),
        F.percentile_approx(value_col, hi, accuracy * 10).alias("_hi"),
    )
    lab = F.array(*[F.lit(k) for k in labels])
    rows = agg.select(
        *groups,
        F.posexplode(
            F.arrays_zip(
                lab.alias("lab"),
                F.col("_approx").alias("a"),
                F.col("_exact").alias("e"),
                F.col("_lo").alias("l"),
                F.col("_hi").alias("h"),
            )
        ).alias("_pos", "_z"),
    )
    return rows.select(
        *groups,
        F.col("_z.lab").alias("p_label"),
        F.col("_z.e").alias("exact"),
        (
            (F.col("_z.a") >= F.col("_z.l")) & (F.col("_z.a") <= F.col("_z.h"))
        ).alias("within_bound"),
    )


def standardize(
    df: DataFrame,
    group_cols: str | list[str],
    value_cols: list[str],
    *,
    value_scale: int = 1000,
) -> DataFrame:
    """Per-group z-score standardization (feature engineering for
    model-input pipelines): ``z = (x - mean) / stddev_pop``.

    Engine-parity design: mean and variance come from SCALED-LONG sums
    (``sum(round(x*value_scale))`` / ``sum(round(x*value_scale)^2)`` as BIGINT) so
    the per-group moments are exact integers — identical on any engine
    and any partition order — before one double division at the end
    (the q_centroids device). Choose ``value_scale`` so
    ``(max|x|*value_scale)^2 * group_rows`` stays inside int64; the default
    1000 holds quantity-like columns (|x| <= ~1e4) to ~1e9 rows/group.

    One aggregate pass + one broadcast join back onto the rows — no
    window, so no single-task group funnel at 100 TB.

    Envelope enforcement: the scaled-square sum overflowing int64 would
    silently WRAP (non-ANSI) into wrong moments, so each group carries
    ``max(|x_scaled|)`` and the join-back raises if
    ``max^2 * n`` could exceed int64 — violations fail loudly instead
    of standardizing against garbage. Tiny negative float var (double
    rounding on near-constant groups) is clamped at 0; zero-variance
    groups yield NULL z-scores by design (division by zero, documented
    — there is no meaningful z against a zero std).
    """
    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in value_cols:
        s = F.round(F.col(c) * value_scale).cast("long")
        aggs += [
            F.sum(s).alias(f"_s_{c}"),
            F.sum(s * s).alias(f"_ss_{c}"),
            F.max(F.abs(s)).alias(f"_mx_{c}"),
        ]
    moments = df.groupBy(*groups).agg(*aggs)
    out = df.join(F.broadcast(moments), groups)
    for c in value_cols:
        # loud overflow guard: max|xs|^2 * n must fit int64 (doubles
        # here are fine — we only need the magnitude comparison)
        ok = (
            F.col(f"_mx_{c}").cast("double")
            * F.col(f"_mx_{c}").cast("double")
            * F.col("_n").cast("double")
            < F.lit(float(2**63 - 1))
        )
        mean = F.col(f"_s_{c}") / value_scale / F.col("_n")
        # E[x^2] - E[x]^2 over the scaled integers, descaled once;
        # clamped at 0 so double rounding can't leak sqrt(neg) = NaN
        var = F.greatest(
            (
                F.col(f"_ss_{c}") / F.col("_n")
                - F.pow(F.col(f"_s_{c}") / F.col("_n"), 2)
            )
            / (value_scale * value_scale),
            F.lit(0.0),
        )
        z = F.round(
            (F.round(F.col(c) * value_scale).cast("long") / value_scale - mean)
            / F.sqrt(var),
            6,
        )
        out = out.withColumn(
            f"z_{c}",
            F.when(ok, z).otherwise(
                F.raise_error(
                    F.lit(
                        f"standardize: column '{c}' exceeds the value_scale="
                        f"{value_scale} int64 moment envelope; lower value_scale"
                    )
                )
            ),
        )
    return out.drop(
        "_n",
        *[f"_s_{c}" for c in value_cols],
        *[f"_ss_{c}" for c in value_cols],
        *[f"_mx_{c}" for c in value_cols],
    )


#: Benford's-law expected first-digit probabilities log10(1 + 1/d),
#: written as the exact expression both engines evaluate identically.
def benford_audit(
    df: DataFrame, value_col: str, *, min_value: float = 1.0
) -> DataFrame:
    """First-digit (Benford's law) audit of a numeric column — the
    classic fabricated-data / pipeline-bug smell test: organically
    generated magnitudes follow P(d) = log10(1 + 1/d); uniform or
    hand-entered numbers don't. Emits one row per leading digit with
    observed count/frequency, the Benford expectation, and the signed
    deviation, plus the column's chi-square statistic replicated on
    every row (scalar grain, oracle-friendly).

    The leading digit is the first character of the INTEGER string of
    floor(v' * 1e6) — engine-portable (no float log10 at powers of ten,
    no locale-dependent decimal formatting; both engines floor the same
    double to the same integer and print integers identically). floor,
    NOT round: rounding can carry (9.9999997e6 -> 1e7) and misfile a
    true leading 9 as 1. v' is v passed through a binary
    power-of-ten reduction ladder (/1e256, /1e128, /1e64, /1e32,
    /1e16, then /1e8 when still >= 1e12) so the scaled integer always
    fits int64 — the old round(v*1e6) saturated at |v| ~ 9.2e12 and
    reported every huge value as digit 9. Values below ``min_value``
    are excluded (Benford applies to magnitudes spanning orders of
    magnitude, and 0/negatives have no leading digit). Digits with
    ZERO observations still emit a row (cnt=0, freq=0) and contribute
    their full expected-count chi-square term — omitting them
    understated chi2 exactly when the data was most suspicious. ONE
    map-combinable aggregate + an O(9) frame; the chi2 window is
    digit-ORDERED so both engines fold its doubles in the identical
    sequence.
    """
    v = F.abs(F.col(value_col))
    # each ladder rung is its OWN projection: building the chain as one
    # nested Column references the child three times per level, and the
    # inlined tree grows 3^levels — past the JVM's 64 KB codegen method
    # limit, silently dropping the whole aggregate to interpreted mode.
    # As separate aliased projects, codegen binds each rung to a local
    # (CollapseProject keeps multiply-referenced non-trivial aliases).
    work = df.filter(v >= min_value).select(v.alias("_r"))
    for p in (256, 128, 64, 32, 16):
        step = F.lit(float(10**p))
        work = work.select(
            F.when(F.col("_r") >= step, F.col("_r") / step)
            .otherwise(F.col("_r"))
            .alias("_r")
        )
    work = work.select(
        F.when(F.col("_r") >= F.lit(1e12), F.col("_r") / F.lit(1e8))
        .otherwise(F.col("_r"))
        .alias("_r")
    )
    # coalesce makes the grouping key NON-NULLABLE: the 1..9 spine's
    # left join would otherwise infer isnotnull(<key>) and push it down,
    # re-inlining the ladder into one giant Filter (3^levels blowup)
    # that kills whole-stage codegen for the entire scan stage. A NULL
    # digit (unparsable cast) maps to 0, which the spine join excludes
    # exactly like the old post-agg filter did.
    digit = F.coalesce(
        F.substring(
            F.floor(F.col("_r") * 1_000_000).cast("long").cast("string"),
            1,
            1,
        ).cast("int"),
        F.lit(0),
    )
    # no explicit 1..9 filter here: the left join onto the 1..9 spine
    # below already excludes stray digits (0 can appear only when
    # min_value < 1e-6), and a post-agg filter on the grouping column
    # gets pushed through every ladder projection, re-inlining the CASE
    # chain exponentially — straight past the JVM 64 KB codegen limit
    observed = work.groupBy(digit.alias("digit")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    digits = (
        df.sparkSession.range(1, 10)
        .select(F.col("id").cast("int").alias("digit"))
    )
    counts = digits.join(observed, "digit", "left").select(
        "digit", F.coalesce("cnt", F.lit(0)).alias("cnt")
    )
    w = Window.orderBy("digit").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    expected = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    with_tot = counts.select(
        "digit", "cnt", F.sum("cnt").over(w).alias("_tot")
    )
    term = F.pow(
        F.col("cnt") - expected * F.col("_tot"), 2
    ) / (expected * F.col("_tot"))
    freq = F.col("cnt") / F.col("_tot")
    return with_tot.select(
        "digit",
        F.col("cnt").cast("long").alias("cnt"),
        F.round(freq, 6).alias("freq"),
        F.round(expected, 6).alias("benford"),
        F.round(freq - expected, 6).alias("deviation"),
        F.round(F.sum(term).over(w), 6).alias("chi2"),
    )


def quantile_normalize(
    df: DataFrame,
    group_col: str,
    value_col: str,
    *,
    id_col: str,
) -> DataFrame:
    """Cross-group quantile normalization (nearest-rank): map every
    group's value distribution onto the POOLED distribution, so scores
    from different sources/classifiers/batches become comparable before
    a single threshold is applied. Returns
    ``(id, group, value, normalized)`` where ``normalized`` is the
    pooled value at quantile ``(2r-1)/(2n)`` of the row's within-group
    rank ``r`` (of ``n``) — the microarray-style normalization, the
    standard fix when one source's quality scorer runs systematically
    hot and a global cutoff would silently drop the whole source.

    Exactness: the target pooled index is PURE INTEGER arithmetic —
    ``idx = ceil((2r-1)*N / (2n)) = ((2r-1)*N + 2n - 1) div (2n)`` on
    longs — so both engines pick the identical pooled row; no float
    quantile interpolation anywhere. Ties are totally ordered by
    ``(value, id)``.

    Scale design: the within-group rank is a per-group window
    (millions of small groups — no hot key unless one group IS the
    corpus); the pooled rank comes from ordering.rank_by (range
    exchange + O(P) offsets, no single-task window); the final lookup
    is one equi-join on the 8-byte pooled rank. NULL values are
    dropped (they have no quantile).
    """
    from kafka_streams_plumber_spark.operators.ordering import rank_by

    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(group_col).alias("_g"),
        F.col(value_col).alias("_v"),
    ).where(F.col(value_col).isNotNull())

    wg = Window.partitionBy("_g").orderBy("_v", "_id")
    ranked = base.withColumn("_r", F.row_number().over(wg)).withColumn(
        "_n", F.count(F.lit(1)).over(Window.partitionBy("_g"))
    )

    pooled = rank_by(
        base.select(F.col("_v").alias("_pv"), F.col("_id").alias("_tie")),
        ["_pv", "_tie"],
        pos_col="_pos",
    ).select(F.col("_pv"), (F.col("_pos") + 1).alias("_pr"))
    ntot = base.agg(F.count(F.lit(1)).alias("_nt"))

    tgt = (
        ranked.crossJoin(F.broadcast(ntot))
        .withColumn(
            "_idx",
            F.expr("((2 * _r - 1) * _nt + 2 * _n - 1) div (2 * _n)"),
        )
        .select("_id", "_g", "_v", "_idx")
    )
    return tgt.join(pooled, tgt["_idx"] == pooled["_pr"]).select(
        F.col("_id").alias(id_col),
        F.col("_g").alias(group_col),
        F.col("_v").alias(value_col),
        F.col("_pv").alias("normalized"),
    )


def correlation_matrix(
    df: DataFrame,
    cols: list[str],
    *,
    value_scale: int = 10**6,
) -> DataFrame:
    """Pairwise Pearson correlation over numeric columns: one row per
    unordered pair ``(col_a, col_b, n, r)`` with ``col_a < col_b``
    (string order), ``r`` to 6 dp — the feature-redundancy /
    leakage-screen profile (two near-duplicate quality signals, a
    feature that mirrors the label) run before features enter a
    training set.

    Exactness: each pair's moments (sum x, sum y, sum xy, sum x2,
    sum y2) are scaled-long sums over ONLY the rows where both columns
    are non-NULL (pairwise deletion, the profiler convention), so the
    closed-form r is partition-order-proof and SQL-replayable. r is
    NULL for degenerate (zero-variance) pairs.

    Scale design: ALL pairs ride ONE map-combinable aggregate over one
    scan — 5 * C(k,2) + C(k,2) conditional sums as aggregate
    expressions, unpivoted to the O(k^2) output frame driver-side (k
    is the column-list size, a constant; no per-pair scan, no shuffle
    beyond the single aggregate).
    """
    import itertools as _it

    pairs = list(_it.combinations(sorted(cols), 2))
    if not pairs:
        raise ValueError("need at least two columns")

    # decimal(38,0), NOT long: sum(round(x*y*1e6)) over wide-magnitude
    # columns overflows int64 silently (x^2 ~ 1e10 scaled to 1e16 per
    # row wraps after ~1k rows) — the exact failure mode the r4 review
    # flagged in standardize. 38 digits matches DuckDB's HUGEINT sums.
    def sl(e):
        return F.sum(F.round(e * value_scale, 0).cast("decimal(38,0)"))

    aggs = []
    for i, (a, b) in enumerate(pairs):
        x = F.col(a).cast("double")
        y = F.col(b).cast("double")
        both = x.isNotNull() & y.isNotNull()
        xx = F.when(both, x)
        yy = F.when(both, y)
        aggs += [
            F.coalesce(F.sum(both.cast("long")), F.lit(0)).alias(f"_n{i}"),
            F.coalesce(sl(xx), F.lit(0)).alias(f"_sx{i}"),
            F.coalesce(sl(yy), F.lit(0)).alias(f"_sy{i}"),
            F.coalesce(sl(xx * yy), F.lit(0)).alias(f"_sxy{i}"),
            F.coalesce(sl(xx * xx), F.lit(0)).alias(f"_sxx{i}"),
            F.coalesce(sl(yy * yy), F.lit(0)).alias(f"_syy{i}"),
        ]
    m = df.agg(*aggs)

    rows = []
    for i, (a, b) in enumerate(pairs):
        n = F.col(f"_n{i}").cast("double")
        sx = F.col(f"_sx{i}").cast("double") / value_scale
        sy = F.col(f"_sy{i}").cast("double") / value_scale
        sxy = F.col(f"_sxy{i}").cast("double") / value_scale
        sxx = F.col(f"_sxx{i}").cast("double") / value_scale
        syy = F.col(f"_syy{i}").cast("double") / value_scale
        num = n * sxy - sx * sy
        # clamp: scaled-long rounding can leave a near-constant column's
        # variance term a hair negative — sqrt(NaN) would poison r
        den = F.sqrt(
            F.greatest(
                (n * sxx - sx * sx) * (n * syy - sy * sy), F.lit(0.0)
            )
        )
        rows.append(
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                F.col(f"_n{i}").alias("n"),
                F.round(num / F.nullif(den, F.lit(0.0)), 6).alias("r"),
            )
        )
    return m.select(F.explode(F.array(*rows)).alias("_p")).select(
        "_p.col_a", "_p.col_b", "_p.n", "_p.r"
    )


def chi2_independence(
    df: DataFrame,
    col_a: str,
    col_b: str,
    *,
    value_scale: int = 10**6,
) -> DataFrame:
    """Chi-square test of independence between two categorical columns:
    ONE row ``(n, levels_a, levels_b, dof, chi2)``.

    The "is this balanced the way I think it is" audit — lang x source,
    split x label, template x bucket: a large chi2 (vs dof) says the
    two factors are entangled, i.e. your stratification or mixing is
    leaking structure. Companion to ab_test (two proportions) and
    benford_audit (one distribution vs a law).

    Every cell of the R x C table contributes, INCLUDING observed-zero
    cells (expected > 0 whenever both marginals are non-zero — omitting
    them understates chi2 exactly when association is strongest), via
    the marginal-spine device. Expected counts are single double ops on
    exact longs; cell terms are scaled-long summed (6 dp), so the
    statistic is partition-order-proof and SQL-replayable. NULL levels
    are excluded (a missing label is a missingness question, not an
    association one).

    Scale: one map-combinable (a, b) count aggregate; marginals are
    O(R)+O(C) rollups of it; the spine join is O(R x C) — bounded by
    level vocabularies, never data volume.
    """
    base = df.select(
        F.col(col_a).alias("_a"), F.col(col_b).alias("_b")
    ).where(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
    counts = base.groupBy("_a", "_b").agg(F.count(F.lit(1)).alias("_o"))
    ra = counts.groupBy("_a").agg(F.sum("_o").alias("_ra"))
    cb = counts.groupBy("_b").agg(F.sum("_o").alias("_cb"))
    nn = counts.agg(F.sum("_o").alias("_nn"))

    spine = (
        ra.crossJoin(F.broadcast(cb))
        .join(counts, ["_a", "_b"], "left")
        .crossJoin(F.broadcast(nn))
        .select(
            "_a",
            "_b",
            F.coalesce("_o", F.lit(0)).alias("_o"),
            (
                (F.col("_ra").cast("double") * F.col("_cb"))
                / F.col("_nn")
            ).alias("_e"),
        )
    )
    term = (F.col("_o") - F.col("_e")) * (F.col("_o") - F.col("_e")) / F.col(
        "_e"
    )
    out = spine.agg(
        F.countDistinct("_a").alias("levels_a"),
        F.countDistinct("_b").alias("levels_b"),
        (
            F.sum(F.round(term * value_scale, 0).cast("long")).cast("double")
            / value_scale
        ).alias("_chi2"),
    )
    return out.crossJoin(F.broadcast(nn)).select(
        F.col("_nn").alias("n"),
        "levels_a",
        "levels_b",
        ((F.col("levels_a") - 1) * (F.col("levels_b") - 1)).alias("dof"),
        F.round("_chi2", 6).alias("chi2"),
    )


def gini_concentration(
    df: DataFrame,
    group_col: str,
    value_col: str,
    *,
    value_scale: int = 10**6,
) -> DataFrame:
    """Per-group Gini coefficient of a non-negative value: ONE row per
    group ``(group, n, total, gini)`` — 0 = perfectly even, ->1 = all
    mass in one member.

    The concentration audit: token mass per source (is one domain 90%
    of the bucket?), revenue per user, cluster sizes after dedup.
    Formula: with values ascending (1-based rank i),
    ``G = (2 * sum(i*x_i) - (n+1) * sum(x)) / (n * sum(x))``.

    Exactness: values become scaled longs (``value_scale``), so both rank
    sums are INTEGER totals and G is one double division — order-proof
    (ties contribute the same sum under any tie order) and
    SQL-replayable. Negative values raise no error but break the
    metric's meaning; NULLs are dropped. G is NULL when sum(x) = 0.

    Scale design: the per-group ascending rank uses the
    exact_percentiles machinery — range-repartition on (group, value) +
    per-(partition, group) offset table — NOT a per-group window, so a
    3-source corpus never funnels a whole source into one task. One
    final O(groups) aggregate.
    """
    src = (
        df.filter(F.col(value_col).isNotNull())
        .select(
            F.col(group_col).alias("_g"),
            F.round(F.col(value_col).cast("double") * value_scale, 0)
            .cast("long")
            .alias("_v"),
        )
    )
    ranked = (
        src.repartitionByRange("_g", "_v")
        .sortWithinPartitions("_g", "_v")
        .select(
            "*",
            F.spark_partition_id().alias("_pid"),
            F.monotonically_increasing_id().alias("_mid"),
        )
    )
    part_stats = ranked.groupBy("_pid", "_g").agg(
        F.count("*").alias("_c"), F.min("_mid").alias("_m0")
    )
    woff = Window.partitionBy("_g").orderBy("_pid")
    offsets = part_stats.select(
        "_pid",
        "_g",
        "_m0",
        (F.sum("_c").over(woff) - F.col("_c")).alias("_off"),
    )
    r = ranked.join(F.broadcast(offsets), ["_pid", "_g"]).withColumn(
        "_i", F.col("_off") + (F.col("_mid") - F.col("_m0")) + 1
    )
    # decimal(38,0) for BOTH sums: _i grows to the group size n and _v
    # is value*value_scale, so sum(i*v) ~ n^2 * v * value_scale wraps int64 around
    # n=1M, v=1e3, and even the plain sum(v) wraps at n*v*value_scale ~ 1e19
    # — the same envelope correlation_matrix guards. 38 digits covers
    # any realistic corpus; DuckDB's HUGEINT sums take the identical
    # exact-integer -> one-double-round path.
    agg = r.groupBy("_g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("_v").cast("decimal(38,0)")).alias("_sv"),
        F.sum(
            F.col("_i").cast("decimal(19,0)")
            * F.col("_v").cast("decimal(19,0)")
        ).alias("_siv"),
    )
    sv_dec = F.col("_sv").cast("decimal(38,0)")
    g = (
        (2 * F.col("_siv") - (F.col("n") + 1).cast("decimal(38,0)") * sv_dec)
        .cast("double")
        / (
            F.col("n").cast("decimal(38,0)")
            * F.nullif(sv_dec, F.lit(0).cast("decimal(38,0)"))
        ).cast("double")
    )
    return agg.select(
        F.col("_g").alias(group_col),
        "n",
        (F.col("_sv").cast("double") / value_scale).alias("total"),
        F.round(g, 6).alias("gini"),
    )


def robust_scale(
    df: DataFrame,
    value_col: str,
    group_col: str,
    *,
    out_col: str | None = None,
) -> DataFrame:
    """Per-group robust scaling: ``z = (x - median) / IQR`` (IQR =
    p75 - p25) — sklearn's RobustScaler, distributed. The outlier-proof
    companion to :func:`standardize`: one bot session or one 10 GB
    document moves a mean/stddev z-score arbitrarily but barely touches
    the median/IQR, so thresholds tuned on clean data keep working on
    dirty feeds.

    Adds ``out_col`` (default ``{value_col}_robust``; 6 dp) next to the
    input columns. Quantiles are exact linear-interpolated
    (quantile_cont parity via :func:`exact_percentiles` — no per-group
    window); the O(groups) bounds frame broadcasts back, the data side
    never shuffles. Zero-IQR groups (over half the mass on one value)
    yield NULL — there is no robust z against a zero spread, and NULL
    is louder than Inf. NULL values pass through with NULL output.
    """
    out_col = out_col or f"{value_col}_robust"
    bounds = exact_percentiles(
        df, group_col, value_col, {"_med": 0.5, "_q1": 0.25, "_q3": 0.75}
    )
    joined = df.join(F.broadcast(bounds), group_col)
    z = (F.col(value_col).cast("double") - F.col("_med")) / F.nullif(
        F.col("_q3") - F.col("_q1"), F.lit(0.0)
    )
    return joined.select(
        *df.columns, F.round(z, 6).alias(out_col)
    )


def ks_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic: ONE row
    ``(n_a, n_b, d, d_at)`` where ``d = max_x |F_a(x) - F_b(x)|`` over
    the pooled empirical CDFs and ``d_at`` is the (smallest) value
    where the gap peaks.

    The quantitative sibling of population_stability: PSI needs a
    binning choice; KS compares the FULL distributions bin-free —
    "did this feature/score/latency distribution actually move between
    snapshot A and snapshot B", sensitive anywhere on the axis.

    Exactness: at each pooled value the CDF gap is
    ``|ca * n_b - cb * n_a| / (n_a * n_b)`` with ``ca``/``cb`` the
    cumulative counts — an INTEGER numerator, so the max is found over
    exact longs and divided once at the end. No float CDFs anywhere.
    (Envelope: ``ca * n_b`` needs n_a * n_b < 2^63 — holds to ~3e9
    rows per side.)

    Scale design: per-(value, side) counts are one map-combinable
    aggregate on the distinct-value grain; the cumulative counts ride
    ordering.running_total's distributed prefix sum (range exchange +
    O(P) offsets — no unpartitioned window over the value domain);
    the final max is one aggregate. NULL values are dropped.
    """
    from kafka_streams_plumber_spark.operators.ordering import (
        running_total,
    )

    base = df.select(
        F.col(group_col).alias("_g"), F.col(value_col).alias("_v")
    ).where(F.col(value_col).isNotNull())
    counts = (
        base.where(F.col("_g").isin([group_a, group_b]))
        .groupBy("_v")
        .agg(
            F.coalesce(
                F.sum((F.col("_g") == F.lit(group_a)).cast("long")), F.lit(0)
            ).alias("_ca"),
            F.coalesce(
                F.sum((F.col("_g") == F.lit(group_b)).cast("long")), F.lit(0)
            ).alias("_cb"),
        )
    )
    totals = counts.agg(
        F.sum("_ca").alias("n_a"), F.sum("_cb").alias("n_b")
    )
    cum = running_total(
        counts, ["_v"], ["_ca", "_cb"], out_col=["_cca", "_ccb"]
    )
    cum = cum.crossJoin(F.broadcast(totals))
    gap = F.abs(
        F.col("_cca") * F.col("n_b") - F.col("_ccb") * F.col("n_a")
    )
    # two-pass peak locate: max gap first, then the smallest value at it
    gmax = cum.agg(F.max(gap).alias("_gmax"))
    at = (
        cum.crossJoin(F.broadcast(gmax))
        .where(gap == F.col("_gmax"))
        .agg(F.min("_v").alias("d_at"))
    )
    out = (
        totals.crossJoin(F.broadcast(gmax))
        .crossJoin(F.broadcast(at))
    )
    return out.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(
            F.col("_gmax")
            / F.nullif(F.col("n_a") * F.col("n_b"), F.lit(0)),
            6,
        ).alias("d"),
        "d_at",
    )


def theils_u(
    df: DataFrame,
    col_a: str,
    col_b: str,
    *,
    value_scale: int = 10**9,
) -> DataFrame:
    """Theil's uncertainty coefficient between two categorical columns:
    ONE row ``(n, u_a_given_b, u_b_given_a)`` with
    ``U(A|B) = I(A;B) / H(A)`` — the share of A's entropy explained by
    knowing B, in [0, 1].

    The ASYMMETRIC companion to chi2_independence: chi-square says the
    columns are entangled, Theil's U says WHICH DIRECTION the
    information flows — ``u_a_given_b ~ 1, u_b_given_a ~ 0.3`` means B
    nearly determines A but not vice versa (e.g. page -> section vs
    section -> page), the reading that decides which column is the
    redundant one to drop from a feature set or release.

    NULL levels are excluded; U is NULL when the conditioned entropy is
    zero (a constant column explains nothing and has nothing to
    explain). MI/entropy terms are scaled-long sums (9 dp) over exact
    probabilities (single divisions of exact longs) — engine-replayable.

    Scale: one (a, b) contingency aggregate + two O(levels) marginal
    rollups; everything later is level-vocabulary-sized.
    """
    base = df.select(
        F.col(col_a).alias("_a"), F.col(col_b).alias("_b")
    ).where(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
    cells = base.groupBy("_a", "_b").agg(F.count(F.lit(1)).alias("_c"))
    ma = cells.groupBy("_a").agg(F.sum("_c").alias("_na"))
    mb = cells.groupBy("_b").agg(F.sum("_c").alias("_nb"))
    nn = cells.agg(F.coalesce(F.sum("_c"), F.lit(0)).alias("n"))

    def sl(e):
        return (
            F.sum(F.round(e * value_scale, 0).cast("long")).cast("double") / value_scale
        )

    joined = (
        cells.join(F.broadcast(ma), "_a")
        .join(F.broadcast(mb), "_b")
        .crossJoin(F.broadcast(nn))
    )
    iterm = (F.col("_c") / F.col("n")) * F.log(
        (F.col("_c").cast("double") * F.col("n"))
        / (F.col("_na").cast("double") * F.col("_nb"))
    )
    mi = joined.agg(sl(iterm).alias("_mi"))

    def entropy(m, cnt):
        term = -(F.col(cnt) / F.col("n")) * F.log(F.col(cnt) / F.col("n"))
        return m.crossJoin(F.broadcast(nn)).agg(sl(term).alias("_h"))

    ha = entropy(ma, "_na").withColumnRenamed("_h", "_ha")
    hb = entropy(mb, "_nb").withColumnRenamed("_h", "_hb")
    out = (
        nn.crossJoin(F.broadcast(mi))
        .crossJoin(F.broadcast(ha))
        .crossJoin(F.broadcast(hb))
    )
    return out.select(
        "n",
        F.round(
            F.col("_mi") / F.nullif(F.col("_ha"), F.lit(0.0)), 6
        ).alias("u_a_given_b"),
        F.round(
            F.col("_mi") / F.nullif(F.col("_hb"), F.lit(0.0)), 6
        ).alias("u_b_given_a"),
    )


def bh_fdr(
    df: DataFrame,
    p_col: str,
    id_col: str,
    *,
    alpha: float = 0.05,
    method: str = "bh",
) -> DataFrame:
    """Benjamini-Hochberg false-discovery-rate control over a panel of
    p-values — the multiple-testing step every metrics sweep needs
    after :func:`ab_test` / :func:`ks_test` score dozens of slices at
    once (at alpha=0.05, 5% of NULL hypotheses "pass" by chance; BH
    bounds the expected FALSE-discovery share of the rejected set).

    Returns one row per hypothesis ``(id_col, p, rank, m, q_value,
    rejected)``: ``rank`` is the 1-based ascending p rank (ties broken
    by ``id_col``), ``m`` the panel size, ``q_value`` the BH-adjusted
    p (``min_{j>=i} m*p_j/j``, capped at 1; reading: the smallest
    alpha at which this hypothesis would be rejected), ``rejected``
    the step-up decision — all hypotheses at-or-below the LARGEST rank
    k with ``p_k * m <= k * alpha`` are rejected, including any whose
    own p briefly rises above the line. NULL p-values are dropped.

    ``method="by"`` applies the Benjamini-Yekutieli correction for
    ARBITRARY dependence between the hypotheses (correlated metric
    slices): the BH line is divided by the harmonic factor
    ``c(m) = sum_{i<=m} 1/i``. c(m) is a scaled-long sum over the
    already-ranked panel (exact, order-proof); the BH path multiplies
    by the literal 1.0, which is an IEEE no-op, so BH outputs are
    bit-identical to the pre-``method`` form.

    Exactness: the threshold test is the integer-free comparison
    ``p*m*c <= i*alpha`` (multiplies only — no division; c = 1.0 for
    BH), the q-value is a min over identically-computed doubles then
    one final 6-dp round, so SQL replays every decision bit-for-bit.

    Scale design: ONE range exchange on (p, id) serves BOTH directions
    — the ascending rank comes from the usual per-partition-ordinal +
    O(P) offset-broadcast device (the offset table also carries the
    panel size m, so no separate count aggregate), and the suffix-min
    ``q_i = min_{j>=i} m*p_j/j`` is computed on the SAME partitioning:
    a per-partition local suffix-min window (ordered DESC within the
    sorted partition) plus an O(P) exclusive suffix-min of partition
    minima broadcast back. r6 stacked rank_by + running_min over the
    DESC rank, range-partitioning the panel twice; this is the fused
    mixed-direction form. The step-up cutoff is one max-aggregate
    broadcast back. The panel is typically tiny (one row per
    metric/slice), but nothing here requires it.
    """
    base = df.filter(F.col(p_col).isNotNull()).select(
        F.col(id_col).alias("_id"), F.col(p_col).cast("double").alias("_p")
    )
    ranked = (
        base.repartitionByRange("_p", "_id")
        .sortWithinPartitions("_p", "_id")
        .select(
            "*",
            F.spark_partition_id().alias("_pid"),
            F.monotonically_increasing_id().alias("_mid"),
        )
    )
    part_stats = ranked.groupBy("_pid").agg(
        F.count("*").alias("_c"), F.min("_mid").alias("_m0")
    )
    # O(P) rows: single-task windows over partition summaries only.
    # _tot (the panel size m) rides the same tiny table — no separate
    # count aggregate over the panel.
    woff = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = part_stats.select(
        "_pid",
        "_m0",
        F.coalesce(F.sum("_c").over(woff), F.lit(0)).alias("_roff"),
        F.sum("_c").over(wall).alias("_m"),
    )
    if method not in ("bh", "by"):
        raise ValueError(f"unknown method: {method!r}")
    r = ranked.join(F.broadcast(offsets), "_pid").withColumn(
        "_i", (F.col("_roff") + (F.col("_mid") - F.col("_m0")) + 1)
    )
    if method == "by":
        # harmonic c(m) over the ranked panel: exact scaled-long sum
        cm = r.agg(
            F.sum(
                F.round(F.lit(1e12) / F.col("_i"), 0).cast("long")
            ).alias("_cs")
        )
        r = r.crossJoin(F.broadcast(cm)).withColumn(
            "_c", F.col("_cs").cast("double") / F.lit(1e12)
        )
    else:
        r = r.withColumn("_c", F.lit(1.0))
    r = r.withColumn(
        "_raw", (F.col("_p") * F.col("_m") * F.col("_c")) / F.col("_i")
    )
    # Local suffix-min of _raw within each (already p-sorted) partition;
    # the cross-partition part is the exclusive suffix-min of partition
    # minima — O(P) rows, broadcast back. No second range exchange.
    wsuf = (
        Window.partitionBy("_pid")
        .orderBy(F.col("_mid").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    r = r.withColumn("_lsuf", F.min("_raw").over(wsuf))
    wsoff = (
        Window.orderBy(F.col("_pid").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sufmins = (
        r.groupBy("_pid")
        .agg(F.min("_raw").alias("_pmn"))
        .select("_pid", F.min("_pmn").over(wsoff).alias("_soffm"))
    )
    # least() skips NULLs, so the last partition (no suffix) keeps _lsuf
    q = r.join(F.broadcast(sufmins), "_pid").withColumn(
        "_q", F.least(F.col("_lsuf"), F.col("_soffm"))
    )
    kmax = r.agg(
        F.max(
            F.when(
                F.col("_p") * F.col("_m") * F.col("_c")
                <= F.col("_i") * F.lit(alpha),
                F.col("_i"),
            )
        ).alias("_k")
    )
    out = q.crossJoin(F.broadcast(kmax))
    return out.select(
        F.col("_id").alias(id_col),
        F.round("_p", 6).alias("p"),
        F.col("_i").cast("long").alias("rank"),
        F.col("_m").cast("long").alias("m"),
        F.round(F.least(F.col("_q"), F.lit(1.0)), 6).alias("q_value"),
        (F.col("_i") <= F.coalesce(F.col("_k"), F.lit(0))).alias("rejected"),
    )


def spearman_corr(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Spearman rank correlation between two numeric columns — one row
    ``(n, rho)`` (6 dp). The monotone-association / outlier-robust
    companion to :func:`correlation_matrix`'s Pearson: a quality score
    that RANKS documents the same as a trusted signal earns rho ~ 1
    even when their scales are wildly nonlinear, and one corrupt 1e12
    outlier cannot move it. Ties get average (fractional) ranks, the
    standard treatment. Rows where either side is NULL are dropped;
    rho is NULL for a degenerate (constant) column.

    Exactness: DOUBLED average ranks are exact integers
    (``2*rank = 2*cum_before + cnt + 1`` on the distinct-value grain),
    so every Pearson moment over them is an integer riding
    decimal(38,0) — good to n ~ 1e9 (n*S12 ~ 4n^4 < 1e38; beyond that
    Spark's non-ANSI decimal overflow yields NULL rather than a wrong
    number) — and the closed form is two exact-integer-to-double casts
    and one division, replayed bit-for-bit in SQL.

    Scale design: each column collapses to its distinct-value grain
    (map-combinable count), the doubled rank is ordering.running_total
    over that grain (range exchange + O(P) offsets — no unpartitioned
    window), rows join the two small rank frames on value, and the
    moments are ONE map-combinable aggregate. No per-row window, no
    sort of the full table.
    """
    from kafka_streams_plumber_spark.operators.ordering import (
        running_total,
    )

    base = (
        df.select(
            F.col(col_a).cast("double").alias("_a"),
            F.col(col_b).cast("double").alias("_b"),
        )
        .where(F.col("_a").isNotNull() & F.col("_b").isNotNull())
    )

    def rank2(col: str):
        c = base.groupBy(F.col(col).alias("_v")).agg(
            F.count(F.lit(1)).alias("_c")
        )
        cum = running_total(c, ["_v"], "_c", out_col="_cum")
        return cum.select(
            F.col("_v"),
            (2 * F.col("_cum") - F.col("_c") + 1).cast("long").alias("_r2"),
        )

    ra = rank2("_a").withColumnRenamed("_v", "_a").withColumnRenamed("_r2", "_ra2")
    rb = rank2("_b").withColumnRenamed("_v", "_b").withColumnRenamed("_r2", "_rb2")
    j = base.join(ra, "_a").join(rb, "_b")

    dec = lambda col: F.col(col).cast("decimal(38,0)")  # noqa: E731
    m = j.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("_n"),
        F.sum(dec("_ra2")).alias("_s1"),
        F.sum(dec("_rb2")).alias("_s2"),
        F.sum(
            F.col("_ra2").cast("decimal(19,0)") * F.col("_rb2").cast("decimal(19,0)")
        ).alias("_s12"),
        F.sum(
            F.col("_ra2").cast("decimal(19,0)") * F.col("_ra2").cast("decimal(19,0)")
        ).alias("_s11"),
        F.sum(
            F.col("_rb2").cast("decimal(19,0)") * F.col("_rb2").cast("decimal(19,0)")
        ).alias("_s22"),
    )
    var_a = F.col("_n") * F.col("_s11") - F.col("_s1") * F.col("_s1")
    var_b = F.col("_n") * F.col("_s22") - F.col("_s2") * F.col("_s2")
    rho = (
        (F.col("_n") * F.col("_s12") - F.col("_s1") * F.col("_s2")).cast("double")
        / (
            F.sqrt(F.nullif(var_a, F.lit(0).cast("decimal(38,0)")).cast("double"))
            * F.sqrt(F.nullif(var_b, F.lit(0).cast("decimal(38,0)")).cast("double"))
        )
    )
    return m.select(
        F.col("_n").cast("long").alias("n"),
        F.round(rho, 6).alias("rho"),
    )


def _pooled_midrank_sums(rows: DataFrame) -> DataFrame:
    """Per-group sums of POOLED doubled midranks over ``(_g, _v)`` rows
    (NULL-free): one row per group ``(_g, _ng, _Dg, _td2, _t3)`` with
    ``_ng`` the group's row count, ``_Dg`` its doubled midrank sum, and
    ``_td2``/``_t3`` its shares of the tie sums ``sum_v t*d^2`` and
    ``sum_v t^3`` (sum them over the groups for the totals), all exact
    integers on decimal(38,0). The one ranking kernel of
    :func:`mann_whitney`, :func:`kruskal_wallis` and :func:`dunn_test`.

    One sorted pass: range-partition the rows on ``_v`` (equal values
    always land in one partition), collapse to ``(partition, _g, _v)``
    counts ``c`` with no further exchange, and run ONE window per
    partition ordered by ``_v``: ``cum`` = partition-local ``sum c``
    over the RANGE frame up to ``v``, ``t`` = ``sum c`` over ``v' = v``
    (the GLOBAL tie count), ``e = 2*cum - t + 1``. Per (partition,
    group): ``n = sum c``, ``A = sum c*e``, ``S2 = sum c*e^2``,
    ``T2 = sum c*t^2``. With ``off`` = the rows in earlier partitions
    (a window over the P x k summary) the global doubled midrank is
    ``d = e + 2*off``, so ``D = sum A + 2*off*n``,
    ``sum t*d^2 = sum S2 + 4*off*A + 4*off^2*n`` and
    ``sum t^3 = sum T2`` fold algebraically — nothing is joined back
    onto the rows, and the answer does not depend on where the range
    boundaries fall (AQE coalescing, shuffle partitions, a resampled
    recomputation all give the same integers).
    """
    dec = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    cells = (
        rows.repartitionByRange("_v")
        .groupBy(F.spark_partition_id().alias("_pid"), "_g", "_v")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    w = Window.partitionBy("_pid").orderBy("_v")
    cum = F.sum("_c").over(w.rangeBetween(Window.unboundedPreceding, 0))
    t = F.sum("_c").over(w.rangeBetween(0, 0))
    ranked = cells.select(
        "_pid",
        "_g",
        dec(F.col("_c")).alias("_c"),
        dec(F.lit(2) * cum - t + F.lit(1)).alias("_e"),
        dec(t).alias("_t"),
    )
    c, e = F.col("_c"), F.col("_e")
    part = ranked.groupBy("_pid", "_g").agg(
        F.sum("_c").alias("_n"),
        F.sum(c * e).alias("_a"),
        F.sum(c * e * e).alias("_s2"),
        F.sum(c * F.col("_t") * F.col("_t")).alias("_t2"),
    )
    # O(P*k) rows: the rows of every group in earlier partitions
    woff = Window.orderBy("_pid").rangeBetween(Window.unboundedPreceding, -1)
    off = F.coalesce(F.sum("_n").over(woff), F.lit(0).cast("decimal(38,0)"))
    folded = part.select("*", off.alias("_off"))
    n, a, o = F.col("_n"), F.col("_a"), F.col("_off")
    return folded.groupBy("_g").agg(
        *[
            F.sum(x).cast("decimal(38,0)").alias(name)
            for x, name in [
                (n, "_ng"),
                (a + 2 * o * n, "_Dg"),
                (F.col("_s2") + 4 * o * a + 4 * o * o * n, "_td2"),
                (F.col("_t2"), "_t3"),
            ]
        ]
    )


def mann_whitney(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    *,
    round_values: int | None = None,
) -> DataFrame:
    """Mann-Whitney U test (two-sample, tie-corrected normal
    approximation): one row ``(n_a, n_b, u_a, z)``. The LOCATION
    companion to :func:`ks_test` (which is shape-sensitive) and the
    nonparametric alternative to a t-test — "did the purchase slice's
    values shift up" without assuming normality, immune to outliers.
    |z| >= 1.96 is the usual 95% bar; z is left un-thresholded like
    :func:`ab_test`, with no continuity correction (documented choice;
    at the panel sizes this engine runs the 0.5 shift is noise).

    ``u_a`` is the U statistic of ``group_a`` (P(a > b) estimate:
    u_a / (n_a*n_b)); z is signed (positive = a tends larger). z is
    NULL when either group is empty or ALL values tie (zero variance).

    Exactness: the AUC device — the pooled doubled midrank
    ``2*cum - t + 1`` of every value is an exact integer, so group a's
    doubled rank sum, U and the tie term ``sum(t^3 - t)`` are exact
    integers riding decimal(38,0), and z is one fixed-shape double
    expression — replayed bit-for-bit in SQL. ``round_values``
    quantizes first (same contract as auc's round_scores) to bound the
    distinct grain.

    Scale design: :func:`_pooled_midrank_sums` over the two groups
    (one range exchange, one window per partition, offsets folded on
    a P x 2 summary — NOT auc's O(distinct) single-task window), one
    final aggregate over its two rows.
    """
    v = F.col(value_col).cast("double")
    if round_values is not None:
        v = F.round(v, int(round_values))
    base = df.where(
        F.col(group_col).isin(group_a, group_b) & v.isNotNull()
    ).select(v.alias("_v"), (F.col(group_col) == group_a).alias("_g"))

    zero = F.lit(0).cast("decimal(38,0)")
    m = _pooled_midrank_sums(base).agg(
        F.coalesce(F.sum(F.when(F.col("_g"), F.col("_ng"))), zero).alias("_na"),
        F.coalesce(F.sum(F.when(~F.col("_g"), F.col("_ng"))), zero).alias("_nb"),
        F.coalesce(F.sum(F.when(F.col("_g"), F.col("_Dg"))), zero).alias("_r2"),
        F.coalesce(F.sum(F.col("_t3") - F.col("_ng")), zero).alias("_st"),
    )
    na, nb = F.col("_na"), F.col("_nb")
    u2 = F.col("_r2") - na * (na + 1)
    n = na + nb
    # nullif guards the degenerate n<=1 panel: the raw division is 0/0
    # (NULL in Spark but IEEE NaN in engines like DuckDB, which would
    # then propagate through 0*NaN) — nullif makes BOTH engines yield
    # the documented NULL z.
    var = (
        (na * nb).cast("double")
        * (
            (n + 1).cast("double")
            - F.col("_st").cast("double")
            / F.nullif((n * (n - 1)).cast("double"), F.lit(0.0))
        )
        / 12.0
    )
    # one exact-integer subtraction THEN one double cast (matches the
    # oracle's CAST(r2 - na*(na+1) - na*nb AS DOUBLE) bit-for-bit)
    z = (u2 - na * nb).cast("double")
    return m.select(
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
        F.round(u2.cast("double") / 2.0, 6).alias("u_a"),
        F.round(
            z / F.nullif(2.0 * F.sqrt(var), F.lit(0.0)), 6
        ).alias("z"),
    )


def autocorrelation(
    df: DataFrame,
    index_col: str,
    value_col: str,
    *,
    max_lag: int,
    group_cols: list[str] | None = None,
    value_scale: int = 10**6,
) -> DataFrame:
    """Sample autocorrelation function (ACF) of a bucketed series at
    lags 1..``max_lag`` — the temporal diagnostic that tells a feed
    monitor WHICH period to hand :func:`~kafka_streams_plumber_spark.
    operators.behavior.seasonal_decompose` (a weekly cycle shows as an
    r_7 spike) and whether residual drift is trending (slow ACF decay)
    or noise (immediate cutoff).

    ``index_col`` must be an integer bucket index (epoch days/hours).
    One row per lag: ``(lag, n_pairs, acf)`` with the standard sample
    estimator r_k = sum_t (x_t - mean)(x_{t+k} - mean) / sum_t
    (x_t - mean)^2 over the pairs PRESENT (missing buckets drop their
    pairs; n_pairs reports coverage). ``acf`` is NULL for a constant
    series (zero variance) or an empty lag.

    Exactness: values are scaled longs; multiplying the estimator
    through by n^2 clears the rational mean — r_k = (n^2*P_k -
    n*T*(H_k + G_k) + k_pairs*T^2) / (n*(n*Q - T^2)) with P/H/G
    the per-lag cross-moment and endpoint sums and T/Q/n the global
    sum/sum-of-squares/count — ALL exact integers on decimal(38,0)
    (n*Q ~ n^2*v^2 needs n*v_scaled < ~1e19: fine for any bucketed
    series), one double division per lag. SQL replays bit-for-bit.

    ``group_cols`` runs one INDEPENDENT ACF per group in the same
    plan — the fleet form for diagnosing many feeds at once (pairs
    only form within a group; every moment is per-group).

    Scale design: the series is already on the bucketed grain
    (O(buckets) rows). One explode to (lag, t) keys — max_lag * n
    narrow rows — one EQUI-join back to the series on the shifted
    (group, index) key (never a range join), one map-combinable
    per-(group, lag) aggregate, and an O(groups)-row moments frame
    joined back under AQE broadcast. No windows, no Python.
    """
    assert max_lag >= 1
    groups = list(group_cols or [])
    v = F.round(F.col(value_col).cast("double") * value_scale, 0).cast("long")
    base = df.where(
        F.col(index_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        *groups, F.col(index_col).cast("long").alias("_i"), v.alias("_v")
    )

    tot = base.groupBy(*groups).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("_n"),
        F.sum(F.col("_v").cast("decimal(28,0)")).cast("decimal(38,0)").alias("_t"),
        F.sum(
            F.col("_v").cast("decimal(19,0)") * F.col("_v").cast("decimal(19,0)")
        ).alias("_q"),
    )
    lagged = base.select(
        *groups,
        "_i",
        F.col("_v").alias("_va"),
        F.explode(F.sequence(F.lit(1), F.lit(max_lag))).alias("lag"),
    ).withColumn("_j", F.col("_i") + F.col("lag"))
    pairs = lagged.join(
        base.select(
            *groups, F.col("_i").alias("_j"), F.col("_v").alias("_vb")
        ),
        [*groups, "_j"],
    )
    per_lag = pairs.groupBy(*groups, "lag").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("_k"),
        F.sum(
            F.col("_va").cast("decimal(19,0)")
            * F.col("_vb").cast("decimal(19,0)")
        ).alias("_p"),
        F.sum(F.col("_va").cast("decimal(28,0)")).cast("decimal(38,0)").alias("_h"),
        F.sum(F.col("_vb").cast("decimal(28,0)")).cast("decimal(38,0)").alias("_g"),
    )
    # keep empty lags visible: left join the (group x lag) spine
    lag_spine = df.sparkSession.range(1, max_lag + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    spine = tot.select(*groups).crossJoin(F.broadcast(lag_spine))
    out = spine.join(per_lag, [*groups, "lag"], "left").join(
        F.broadcast(tot), groups
    ) if groups else spine.join(per_lag, ["lag"], "left").crossJoin(
        F.broadcast(tot)
    )
    num = (
        F.col("_n") * F.col("_n") * F.col("_p")
        - F.col("_n") * F.col("_t") * (F.col("_h") + F.col("_g"))
        + F.col("_k") * F.col("_t") * F.col("_t")
    )
    den = F.col("_n") * (F.col("_n") * F.col("_q") - F.col("_t") * F.col("_t"))
    return out.select(
        *groups,
        "lag",
        F.coalesce(F.col("_k"), F.lit(0)).cast("long").alias("n_pairs"),
        F.round(
            num.cast("double") / F.nullif(den.cast("double"), F.lit(0.0)),
            6,
        ).alias("acf"),
    ).orderBy(*groups, "lag")


def ad_test(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
    *,
    round_values: int | None = None,
    term_scale: int = 10**9,
    harmonic_scale: int = 10**12,
) -> DataFrame:
    """Two-sample Anderson-Darling test (Scholz-Stephens k-sample
    midrank form, k=2) — :func:`ks_test`'s tail-sensitive sibling:
    KS sees only the single largest CDF gap, AD integrates the squared
    gap with weight 1/(F(1-F)), so a drift that lives in the
    DISTRIBUTION TAILS (truncated outliers, new extreme lengths)
    moves AD long before it moves D. One row ``(n_a, n_b, a2,
    a2_standardized)``: ``a2`` is A2_akN (ties via midranks, exactly
    scipy's ``anderson_ksamp(midrank=True)`` statistic) and
    ``a2_standardized = (A2 - 1) / sigma`` with the published
    variance polynomial — compare against the Scholz-Stephens
    critical values (1.960 / 2.719 / 3.752 at 5% / 1% / 0.1%). NULL
    when either group is empty or all values tie.

    Exactness: on the distinct-value grain the midrank identity
    doubles every half-integer — with ``dm = 2*cum_a - f_a`` and
    ``db = 2*cum - l`` the per-value term is ``(l/N) * (N*dm -
    n_a*db)^2 / (2*N*db - db^2 - N*l)``, an exact-integer numerator
    on decimal(38,0) (envelope: (N*dm)^2 < 1e38 holds to N ~ 1e9);
    each rational term is quantized to a scaled long (``term_scale``)
    so the sum is order-proof. The standardization's harmonic sums
    ``h = sum 1/i`` and ``g = sum_u (h_{N-1} - h_{N-u})/u`` ride the
    distributed prefix machinery over the RANKED panel (scaled to
    ``harmonic_scale`` longs; deterministic ~1e-5 relative
    quantization, identical in both engines), never a driver loop.
    Every remaining expression is fixed-shape double math — SQL
    replays a2, sigma and the standardized value bit-for-bit.

    Scale design: one map-combinable collapse to the distinct-value
    grain + ONE fused prefix pass for the three cumulative counts;
    the harmonic pass is one ranked range exchange + one prefix sum +
    one narrow self equi-join on the mirrored index (i = N-u). No
    windows over the panel, no Python, no driver-side loops.
    """
    from kafka_streams_plumber_spark.operators.ordering import (
        running_agg,
        running_total,
    )

    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    v = F.col(value_col).cast("double")
    if round_values is not None:
        v = F.round(v, int(round_values))
    base = df.where(
        F.col(group_col).isin(group_a, group_b) & v.isNotNull()
    ).select(v.alias("_v"), (F.col(group_col) == group_a).alias("_ga"))

    per = base.groupBy("_v").agg(
        F.coalesce(F.sum(F.col("_ga").cast("long")), F.lit(0)).alias("_fa"),
        F.count(F.lit(1)).alias("_l"),
    )
    cum = running_total(
        per, ["_v"], ["_fa", "_l"], out_col=["_ca", "_cl"]
    )
    tot = per.agg(
        F.coalesce(F.sum("_fa"), F.lit(0)).alias("_na"),
        F.coalesce(F.sum(F.col("_l") - F.col("_fa")), F.lit(0)).alias("_nb"),
        F.coalesce(F.sum("_l"), F.lit(0)).alias("_N"),
    )
    j = cum.crossJoin(F.broadcast(tot))
    nn, na, nb = dec(F.col("_N")), dec(F.col("_na")), dec(F.col("_nb"))
    fa, l = dec(F.col("_fa")), dec(F.col("_l"))
    fb = l - fa
    dma = 2 * dec(F.col("_ca")) - fa
    dmb = 2 * (dec(F.col("_cl")) - dec(F.col("_ca"))) - fb
    db = 2 * dec(F.col("_cl")) - l
    den = 2 * nn * db - db * db - nn * l
    term = lambda dm, n_i: (  # noqa: E731
        l.cast("double")
        / nn.cast("double")
        * (nn * dm - n_i * db).cast("double")
        * (nn * dm - n_i * db).cast("double")
        / F.nullif(den.cast("double"), F.lit(0.0))
    )
    sums = j.agg(
        F.sum(
            F.round(term(dma, na) * term_scale, 0).cast("long")
        ).alias("_sa"),
        F.sum(
            F.round(term(dmb, nb) * term_scale, 0).cast("long")
        ).alias("_sb"),
    )

    # --- harmonic sums over the ranked panel (for the variance) ---
    ranked = running_agg(
        base.select("_v"), ["_v"], [], pos_col="_i0"
    ).select((F.col("_i0") + 1).alias("_i"))
    hterm = F.round(F.lit(float(harmonic_scale)) / F.col("_i"), 0).cast(
        "long"
    )
    hframe = ranked.crossJoin(F.broadcast(tot.select("_N"))).where(
        F.col("_i") <= F.col("_N") - 1
    ).select("_i", hterm.alias("_ht"), "_N")
    hcum = running_total(hframe, ["_i"], "_ht", out_col="_H")
    htot = hcum.agg(
        F.max("_H").alias("_Hlast"), F.max("_N").alias("_N2")
    )
    # g = sum_{u=2}^{N-1} (h_{N-1} - h_{N-u}) / u : join H at index N-u
    u_side = hcum.select(F.col("_i").alias("_u"), F.col("_N"))
    h_side = hcum.select(F.col("_i").alias("_mi"), F.col("_H"))
    gterm = (
        (F.col("_Hlast") - F.col("_H")).cast("double")
        / F.lit(float(harmonic_scale))
        / F.col("_u").cast("double")
    )
    gsum = (
        u_side.where(F.col("_u") >= 2)
        .withColumn("_mi", F.col("_N") - F.col("_u"))
        .join(h_side, "_mi")
        .crossJoin(F.broadcast(htot))
        .agg(
            F.sum(F.round(gterm * term_scale, 0).cast("long")).alias("_g")
        )
    )

    out = (
        tot.crossJoin(F.broadcast(sums))
        .crossJoin(F.broadcast(htot))
        .crossJoin(F.broadcast(gsum))
    )
    nd = F.col("_N").cast("double")
    a2 = (
        (nd - 1)
        / nd
        * (
            F.col("_sa").cast("double")
            / F.lit(float(term_scale))
            / F.col("_na").cast("double")
            + F.col("_sb").cast("double")
            / F.lit(float(term_scale))
            / F.col("_nb").cast("double")
        )
    )
    hh = F.col("_Hlast").cast("double") / F.lit(float(harmonic_scale))
    gg = F.col("_g").cast("double") / F.lit(float(term_scale))
    bigh = (
        F.lit(1.0) / F.col("_na").cast("double")
        + F.lit(1.0) / F.col("_nb").cast("double")
    )
    # Scholz-Stephens variance polynomial at k=2
    ca = (4 * gg - 6) + (10 - 6 * gg) * bigh
    cb = (
        (2 * gg - 4) * 4
        + 16 * hh
        + (2 * gg - 14 * hh - 4) * bigh
        - 8 * hh
        + 4 * gg
        - 6
    )
    cc = (
        4 * (6 * hh + 2 * gg - 2)
        + 2 * (4 * hh - 4 * gg + 6)
        + (2 * hh - 6) * bigh
        + 4 * hh
    )
    cd = F.lit(24.0)
    sigma2 = (ca * nd * nd * nd + cb * nd * nd + cc * nd + cd) / (
        (nd - 1) * (nd - 2) * (nd - 3)
    )
    ok = (F.col("_na") > 0) & (F.col("_nb") > 0) & (F.col("_N") >= 4)
    return out.select(
        F.col("_na").cast("long").alias("n_a"),
        F.col("_nb").cast("long").alias("n_b"),
        F.round(F.when(ok, a2), 6).alias("a2"),
        F.round(
            F.when(ok, (a2 - 1) / F.sqrt(sigma2)), 6
        ).alias("a2_standardized"),
    )


def runs_test(
    df: DataFrame,
    index_col: str,
    value_col: str,
    *,
    center: str = "median",
) -> DataFrame:
    """Wald-Wolfowitz runs test for randomness of a bucketed series —
    the residual-diagnostics companion to :func:`autocorrelation`:
    after :func:`~kafka_streams_plumber_spark.operators.behavior.
    seasonal_decompose`, too FEW sign runs around the center mean the
    residuals still trend (the model missed structure), too MANY mean
    oscillation. One row ``(n_above, n_below, runs, z)``: z is the
    normal approximation ``(R - mu)/sigma`` with ``mu = 2ab/n + 1``,
    ``sigma^2 = 2ab(2ab - n)/(n^2 (n-1))``. Values EQUAL to the
    center are dropped (the standard treatment); z is NULL when
    either side is empty or n < 2.

    ``center="median"`` (exact interpolated percentile — the engine's
    cross-engine-identical form) or ``"zero"`` (for residuals already
    centered).

    Exactness: the run count is an exact integer (1 + #sign changes
    between ORDER-consecutive kept rows); a, b, R feed one fixed-shape
    double expression — SQL replays bit-for-bit.

    Scale design: signs are one broadcast-center projection; order-
    consecutive pairs come from the parallel rank (range exchange +
    O(P) offsets) and ONE narrow self equi-join on rank+1 — never an
    unpartitioned window. Aggregates are map-combinable.
    """
    from kafka_streams_plumber_spark.operators.ordering import running_agg

    v = F.col(value_col).cast("double")
    base = df.where(
        F.col(index_col).isNotNull() & v.isNotNull()
    ).select(F.col(index_col).alias("_i"), v.alias("_v"))
    if center == "median":
        c = base.agg(F.expr("percentile(_v, 0.5)").alias("_c"))
        base = base.crossJoin(F.broadcast(c))
    elif center == "zero":
        base = base.withColumn("_c", F.lit(0.0))
    else:
        raise ValueError(f"unknown center: {center!r}")
    kept = base.where(F.col("_v") != F.col("_c")).select(
        "_i", (F.col("_v") > F.col("_c")).alias("_s")
    )
    ranked = running_agg(kept, ["_i"], [], pos_col="_p")
    a = ranked.select(F.col("_p").alias("_pn"), F.col("_s").alias("_sa"))
    b = ranked.select((F.col("_p") - 1).alias("_pn"), F.col("_s").alias("_sb"))
    changes = a.join(b, "_pn").agg(
        F.coalesce(
            F.sum((F.col("_sa") != F.col("_sb")).cast("long")), F.lit(0)
        ).alias("_ch")
    )
    counts = ranked.agg(
        F.coalesce(F.sum(F.col("_s").cast("long")), F.lit(0)).alias("_a"),
        F.coalesce(F.sum((~F.col("_s")).cast("long")), F.lit(0)).alias("_b"),
    )
    out = counts.crossJoin(F.broadcast(changes))
    n = (F.col("_a") + F.col("_b")).cast("double")
    ab2 = 2.0 * F.col("_a").cast("double") * F.col("_b").cast("double")
    runs = (F.col("_ch") + 1).cast("long")
    mu = ab2 / n + 1
    sigma2 = ab2 * (ab2 - n) / (n * n * (n - 1))
    ok = (F.col("_a") > 0) & (F.col("_b") > 0) & (n > 1)
    return out.select(
        F.col("_a").cast("long").alias("n_above"),
        F.col("_b").cast("long").alias("n_below"),
        F.when(ok, runs).alias("runs"),
        # nullif: at a=b=1, 2ab == n makes sigma^2 exactly 0 — Spark's
        # x/0.0 is NULL but IEEE engines give inf; force NULL in both
        F.round(
            F.when(
                ok,
                (runs.cast("double") - mu)
                / F.nullif(F.sqrt(sigma2), F.lit(0.0)),
            ),
            6,
        ).alias("z"),
    )


def kruskal_wallis(
    df: DataFrame,
    value_col: str,
    group_col: str,
    *,
    round_values: int | None = None,
) -> DataFrame:
    """Kruskal-Wallis H test — the k-sample generalization of
    :func:`mann_whitney`: did ANY of the k slices shift in location,
    without assuming normality. The standard first question over a
    per-source / per-feed metric panel before drilling into pairwise
    tests (run :func:`mann_whitney` on the winning pair after). One
    row ``(n, k_groups, df, h)``; the tie-corrected H is chi-square
    with k-1 df under the null (h >= 9.49 rejects at 95% for k=5). H
    is NULL when every value ties (zero rank variance) or k < 2.

    Exactness: the doubled-midrank device — per distinct value the
    doubled midrank d = 2*cum - t + 1 is an exact integer from
    cumulative counts, so each group's doubled rank sum D_g and the
    denominator sum(t*d^2) - N*(N+1)^2 are exact integers on
    decimal(38,0). The tie-corrected identity used is the ANOVA-form
    H = (N-1) * sum_g E_g^2/n_g / (sum t*d^2 - N(N+1)^2) with
    E_g = D_g - n_g*(N+1); the per-group quotient E_g^2/n_g is frozen
    to a 1e-6-resolution scaled integer via one fixed-shape double
    expression round((E/n)*E*1e6) — deterministic IEEE arithmetic
    replayed verbatim in SQL, quantization invisible at the 6-decimal
    output resolution even on toy panels. All other terms stay exact
    integers.

    Scale design: :func:`_pooled_midrank_sums` (one range exchange,
    one window per partition, offsets folded on a P x k summary), the
    totals from a whole-frame window over its k rows, one final
    aggregate. ``round_values`` quantizes first (mann_whitney's
    contract) to bound the grain.
    """
    v = F.col(value_col).cast("double")
    if round_values is not None:
        v = F.round(v, int(round_values))
    base = df.where(
        F.col(group_col).isNotNull() & v.isNotNull()
    ).select(F.col(group_col).alias("_g"), v.alias("_v"))

    wall = Window.partitionBy()  # k rows: a single-task total is fine
    per_g = _pooled_midrank_sums(base).select(
        "_ng",
        "_Dg",
        F.sum("_ng").over(wall).alias("_N"),
        F.sum("_td2").over(wall).alias("_td2"),
    )
    # E_g^2/n_g frozen to a 1e-6 scaled integer: (E/n)*E*1e6 in IEEE
    # double is the same bits in every engine; round() then makes the
    # k-row sum an exact integer sum (no order-dependent double
    # accumulation); the 1e6 divides back out in the final expression.
    eg = F.col("_Dg") - F.col("_ng") * (F.col("_N") + 1)
    term = F.round(
        eg.cast("double")
        / F.col("_ng").cast("double")
        * eg.cast("double")
        * F.lit(1000000.0)
    ).cast("decimal(38,0)")
    zero = F.lit(0).cast("decimal(38,0)")
    out = per_g.agg(
        F.count(F.lit(1)).alias("_k"),
        F.coalesce(F.sum(term), zero).alias("_sa"),
        F.coalesce(F.max("_N"), zero).alias("_N"),
        F.max("_td2").alias("_td2"),
    )
    nN = F.col("_N")
    den = F.col("_td2") - nN * (nN + 1) * (nN + 1)
    h = F.when(
        F.col("_k") >= 2,
        F.round(
            (nN - 1).cast("double")
            * F.col("_sa").cast("double")
            / F.lit(1000000.0)
            / F.nullif(den.cast("double"), F.lit(0.0)),
            6,
        ),
    )
    return out.select(
        nN.cast("long").alias("n"),
        F.col("_k").cast("long").alias("k_groups"),
        (F.col("_k") - 1).cast("long").alias("df"),
        h.alias("h"),
    )


def _anova_on_scaled(base: DataFrame) -> DataFrame:
    """Shared one-way-ANOVA core over ``(_g, _s)`` with ``_s`` a
    scaled-long value: exact integer per-group sums S_g and squares,
    the per-group S_g^2/n_g quotient frozen via the same fixed-shape
    round((S/n)*S*1e6) device as :func:`kruskal_wallis`, then
    F = (B/(k-1)) / (W/(N-k)) as one double expression. Returns one
    row ``(n, k_groups, df_between, df_within, f, eta_sq)``."""
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    per_g = base.groupBy("_g").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("_ng"),
        # decimal accumulation: a LONG sum of _s wraps silently once
        # n_g * |_s| crosses 2^63 (inside the 100 TB envelope) — same
        # wrap-before-cast class fixed in autocorrelation/
        # cross_correlation/bartlett/partial_corr; values identical
        # in the non-wrap regime.
        F.coalesce(
            F.sum(F.col("_s").cast("decimal(28,0)")).cast("decimal(38,0)"),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("_sg"),
        F.coalesce(
            F.sum(
                dec(F.col("_s").cast("decimal(19,0)"))
                * F.col("_s").cast("decimal(19,0)")
            ),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("_qg"),
        # Raw-sum null gate: a decimal(38,0) SUM overflow returns NULL
        # (ansi off) and the coalesces above would read it as 0 with
        # every term non-NULL — a confidently wrong F instead of NULL
        # (ADVICE r10). ANDed across groups and into the output gate.
        (
            F.sum(F.col("_s").cast("decimal(28,0)")).isNotNull()
            & F.sum(
                dec(F.col("_s").cast("decimal(19,0)"))
                * F.col("_s").cast("decimal(19,0)")
            ).isNotNull()
        ).alias("_g_ok"),
    )
    term = F.round(
        F.col("_sg").cast("double")
        / F.col("_ng").cast("double")
        * F.col("_sg").cast("double")
        * F.lit(1000000.0)
    ).cast("decimal(38,0)")
    agg = per_g.agg(
        F.count(F.lit(1)).alias("_k"),
        F.coalesce(F.sum("_ng"), F.lit(0).cast("decimal(38,0)")).alias("_N"),
        F.coalesce(F.sum("_sg"), F.lit(0).cast("decimal(38,0)")).alias("_S"),
        F.coalesce(F.sum("_qg"), F.lit(0).cast("decimal(38,0)")).alias("_Q"),
        F.coalesce(F.sum(term), F.lit(0).cast("decimal(38,0)")).alias("_A"),
        (
            F.coalesce(F.min("_g_ok"), F.lit(True))
            & F.sum("_ng").isNotNull()
            & F.sum("_sg").isNotNull()
            & F.sum("_qg").isNotNull()
            & F.sum(term).isNotNull()
        ).alias("_sums_ok"),
    )
    nN = F.col("_N").cast("double")
    s = F.col("_S").cast("double")
    # grand-mean term S^2/N frozen the same way as the group terms;
    # everything below lives in the 1e6-scaled domain (the scale
    # cancels in F and eta_sq, both ratios of scaled quantities)
    gm = F.round(s / nN * s * F.lit(1000000.0))
    between = F.col("_A").cast("double") - gm
    within = (
        F.col("_Q").cast("double") * F.lit(1000000.0)
        - F.col("_A").cast("double")
    )
    kd = F.col("_k").cast("double")
    ok = (
        (F.col("_k") >= 2)
        & (F.col("_N").cast("long") > F.col("_k"))
        & F.col("_sums_ok")
    )
    f_stat = F.when(
        ok,
        F.round(
            between
            / (kd - F.lit(1.0))
            / F.nullif(within / (nN - kd), F.lit(0.0)),
            6,
        ),
    )
    eta = F.when(
        ok,
        F.round(
            between
            / F.nullif(
                F.col("_Q").cast("double") * F.lit(1000000.0) - gm,
                F.lit(0.0),
            ),
            6,
        ),
    )
    return agg.select(
        F.col("_N").cast("long").alias("n"),
        F.col("_k").cast("long").alias("k_groups"),
        (F.col("_k") - 1).cast("long").alias("df_between"),
        (F.col("_N").cast("long") - F.col("_k")).alias("df_within"),
        f_stat.alias("f"),
        eta.alias("eta_sq"),
    )


def anova_oneway(
    df: DataFrame,
    value_col: str,
    group_col: str,
    *,
    scale: int = 6,
) -> DataFrame:
    """One-way ANOVA F — do the k group MEANS differ (the parametric
    sibling of :func:`kruskal_wallis`; prefer KW when outliers or skew
    are in play, ANOVA when you need the variance decomposition).
    One row ``(n, k_groups, df_between, df_within, f, eta_sq)`` with
    eta_sq = SS_between/SS_total, the effect size reviewers ask for
    next to F. NULL f when k < 2, N <= k, or zero within-variance.

    Exactness: values are frozen to scaled longs (10^-``scale``
    resolution) FIRST, so every sum and sum-of-squares is an exact
    integer on decimal(38,0) regardless of partitioning; the only
    non-integers are the per-group S_g^2/n_g quotients, frozen
    deterministically via round((S/n)*S) — the
    :func:`kruskal_wallis` device — and the final fixed-shape F
    expression. Replayed bit-for-bit in SQL.

    Scale design: ONE map-combinable aggregate to the k-row group
    grain, then O(k) arithmetic — no second pass over the data, no
    window, no join.
    """
    mult = float(10 ** int(scale))
    v = F.col(value_col).cast("double")
    base = df.where(
        F.col(group_col).isNotNull() & v.isNotNull()
    ).select(
        F.col(group_col).alias("_g"),
        F.round(v * F.lit(mult)).cast("long").alias("_s"),
    )
    return _anova_on_scaled(base)


def brown_forsythe(
    df: DataFrame,
    value_col: str,
    group_col: str,
    *,
    scale: int = 6,
) -> DataFrame:
    """Brown-Forsythe test — do the k groups have equal SPREAD? The
    robust Levene variant: one-way ANOVA on the absolute deviations
    from each group's MEDIAN (median-centering keeps the test honest
    under skew, the reason scipy defaults to it). The companion check
    before trusting :func:`anova_oneway` (which assumes equal
    variances), and a drift probe in its own right — "the mean held
    but feed X's dispersion doubled". Same output schema as
    :func:`anova_oneway`.

    Exactness: group medians are exact interpolated percentiles
    (:func:`exact_percentiles` — distributed rank machinery, no
    per-group window); |x - med| is frozen to scaled longs before any
    sum, then the :func:`_anova_on_scaled` integer core runs
    unchanged. Replayed bit-for-bit in SQL (DuckDB quantile_cont uses
    the same interpolation).

    Scale design: the percentile pass (range exchange + O(P x G)
    offsets), one broadcast join of the k-row median table, one
    map-combinable aggregate.
    """
    mult = float(10 ** int(scale))
    v = F.col(value_col).cast("double")
    base = df.where(
        F.col(group_col).isNotNull() & v.isNotNull()
    ).select(F.col(group_col).alias("_g"), v.alias("_v"))
    med = exact_percentiles(base, "_g", "_v", {"_med": 0.5})
    z = base.join(F.broadcast(med), "_g").select(
        "_g",
        F.round(F.abs(F.col("_v") - F.col("_med")) * F.lit(mult))
        .cast("long")
        .alias("_s"),
    )
    return _anova_on_scaled(z)


def kendall_tau(
    df: DataFrame,
    x_col: str,
    y_col: str,
    *,
    round_x: int | None = None,
    round_y: int | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Kendall's tau-b rank correlation — concordant-vs-discordant
    pairs with the tie-symmetric denominator. The robust companion to
    :func:`spearman_corr`: tau weights each PAIR equally (an outlier
    moves O(n) pairs, not a squared deviation), and its value has the
    direct reading P(concordant) - P(discordant). One row
    ``(n, concordant, discordant, tau_b)``; tau NULL when all x or
    all y tie.

    Exactness: concordant/discordant masses are computed WITHOUT a
    quadratic pair join — collapse to the (x, y) distinct-cell grid,
    then two exclusive 2D prefix passes give, per cell, the count of
    points strictly below-left (LL) and the x-lower marginal (XL):
    P = sum n*LL, Q = sum n*(XL - LL - EXCL) — ALL exact integers on
    decimal(38,0), counting each unordered pair exactly once. With
    doubled tie terms n0_2 = N(N-1), n1_2 = sum t(t-1) over x ties,
    n2_2 over y ties, tau_b = 2(P-Q)/sqrt((n0_2-n1_2)(n0_2-n2_2)) is
    one fixed-shape double expression — replayed bit-for-bit in SQL.

    Scale design: the grid is the DENSE distinct_x x distinct_y cross
    product (zero-filled, the q_psi_drift calendar-fill pattern), so
    the contract is a bounded quantized grain — pass ``round_x`` /
    ``round_y`` to bound it (same contract as mann_whitney's
    round_values); at 1e3 distinct per axis the grid is 1e6 rows
    however large the input. Because BOTH axes are bounded by that
    contract (the dense cross product is only affordable at all when
    they are), the 2D prefix passes ride per-axis WINDOWS — a
    ``partitionBy(_y).orderBy(_x)`` group holds at most distinct_x
    cells regardless of input size, so the windows are bounded-grain
    by the same argument that bounds the grid itself. This replaces
    the r8 running_total formulation (global range exchange + physical
    -partition windows + O(P) offset broadcasts, x5 passes): the prefix
    VALUES are identical exact integer sums, but the plan drops from
    ~13 full/derived exchanges + 5 range-sampling passes to 2 grid
    window exchanges, one distinct_x-row global window and one
    broadcast join (guide §1.2/§2.4; the r11 profile showed q_kendall's
    cost was stage-count latency over tiny stages, not data). No d^2
    join, no collect. The collapsed cell table and the dense grid are
    lineage-truncated (``localCheckpoint``, or ``checkpoint_dir`` for
    the executor-loss-tolerant form): the downstream branches (prefix
    passes + marginal aggregates) scan the materialized O(grid) blocks
    instead of each re-deriving the collapse from the raw input.
    """
    from kafka_streams_plumber_spark.plans.scale import truncate_lineage

    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    if round_x is not None:
        x = F.round(x, int(round_x))
    if round_y is not None:
        y = F.round(y, int(round_y))
    base = df.where(x.isNotNull() & y.isNotNull()).select(
        x.alias("_x"), y.alias("_y")
    )
    cells = truncate_lineage(
        base.groupBy("_x", "_y").agg(F.count(F.lit(1)).alias("_n")),
        checkpoint_dir,
    )
    xs = cells.select("_x").distinct()
    ys = cells.select("_y").distinct()
    grid = truncate_lineage(
        xs.crossJoin(ys)
        .join(cells, ["_x", "_y"], "left")
        .select("_x", "_y", F.coalesce("_n", F.lit(0)).alias("_n")),
        checkpoint_dir,
    )

    # pass 1: exclusive x-prefix within each y — a bounded-grain window
    # (group size <= distinct_x by the quantized-grid contract)
    wy = (
        Window.partitionBy("_y")
        .orderBy("_x")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    g1 = grid.select(
        "_x",
        "_y",
        "_n",
        (F.sum("_n").over(wy) - F.col("_n")).alias("_excl"),
    )

    # pass 2: exclusive y-prefix of _excl within each x -> LL =
    # points strictly below-left
    wx = (
        Window.partitionBy("_x")
        .orderBy("_y")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    g2 = g1.select(
        "_x",
        "_y",
        "_n",
        "_excl",
        (F.sum("_excl").over(wx) - F.col("_excl")).alias("_ll"),
    )

    # XL(x) = total points with smaller x (exclusive x-marginal
    # prefix): distinct_x rows total, so the unpartitioned window is a
    # bounded single task, and the join back is an explicit broadcast.
    xn = grid.groupBy("_x").agg(F.sum("_n").alias("_xn"))
    wxg = Window.orderBy("_x").rowsBetween(Window.unboundedPreceding, 0)
    xl = xn.select(
        "_x", (F.sum("_xn").over(wxg) - F.col("_xn")).alias("_xl")
    )
    g = g2.join(F.broadcast(xl), "_x")

    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    n19 = F.col("_n").cast("decimal(19,0)")
    pq = g.agg(
        F.coalesce(
            F.sum("_n").cast("decimal(38,0)"),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("_N"),
        F.coalesce(
            F.sum(dec(n19 * F.col("_ll").cast("decimal(19,0)"))),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("_P"),
        F.coalesce(
            F.sum(
                dec(
                    n19
                    * (
                        F.col("_xl") - F.col("_ll") - F.col("_excl")
                    ).cast("decimal(19,0)")
                )
            ),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("_Q"),
    )
    t19x = F.col("_xn").cast("decimal(19,0)")
    tx = xn.agg(
        F.coalesce(
            F.sum(dec(t19x * (t19x - 1))), F.lit(0).cast("decimal(38,0)")
        ).alias("_n1")
    )
    yn = grid.groupBy("_y").agg(F.sum("_n").alias("_yn"))
    t19y = F.col("_yn").cast("decimal(19,0)")
    ty = yn.agg(
        F.coalesce(
            F.sum(dec(t19y * (t19y - 1))), F.lit(0).cast("decimal(38,0)")
        ).alias("_n2")
    )
    out = pq.crossJoin(F.broadcast(tx)).crossJoin(F.broadcast(ty))
    n0_2 = F.col("_N") * (F.col("_N") - 1)
    den = F.sqrt(
        (n0_2 - F.col("_n1")).cast("double")
        * (n0_2 - F.col("_n2")).cast("double")
    )
    tau = F.round(
        F.lit(2.0)
        * (F.col("_P") - F.col("_Q")).cast("double")
        / F.nullif(den, F.lit(0.0)),
        6,
    )
    return out.select(
        F.col("_N").cast("long").alias("n"),
        F.col("_P").cast("long").alias("concordant"),
        F.col("_Q").cast("long").alias("discordant"),
        tau.alias("tau_b"),
    )


def cohens_d(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    *,
    scale: int = 6,
) -> DataFrame:
    """Cohen's d and Hedges' g — the EFFECT SIZE companion to
    :func:`ab_test` / :func:`mann_whitney`: a z-statistic says a shift
    exists, d says whether anyone should care (0.2 small / 0.5 medium
    / 0.8 large), and g applies the small-sample bias correction
    reviewers expect below n~50. One row ``(n_a, n_b, mean_a, mean_b,
    d, g)``; d NULL when either group is empty, n_a+n_b < 3, or the
    pooled variance is 0.

    Pooled-SD d with the classic (n_a+n_b-2) denominator:
    d = (mean_a - mean_b) / s_pooled; g = d * (1 - 3/(4(n_a+n_b)-9)).

    Exactness: values freeze to scaled longs, so group sums and
    sums-of-squares are exact integers; clearing every division gives
    d = (S_a*n_b - S_b*n_a) / (n_a*n_b) * sqrt(n_a*n_b*(n_a+n_b-2) /
    (n_b*(n_a*Q_a - S_a^2) + n_a*(n_b*Q_b - S_b^2))) — ALL integer
    inputs on decimal(38,0), one fixed-shape double expression
    (scales cancel) — replayed bit-for-bit in SQL.

    Scale design: ONE map-combinable aggregate with conditional sums —
    no join, no window, no second pass.
    """
    mult = float(10 ** int(scale))
    v = F.col(value_col).cast("double")
    base = df.where(
        F.col(group_col).isin(group_a, group_b) & v.isNotNull()
    ).select(
        (F.col(group_col) == group_a).alias("_ga"),
        F.round(v * F.lit(mult)).cast("long").alias("_s"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    s19 = F.col("_s").cast("decimal(19,0)")
    csum = lambda cond, col: F.coalesce(  # noqa: E731
        F.sum(F.when(cond, col)), F.lit(0).cast("decimal(38,0)")
    )
    agg = base.agg(
        csum(F.col("_ga"), F.lit(1).cast("decimal(38,0)")).alias("_na"),
        csum(~F.col("_ga"), F.lit(1).cast("decimal(38,0)")).alias("_nb"),
        csum(F.col("_ga"), dec(s19)).alias("_sa"),
        csum(~F.col("_ga"), dec(s19)).alias("_sb"),
        csum(F.col("_ga"), dec(s19 * s19)).alias("_qa"),
        csum(~F.col("_ga"), dec(s19 * s19)).alias("_qb"),
    )
    na, nb = F.col("_na"), F.col("_nb")
    sa, sb = F.col("_sa"), F.col("_sb")
    ssw = nb * (na * F.col("_qa") - sa * sa) + na * (
        nb * F.col("_qb") - sb * sb
    )
    nsum = na + nb
    d_val = (
        (sa * nb - sb * na).cast("double")
        / (na * nb).cast("double")
        * F.sqrt(
            (na * nb * (nsum - 2)).cast("double")
            / F.nullif(ssw.cast("double"), F.lit(0.0))
        )
    )
    ok = (na > 0) & (nb > 0) & (nsum >= 3)
    g_corr = F.lit(1.0) - F.lit(3.0) / (
        F.lit(4.0) * nsum.cast("double") - F.lit(9.0)
    )
    mean = lambda sm, n: F.round(  # noqa: E731
        sm.cast("double") / F.nullif(n.cast("double"), F.lit(0.0))
        / F.lit(mult),
        6,
    )
    return agg.select(
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
        mean(sa, na).alias("mean_a"),
        mean(sb, nb).alias("mean_b"),
        F.when(ok, F.round(d_val, 6)).alias("d"),
        F.when(ok, F.round(d_val * g_corr, 6)).alias("g"),
    )


def cmh_test(
    df: DataFrame,
    stratum_col: str,
    exposed_col: str,
    outcome_col: str,
    *,
    corrected: bool = True,
) -> DataFrame:
    """Cochran-Mantel-Haenszel test + Mantel-Haenszel pooled odds
    ratio — the Simpson's-paradox-proof 2x2 association test: does
    exposure move the outcome AFTER conditioning on the stratum
    (country, source, experiment cohort)? Pooling the table first is
    the classic aggregation fallacy; CMH pools the EVIDENCE instead.
    One row ``(n_strata, n, or_mh, chi2)``: or_mh is the common odds
    ratio estimate, chi2 the 1-df CMH statistic (``corrected`` applies
    the standard 0.5 continuity correction). or_mh NULL when no
    discordant mass exists; chi2 NULL when the variance is 0 (every
    stratum degenerate).

    Exactness: cell counts per stratum are exact integers from ONE
    map-combinable conditional-count aggregate; the per-stratum
    fractional terms (a*d/n, b*c/n, E, V) freeze to 1e-9 scaled longs
    via fixed-shape IEEE expressions (the q_psi_drift device), so the
    stratum-grain sums are exact integer sums — replayed bit-for-bit
    in SQL.

    Scale design: one aggregate to the stratum grain, one 1-row final
    aggregate. No joins, no windows.
    """
    base = df.where(
        F.col(stratum_col).isNotNull()
        & F.col(exposed_col).isNotNull()
        & F.col(outcome_col).isNotNull()
    ).select(
        F.col(stratum_col).alias("_s"),
        F.col(exposed_col).cast("boolean").alias("_x"),
        F.col(outcome_col).cast("boolean").alias("_y"),
    )
    cnt = lambda c: F.coalesce(  # noqa: E731
        F.sum(c.cast("long")), F.lit(0)
    )
    per_s = base.groupBy("_s").agg(
        cnt(F.col("_x") & F.col("_y")).alias("_a"),
        cnt(F.col("_x") & ~F.col("_y")).alias("_b"),
        cnt(~F.col("_x") & F.col("_y")).alias("_c"),
        cnt(~F.col("_x") & ~F.col("_y")).alias("_d"),
    )
    a = F.col("_a").cast("double")
    b = F.col("_b").cast("double")
    c = F.col("_c").cast("double")
    d = F.col("_d").cast("double")
    n = (F.col("_a") + F.col("_b") + F.col("_c") + F.col("_d")).cast(
        "double"
    )
    sc = F.lit(1000000000.0)
    frz = lambda x: F.round(x * sc).cast("long")  # noqa: E731
    r_term = frz(a * d / n)
    s_term = frz(b * c / n)
    e_term = frz((a + b) * (a + c) / n)
    v_term = F.when(
        n > F.lit(1.0),
        frz(
            (a + b)
            * (c + d)
            * (a + c)
            * (b + d)
            / (n * n * (n - F.lit(1.0)))
        ),
    ).otherwise(F.lit(0))
    agg = per_s.agg(
        F.count(F.lit(1)).cast("long").alias("n_strata"),
        F.coalesce(F.sum("_a"), F.lit(0)).cast("long").alias("_sa"),
        F.coalesce(
            F.sum(F.col("_a") + F.col("_b") + F.col("_c") + F.col("_d")),
            F.lit(0),
        )
        .cast("long")
        .alias("n"),
        F.coalesce(F.sum(r_term), F.lit(0))
        .cast("decimal(38,0)")
        .alias("_r"),
        F.coalesce(F.sum(s_term), F.lit(0))
        .cast("decimal(38,0)")
        .alias("_ss"),
        F.coalesce(F.sum(e_term), F.lit(0))
        .cast("decimal(38,0)")
        .alias("_e"),
        F.coalesce(F.sum(v_term), F.lit(0))
        .cast("decimal(38,0)")
        .alias("_v"),
    )
    diff = F.abs(
        F.col("_sa").cast("double")
        - F.col("_e").cast("double") / sc
    )
    # continuity correction clamps at 0 (a |O-E| under 0.5 must not
    # INFLATE the statistic by squaring a negative)
    num = (
        F.greatest(diff - F.lit(0.5), F.lit(0.0)) if corrected else diff
    )
    return agg.select(
        "n_strata",
        "n",
        F.round(
            F.col("_r").cast("double")
            / F.nullif(F.col("_ss").cast("double"), F.lit(0.0)),
            6,
        ).alias("or_mh"),
        F.round(
            num
            * num
            / F.nullif(F.col("_v").cast("double") / sc, F.lit(0.0)),
            6,
        ).alias("chi2"),
    )


def jonckheere_terpstra(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_order: list,
    *,
    round_values: int | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Jonckheere-Terpstra ordered-alternative trend test — "does the
    value INCREASE along this ordering of the groups" (quality
    buckets, dose levels, release versions). Strictly more powerful
    than :func:`kruskal_wallis` when the alternative is monotone: KW
    spends power on every permutation of the groups, JT only on the
    stated order. One row ``(n, k_groups, j, z)``; z > 1.645 is the
    usual one-sided 95% bar for an increasing trend (negative z =
    decreasing). z NULL when the null variance is 0. Groups outside
    ``group_order`` are EXCLUDED.

    Exactness: J = sum over group pairs g < h of the Mann-Whitney
    count (ties at 1/2) is computed WITHOUT the O(k^2) pairwise
    sweep: on the dense (group-index, value) grid, the
    :func:`kendall_tau` 2D prefix machinery gives per cell the mass
    strictly below-left (LL) and the same-value lower-group mass
    (EXCL), and 2J = sum n*(2*LL + EXCL) — an exact integer. The
    tie-corrected null moments (Hollander-Wolfe): 4E = n^2 - sum
    n_g^2 and Var = A/72 + B/(36 n(n-1)(n-2)) + C/(8 n(n-1)) with A,
    B, C exact integer tie aggregates (the no-tie form is an
    algebraic special case, property-tested). z is one fixed-shape
    double expression — replayed bit-for-bit in SQL.

    Scale design: identical to :func:`kendall_tau` — dense quantized
    grid (k groups x distinct values; ``round_values`` bounds it),
    two fused range exchanges with per-group offsets, O(k)/O(values)
    marginal aggregates, no quadratic join, no collect; the collapsed
    cell table and the dense grid are lineage-truncated so the branch
    fan-out scans materialized blocks (kendall_tau's note).
    """
    from kafka_streams_plumber_spark.operators.ordering import (
        running_total,
    )
    from kafka_streams_plumber_spark.plans.scale import truncate_lineage

    v = F.col(value_col).cast("double")
    if round_values is not None:
        v = F.round(v, int(round_values))
    gi = None
    for i, g in enumerate(group_order):
        cond = F.col(group_col) == F.lit(g)
        gi = F.when(cond, F.lit(i)) if gi is None else gi.when(cond, F.lit(i))
    base = df.where(
        F.col(group_col).isin(list(group_order)) & v.isNotNull()
    ).select(gi.alias("_g"), v.alias("_v"))

    cells = truncate_lineage(
        base.groupBy("_g", "_v").agg(F.count(F.lit(1)).alias("_n")),
        checkpoint_dir,
    )
    gs = cells.select("_g").distinct()
    vs = cells.select("_v").distinct()
    grid = truncate_lineage(
        gs.crossJoin(vs)
        .join(cells, ["_g", "_v"], "left")
        .select("_g", "_v", F.coalesce("_n", F.lit(0)).alias("_n")),
        checkpoint_dir,
    )

    # EXCL(g, v) = mass in LOWER groups at the SAME value
    g1 = running_total(grid, ["_v", "_g"], "_n", out_col="_c1")
    vm = grid.groupBy("_v").agg(F.sum("_n").alias("_vt"))
    vo = running_total(vm, ["_v"], "_vt", out_col="_vc")
    g1 = g1.join(
        vo.select("_v", (F.col("_vc") - F.col("_vt")).alias("_voff")),
        "_v",
    ).select(
        "_g",
        "_v",
        "_n",
        (F.col("_c1") - F.col("_voff") - F.col("_n")).alias("_excl"),
    )
    # LL(g, v) = mass in lower groups at strictly smaller values
    g2 = running_total(g1, ["_g", "_v"], "_excl", out_col="_c2")
    gm2 = g1.groupBy("_g").agg(F.sum("_excl").alias("_gt"))
    go = running_total(gm2, ["_g"], "_gt", out_col="_gc")
    g2 = g2.join(
        go.select("_g", (F.col("_gc") - F.col("_gt")).alias("_goff")),
        "_g",
    ).select(
        "_n",
        "_excl",
        (F.col("_c2") - F.col("_goff") - F.col("_excl")).alias("_ll"),
    )

    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    n19 = F.col("_n").cast("decimal(19,0)")
    j2 = g2.agg(
        F.coalesce(
            F.sum(
                dec(
                    n19
                    * (
                        F.lit(2) * F.col("_ll") + F.col("_excl")
                    ).cast("decimal(19,0)")
                )
            ),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("_j2")
    )
    gmar = grid.groupBy("_g").agg(F.sum("_n").alias("_ng"))
    g19 = F.col("_ng").cast("decimal(19,0)")
    gstat = gmar.agg(
        F.count(F.lit(1)).alias("_k"),
        F.coalesce(
            F.sum(dec(g19)), F.lit(0).cast("decimal(38,0)")
        ).alias("_N"),
        F.coalesce(
            F.sum(dec(g19 * g19)), F.lit(0).cast("decimal(38,0)")
        ).alias("_n2"),
        F.coalesce(
            F.sum(dec(g19 * (g19 - 1) * (2 * g19 + 5))),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("_ga"),
        F.coalesce(
            F.sum(dec(g19 * (g19 - 1) * (g19 - 2))),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("_gb"),
        F.coalesce(
            F.sum(dec(g19 * (g19 - 1))),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("_gc2"),
    )
    t19 = F.col("_vt").cast("decimal(19,0)")
    vstat = vm.agg(
        F.coalesce(
            F.sum(dec(t19 * (t19 - 1) * (2 * t19 + 5))),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("_va"),
        F.coalesce(
            F.sum(dec(t19 * (t19 - 1) * (t19 - 2))),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("_vb"),
        F.coalesce(
            F.sum(dec(t19 * (t19 - 1))),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("_vc2"),
    )
    out = j2.crossJoin(F.broadcast(gstat)).crossJoin(F.broadcast(vstat))
    n = F.col("_N")
    a_term = n * (n - 1) * (2 * n + 5) - F.col("_ga") - F.col("_va")
    e4 = n * n - F.col("_n2")
    nd = n.cast("double")
    var = (
        a_term.cast("double") / F.lit(72.0)
        + F.when(
            n >= 3,
            (F.col("_gb") * F.col("_vb")).cast("double")
            / (
                F.lit(36.0)
                * nd
                * (nd - F.lit(1.0))
                * (nd - F.lit(2.0))
            ),
        ).otherwise(F.lit(0.0))
        + F.when(
            n >= 2,
            (F.col("_gc2") * F.col("_vc2")).cast("double")
            / (F.lit(8.0) * nd * (nd - F.lit(1.0))),
        ).otherwise(F.lit(0.0))
    )
    z = F.round(
        (F.lit(2) * F.col("_j2") - e4).cast("double")
        / F.lit(4.0)
        / F.nullif(F.sqrt(var), F.lit(0.0)),
        6,
    )
    return out.select(
        n.cast("long").alias("n"),
        F.col("_k").cast("long").alias("k_groups"),
        (F.col("_j2").cast("double") / F.lit(2.0)).alias("j"),
        z.alias("z"),
    )


def pacf(
    df: DataFrame,
    index_col: str,
    value_col: str,
    *,
    max_lag: int,
    group_cols: list[str] | None = None,
    value_scale: int = 10**6,
) -> DataFrame:
    """Partial autocorrelation function (PACF) at lags 1..``max_lag``
    — :func:`autocorrelation`'s model-order companion: the ACF says
    THAT a series is self-correlated, the PACF says how many AR terms
    explain it (an AR(p) series cuts off sharply after lag p, which
    the ACF's geometric tail hides). The standard pair of diagnostic
    plots before fitting anything autoregressive to a feed's volume
    or latency series. One row per lag (per group): ``(groups...,
    lag, pacf)``; NULL from the first lag whose ACF is NULL
    (constant series / empty lag) or whose Durbin-Levinson
    denominator hits 0.

    Computed by the Durbin-Levinson recursion UNROLLED over the lag
    index: each level materializes its phi coefficients as real
    columns (one ``select`` per level), so expression trees stay
    O(max_lag) instead of the exponential blowup naive nesting
    causes, and the whole recursion runs on the O(groups)-row pivoted
    ACF frame — the heavy series work is exactly one
    :func:`autocorrelation` call. Inputs are the 6-dp-rounded ACF
    values; every subsequent operation is a fixed-shape IEEE double
    expression, so SQL replays bit-for-bit.
    """
    assert max_lag >= 1
    groups = list(group_cols or [])
    acf_df = autocorrelation(
        df,
        index_col,
        value_col,
        max_lag=max_lag,
        group_cols=group_cols,
        value_scale=value_scale,
    )
    piv = acf_df.groupBy(*groups).agg(
        *[
            F.max(
                F.when(F.col("lag") == k, F.col("acf"))
            ).alias(f"_r{k}")
            for k in range(1, max_lag + 1)
        ]
    )

    # Durbin-Levinson, one materialized level per lag
    cur = piv.withColumn("_p1_1", F.col("_r1"))
    for k in range(2, max_lag + 1):
        num = F.col(f"_r{k}")
        den = F.lit(1.0)
        for j in range(1, k):
            num = num - F.col(f"_p{k - 1}_{j}") * F.col(f"_r{k - j}")
            den = den - F.col(f"_p{k - 1}_{j}") * F.col(f"_r{j}")
        cur = cur.withColumn(
            f"_p{k}_{k}", num / F.nullif(den, F.lit(0.0))
        )
        for j in range(1, k):
            cur = cur.withColumn(
                f"_p{k}_{j}",
                F.col(f"_p{k - 1}_{j}")
                - F.col(f"_p{k}_{k}") * F.col(f"_p{k - 1}_{k - j}"),
            )
    out = cur.select(
        *groups,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("int").alias("lag"),
                        F.round(F.col(f"_p{k}_{k}"), 6).alias("pacf"),
                    )
                    for k in range(1, max_lag + 1)
                ]
            )
        ).alias("_s"),
    )
    return out.select(*groups, "_s.lag", "_s.pacf")


def pacf_oracle_sql(
    acf_sql: str,
    *,
    max_lag: int,
    round_to: int = 6,
) -> str:
    """DuckDB oracle for :func:`pacf` (ungrouped): ``acf_sql`` must
    select rows (lag, acf) for lags 1..max_lag; the same pivoted
    Durbin-Levinson levels are emitted as chained CTEs, mirroring the
    operator's materialize-per-level structure."""
    parts = [
        f"WITH acf AS ({acf_sql}),",
        "piv AS (SELECT "
        + ", ".join(
            f"max(CASE WHEN lag = {k} THEN acf END) AS r{k}"
            for k in range(1, max_lag + 1)
        )
        + " FROM acf),",
        "lvl1 AS (SELECT *, r1 AS p1_1 FROM piv)",
    ]
    for k in range(2, max_lag + 1):
        num = f"r{k}"
        den = "1.0"
        for j in range(1, k):
            num += f" - p{k - 1}_{j} * r{k - j}"
            den += f" - p{k - 1}_{j} * r{j}"
        cols = [f"({num}) / nullif(({den}), 0.0) AS p{k}_{k}"]
        parts[-1] += ","
        parts.append(
            f"lvlk{k} AS (SELECT *, {cols[0]} FROM lvl{k - 1}),"
        )
        jcols = ", ".join(
            f"p{k - 1}_{j} - p{k}_{k} * p{k - 1}_{k - j} AS p{k}_{j}"
            for j in range(1, k)
        )
        parts.append(f"lvl{k} AS (SELECT *, {jcols} FROM lvlk{k})")
    sel = " UNION ALL ".join(
        f"SELECT CAST({k} AS INTEGER) AS lag,"
        f" round(p{k}_{k}, {round_to}) AS pacf FROM lvl{max_lag}"
        for k in range(1, max_lag + 1)
    )
    parts.append(sel)
    return "\n".join(parts)


def jarque_bera(
    df: DataFrame,
    value_col: str,
    group_col: str,
    *,
    scale: int = 4,
) -> DataFrame:
    """Jarque-Bera normality panel per group — sample skewness, excess
    kurtosis, and the JB statistic n/6*(S^2 + K^2/4), the
    moment-based normality screen (chi-square with 2 df under the
    null; JB >= 5.99 rejects at 95%). The first look at a per-feed
    metric before reaching for a parametric test: heavy right skew
    says "log it or go rank-based", kurtosis says "the tails are not
    Gaussian, don't trust 3-sigma alerts". One row per group
    ``(group, n, skewness, kurt_excess, jb)``; NULLs when n < 2,
    zero variance, or the group's scaled spread exceeds the exact-
    arithmetic guard below.

    Exactness: values freeze to scaled longs (10^-``scale``), then a
    TWO-PASS integer-pivot device keeps every power sum exact: pass 1
    computes per-group (n, S1) and an integer pivot p =
    floor(S1/n) clamped into [min_s, max_s] (any deterministic
    integer near the mean works — the pivot only bounds magnitudes,
    the algebra below is pivot-exact; the clamp keeps |d| <= spread
    even when the double division's ~|mean|*2^-52 rounding would
    push the raw floor outside the group range near +/-4e15);
    pass 2 sums d, d^2, d^3, d^4 of d = s - p as exact integers on
    decimal(38,0) (|d| ~ the data SPREAD, not the raw magnitude, so
    d^4 sums fit 38 digits where raw fourth moments would not;
    concretely spread*10^scale <= ~1e8 keeps sum d^4 under 1e38 for
    groups up to ~1e6 rows, and the default scale=4 holds that for
    spreads up to ~10k units — drop ``scale`` for wider-ranged
    columns). Every SUM (pivot S1, d, d^2, d^3, d^4) accumulates on
    decimal, so no aggregate can wrap however large the group. The
    one long-arithmetic cliff left is the per-row d^2, kept
    deliberately off BigDecimal for speed: it is exact only while
    spread*10^scale <= floor(sqrt(2^63-1)) = 3037000499, and past
    that it would WRAP silently (non-ANSI) — so the kernel carries a
    per-group spread guard that NULLs the statistics instead of
    emitting wrapped garbage (ADVICE r8). The guard's own max-min
    subtraction is long too; a past-2^63 true spread wraps NEGATIVE
    (bounded to one wrap by |_s| <= 2^63-1), so the guard requires
    0 <= spread <= 3037000499.
    Central moments about the true mean then come from the standard
    pivot-shift identities
      n*m2 = D2 - D1^2/n
      n*m3 = D3 - 3*D1*D2/n + 2*D1^3/n^2
      n*m4 = D4 - 4*D1*D3/n + 6*D1^2*D2/n^2 - 3*D1^4/n^3
    evaluated as ONE fixed-shape double expression each — the same
    IEEE bits in any engine, replayed verbatim in SQL.

    Scale design: two map-combinable aggregates over the raw data and
    one k-row broadcast join of the pivot table — no window, no
    shuffle beyond the two group exchanges, no Python.
    """
    mult = float(10 ** int(scale))
    v = F.col(value_col).cast("double")
    base = df.where(
        F.col(group_col).isNotNull() & v.isNotNull()
    ).select(
        F.col(group_col).alias("_g"),
        F.round(v * F.lit(mult)).cast("long").alias("_s"),
    )
    piv = base.groupBy("_g").agg(
        F.count(F.lit(1)).alias("_n"),
        # decimal accumulation: a LONG sum of _s wraps silently once
        # n * |_s| crosses 2^63 (inside the 100 TB envelope), which
        # would corrupt the pivot while the spread guard below stays
        # green. The d^3/d^4 sums already ride decimals; the pivot
        # and d/d^2 sums must too.
        F.sum(F.col("_s").cast("decimal(28,0)")).alias("_s1"),
        # spread guard: |d| <= max(_s) - min(_s), so the long d*d
        # below is exact iff the scaled spread stays <=
        # floor(sqrt(2^63 - 1)) = 3037000499. Beyond that the raw
        # long square would WRAP silently (non-ANSI); the guard nulls
        # the group's statistics instead — O(groups) cost, fail-loud.
        # The subtraction itself is a long op: a true spread past 2^63
        # wraps NEGATIVE (|_s| <= 2^63-1 bounds it to one wrap), so
        # the guard also requires _sp >= 0.
        F.min("_s").alias("_mn"),
        F.max("_s").alias("_mx"),
    ).select(
        "_g",
        "_n",
        (F.col("_mx") - F.col("_mn")).alias("_sp"),
        # The floor(double(S1)/n) pivot carries ~|mean| * 2^-52 double
        # rounding, so for groups whose scaled values sit near +/-4e15
        # it can land OUTSIDE [min_s, max_s] by thousands — which would
        # let |d| exceed _sp and the per-row long d*d wrap even though
        # the spread guard passes. Clamping the pivot into the group
        # range restores the |d| <= _sp invariant the guard relies on;
        # any deterministic integer near the mean is a valid pivot
        # (the moment algebra below is pivot-exact), so the clamp
        # never changes a value in the unclamped regime.
        F.greatest(
            F.col("_mn"),
            F.least(
                F.col("_mx"),
                F.floor(
                    F.col("_s1").cast("double") / F.col("_n").cast("double")
                ).cast("long"),
            ),
        ).alias("_p"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    d = F.col("_s") - F.col("_p")
    d2 = (d * d).alias("_dd")  # exact long iff _sp <= 3037000499 (guarded)
    dev = base.join(F.broadcast(piv), "_g").select(
        "_g", "_n", "_sp", d.alias("_d"), d2
    )
    mom = dev.groupBy("_g", "_n", "_sp").agg(
        F.sum(F.col("_d").cast("decimal(28,0)"))
        .cast("decimal(38,0)")
        .alias("_d1"),
        F.coalesce(
            F.sum(F.col("_dd").cast("decimal(28,0)")).cast("decimal(38,0)"),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("_d2"),
        F.coalesce(
            F.sum(
                dec(F.col("_dd").cast("decimal(19,0)"))
                * F.col("_d").cast("decimal(19,0)")
            ),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("_d3"),
        F.coalesce(
            F.sum(
                dec(F.col("_dd").cast("decimal(19,0)"))
                * F.col("_dd").cast("decimal(19,0)")
            ),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("_d4"),
    )
    nd = F.col("_n").cast("double")
    d1 = F.col("_d1").cast("double")
    d2_ = F.col("_d2").cast("double")
    d3_ = F.col("_d3").cast("double")
    d4_ = F.col("_d4").cast("double")
    m2n = d2_ - d1 * d1 / nd
    m3n = d3_ - F.lit(3.0) * d1 * d2_ / nd + F.lit(2.0) * d1 * d1 * d1 / (nd * nd)
    m4n = (
        d4_
        - F.lit(4.0) * d1 * d3_ / nd
        + F.lit(6.0) * d1 * d1 * d2_ / (nd * nd)
        - F.lit(3.0) * d1 * d1 * d1 * d1 / (nd * nd * nd)
    )
    ok = (
        (F.col("_n") >= 2)
        & (m2n > F.lit(0.0))
        & (F.col("_sp") >= F.lit(0))
        & (F.col("_sp") <= F.lit(3037000499))
    )
    skew = F.sqrt(nd) * m3n / F.nullif(
        F.sqrt(m2n * m2n * m2n), F.lit(0.0)
    )
    kurt = nd * m4n / F.nullif(m2n * m2n, F.lit(0.0)) - F.lit(3.0)
    jb = nd / F.lit(6.0) * (
        skew * skew + kurt * kurt / F.lit(4.0)
    )
    return mom.select(
        F.col("_g").alias(group_col),
        F.col("_n").cast("long").alias("n"),
        F.when(ok, F.round(skew, 6)).alias("skewness"),
        F.when(ok, F.round(kurt, 6)).alias("kurt_excess"),
        F.when(ok, F.round(jb, 6)).alias("jb"),
    )


def cramer_von_mises(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
    *,
    round_values: int | None = None,
) -> DataFrame:
    """Two-sample Cramer-von Mises test — the WHOLE-BODY companion to
    :func:`ks_test` (max gap) and :func:`ad_test` (tail-weighted):
    CvM integrates the SQUARED ECDF gap uniformly, T = nm/N^2 *
    sum_over_pooled_points (F_n(x) - G_m(x))^2, so many small
    distribution shifts that never produce one large KS gap still
    accumulate. One row ``(n_a, n_b, t)``; on tie-free data T is
    exactly scipy's ``cramervonmises_2samp`` statistic, with ties the
    step-ECDF evaluation at each distinct pooled value (weighted by
    its multiplicity) is the natural extension. T is NULL when either
    sample is empty.

    Exactness: collapse to the distinct-value grain with per-value
    counts (a_v, b_v, t_v = a_v + b_v); one FUSED prefix pass
    (ordering.running_total with a value list — one range exchange)
    gives cumulative cumA_v, cumB_v; then m*cumA - n*cumB is an exact
    integer per grain row and W = sum t_v * (m*cumA_v - n*cumB_v)^2
    is exact on decimal(38,0), with T = W / (n*m*N^2) one final
    double division. SQL replays bit-for-bit. Magnitude bound: W
    ~ n*m*N^2 <= N^4/16, so decimal(38,0) holds exactly to N ~ 3e9
    rows across the two samples — beyond that, pre-aggregate or
    sample (a CvM verdict does not sharpen past a few million
    points anyway).

    Scale design: one map-combinable collapse, one fused range
    exchange, one 1-row total broadcast — the ks_test plan shape.
    ``round_values`` quantizes first to bound the grain.
    """
    from kafka_streams_plumber_spark.operators.ordering import (
        running_total,
    )

    v = F.col(value_col).cast("double")
    if round_values is not None:
        v = F.round(v, int(round_values))
    g = F.col(group_col)
    base = df.where(
        g.isNotNull() & v.isNotNull() & g.isin([group_a, group_b])
    ).select(v.alias("_v"), (g == F.lit(group_a)).alias("_isa"))
    per = base.groupBy("_v").agg(
        F.sum(F.when(F.col("_isa"), 1).otherwise(0)).alias("_a"),
        F.sum(F.when(F.col("_isa"), 0).otherwise(1)).alias("_b"),
    )
    r = running_total(
        per, ["_v"], ["_a", "_b"], out_col=["_ca", "_cb"]
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    tot = per.agg(
        F.coalesce(F.sum("_a"), F.lit(0)).cast("long").alias("_na"),
        F.coalesce(F.sum("_b"), F.lit(0)).cast("long").alias("_nb"),
    )
    j = r.crossJoin(F.broadcast(tot))
    gap = (
        F.col("_nb").cast("decimal(19,0)") * F.col("_ca").cast("decimal(19,0)")
        - F.col("_na").cast("decimal(19,0)") * F.col("_cb").cast("decimal(19,0)")
    ).cast("decimal(19,0)")
    w = j.agg(
        F.coalesce(
            F.sum(dec((F.col("_a") + F.col("_b")).cast("decimal(19,0)") * gap) * gap),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("_w"),
        F.min("_na").alias("_na"),
        F.min("_nb").alias("_nb"),
    )
    na = F.col("_na").cast("double")
    nb = F.col("_nb").cast("double")
    nn = na + nb
    t = F.when(
        (F.col("_na") > 0) & (F.col("_nb") > 0),
        F.round(
            F.col("_w").cast("double") / (na * nb * nn * nn), 6
        ),
    )
    return w.select(
        F.col("_na").alias("n_a"),
        F.col("_nb").alias("n_b"),
        t.alias("t"),
    )


def mood_median(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """Mood's median test — do the k slices share a common median?
    The coarsest, most outlier-proof k-sample location test: count
    each group's observations above vs below the GRAND median and
    chi-square the resulting 2 x k table. Weaker than
    :func:`kruskal_wallis` when distributions share a shape, but
    immune to tail weirdness entirely — the right screen when feeds
    mix wildly different distributions and only the central tendency
    is comparable. One row ``(n_used, k_groups, df, grand_median,
    chi2)``; values EQUAL to the grand median are dropped (scipy
    ``median_test(ties='ignore')``), ``n_used`` counts what remains.
    ``k_groups``/``df`` count the PRE-filter group set: a group whose
    every value ties the grand median does not silently shrink the
    table (scipy raises there; we keep the honest df and NULL chi2
    instead — the safe distributed analogue). chi2 is NULL when
    k < 2, either margin is empty, or any group lost all its rows to
    the tie filter.

    Exactness: the grand median is the exact interpolated percentile
    (:func:`exact_percentiles` — bit-identical to DuckDB
    ``quantile_cont``); above/below counts are exact integers; each
    group's (O-E)^2/E contribution is frozen to a 1e-6 scaled integer
    via one fixed-shape round() (the :func:`kruskal_wallis` device) so
    the k-row sum is an exact integer sum, divided back once. SQL
    replays bit-for-bit.

    Scale design: one percentile pass (range exchange), one broadcast
    of the 1-row median, one map-combinable group aggregate, the
    margins from a whole-frame window over its k rows, one final
    aggregate. No window over the rows, no Python.
    """
    v = F.col(value_col).cast("double")
    base = df.where(
        F.col(group_col).isNotNull() & v.isNotNull()
    ).select(F.col(group_col).alias("_g"), v.alias("_v"), F.lit(1).alias("_one"))
    med = exact_percentiles(base, "_one", "_v", {"_med": 0.5}).select("_med")
    # Ties drop at the COUNT level (strict < / >), not the row level:
    # a group whose every value equals the grand median must still be
    # counted in k_groups/df (scipy.median_test raises here rather
    # than silently re-sizing the table; we keep the honest df and
    # NULL the chi2 instead — ADVICE r8).
    per_g = (
        base.crossJoin(F.broadcast(med))
        .groupBy("_g")
        .agg(
            F.sum(F.when(F.col("_v") > F.col("_med"), 1).otherwise(0))
            .alias("_ab"),
            F.sum(F.when(F.col("_v") < F.col("_med"), 1).otherwise(0))
            .alias("_be"),
            F.min("_med").alias("_gm"),
        )
    )
    wall = Window.partitionBy()  # k rows: a single-task total is fine
    j = per_g.select(
        "*",
        F.sum("_ab").over(wall).cast("long").alias("_ta"),
        F.sum("_be").over(wall).cast("long").alias("_tb"),
        F.count(F.lit(1)).over(wall).alias("_k"),
    )
    nn = (F.col("_ta") + F.col("_tb")).cast("double")
    ng = (F.col("_ab") + F.col("_be")).cast("double")
    ea = ng * F.col("_ta").cast("double") / nn
    eb = ng * F.col("_tb").cast("double") / nn
    oa = F.col("_ab").cast("double")
    ob = F.col("_be").cast("double")
    term = F.round(
        (
            (oa - ea) * (oa - ea) / F.nullif(ea, F.lit(0.0))
            + (ob - eb) * (ob - eb) / F.nullif(eb, F.lit(0.0))
        )
        * F.lit(1000000.0)
    ).cast("decimal(38,0)")
    agg = j.groupBy().agg(
        F.min(F.col("_ta") + F.col("_tb")).alias("_n"),
        F.min("_k").alias("_kk"),
        F.min("_gm").alias("_med"),
        F.sum(term).alias("_chi"),
        F.sum(F.when(F.col("_ab") + F.col("_be") == 0, 1).otherwise(0))
        .alias("_dropped"),
    )
    ok = (
        (F.col("_kk") >= 2)
        & (F.col("_chi").isNotNull())
        & (F.col("_dropped") == 0)
    )
    return agg.select(
        F.col("_n").cast("long").alias("n_used"),
        F.col("_kk").cast("long").alias("k_groups"),
        (F.col("_kk") - 1).cast("long").alias("df"),
        F.round(F.col("_med"), 6).alias("grand_median"),
        F.when(
            ok,
            F.round(F.col("_chi").cast("double") / F.lit(1000000.0), 6),
        ).alias("chi2"),
    )


def friedman(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: str,
    *,
    n_treatments: int,
) -> DataFrame:
    """Friedman test — the within-block k-treatment rank test: across
    n independent blocks (users, days, annotator panels), do the k
    treatments rank consistently differently? The repeated-measures
    sibling of :func:`kruskal_wallis` (which assumes independent
    samples) and the numeric-value sibling of the binary Cochran's Q —
    e.g. "across users, do the five event types consistently order by
    spend?". One row ``(n_blocks, k, df, q)``: the tie-corrected
    statistic, chi-square with k-1 df under the null. Only COMPLETE
    blocks (all ``n_treatments`` present after collapsing duplicate
    (block, treatment) cells by MIN value) enter; q is NULL when no
    complete blocks or every block is all-ties.

    Exactness: within-block midranks via the doubled-midrank device
    (d = 2*cum - t + 1, an exact integer from within-block cumulative
    counts); with doubled rank sums D_j per treatment the
    tie-corrected statistic collapses to the all-integer identity
      Q = (k-1) * sum_j (D_j - n*(k+1))^2 / (sum t*d^2 - n*k*(k+1)^2)
    (multiply the classical Q through by 4: numerator deviations and
    the tie term are exact integers on decimal(38,0)), one final
    double division. SQL replays bit-for-bit.

    Scale design: one map-combinable collapse to (block, treatment)
    cells, then ONE per-block window ordered by value gives the
    within-block cumulative count (RANGE frame up to v), the tie count
    (RANGE frame v' = v) and the block's cell count, which keeps only
    complete blocks. A per-block window is scale-safe here because a
    block holds at most one cell per distinct treatment (exactly k
    after the filter), however many blocks there are. Then one
    map-combinable aggregate per treatment, the totals from a
    whole-frame window over its k rows, and one final aggregate.
    """
    k = int(n_treatments)
    cells = (
        df.where(
            F.col(block_col).isNotNull()
            & F.col(treatment_col).isNotNull()
            & F.col(value_col).isNotNull()
        )
        .groupBy(
            F.col(block_col).alias("_b"),
            F.col(treatment_col).alias("_t"),
        )
        .agg(F.min(F.col(value_col)).alias("_v"))
    )
    wb = Window.partitionBy("_b").orderBy("_v")
    one = F.lit(1)
    cum = F.count(one).over(wb.rangeBetween(Window.unboundedPreceding, 0))
    tv = F.count(one).over(wb.rangeBetween(0, 0))
    nb = F.count(one).over(
        wb.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    ranked = (
        cells.select(
            "_t",
            (F.lit(2) * cum - tv + one).cast("decimal(19,0)").alias("_d"),
            nb.alias("_nb"),
        )
        .where(F.col("_nb") == k)
    )
    # summed over a block's cells, d^2 is that block's sum t*d^2
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    per_t = ranked.groupBy("_t").agg(
        F.sum("_d").cast("decimal(38,0)").alias("_dj"),
        F.count(one).alias("_nj"),
        F.sum(dec(F.col("_d")) * F.col("_d")).cast("decimal(38,0)").alias("_a2"),
    )
    wall = Window.partitionBy()  # k rows: a single-task total is fine
    j = per_t.select(
        "_dj",
        # every complete block contributes exactly k cells
        (F.sum("_nj").over(wall) / F.lit(k)).cast("long").alias("_n"),
        F.sum("_a2").over(wall).alias("_a2"),
    )
    devterm = (
        F.col("_dj") - F.col("_n").cast("decimal(38,0)") * F.lit(k + 1)
    )
    out = j.agg(
        F.coalesce(
            F.sum(dec(devterm.cast("decimal(19,0)")) * devterm.cast("decimal(19,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("_num"),
        F.min("_n").alias("_n"),
        F.min("_a2").alias("_a2"),
    )
    den = (
        F.col("_a2")
        - F.col("_n").cast("decimal(38,0)") * F.lit(k) * F.lit((k + 1) * (k + 1))
    )
    q = F.when(
        (F.col("_n") > 0),
        F.round(
            F.lit(float(k - 1))
            * F.col("_num").cast("double")
            / F.nullif(den.cast("double"), F.lit(0.0)),
            6,
        ),
    )
    return out.select(
        F.col("_n").cast("long").alias("n_blocks"),
        F.lit(k).cast("long").alias("k"),
        F.lit(k - 1).cast("long").alias("df"),
        q.alias("q"),
    )


def welch_t(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
    *,
    scale: int = 6,
) -> DataFrame:
    """Welch's two-sample t-test — the unequal-variance mean
    comparison that should be the DEFAULT two-sample t (pooling
    variances is only safe when spreads match, which
    :func:`brown_forsythe` exists to check). The parametric
    counterpart of :func:`mann_whitney`: use Welch when the metric is
    roughly symmetric and you want the mean difference itself with
    its standard error, not just a shift verdict. One row ``(n_a,
    n_b, mean_a, mean_b, mean_diff, t, df)`` with the
    Welch-Satterthwaite fractional df; t/df NULL when either n < 2 or
    both variances are zero. Fail-loud overflow contract (ADVICE r10/
    r11): if a group's scaled sum or square-sum overflows
    decimal(38,0), the SUM returns NULL and every derived column for
    that comparison (mean_a/mean_b/mean_diff/t/df) comes out NULL
    rather than silently reading the overflowed term as 0.

    Exactness: values freeze to scaled longs, so each group's (n, S,
    Q) are exact integers on decimal(38,0) in ONE map-combinable
    aggregate; means, variances (n*Q - S^2)/(n*(n-1)), and the
    t / df expressions are fixed-shape doubles from those integers —
    replayed bit-for-bit in SQL.

    Scale design: one aggregate to two rows, one 2-row fold. Nothing
    else.
    """
    mult = float(10 ** int(scale))
    v = F.col(value_col).cast("double")
    g = F.col(group_col)
    base = df.where(
        g.isNotNull() & v.isNotNull() & g.isin([group_a, group_b])
    ).select(
        (g == F.lit(group_a)).alias("_isa"),
        F.round(v * F.lit(mult)).cast("long").alias("_s"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    per = base.groupBy("_isa").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("_n"),
        # decimal accumulation: a LONG sum of _s wraps silently once
        # n * |_s| crosses 2^63 (inside the 100 TB envelope) — same
        # wrap-before-cast class fixed in autocorrelation/
        # cross_correlation/bartlett/partial_corr; values identical
        # in the non-wrap regime. NO coalesce around these sums: a
        # decimal(38,0) SUM overflow returns NULL (ansi off) and a
        # coalesce would silently read it as 0 — letting the NULL
        # propagate turns overflow into NULL outputs (fail-loud,
        # ADVICE r10). A group with rows always has non-NULL sums
        # otherwise, and an ABSENT group already yields NULL via the
        # min-fold below, so non-overflow values are unchanged.
        F.sum(F.col("_s").cast("decimal(28,0)"))
        .cast("decimal(38,0)")
        .alias("_sg"),
        F.sum(
            dec(F.col("_s").cast("decimal(19,0)"))
            * F.col("_s").cast("decimal(19,0)")
        ).alias("_qg"),
    )
    fold = per.agg(
        F.coalesce(
            F.min(F.when(F.col("_isa"), F.col("_n"))), F.lit(0).cast("decimal(38,0)")
        ).alias("_na"),
        F.min(F.when(F.col("_isa"), F.col("_sg"))).alias("_sa"),
        F.min(F.when(F.col("_isa"), F.col("_qg"))).alias("_qa"),
        F.coalesce(
            F.min(F.when(~F.col("_isa"), F.col("_n"))), F.lit(0).cast("decimal(38,0)")
        ).alias("_nb"),
        F.min(F.when(~F.col("_isa"), F.col("_sg"))).alias("_sb"),
        F.min(F.when(~F.col("_isa"), F.col("_qg"))).alias("_qb"),
    )
    na = F.col("_na").cast("double")
    nb = F.col("_nb").cast("double")
    ma = F.col("_sa").cast("double") / na / F.lit(mult)
    mb = F.col("_sb").cast("double") / nb / F.lit(mult)
    va = (
        (na * F.col("_qa").cast("double") - F.col("_sa").cast("double") * F.col("_sa").cast("double"))
        / (na * (na - F.lit(1.0)))
        / F.lit(mult * mult)
    )
    vb = (
        (nb * F.col("_qb").cast("double") - F.col("_sb").cast("double") * F.col("_sb").cast("double"))
        / (nb * (nb - F.lit(1.0)))
        / F.lit(mult * mult)
    )
    se2 = va / na + vb / nb
    ok = (F.col("_na") >= 2) & (F.col("_nb") >= 2)
    t = (ma - mb) / F.sqrt(F.nullif(se2, F.lit(0.0)))
    dfw = se2 * se2 / F.nullif(
        va * va / (na * na * (na - F.lit(1.0)))
        + vb * vb / (nb * nb * (nb - F.lit(1.0))),
        F.lit(0.0),
    )
    return fold.select(
        F.col("_na").cast("long").alias("n_a"),
        F.col("_nb").cast("long").alias("n_b"),
        F.round(ma, 6).alias("mean_a"),
        F.round(mb, 6).alias("mean_b"),
        F.round(ma - mb, 6).alias("mean_diff"),
        F.when(ok, F.round(t, 6)).alias("t"),
        F.when(ok, F.round(dfw, 6)).alias("df"),
    )


def cross_correlation(
    df: DataFrame,
    index_col: str,
    x_col: str,
    y_col: str,
    *,
    max_lag: int,
    value_scale: int = 10**6,
) -> DataFrame:
    """Cross-correlation function (CCF) of two bucketed series at lags
    -max_lag..+max_lag — the lead-lag diagnostic: a peak at POSITIVE
    lag k means x LEADS y by k buckets (x_t co-moves with y_{t+k}),
    the standard question between a driver metric and a lagging one
    (clicks now, purchases two hours later; ingest volume now, dedup
    rate next day). Lag 0 is plain Pearson correlation of the aligned
    series; the function generalizes :func:`autocorrelation` (x = y)
    to two series with the SAME full-series normalization
    r_k = sum_t (x_t - mx)(y_{t+k} - my) / sqrt(Sxx * Syy). One row
    per lag ``(lag, n_pairs, ccf)``; missing buckets drop their pairs
    (n_pairs reports coverage); ccf NULL when either series is
    constant or the lag is empty.

    Exactness: scaled longs (``value_scale`` is a RAW multiplier —
    quantization unit 1/value_scale, the :func:`autocorrelation`
    convention — deliberately named apart from the 10^k EXPONENT
    ``scale`` of :func:`jarque_bera`/:func:`welch_t`/:func:`bartlett`
    so the two cannot be confused at a call site); multiplying
    through by n^2 clears both
    rational means — num_k = n^2*P_k - n*Ty*H_k - n*Tx*G_k +
    k_pairs*Tx*Ty with P/H/G the per-lag cross-moment and endpoint
    sums, and den = n * sqrt((n*Qx - Tx^2) * (n*Qy - Ty^2)) — ALL
    exact integers on decimal(38,0) except the final fixed-shape
    division. SQL replays bit-for-bit.

    Scale design: the series is already on the bucketed grain; one
    explode to (lag, t) keys, one EQUI-join back on the shifted
    index, one per-lag map-combinable aggregate, the 1-row moment
    frame broadcast in. No windows, no Python.
    """
    assert max_lag >= 1
    sx = F.round(F.col(x_col).cast("double") * value_scale, 0).cast("long")
    sy = F.round(F.col(y_col).cast("double") * value_scale, 0).cast("long")
    base = df.where(
        F.col(index_col).isNotNull()
        & F.col(x_col).isNotNull()
        & F.col(y_col).isNotNull()
    ).select(
        F.col(index_col).cast("long").alias("_i"),
        sx.alias("_x"),
        sy.alias("_y"),
    )
    dec19 = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    tot = base.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("_n"),
        F.sum(F.col("_x").cast("decimal(28,0)")).cast("decimal(38,0)").alias("_tx"),
        F.sum(F.col("_y").cast("decimal(28,0)")).cast("decimal(38,0)").alias("_ty"),
        F.sum(dec19(F.col("_x")) * dec19(F.col("_x"))).alias("_qx"),
        F.sum(dec19(F.col("_y")) * dec19(F.col("_y"))).alias("_qy"),
    )
    lagged = base.select(
        "_i",
        F.col("_x").alias("_xa"),
        F.explode(
            F.sequence(F.lit(-max_lag), F.lit(max_lag))
        ).alias("lag"),
    ).withColumn("_j", F.col("_i") + F.col("lag"))
    pairs = lagged.join(
        base.select(F.col("_i").alias("_j"), F.col("_y").alias("_yb")),
        ["_j"],
    )
    per_lag = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("_k"),
        F.sum(dec19(F.col("_xa")) * dec19(F.col("_yb"))).alias("_p"),
        F.sum(F.col("_xa").cast("decimal(28,0)")).cast("decimal(38,0)").alias("_h"),
        F.sum(F.col("_yb").cast("decimal(28,0)")).cast("decimal(38,0)").alias("_g"),
    )
    spine = df.sparkSession.range(-max_lag, max_lag + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    out = spine.join(per_lag, ["lag"], "left").crossJoin(F.broadcast(tot))
    num = (
        F.col("_n") * F.col("_n") * F.col("_p")
        - F.col("_n") * F.col("_ty") * F.col("_h")
        - F.col("_n") * F.col("_tx") * F.col("_g")
        + F.col("_k") * F.col("_tx") * F.col("_ty")
    )
    sxx = F.col("_n") * F.col("_qx") - F.col("_tx") * F.col("_tx")
    syy = F.col("_n") * F.col("_qy") - F.col("_ty") * F.col("_ty")
    den = F.col("_n").cast("double") * F.sqrt(
        sxx.cast("double") * syy.cast("double")
    )
    return out.select(
        "lag",
        F.coalesce(F.col("_k"), F.lit(0)).cast("long").alias("n_pairs"),
        F.round(
            num.cast("double") / F.nullif(den, F.lit(0.0)), 6
        ).alias("ccf"),
    ).orderBy("lag")


def two_proportion_z(
    df: DataFrame,
    success_col,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Two-proportion z-test (pooled) — did the success RATE move
    between two slices? The workhorse comparison for conversion /
    pass-rate / defect-rate questions where :func:`welch_t` is
    overkill: counts in, one z out, |z| >= 1.96 rejects equal rates
    at 95%. One row ``(n_a, n_b, pos_a, pos_b, p_a, p_b, diff, z)``;
    z NULL when either group is empty or the pooled rate is 0 or 1
    (zero variance).

    Exactness: all counts are exact integers from ONE map-combinable
    aggregate; the rates, pooled rate, and z are fixed-shape doubles
    — replayed bit-for-bit in SQL.

    Scale design: one aggregate to two rows, one fold. Nothing else.
    """
    s = (
        success_col
        if isinstance(success_col, Column)
        else F.col(success_col)
    )
    g = F.col(group_col)
    base = df.where(
        g.isNotNull() & s.isNotNull() & g.isin([group_a, group_b])
    ).select(
        (g == F.lit(group_a)).alias("_isa"),
        s.cast("boolean").alias("_s"),
    )
    per = base.groupBy("_isa").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.when(F.col("_s"), 1).otherwise(0)).alias("_pos"),
    )
    fold = per.agg(
        F.coalesce(F.min(F.when(F.col("_isa"), F.col("_n"))), F.lit(0))
        .alias("_na"),
        F.coalesce(F.min(F.when(F.col("_isa"), F.col("_pos"))), F.lit(0))
        .alias("_pa"),
        F.coalesce(F.min(F.when(~F.col("_isa"), F.col("_n"))), F.lit(0))
        .alias("_nb"),
        F.coalesce(F.min(F.when(~F.col("_isa"), F.col("_pos"))), F.lit(0))
        .alias("_pb"),
    )
    na = F.col("_na").cast("double")
    nb = F.col("_nb").cast("double")
    pa = F.col("_pa").cast("double") / na
    pb = F.col("_pb").cast("double") / nb
    pool = (F.col("_pa") + F.col("_pb")).cast("double") / (na + nb)
    se = F.sqrt(
        pool * (F.lit(1.0) - pool) * (F.lit(1.0) / na + F.lit(1.0) / nb)
    )
    ok = (F.col("_na") > 0) & (F.col("_nb") > 0)
    return fold.select(
        F.col("_na").cast("long").alias("n_a"),
        F.col("_nb").cast("long").alias("n_b"),
        F.col("_pa").cast("long").alias("pos_a"),
        F.col("_pb").cast("long").alias("pos_b"),
        F.when(ok, F.round(pa, 6)).alias("p_a"),
        F.when(ok, F.round(pb, 6)).alias("p_b"),
        F.when(ok, F.round(pa - pb, 6)).alias("diff"),
        F.when(
            ok, F.round((pa - pb) / F.nullif(se, F.lit(0.0)), 6)
        ).alias("z"),
    )


def chi2_gof(
    df: DataFrame,
    group_col: str,
    target: dict,
) -> DataFrame:
    """Chi-square goodness-of-fit against a DECLARED target mix — is
    the observed category composition (language mix, source mix,
    label mix) the one the data card promised? The audit that catches
    "the crawl was supposed to be 50% English" drifting to 70%
    without anyone deciding that. ``target`` maps category ->
    weight (weights are normalized; they need not sum to 1). Only
    categories present in ``target`` are counted (off-target
    categories are a different check — pair with a blocklist query);
    a target category absent from the data still contributes its full
    expected mass, exactly as the test requires. One row
    ``(n, k, df, chi2)``; chi2 NULL when n = 0.

    Exactness: observed counts are exact integers; the per-category
    (O-E)^2/E terms are frozen to 1e-6 scaled integers via the
    :func:`kruskal_wallis` device (integer k-row sum, one divide
    back). The target spine is a broadcast literal frame, so absent
    categories are zero-filled in closed form — no data-dependent
    cross join. SQL replays bit-for-bit.

    Scale design: one map-combinable count aggregate, one broadcast
    join onto the O(k) literal spine, one k-row fold.
    """
    assert target, "target mix must be non-empty"
    assert all(
        float(w) > 0 for w in target.values()
    ), "target weights must be positive (a zero-weight category is a blocklist question, not a GOF one)"
    wsum = float(sum(float(w) for w in target.values()))
    # LocalRelation spine (plans.scale.inline_table): createDataFrame
    # parallelized the k-row spine into a defaultParallelism-slice RDD,
    # and its FOUR plan references each ran a 32-task ExistingRDD scan
    # stage — ~2 s of task-launch overhead for 5 rows at sf0.1 (r12
    # profile). A LocalRelation folds at planning time instead.
    from kafka_streams_plumber_spark.plans.scale import inline_table

    spine = inline_table(
        df.sparkSession,
        [(str(k), float(w) / wsum) for k, w in sorted(target.items())],
        "_g string, _w double",
    )
    g = F.col(group_col).cast("string")
    counts = (
        df.where(g.isNotNull())
        .select(g.alias("_g"))
        .join(F.broadcast(spine.select("_g")), "_g")
        .groupBy("_g")
        .agg(F.count(F.lit(1)).alias("_o"))
    )
    full = spine.join(counts, "_g", "left").select(
        "_g", "_w", F.coalesce(F.col("_o"), F.lit(0)).alias("_o")
    )
    tot = full.agg(F.sum("_o").alias("_n"), F.count(F.lit(1)).alias("_k"))
    j = full.crossJoin(F.broadcast(tot))
    e = F.col("_w") * F.col("_n").cast("double")
    o = F.col("_o").cast("double")
    term = F.round(
        (o - e) * (o - e) / F.nullif(e, F.lit(0.0)) * F.lit(1000000.0)
    ).cast("decimal(38,0)")
    agg = j.groupBy().agg(
        F.min("_n").alias("_n"),
        F.min("_k").alias("_kk"),
        F.sum(term).alias("_chi"),
    )
    return agg.select(
        F.col("_n").cast("long").alias("n"),
        F.col("_kk").cast("long").alias("k"),
        (F.col("_kk") - 1).cast("long").alias("df"),
        F.when(
            F.col("_n") > 0,
            F.round(F.col("_chi").cast("double") / F.lit(1000000.0), 6),
        ).alias("chi2"),
    )


def cliffs_delta(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
    *,
    round_values: int | None = None,
) -> DataFrame:
    """Cliff's delta — the EFFECT SIZE companion to
    :func:`mann_whitney`: delta = P(a > b) - P(a < b) in [-1, 1],
    the probability a random A observation beats a random B one,
    minus the reverse. The number to report NEXT to a significant U
    test ("significant, but delta = 0.06 — who cares") and the
    standard nonparametric effect size for skewed metrics. One row
    ``(n_a, n_b, delta)``; NULL when either side is empty.

    Exactness: on the distinct-value grain, the doubled dominance
    count 2U = sum_v a_v * (2*cumB_{<v} + b_v) (ties count half) is
    an exact integer via one prefix pass; delta = (2U - n*m)/(n*m)
    is one double division. SQL replays bit-for-bit.

    Scale design: one collapse, one range-exchange prefix pass, one
    1-row fold — the :func:`cramer_von_mises` plan shape.
    ``round_values`` quantizes first to bound the grain.
    """
    from kafka_streams_plumber_spark.operators.ordering import (
        running_total,
    )

    v = F.col(value_col).cast("double")
    if round_values is not None:
        v = F.round(v, int(round_values))
    g = F.col(group_col)
    base = df.where(
        g.isNotNull() & v.isNotNull() & g.isin([group_a, group_b])
    ).select(v.alias("_v"), (g == F.lit(group_a)).alias("_isa"))
    per = base.groupBy("_v").agg(
        F.sum(F.when(F.col("_isa"), 1).otherwise(0)).alias("_a"),
        F.sum(F.when(F.col("_isa"), 0).otherwise(1)).alias("_b"),
    )
    r = running_total(per, ["_v"], "_b", out_col="_cb")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    u2 = F.sum(
        dec(F.col("_a").cast("decimal(19,0)"))
        * (
            F.lit(2) * (F.col("_cb") - F.col("_b")) + F.col("_b")
        ).cast("decimal(19,0)")
    )
    agg = r.agg(
        F.coalesce(F.sum("_a"), F.lit(0)).cast("long").alias("_na"),
        F.coalesce(F.sum("_b"), F.lit(0)).cast("long").alias("_nb"),
        F.coalesce(u2, F.lit(0).cast("decimal(38,0)")).alias("_u2"),
    )
    nm = F.col("_na").cast("double") * F.col("_nb").cast("double")
    delta = F.when(
        (F.col("_na") > 0) & (F.col("_nb") > 0),
        F.round(
            (F.col("_u2").cast("double") - nm) / nm,
            6,
        ),
    )
    return agg.select(
        F.col("_na").alias("n_a"),
        F.col("_nb").alias("n_b"),
        delta.alias("delta"),
    )


def bartlett(
    df: DataFrame,
    value_col: str,
    group_col: str,
    *,
    scale: int = 6,
) -> DataFrame:
    """Bartlett's test — equal variances across k groups, the
    parametric (normality-assuming) sibling of
    :func:`brown_forsythe`: more powerful when the data really is
    Gaussian, badly oversensitive to heavy tails (which is WHY
    brown_forsythe exists — run both; agreement is the evidence). One
    row ``(n, k_groups, df, t)``: T is chi-square with k-1 df under
    the null. NULL when k < 2, any group has n_i < 2, or any group
    variance is 0 (log undefined).

    Exactness: per-group (n, S, Q) are exact integers on
    decimal(38,0) from ONE map-combinable aggregate over scaled
    longs; each group's (n_i-1)*ln(s_i^2) and 1/(n_i-1) terms are
    frozen to 1e-9 scaled integers (fixed-shape IEEE, exact k-row
    integer sums), and the final T / C expressions are fixed-shape
    doubles — replayed bit-for-bit in SQL. The variance inside the
    log keeps the raw scaled units: the scale factor cancels between
    the pooled and per-group log terms (sum (n_i-1) = N-k exactly).

    Scale design: one aggregate to k rows, one k-row fold. Nothing
    else.
    """
    mult = float(10 ** int(scale))
    v = F.col(value_col).cast("double")
    base = df.where(
        F.col(group_col).isNotNull() & v.isNotNull()
    ).select(
        F.col(group_col).alias("_g"),
        F.round(v * F.lit(mult)).cast("long").alias("_s"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    per = base.groupBy("_g").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("_n"),
        F.coalesce(
            F.sum(F.col("_s").cast("decimal(28,0)")).cast("decimal(38,0)"),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("_sg"),
        F.coalesce(
            F.sum(
                dec(F.col("_s").cast("decimal(19,0)"))
                * F.col("_s").cast("decimal(19,0)")
            ),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("_qg"),
    )
    ni = F.col("_n").cast("double")
    # s_i^2 in raw scaled units; the scale cancels against the pooled
    # term because sum (n_i - 1) * ln(scale^2) telescopes
    var_i = (
        ni * F.col("_qg").cast("double")
        - F.col("_sg").cast("double") * F.col("_sg").cast("double")
    ) / (ni * (ni - F.lit(1.0)))
    lterm = F.round(
        (ni - F.lit(1.0)) * F.log(var_i) * F.lit(1e9)
    ).cast("decimal(38,0)")
    hterm = F.round(
        F.lit(1.0) / (ni - F.lit(1.0)) * F.lit(1e9)
    ).cast("decimal(38,0)")
    wterm = F.round(
        (ni - F.lit(1.0)) * var_i * F.lit(1000.0)
    ).cast("decimal(38,0)")
    agg = per.agg(
        F.count(F.lit(1)).alias("_k"),
        F.coalesce(F.sum("_n"), F.lit(0).cast("decimal(38,0)")).alias("_N"),
        F.sum(lterm).alias("_L"),
        F.sum(hterm).alias("_H"),
        F.sum(wterm).alias("_W"),
        F.min(F.col("_n").cast("long")).alias("_minn"),
        F.max(
            F.when(
                var_i <= F.lit(0.0), F.lit(1)
            ).otherwise(F.lit(0))
        ).alias("_zv"),
    )
    nN = F.col("_N").cast("double")
    kd = F.col("_k").cast("double")
    nk = nN - kd
    sp2 = F.col("_W").cast("double") / F.lit(1000.0) / nk
    t_num = nk * F.log(sp2) - F.col("_L").cast("double") / F.lit(1e9)
    c = F.lit(1.0) + (
        F.col("_H").cast("double") / F.lit(1e9) - F.lit(1.0) / nk
    ) / (F.lit(3.0) * (kd - F.lit(1.0)))
    ok = (
        (F.col("_k") >= 2)
        & (F.col("_minn") >= 2)
        & (F.col("_zv") == 0)
    )
    return agg.select(
        F.col("_N").cast("long").alias("n"),
        F.col("_k").cast("long").alias("k_groups"),
        (F.col("_k") - 1).cast("long").alias("df"),
        F.when(ok, F.round(t_num / c, 6)).alias("t"),
    )


def qq_table(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
    *,
    percentiles: list | None = None,
) -> DataFrame:
    """Quantile-quantile table of two slices — the drill-down AFTER
    :func:`ks_test`/:func:`cramer_von_mises` says "these differ":
    WHERE in the distribution? One row per probe point
    ``(p, q_a, q_b, diff)`` (default deciles 0.1..0.9): a constant
    positive diff is a location shift, a diff growing with p is a
    scale/tail change, a sign flip is a crossing — the shapes a
    single test statistic cannot distinguish. Quantiles are exact
    interpolated percentiles; NULL for an empty side.

    Scale design: BOTH groups' 9 quantiles ride the single
    :func:`exact_percentiles` range-exchange pass (grouped by slice),
    then one tiny pivot on the O(1) result — no second scan.
    """
    ps = [round(p, 6) for p in (percentiles or [i / 10 for i in range(1, 10)])]
    v = F.col(value_col).cast("double")
    g = F.col(group_col)
    base = df.where(
        g.isNotNull() & v.isNotNull() & g.isin([group_a, group_b])
    ).select(g.alias("_g"), v.alias("_v"))
    spec = {f"_q{i}": p for i, p in enumerate(ps)}
    per = exact_percentiles(base, "_g", "_v", spec)
    # ONE pass over the (2-row) percentile result: the previous
    # two-filter form (a = per.where(g==a), b = per.where(g==b)) put
    # the whole exact_percentiles subtree under TWO broadcast
    # branches, re-running its range exchange + 5*len(ps) conditional
    # aggregates twice per execution. min(when(...)) over the one
    # matching row is the row's value (NULL when the side is absent —
    # same as the old left-join NULL), so the fold below is
    # value-identical with half the work.
    wide = per.agg(
        *[
            F.min(
                F.when(F.col("_g") == F.lit(group_a), F.col(f"_q{i}"))
            ).alias(f"_a{i}")
            for i in range(len(ps))
        ],
        *[
            F.min(
                F.when(F.col("_g") == F.lit(group_b), F.col(f"_q{i}"))
            ).alias(f"_b{i}")
            for i in range(len(ps))
        ],
    )
    # LocalRelation spine — same rationale as chi2_gof's (see there).
    from kafka_streams_plumber_spark.plans.scale import inline_table

    spine = inline_table(
        df.sparkSession, [(i, float(p)) for i, p in enumerate(ps)], "_i int, p double"
    )
    qa = F.array(*[F.col(f"_a{i}") for i in range(len(ps))])
    qb = F.array(*[F.col(f"_b{i}") for i in range(len(ps))])
    out = (
        spine.join(F.broadcast(wide), F.lit(True), "left")
        .select(
            "p",
            F.round(
                F.element_at(qa, F.col("_i") + 1), 6
            ).alias("q_a"),
            F.round(
                F.element_at(qb, F.col("_i") + 1), 6
            ).alias("q_b"),
            F.round(
                F.element_at(qa, F.col("_i") + 1)
                - F.element_at(qb, F.col("_i") + 1),
                6,
            ).alias("diff"),
        )
    )
    return out.orderBy("p")


def cochran_armitage(
    df: DataFrame,
    score_col,
    success_col,
) -> DataFrame:
    """Cochran-Armitage trend test — does a success RATE trend
    monotonically across ORDERED buckets? The k-sample sharpening of
    :func:`two_proportion_z` when the slices have a natural order
    (value tiers, quality bands, dose levels): chi-square
    independence ignores the order and wastes power; this test puts
    all of it on the linear trend. One row
    ``(n, n_success, k_scores, z)``: z is standard normal under
    no-trend, positive when the rate RISES with the score. NULL when
    all successes/failures, a single score level, or zero score
    variance.

    Exactness: with integer-valued scores w the statistic clears the
    rational pooled rate completely — z = (N*sum(w*r) -
    R*sum(w*n)) * sqrt(N) / sqrt(R*(N-R)*(N*sum(w^2*n) -
    sum(w*n)^2)) where r/n are per-score success/total counts — ALL
    exact integers on decimal(38,0), one fixed-shape sqrt tail.
    SQL replays bit-for-bit.

    Scale design: ONE map-combinable aggregate to the k-score grain,
    one k-row fold. ``score_col`` must be (castable to) an integer
    bucket index — quantize upstream.
    """
    w = (
        score_col
        if isinstance(score_col, Column)
        else F.col(score_col)
    ).cast("long")
    s = (
        success_col
        if isinstance(success_col, Column)
        else F.col(success_col)
    ).cast("boolean")
    base = df.where(w.isNotNull() & s.isNotNull()).select(
        w.alias("_w"), s.alias("_s")
    )
    per = base.groupBy("_w").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.when(F.col("_s"), 1).otherwise(0)).alias("_r"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = per.agg(
        F.coalesce(F.sum("_n"), F.lit(0)).cast("decimal(38,0)").alias("_N"),
        F.coalesce(F.sum("_r"), F.lit(0)).cast("decimal(38,0)").alias("_R"),
        F.count(F.lit(1)).alias("_k"),
        F.coalesce(
            F.sum(
                dec(F.col("_w").cast("decimal(19,0)"))
                * F.col("_r").cast("decimal(19,0)")
            ),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("_wr"),
        F.coalesce(
            F.sum(
                dec(F.col("_w").cast("decimal(19,0)"))
                * F.col("_n").cast("decimal(19,0)")
            ),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("_wn"),
        F.coalesce(
            F.sum(
                dec(
                    (F.col("_w") * F.col("_w")).cast("decimal(19,0)")
                )
                * F.col("_n").cast("decimal(19,0)")
            ),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("_w2n"),
    )
    num = F.col("_N") * F.col("_wr") - F.col("_R") * F.col("_wn")
    sc = F.col("_N") * F.col("_w2n") - F.col("_wn") * F.col("_wn")
    varterm = (
        F.col("_R").cast("double")
        * (F.col("_N") - F.col("_R")).cast("double")
        * sc.cast("double")
    )
    ok = (
        (F.col("_k") >= 2)
        & (F.col("_R") > 0)
        & (F.col("_R") < F.col("_N"))
    )
    z = (
        num.cast("double")
        * F.sqrt(F.col("_N").cast("double"))
        / F.nullif(F.sqrt(varterm), F.lit(0.0))
    )
    return agg.select(
        F.col("_N").cast("long").alias("n"),
        F.col("_R").cast("long").alias("n_success"),
        F.col("_k").cast("long").alias("k_scores"),
        F.when(ok, F.round(z, 6)).alias("z"),
    )


def hhi_concentration(
    df: DataFrame,
    group_col: str,
    category_col: str,
) -> DataFrame:
    """Herfindahl-Hirschman concentration panel per group — how
    CONCENTRATED is each slice's category mix? The data-card number
    next to the mix itself: HHI = sum of squared category shares
    (1/k for a uniform k-way mix, 1.0 for a monoculture),
    effective_k = 1/HHI (the "equivalent number of equal sources" —
    the honest diversity count), top_share = the largest single
    category. The audit that catches "the de slice is 94% one crawl
    domain" while the language mix still looks fine. One row per
    group ``(group, n, k_categories, hhi, effective_k, top_share)``;
    ratios NULL for an empty group.

    Exactness: counts and sum-of-squared-counts are exact integers
    on decimal(38,0) in one collapse + one aggregate; HHI =
    sum c^2 / N^2 and friends are fixed-shape doubles — replayed
    bit-for-bit in SQL.

    Scale design: one map-combinable collapse to the (group,
    category) grain, one group aggregate. No windows, no Python.
    """
    base = df.where(
        F.col(group_col).isNotNull() & F.col(category_col).isNotNull()
    ).select(
        F.col(group_col).alias("_g"),
        F.col(category_col).alias("_c"),
    )
    per = base.groupBy("_g", "_c").agg(F.count(F.lit(1)).alias("_n"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = per.groupBy("_g").agg(
        F.sum("_n").cast("decimal(38,0)").alias("_N"),
        F.count(F.lit(1)).alias("_k"),
        F.sum(
            dec(F.col("_n").cast("decimal(19,0)"))
            * F.col("_n").cast("decimal(19,0)")
        ).alias("_c2"),
        F.max("_n").alias("_top"),
    )
    nd = F.col("_N").cast("double")
    hhi = F.col("_c2").cast("double") / (nd * nd)
    ok = F.col("_N") > 0
    return agg.select(
        F.col("_g").alias(group_col),
        F.col("_N").cast("long").alias("n"),
        F.col("_k").cast("long").alias("k_categories"),
        F.when(ok, F.round(hhi, 6)).alias("hhi"),
        F.when(ok, F.round(F.lit(1.0) / hhi, 6)).alias("effective_k"),
        F.when(ok, F.round(F.col("_top").cast("double") / nd, 6)).alias(
            "top_share"
        ),
    )


def wilson_ci(
    df: DataFrame,
    success_col,
    group_col: str,
    *,
    z: float = 1.959964,
) -> DataFrame:
    """Wilson score confidence interval for a success rate per group
    — the interval to PUT ON A DASHBOARD next to every rate: unlike
    the naive Wald interval it never leaves [0, 1], stays honest at
    p near 0 or 1 and at small n (exactly where pass-rate / defect
    panels live), and needs only counts. One row per group
    ``(group, n, pos, p, lo, hi)`` at the given normal quantile
    (default two-sided 95%); NULLs for an empty group.

    Exactness: counts are exact integers from ONE map-combinable
    aggregate; center (p + z^2/2n)/(1 + z^2/n) and half-width are
    fixed-shape doubles — replayed bit-for-bit in SQL.

    Scale design: one aggregate to k rows. Nothing else.
    """
    s = (
        success_col
        if isinstance(success_col, Column)
        else F.col(success_col)
    ).cast("boolean")
    base = df.where(F.col(group_col).isNotNull() & s.isNotNull()).select(
        F.col(group_col).alias("_g"), s.alias("_s")
    )
    agg = base.groupBy("_g").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.when(F.col("_s"), 1).otherwise(0)).alias("_pos"),
    )
    zd = F.lit(float(z))
    nd = F.col("_n").cast("double")
    p = F.col("_pos").cast("double") / nd
    denom = F.lit(1.0) + zd * zd / nd
    center = (p + zd * zd / (F.lit(2.0) * nd)) / denom
    half = (
        zd
        * F.sqrt(
            p * (F.lit(1.0) - p) / nd
            + zd * zd / (F.lit(4.0) * nd * nd)
        )
        / denom
    )
    ok = F.col("_n") > 0
    return agg.select(
        F.col("_g").alias(group_col),
        F.col("_n").cast("long").alias("n"),
        F.col("_pos").cast("long").alias("pos"),
        F.when(ok, F.round(p, 6)).alias("p"),
        F.when(ok, F.round(center - half, 6)).alias("lo"),
        F.when(ok, F.round(center + half, 6)).alias("hi"),
    )


def dunn_test(
    df: DataFrame,
    value_col: str,
    group_col: str,
    *,
    round_values: int | None = None,
) -> DataFrame:
    """Dunn's post-hoc test — WHICH pairs differ, after
    :func:`kruskal_wallis` says "some group moved"? The standard
    rank-based pairwise drill-down: all k(k-1)/2 comparisons on the
    POOLED ranks (not per-pair re-ranking — that is the whole point
    vs running mann_whitney per pair: pooled ranks keep the
    comparisons consistent and the tie correction global). One row
    per unordered pair ``(group_a, group_b, n_a, n_b, z)`` with
    group_a < group_b lexically; compare |z| to the
    Bonferroni/BH-adjusted normal quantile of your choosing
    downstream. z NULL when the tie-corrected variance is zero.

    Exactness: pooled doubled midranks (2*cum - t + 1) make every
    group's doubled rank sum D_g an exact integer; the mean-rank
    difference and the Dunn standard error sqrt((N(N+1)/12 -
    T/(12(N-1))) * (1/n_i + 1/n_j)) with the exact integer tie term
    T = sum(t^3 - t) are fixed-shape doubles — replayed bit-for-bit
    in SQL.

    Scale design: :func:`_pooled_midrank_sums` (the kruskal_wallis
    kernel), then one aggregate folds its k rows into the totals and
    an array of the groups, which two explodes pair up — the k x k
    pairing of that TINY table without a self-join recomputing it.
    ``round_values`` bounds the grain.
    """
    v = F.col(value_col).cast("double")
    if round_values is not None:
        v = F.round(v, int(round_values))
    base = df.where(
        F.col(group_col).isNotNull() & v.isNotNull()
    ).select(F.col(group_col).alias("_g"), v.alias("_v"))
    tab = _pooled_midrank_sums(base).agg(
        F.collect_list(F.struct("_g", "_ng", "_Dg")).alias("_gs"),
        F.sum("_ng").alias("_N"),
        (F.sum("_t3") - F.sum("_ng")).alias("_T"),
    )
    pairs = (
        tab.select(F.explode("_gs").alias("_a"), "_gs", "_N", "_T")
        .select("_a", F.explode("_gs").alias("_b"), "_N", "_T")
        .where(F.col("_a._g") < F.col("_b._g"))
        .select(
            F.col("_a._g").alias("group_a"),
            F.col("_a._ng").alias("_na"),
            F.col("_a._Dg").alias("_da"),
            F.col("_b._g").alias("group_b"),
            F.col("_b._ng").alias("_nb"),
            F.col("_b._Dg").alias("_db"),
            "_N",
            "_T",
        )
    )
    nN = F.col("_N").cast("double")
    # mean ranks: doubled sums halve out — (Da/na - Db/nb) / 2
    meandiff = (
        F.col("_da").cast("double") / F.col("_na").cast("double")
        - F.col("_db").cast("double") / F.col("_nb").cast("double")
    ) / F.lit(2.0)
    var0 = nN * (nN + F.lit(1.0)) / F.lit(12.0) - F.col("_T").cast(
        "double"
    ) / (F.lit(12.0) * (nN - F.lit(1.0)))
    se = F.sqrt(
        var0
        * (
            F.lit(1.0) / F.col("_na").cast("double")
            + F.lit(1.0) / F.col("_nb").cast("double")
        )
    )
    return pairs.select(
        "group_a",
        "group_b",
        F.col("_na").cast("long").alias("n_a"),
        F.col("_nb").cast("long").alias("n_b"),
        F.round(meandiff / F.nullif(se, F.lit(0.0)), 6).alias("z"),
    )


def partial_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
    z_col: str,
    *,
    scale: int = 6,
) -> DataFrame:
    """First-order partial correlation r_xy.z — does x still
    correlate with y once the shared driver z is held fixed? The
    confounder check behind every "metric A predicts metric B" claim
    (price correlates with revenue... because quantity drives both).
    One row ``(n, r_xy, r_xz, r_yz, r_xy_given_z)`` with
    r_xy.z = (r_xy - r_xz*r_yz) / sqrt((1-r_xz^2)*(1-r_yz^2));
    NULLs when n < 2, any marginal variance is zero, or either
    conditioning correlation is +-1 (degenerate denominator).

    Exactness: all ten moments (n and the scaled-long sums S_x..S_yz)
    are exact integers on decimal(38,0) in ONE map-combinable
    aggregate; the three Pearson r's via the n-cleared identity
    (n*S_ab - S_a*S_b) / sqrt((n*S_aa - S_a^2)(n*S_bb - S_b^2)) and
    the final partial expression are fixed-shape doubles — replayed
    bit-for-bit in SQL.

    Scale design: one aggregate to one row — over a source widened to
    the session parallelism when the scan arrives narrow
    (plans.scale.ensure_parallelism, a structural no-op on a wide
    production scan): the per-row work here is six decimal(38,0)
    multiplies, so a single-row-group file otherwise serializes ~1.4 s
    of BigDecimal math on 3 scan tasks while 29 cores idle (guide
    §2.5; interleaved same-session A/B at sf0.1/32 cores: narrow
    min 1.16 / median 1.46 s vs widened min 0.73 / median 0.79 s —
    the 3-long-column shuffle costs far less than the serialized
    aggregate). The projection is attached BEFORE the widening so the
    exchange carries three longs, not the table.
    """
    from kafka_streams_plumber_spark.plans.scale import ensure_parallelism

    mult = float(10 ** int(scale))
    mk = lambda c: F.round(  # noqa: E731
        F.col(c).cast("double") * F.lit(mult)
    ).cast("long")
    base = df.where(
        F.col(x_col).isNotNull()
        & F.col(y_col).isNotNull()
        & F.col(z_col).isNotNull()
    ).select(mk(x_col).alias("_x"), mk(y_col).alias("_y"), mk(z_col).alias("_z"))
    base = ensure_parallelism(base)
    dec19 = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    agg = base.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("_n"),
        F.sum(F.col("_x").cast("decimal(28,0)")).cast("decimal(38,0)").alias("_sx"),
        F.sum(F.col("_y").cast("decimal(28,0)")).cast("decimal(38,0)").alias("_sy"),
        F.sum(F.col("_z").cast("decimal(28,0)")).cast("decimal(38,0)").alias("_sz"),
        F.sum(dec19(F.col("_x")) * dec19(F.col("_x"))).alias("_sxx"),
        F.sum(dec19(F.col("_y")) * dec19(F.col("_y"))).alias("_syy"),
        F.sum(dec19(F.col("_z")) * dec19(F.col("_z"))).alias("_szz"),
        F.sum(dec19(F.col("_x")) * dec19(F.col("_y"))).alias("_sxy"),
        F.sum(dec19(F.col("_x")) * dec19(F.col("_z"))).alias("_sxz"),
        F.sum(dec19(F.col("_y")) * dec19(F.col("_z"))).alias("_syz"),
    )
    nd = F.col("_n").cast("double")

    def corr(sab, sa, sb, saa, sbb):
        num = nd * F.col(sab).cast("double") - F.col(sa).cast(
            "double"
        ) * F.col(sb).cast("double")
        da = nd * F.col(saa).cast("double") - F.col(sa).cast(
            "double"
        ) * F.col(sa).cast("double")
        db = nd * F.col(sbb).cast("double") - F.col(sb).cast(
            "double"
        ) * F.col(sb).cast("double")
        return num / F.nullif(F.sqrt(da * db), F.lit(0.0))

    rxy = corr("_sxy", "_sx", "_sy", "_sxx", "_syy")
    rxz = corr("_sxz", "_sx", "_sz", "_sxx", "_szz")
    ryz = corr("_syz", "_sy", "_sz", "_syy", "_szz")
    denom = F.sqrt(
        (F.lit(1.0) - rxz * rxz) * (F.lit(1.0) - ryz * ryz)
    )
    part = (rxy - rxz * ryz) / F.nullif(denom, F.lit(0.0))
    ok = F.col("_n") >= 2
    return agg.select(
        F.col("_n").cast("long").alias("n"),
        F.when(ok, F.round(rxy, 6)).alias("r_xy"),
        F.when(ok, F.round(rxz, 6)).alias("r_xz"),
        F.when(ok, F.round(ryz, 6)).alias("r_yz"),
        F.when(ok, F.round(part, 6)).alias("r_xy_given_z"),
    )


def ljung_box(
    df: DataFrame,
    index_col: str,
    value_col: str,
    *,
    max_lag: int,
    group_cols: list[str] | None = None,
    value_scale: int = 10**6,
) -> DataFrame:
    """Ljung-Box portmanteau test — is the series WHITE NOISE across
    the first h lags jointly? Q = n*(n+2) * sum_k r_k^2/(n-k),
    chi-square with h df under the null; the single-number companion
    to eyeballing the :func:`autocorrelation` plot, and the standard
    residual check after any seasonal/trend fit ("the STL residuals
    pass Ljung-Box" is the sentence that closes a decomposition
    review). One row per group ``(groups..., n_buckets, h, q)``;
    q NULL when the series is constant (ACF undefined) or shorter
    than h+1 buckets.

    Exactness: the r_k are :func:`autocorrelation`'s 6-dp values
    (exact integer moments, one division; ``value_scale`` is a RAW
    multiplier passed straight through — NOT the 10^k exponent
    convention of the moment-test kernels, hence the distinct
    name); each r_k^2/(n-k) term is
    frozen to a 1e-12 scaled integer so the h-term sum is exact, and
    the final n*(n+2) multiply is one fixed-shape double. SQL
    replays bit-for-bit.

    Scale design: one autocorrelation pass (the only data-scale
    work), one O(groups)-row count aggregate joined in, one h-row
    fold per group.
    """
    groups = list(group_cols or [])
    acf_df = autocorrelation(
        df,
        index_col,
        value_col,
        max_lag=max_lag,
        group_cols=groups,
        value_scale=value_scale,
    )
    base = df.where(
        F.col(index_col).isNotNull() & F.col(value_col).isNotNull()
    )
    counts = (
        base.groupBy(*groups).agg(F.count(F.lit(1)).alias("_n"))
        if groups
        else base.agg(F.count(F.lit(1)).alias("_n"))
    )
    j = (
        acf_df.join(counts, groups)
        if groups
        else acf_df.crossJoin(F.broadcast(counts))
    )
    nd = F.col("_n").cast("double")
    term = F.round(
        F.col("acf")
        * F.col("acf")
        / (nd - F.col("lag").cast("double"))
        * F.lit(1e12)
    ).cast("decimal(38,0)")
    agg = j.groupBy(*groups).agg(
        F.min("_n").alias("_n"),
        F.count(F.lit(1)).alias("_h"),
        F.count("acf").alias("_ok"),
        F.sum(term).alias("_sum"),
    )
    nd2 = F.col("_n").cast("double")
    q = F.round(
        nd2
        * (nd2 + F.lit(2.0))
        * F.col("_sum").cast("double")
        / F.lit(1e12),
        6,
    )
    good = (F.col("_ok") == F.col("_h")) & (
        F.col("_n").cast("long") > F.lit(int(max_lag))
    )
    return agg.select(
        *groups,
        F.col("_n").cast("long").alias("n_buckets"),
        F.col("_h").cast("long").alias("h"),
        F.when(good, q).alias("q"),
    )
