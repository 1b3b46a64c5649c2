"""Snapshot differencing — classify rows across two table versions.

The everyday shape of incremental ingestion: given yesterday's snapshot
and today's, emit what was added, removed, or changed, keyed by a stable
id. The trick that makes it cheap at 100 TB: each side is reduced to
``(key, md5-of-row)`` BEFORE the join, so the full-outer shuffle carries
a 16-byte digest instead of the wide row — comparing a 3 kB document
record costs the same as comparing an int.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kafka_streams_plumber_spark.plans.scale import inline_table

#: Field separator / NULL sentinel for the row digest. Unit separator +
#: a tag no real column value contains, so (NULL, "") and ("", NULL)
#: hash differently.
_SEP = "\x1f"
_NULL = "\x00N"


def row_digest(df: DataFrame, cols: list[str]) -> F.Column:
    """md5 over the named columns, null-safe and order-sensitive.
    Columns are cast to string; identical expression exists in any SQL
    dialect (the DuckDB oracle replays it verbatim)."""
    parts = [
        F.coalesce(F.col(c).cast("string"), F.lit(_NULL)) for c in cols
    ]
    return F.md5(F.concat_ws(_SEP, *parts))


def audit_fk(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
) -> DataFrame:
    """Referential-integrity audit: one row of join-health counters
    before a pipeline trusts an equi-join.

    Returns ``n_fact`` (fact rows), ``n_orphans`` (fact rows whose key
    misses the dimension — silently dropped by an inner join),
    ``orphan_rate`` (6 dp), ``n_dim`` (distinct dimension keys) and
    ``n_dim_unref`` (dimension keys no fact row references). NULL fact
    keys count as orphans (an inner join drops them too).

    Scale design: one left-anti and one right-side anti join, both
    plain equi-joins AQE can broadcast when the dimension is small; the
    counters are single-row aggregates combined with scalar-row cross
    joins (no data movement beyond the joins themselves).
    """
    f = fact.select(F.col(fact_key).alias("_fk"))
    d = dim.select(F.col(dim_key).alias("_dk")).distinct()

    base = f.agg(F.count("*").alias("n_fact"))
    orphans = f.join(d, f["_fk"] == d["_dk"], "left_anti").agg(
        F.count("*").alias("n_orphans")
    )
    dims = d.agg(F.count("*").alias("n_dim"))
    unref = d.join(f, f["_fk"] == d["_dk"], "left_anti").agg(
        F.count("*").alias("n_dim_unref")
    )
    return (
        base.crossJoin(F.broadcast(orphans))
        .crossJoin(F.broadcast(dims))
        .crossJoin(F.broadcast(unref))
        .select(
            "n_fact",
            "n_orphans",
            F.round(F.col("n_orphans") / F.col("n_fact"), 6).alias(
                "orphan_rate"
            ),
            "n_dim",
            "n_dim_unref",
        )
    )


def snapshot_diff(
    new: DataFrame,
    old: DataFrame,
    key_col: str,
    *,
    compare_cols: list[str] | None = None,
    change_col: str = "change",
) -> DataFrame:
    """Diff two snapshots by ``key_col``.

    Returns one row per key whose state differs: ``(key, change)`` with
    ``change`` in {'added', 'removed', 'changed'}; unchanged keys are
    dropped. ``compare_cols`` defaults to every shared non-key column
    (in ``new``'s column order, so the digest is stable).

    Scale design: both sides project to ``(key, digest)`` first — the
    only wide-row work is a map-side md5 — then one co-partitioned
    full-outer equi-join on the key. With AQE on, a small ``old`` (e.g.
    a seed snapshot) broadcast-joins automatically; nothing here forces
    a strategy. Assumes ``key_col`` is unique per side (snapshot
    semantics); duplicate keys diff pairwise nondeterministically, as
    in any keyed diff.
    """
    if compare_cols is None:
        shared = [c for c in new.columns if c in set(old.columns)]
        compare_cols = [c for c in shared if c != key_col]

    n = new.select(
        F.col(key_col).alias("key"), row_digest(new, compare_cols).alias("_hn")
    )
    o = old.select(
        F.col(key_col).alias("key"), row_digest(old, compare_cols).alias("_ho")
    )
    j = n.join(o, "key", "full_outer")
    return (
        j.select(
            "key",
            F.when(F.col("_ho").isNull(), F.lit("added"))
            .when(F.col("_hn").isNull(), F.lit("removed"))
            .when(F.col("_hn") != F.col("_ho"), F.lit("changed"))
            .alias(change_col),
        )
        .filter(F.col(change_col).isNotNull())
    )


def profile_columns(
    df: DataFrame,
    cols: list[str] | None = None,
    *,
    distinct: bool = True,
    minmax: bool = True,
) -> DataFrame:
    """One row per column: null rate, and optionally a distinct
    estimate and min/max as strings — the per-snapshot column profile.
    ONE aggregate pass over the table (all columns profiled
    simultaneously), then a tiny unpivot: no per-column job storm.

    ``distinct``/``minmax`` toggle the expensive statistics: the HLL
    sketch and string-cast min/max dominate the pass at scale, and a
    caller that only needs null rates (audit_schema_drift) should not
    pay for them. Column access goes through ``df[c]`` + backticked
    aliases, so names containing dots (JSON-derived schemas) profile
    instead of crashing on struct-field resolution.
    """
    cols = cols or df.columns
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, c in enumerate(cols):
        aggs.append(F.sum(df[c].isNull().cast("long")).alias(f"__nulls_{i}"))
        if distinct:
            aggs.append(F.approx_count_distinct(df[c]).alias(f"__distinct_{i}"))
        if minmax:
            s = df[c].cast("string")
            aggs += [F.min(s).alias(f"__min_{i}"), F.max(s).alias(f"__max_{i}")]
    wide = df.agg(*aggs)
    null_lit = F.lit(None)
    rows = [
        F.struct(
            F.lit(c).alias("column"),
            F.col("__n").alias("n_rows"),
            F.col(f"__nulls_{i}").alias("n_nulls"),
            (F.col(f"__distinct_{i}") if distinct else null_lit.cast("long")).alias(
                "approx_distinct"
            ),
            (F.col(f"__min_{i}") if minmax else null_lit.cast("string")).alias(
                "min_str"
            ),
            (F.col(f"__max_{i}") if minmax else null_lit.cast("string")).alias(
                "max_str"
            ),
        )
        for i, c in enumerate(cols)
    ]
    return wide.select(F.explode(F.array(*rows)).alias("p")).select("p.*")


def audit_schema_drift(
    old: DataFrame,
    new: DataFrame,
    *,
    null_rate_jump: float = 0.10,
) -> DataFrame:
    """Schema + data-shape drift between two snapshot versions — the
    pre-ingestion gate that catches an upstream producer silently
    changing a feed (dropped column, type change, a field going
    mostly-NULL) before it poisons a training corpus.

    Emits one row per issue: ``(column, issue, old_value, new_value)``
    with issue in {added, removed, type_changed, null_rate_jump}.
    Schema comparison is metadata-only (no jobs); null rates cost one
    aggregate pass per side (profile_columns). The issue table is
    O(columns) rows — collect-free by construction, join-free except
    the O(columns) profile join.
    """
    old_types = {f.name: f.dataType.simpleString() for f in old.schema.fields}
    new_types = {f.name: f.dataType.simpleString() for f in new.schema.fields}
    spark = old.sparkSession

    issues: list[tuple[str, str, str | None, str | None]] = []
    for c in sorted(set(old_types) - set(new_types)):
        issues.append((c, "removed", old_types[c], None))
    for c in sorted(set(new_types) - set(old_types)):
        issues.append((c, "added", None, new_types[c]))
    for c in sorted(set(old_types) & set(new_types)):
        if old_types[c] != new_types[c]:
            issues.append((c, "type_changed", old_types[c], new_types[c]))

    schema_issues = inline_table(
        spark, issues, "column string, issue string, old_value string, new_value string"
    )

    shared = sorted(set(old_types) & set(new_types))
    if not shared:
        return schema_issues
    po = profile_columns(old, shared, distinct=False, minmax=False).select(
        "column", (F.col("n_nulls") / F.col("n_rows")).alias("_old_nr")
    )
    pn = profile_columns(new, shared, distinct=False, minmax=False).select(
        "column", (F.col("n_nulls") / F.col("n_rows")).alias("_new_nr")
    )
    drift = (
        po.join(pn, "column")
        .filter(F.col("_new_nr") - F.col("_old_nr") > null_rate_jump)
        .select(
            "column",
            F.lit("null_rate_jump").alias("issue"),
            F.round("_old_nr", 6).cast("string").alias("old_value"),
            F.round("_new_nr", 6).cast("string").alias("new_value"),
        )
    )
    return schema_issues.unionByName(drift)


def population_stability(
    old: DataFrame,
    new: DataFrame,
    value_col: str,
    *,
    bins: int = 10,
    lo: float,
    hi: float,
    smooth: float = 1e-6,
) -> DataFrame:
    """Population Stability Index between two snapshots of a numeric
    column — the standard ingestion-drift metric (PSI < 0.1 stable,
    0.1-0.25 moderate shift, > 0.25 investigate):

        PSI = sum_bins (p_new - p_old) * ln(p_new / p_old)

    Built on :func:`~kafka_streams_plumber_spark.operators.stats.
    numeric_histogram` (one map-combinable aggregate per side, <= bins
    rows shuffled per partition), joined on the bin index — total work
    past the two scans is O(bins). Empty bins get ``smooth`` mass so
    the log never sees zero; the same smoothing on both sides keeps
    the metric symmetric-ish and SQL-replayable exactly.

    Returns a one-row frame with the rounded ``psi``.
    """
    from kafka_streams_plumber_spark.operators.stats import numeric_histogram

    def dist(df: DataFrame, side: str) -> DataFrame:
        h = numeric_histogram(df, value_col, bins=bins, lo=lo, hi=hi)
        total = h.agg(F.sum("cnt").alias("_t"))
        return h.crossJoin(F.broadcast(total)).select(
            "bin", (F.col("cnt") / F.col("_t")).alias(f"p_{side}")
        )

    po, pn = dist(old, "old"), dist(new, "new")
    full = (
        po.join(pn, "bin", "full")
        .select(
            F.coalesce("p_old", F.lit(0.0)).alias("po"),
            F.coalesce("p_new", F.lit(0.0)).alias("pn"),
        )
        .select(
            (F.col("po") + smooth).alias("po"),
            (F.col("pn") + smooth).alias("pn"),
        )
    )
    return full.agg(
        F.round(
            F.sum((F.col("pn") - F.col("po")) * F.log(F.col("pn") / F.col("po"))),
            6,
        ).alias("psi")
    )


def categorical_stability(
    old: DataFrame,
    new: DataFrame,
    cat_col: str,
    *,
    smooth: float = 1e-6,
) -> DataFrame:
    """PSI over a categorical column's share distribution (language,
    source, domain, event type) — the companion to
    :func:`population_stability` for non-numeric feeds. One
    map-combinable count per side, full-joined on the category
    (O(categories) rows), same smoothing so a category present on only
    one side contributes a finite, replayable term. Returns one row:
    (psi, n_categories)."""

    def dist(df: DataFrame, side: str) -> DataFrame:
        c = df.filter(F.col(cat_col).isNotNull()).groupBy(
            F.col(cat_col).alias("cat")
        ).agg(F.count("*").alias("cnt"))
        total = c.agg(F.sum("cnt").alias("_t"))
        return c.crossJoin(F.broadcast(total)).select(
            "cat", (F.col("cnt") / F.col("_t")).alias(f"p_{side}")
        )

    po, pn = dist(old, "old"), dist(new, "new")
    full = po.join(pn, "cat", "full").select(
        (F.coalesce("p_old", F.lit(0.0)) + smooth).alias("a"),
        (F.coalesce("p_new", F.lit(0.0)) + smooth).alias("b"),
    )
    return full.agg(
        F.round(
            F.sum((F.col("b") - F.col("a")) * F.log(F.col("b") / F.col("a"))), 6
        ).alias("psi"),
        F.count("*").alias("n_categories"),
    )


def jsd_matrix(
    df: DataFrame,
    group_col: str,
    value_col: str,
    *,
    value_scale: int = 10**9,
) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between per-group value
    distributions: for every unordered group pair, ``JSD(P_a || P_b)``
    in bits (log2 — bounded [0, 1]) over the GLOBAL value support
    (values absent from both groups of a pair contribute 0). Returns
    ``(group_a, group_b, jsd, n_values)`` with ``group_a < group_b``;
    ``n_values`` is the global distinct-value support.

    The symmetric, always-finite companion to population_stability's
    PSI: PSI blows up on empty bins (needs smoothing) and is a
    two-snapshot drift score; JSD is a metric-like (its sqrt is a true
    metric) ALL-PAIRS comparison — "which sources speak the same
    distribution" for mixture design, and a cheap proxy for which
    corpus buckets are redundant before expensive dedup.

    Scale design: value counts are one map-combinable aggregate; the
    (group x value) probability spine is built once and self-joined on
    the value key, so the pair frame is O(groups^2 x values) — bounded
    by vocabulary sizes, never data volume. Per-value JSD terms are
    summed as scaled longs (9 dp), so the per-pair total is
    partition-order-proof and replayable in SQL; probabilities are
    single divisions of exact longs.
    """
    base = df.select(
        F.col(group_col).alias("_g"), F.col(value_col).alias("_v")
    ).where(F.col(value_col).isNotNull())
    counts = base.groupBy("_g", "_v").agg(F.count(F.lit(1)).alias("_c"))
    totals = counts.groupBy("_g").agg(F.sum("_c").alias("_t"))
    # (group x value) spine: a value absent from a group carries
    # probability 0 there (its term stays finite — that's JSD's point).
    # A plain value-key join would silently drop those rows — the other
    # group's rows still match the value, so no outer row appears.
    groups = counts.select("_g").distinct()
    values = counts.select("_v").distinct()
    p = (
        values.crossJoin(F.broadcast(groups))
        .join(counts, ["_g", "_v"], "left")
        .join(F.broadcast(totals), "_g")
        .select(
            "_g",
            "_v",
            (F.coalesce(F.col("_c"), F.lit(0)) / F.col("_t")).alias("_p"),
        )
    )

    a = p.select(
        F.col("_g").alias("group_a"), "_v", F.col("_p").alias("_pa")
    )
    b = p.select(
        F.col("_g").alias("group_b"), "_v", F.col("_p").alias("_pb")
    )
    joined = a.join(b, "_v").where(F.col("group_a") < F.col("group_b"))
    pa, pb = F.col("_pa"), F.col("_pb")
    m = (pa + pb) / 2
    term = (
        F.when(pa > 0, 0.5 * pa * F.log2(pa / m)).otherwise(F.lit(0.0))
        + F.when(pb > 0, 0.5 * pb * F.log2(pb / m)).otherwise(F.lit(0.0))
    )
    return (
        joined.groupBy("group_a", "group_b")
        .agg(
            (
                F.sum(F.round(term * value_scale, 0).cast("long")).cast("double")
                / value_scale
            ).alias("_jsd"),
            F.count(F.lit(1)).alias("n_values"),
        )
        .select(
            "group_a",
            "group_b",
            F.round("_jsd", 6).alias("jsd"),
            "n_values",
        )
    )


def _windowed_bin_counts(
    df: DataFrame,
    group_cols: list[str],
    day_col: str,
    value_col: str,
    *,
    bins: int,
    lo: float,
    hi: float,
    baseline_days: int,
) -> DataFrame:
    """Shared staging for the calendar-windowed drift monitors
    (:func:`psi_drift`, :func:`hist_drift`): the (group, day, bin)
    count grain, grid-filled over each group's observed days x
    observed bins, with the trailing-window pooled baseline count
    (``_bcnt``, ONE range frame over day values — calendar gaps
    contribute zero mass) and the per-day totals ``_ct``/``_bt``.
    Everything past the first map-combinable count lives on the tiny
    groups x days x bins grain."""
    width = (hi - lo) / bins
    bin_c = F.least(
        F.lit(bins - 1),
        F.greatest(
            F.lit(0),
            F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width)).cast("long"),
        ),
    )
    counts = (
        df.where(F.col(value_col).isNotNull() & F.col(day_col).isNotNull())
        .groupBy(
            *group_cols,
            F.col(day_col).cast("long").alias("_day"),
            bin_c.alias("_bin"),
        )
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    days = counts.select(*group_cols, "_day").distinct()
    bins_g = counts.select(*group_cols, "_bin").distinct()
    grid = (
        days.join(bins_g, list(group_cols))
        if group_cols
        else days.crossJoin(bins_g)
    )
    filled = grid.join(
        counts, [*group_cols, "_day", "_bin"], "left"
    ).withColumn("_cnt", F.coalesce(F.col("_cnt"), F.lit(0)))
    w_base = (
        Window.partitionBy(*group_cols, "_bin")
        .orderBy("_day")
        .rangeBetween(-baseline_days, -1)
    )
    w_day = Window.partitionBy(*group_cols, "_day")
    return (
        filled.withColumn(
            "_bcnt", F.coalesce(F.sum("_cnt").over(w_base), F.lit(0))
        )
        .withColumn("_ct", F.sum("_cnt").over(w_day))
        .withColumn("_bt", F.sum("_bcnt").over(w_day))
    )


def psi_drift(
    df: DataFrame,
    group_cols: list[str],
    day_col: str,
    value_col: str,
    *,
    bins: int = 10,
    lo: float,
    hi: float,
    baseline_days: int = 7,
    threshold: float = 0.25,
    smooth: float = 1e-6,
    value_scale: int = 10**9,
) -> DataFrame:
    """Rolling windowed distribution drift: for every (feed, day),
    the PSI of that day's value distribution against the pooled
    distribution of the trailing ``baseline_days`` calendar days —
    the continuous-monitoring form of :func:`population_stability`
    (which compares two fixed snapshots). This is the probe that
    catches a feed whose histogram quietly deforms over days: CUSUM /
    Page-Hinkley watch a single statistic's LEVEL, this watches the
    whole SHAPE per feed.

    ``day_col`` must be an integer day index where consecutive
    calendar days differ by 1 (e.g. ``datediff(day, '1970-01-01')``) —
    the baseline is a RANGE frame over day VALUES, so calendar gaps
    (days with no rows) correctly contribute zero mass instead of
    stretching the window (the gap-fill-calendar composition).

    Per (group, day) with a nonempty baseline:
    ``(day, n_cur, n_base, psi, drifted)`` — psi 6 dp, ``drifted`` =
    psi > ``threshold`` (0.25 = the classic "investigate" bar). Days
    with no preceding baseline rows (the first day(s) of a feed) are
    omitted: there is nothing to compare against.

    Exactness: bin shares are one double division each; per-day PSI
    terms ride the scaled-long device (round(term * value_scale) summed as
    longs — summation-order-proof), one final division — SQL replays
    bit-for-bit.

    Scale design: everything past the first map-combinable (group,
    day, bin) count lives on the (groups x days x bins) grain — tiny
    regardless of row count. The observed-day x observed-bin grid is
    built per group from two distinct-aggregates of that grain (never
    from the raw rows); the baseline is ONE range-frame window
    partitioned by (group, bin); totals are two windows on (group,
    day); the final PSI is a groupBy on the same grain. No joins of
    the fact table with itself, no Python.
    """
    staged = _windowed_bin_counts(
        df,
        group_cols,
        day_col,
        value_col,
        bins=bins,
        lo=lo,
        hi=hi,
        baseline_days=baseline_days,
    )
    pn = F.col("_cnt") / F.col("_ct") + smooth
    po = F.col("_bcnt") / F.col("_bt") + smooth
    term = (pn - po) * F.log(pn / po)
    out = (
        staged.where(F.col("_bt") > 0)
        .groupBy(*group_cols, "_day")
        .agg(
            F.max("_ct").cast("long").alias("n_cur"),
            F.max("_bt").cast("long").alias("n_base"),
            (
                F.sum(F.round(term * value_scale, 0).cast("long")).cast("double")
                / value_scale
            ).alias("_psi"),
        )
    )
    return out.select(
        *group_cols,
        F.col("_day").alias("day"),
        "n_cur",
        "n_base",
        F.round("_psi", 6).alias("psi"),
        (F.round("_psi", 6) > threshold).alias("drifted"),
    )


def hist_drift(
    df: DataFrame,
    group_cols: list[str],
    day_col: str,
    value_col: str,
    *,
    bins: int = 10,
    lo: float,
    hi: float,
    baseline_days: int = 7,
    threshold: float = 0.2,
) -> DataFrame:
    """Rolling windowed CDF drift: for every (feed, day), the sup
    distance between that day's binned CDF and the pooled
    trailing-``baseline_days`` CDF — the discretized two-sample
    Kolmogorov-Smirnov statistic on the same calendar machinery as
    :func:`psi_drift`. PSI weights every bin's share shift; the sup
    distance catches a LOCALIZED deformation (one quantile region
    sliding) that small per-bin shifts can hide from PSI's sum.

    Same contract as psi_drift: ``day_col`` is an integer day index,
    days with an empty baseline are omitted, output per (group, day)
    is ``(day, n_cur, n_base, ks, drifted)`` with ks 6 dp and
    ``drifted`` = ks > ``threshold``.

    Exactness: the sup numerator is computed cross-multiplied —
    ``max_bins |cum_cur * N_base - cum_base * N_cur|`` on
    decimal(38,0) — an EXACT integer (no per-bin division), divided
    once by ``N_cur * N_base`` at the end; SQL replays bit-for-bit.

    Scale design: :func:`psi_drift`'s staging plus two cumulative
    windows ordered by bin WITHIN each (group, day) — partition keys
    are (group, day), so no task holds more than one day's <= ``bins``
    rows; the final sup is a groupBy max on the same tiny grain.
    """
    staged = _windowed_bin_counts(
        df,
        group_cols,
        day_col,
        value_col,
        bins=bins,
        lo=lo,
        hi=hi,
        baseline_days=baseline_days,
    )
    w_cum = (
        Window.partitionBy(*group_cols, "_day")
        .orderBy("_bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    cumed = staged.withColumn("_ccur", F.sum("_cnt").over(w_cum)).withColumn(
        "_cbase", F.sum("_bcnt").over(w_cum)
    )
    num = F.abs(
        dec(F.col("_ccur")) * dec(F.col("_bt"))
        - dec(F.col("_cbase")) * dec(F.col("_ct"))
    )
    out = (
        cumed.where(F.col("_bt") > 0)
        .groupBy(*group_cols, "_day")
        .agg(
            F.max("_ct").cast("long").alias("n_cur"),
            F.max("_bt").cast("long").alias("n_base"),
            (
                F.max(num).cast("double")
                / (
                    F.max("_ct").cast("double")
                    * F.max("_bt").cast("double")
                )
            ).alias("_ks"),
        )
    )
    return out.select(
        *group_cols,
        F.col("_day").alias("day"),
        "n_cur",
        "n_base",
        F.round("_ks", 6).alias("ks"),
        (F.round("_ks", 6) > threshold).alias("drifted"),
    )


def dup_drift(
    df: DataFrame,
    content_cols: list[str],
    day_col: str,
    *,
    baseline_days: int = 7,
    threshold: float = 0.2,
) -> DataFrame:
    """Rolling duplicate-rate monitor: per day, the fraction of rows
    whose content digest (``row_digest`` over ``content_cols``)
    already appeared in the trailing ``baseline_days`` calendar days —
    the ingest-health watch that catches an upstream feed re-serving
    yesterday's batch (replay) or a crawler stuck in a loop, BEFORE
    the corpus-level dedup pass pays to re-discover it. Within-day
    duplicates are deliberately NOT counted (they are the batch
    dedup's job); this flags cross-day re-ingestion only.

    ``day_col`` is an integer day index; the lookback is a RANGE
    frame over day values (gap days contribute nothing). Output per
    day: ``(day, n_rows, n_dup, dup_rate, drifted)`` — 6 dp rate,
    ``drifted`` = dup_rate > ``threshold``. Exact integer counts, one
    division — SQL replays bit-for-bit (row_digest is plain md5).

    Scale design: rows collapse map-side to the (digest, day) count
    grain; ONE range-frame window partitioned by digest (shuffle
    carries 32-hex-char digests + two longs, never the content); one
    day-grain rollup. No self-joins, no Python.
    """
    per = (
        df.where(F.col(day_col).isNotNull())
        .select(
            F.col(day_col).cast("long").alias("_day"),
            row_digest(df, content_cols).alias("_dig"),
        )
        .groupBy("_day", "_dig")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    w = (
        Window.partitionBy("_dig")
        .orderBy("_day")
        .rangeBetween(-baseline_days, -1)
    )
    marked = per.withColumn(
        "_seen", F.coalesce(F.sum("_c").over(w), F.lit(0)) > 0
    )
    out = marked.groupBy("_day").agg(
        F.sum("_c").cast("long").alias("n_rows"),
        F.sum(F.when(F.col("_seen"), F.col("_c")).otherwise(0))
        .cast("long")
        .alias("n_dup"),
    )
    rate = F.round(F.col("n_dup") / F.col("n_rows"), 6)
    return out.select(
        F.col("_day").alias("day"),
        "n_rows",
        "n_dup",
        rate.alias("dup_rate"),
        (rate > threshold).alias("drifted"),
    )


def quantile_drift(
    df: DataFrame,
    group_cols: list[str],
    day_col: str,
    value_col: str,
    *,
    p: float = 0.5,
    baseline_days: int = 7,
    threshold: float,
    value_scale: int = 10**6,
) -> DataFrame:
    """Rolling quantile shift: per (feed, day), the day's EXACT
    interpolated ``p``-quantile of ``value_col`` against the mean of
    the trailing ``baseline_days`` daily quantiles — the
    location-drift member of the windowed monitor family
    (:func:`psi_drift` watches the whole histogram's shape,
    :func:`hist_drift` its worst local deformation; this watches one
    chosen quantile, the number an SLA usually names, e.g. "daily p50
    latency moved 8 ms").

    ``day_col`` is an integer day index (RANGE frame over day values,
    gap days contribute nothing). Days with no trailing daily
    quantile are omitted. Output per (group, day):
    ``(day, quantile, baseline_mean, delta, n_base_days, drifted)``
    with ``drifted`` = |delta| > ``threshold`` (absolute value
    units), all 6 dp.

    Exactness: daily quantiles are the exact-interpolated
    percentiles (the q_robust parity device — DuckDB quantile_cont
    replays them bit-for-bit); the baseline mean rides the
    scaled-long device (daily quantile rounded to a long at
    ``value_scale``, summed exactly over the window, two divisions).

    Scale design: :func:`~kafka_streams_plumber_spark.operators.
    stats.exact_percentiles` does the heavy lifting WITHOUT a
    per-group single-task window (range-repartitioned parallel
    rank); everything after lives on the (groups x days) grain with
    ONE range-frame window. No self-joins, no Python.
    """
    from kafka_streams_plumber_spark.operators.stats import exact_percentiles

    daily = exact_percentiles(
        df.where(F.col(day_col).isNotNull()).withColumn(
            "_day", F.col(day_col).cast("long")
        ),
        [*group_cols, "_day"],
        value_col,
        {"_q": p},
    )
    d2 = daily.withColumn(
        "_qs", F.round(F.col("_q") * value_scale, 0).cast("long")
    )
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("_day")
        .rangeBetween(-baseline_days, -1)
    )
    st = d2.withColumn("_bs", F.sum("_qs").over(w)).withColumn(
        "_bn", F.count(F.lit(1)).over(w)
    )
    base = (F.col("_bs") / F.col("_bn")) / value_scale
    delta = F.col("_q") - base
    return st.where(F.col("_bn") > 0).select(
        *group_cols,
        F.col("_day").alias("day"),
        F.round("_q", 6).alias("quantile"),
        F.round(base, 6).alias("baseline_mean"),
        F.round(delta, 6).alias("delta"),
        F.col("_bn").cast("long").alias("n_base_days"),
        (F.abs(F.round(delta, 6)) > threshold).alias("drifted"),
    )
