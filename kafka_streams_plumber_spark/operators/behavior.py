"""Event-stream behavioral analytics: funnels, cohort retention, gap fill.

The reference's event pipelines (plumber.lua transforms over a Kafka
topic — StreamProcessOperations.scala:54-66) stop at per-record shaping;
these are the aggregate analyses a team runs over the SAME event stream
once it lands in a table. All three are expressed as pure DataFrame
plans — partial-aggregatable groupBys plus at most one per-key window —
so they scale to event tables far larger than memory.

Scale notes (100 TB):

- ``funnel``: k-1 joins, but the event log crosses the network ONCE —
  the step-filtered three-column projection is hash-partitioned by user
  up front and every per-step filter, distinct, join and groupBy in the
  recurrence keys on a superset of {user}, so the single (reused)
  exchange satisfies them all and the recurrence itself is shuffle-free.
- ``cohort_retention``: two groupBys (user-grain, then cohort-grain) with
  full map-side combine; the user-grain join is equi-keyed on user_id.
- ``gap_fill``: per-key ``sequence``-explode bounded by ``max_buckets``
  (guards a runaway key whose time span would explode to millions of
  rows), then one per-key ordered window for the forward fill — one
  shuffle, key-partitioned, no global sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kafka_streams_plumber_spark.plans.scale import inline_table, reuse_barrier


def funnel(
    events: DataFrame,
    steps: list[str],
    *,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    within_ms: int | None = None,
    whole_within_ms: int | None = None,
) -> DataFrame:
    """Ordered-funnel analysis: how many users reach each stage.

    A user reaches stage i when SOME chain of events e_1 <= e_2 <= ...
    <= e_i exists with ``type(e_j) = steps[j]`` and non-decreasing
    timestamps (classic ordered funnel; a same-timestamp pair still
    counts in order). Two optional conversion windows, combinable:

    - ``within_ms``: each step must occur within that many milliseconds
      of the PREVIOUS step's event in the chain (per-step window).
    - ``whole_within_ms``: each step must occur within that many
      milliseconds of the chain's FIRST event (whole-funnel window, the
      common product-analytics definition).

    "Some chain" is the any-chain semantics: a user who retries an
    earlier step and then converts from the retry still counts.
    Returns one row per stage: ``(stage, step, users)``, ``stage``
    1-based; stages nobody reaches still emit a row with ``users = 0``.

    Implementation — two regimes:

    * Unwindowed: iterative conditional min-aggregation. Stage 1 is
      ``min(ts) FILTER (type = steps[0])`` per user; stage i equi-joins
      the stage-(i-1) reach time against the type-filtered event subset
      and takes ``min(ts) WHERE ts >= prev``. Greedy-min is exact ONLY
      here: with no window, taking the earliest valid occurrence can
      never cost a later completion.
    * Windowed (either window set): greedy-min UNDERCOUNTS (the
      earliest stage-(i-1) event also *starts* the conversion window
      earliest — a later retry may be the one that converts), so the
      recurrence tracks per-stage FEASIBLE EVENT SETS instead of one
      reach time: F_1 = all step-1 events; F_i = step-i events having
      some feasible step-(i-1) event in the window. Each row carries
      the MAX feasible chain-anchor time ``t0`` — exact, because
      feasibility of later steps depends only on the event's own
      timestamp, and the whole-funnel gate is monotone in ``t0``
      (a later anchor only relaxes it). Each pass is one equi-join on
      the user key over ONLY that step's events plus one
      partial-aggregatable groupBy.

    All per-stage user sets are union-tagged and counted in ONE
    aggregation job (not one job per stage), so Spark's exchange reuse
    keeps a k-step funnel linear, not O(k^2), in executed stages.

    The event log crosses the network exactly once: the step-filtered
    three-column projection is hash-partitioned by the user key up
    front (no explicit partition count — sized by
    spark.sql.shuffle.partitions and AQE-coalescible), and because the
    per-step distincts key on (user, t), the recurrence joins on user,
    and the per-step groupBys on user or (user, t) — all supersets of
    {user} — that one exchange, reused across every step branch,
    satisfies each of them and the whole recurrence runs shuffle-free
    on top of it. Filtering to the funnel's own event types BEFORE the
    exchange keeps the shuffled bytes equal to the per-step subsets the
    old per-step shuffles carried, not the whole stream.
    """
    if not steps:
        raise ValueError("funnel needs at least one step")
    u, t, ts = user_col, type_col, ts_col
    spark = events.sparkSession
    windowed = within_ms is not None or whole_within_ms is not None

    tcol = F.unix_millis(F.col(ts)) if windowed else F.col(ts)
    base = (
        events.where(F.col(t).isin(list(steps)))
        .select(F.col(u), F.col(t).alias("_step"), tcol.alias("_t"))
        .repartition(u)
        # Pushdown barrier: always-true, but non-deterministic, so
        # Catalyst may not push the per-step `_step =` filters across
        # it and down through the repartition (which would specialize
        # each branch's exchange subtree to its own scan filter and
        # defeat exchange reuse — measured: without this, every step
        # branch re-scans and re-shuffles its own slice). With the
        # barrier every branch's exchange subtree is canonically
        # identical, so AQE stage reuse runs ONE scan + ONE shuffle.
        # (rand() >= -1 does not work: Spark 4 folds provable rand
        # bounds.) Retry-safe: the predicate holds for every id, so
        # the row set is identical however tasks are replayed.
        #
        # The barrier also references ALL THREE projected columns via
        # the SIGN BIT of their xxhash64 (shiftright(hash, 63) is -1 or
        # 0; monotonically_increasing_id() is always >= 0, so the sum
        # is >= -1 for every row — the predicate stays always-true and
        # retry-safe): COLUMN pruning is not blocked by a
        # non-deterministic filter, so without this the stage-1
        # branch — whose consumer needs only (user, _step) — got its
        # own 2-column copy of the scan and exchange below the
        # barrier, and the "one scan, one shuffle" claim was off by
        # one (the r11 final plan showed two materialized
        # REPARTITION_BY_COL stages; the plan test pins the fixed
        # count). The sign-bit form is used instead of 0*hash because
        # Catalyst constant-folds a zero-weighted term away, which
        # silently re-enables the pruning.
        .where(
            (
                F.monotonically_increasing_id()
                + F.shiftright(
                    F.xxhash64(F.col(u), F.col("_step"), F.col("_t")), 63
                )
            )
            >= F.lit(-1).cast("long")
        )
    )

    stage_users: list[DataFrame] = []
    if not windowed:
        reach = (
            base.where(F.col("_step") == steps[0])
            .groupBy(u)
            .agg(F.min("_t").alias("t_reach"))
        )
        stage_users.append(reach.select(u))
        for step in steps[1:]:
            reach = (
                base.where(F.col("_step") == step)
                .join(reach.withColumnRenamed("t_reach", "t_prev"), u)
                .where(F.col("_t") >= F.col("t_prev"))
                .groupBy(u)
                .agg(F.min("_t").alias("t_reach"))
            )
            stage_users.append(reach.select(u))
    else:
        feas = (
            base.where(F.col("_step") == steps[0])
            .select(F.col(u), F.col("_t").alias("t"))
            .distinct()
            .withColumn("t0", F.col("t"))
        )
        stage_users.append(feas.select(u))
        for step in steps[1:]:
            ev = (
                base.where(F.col("_step") == step)
                .select(F.col(u), F.col("_t").alias("t_ev"))
                .distinct()
            )
            gate = F.col("t_ev") >= F.col("t")
            if within_ms is not None:
                gate = gate & (F.col("t_ev") <= F.col("t") + within_ms)
            if whole_within_ms is not None:
                gate = gate & (
                    F.col("t_ev") <= F.col("t0") + whole_within_ms
                )
            feas = (
                ev.join(feas, u)
                .where(gate)
                .groupBy(u, "t_ev")
                .agg(F.max("t0").alias("t0"))
                .withColumnRenamed("t_ev", "t")
            )
            stage_users.append(feas.select(u))

    tagged = [
        su.select(F.lit(i + 1).alias("stage"), F.col(u))
        for i, su in enumerate(stage_users)
    ]
    allu = tagged[0]
    for frame in tagged[1:]:
        allu = allu.unionAll(frame)
    # count_distinct dedups users inside the ONE aggregation, so the
    # windowed path needs no per-stage distinct shuffle (the greedy
    # path's frames are already user-unique — distinct-count is equal)
    counts = allu.groupBy("stage").agg(
        F.count_distinct(F.col(u)).alias("users")
    )
    spine = inline_table(
        spark, [(i + 1, s) for i, s in enumerate(steps)], "stage int, step string"
    )
    return (
        spine.join(counts, "stage", "left")
        .select(
            "stage",
            "step",
            F.coalesce(F.col("users"), F.lit(0).cast("bigint")).alias("users"),
        )
    )


def cohort_retention(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    granularity: str = "week",
) -> DataFrame:
    """Cohort retention triangle: users active N periods after signup.

    Cohort = ``date_trunc(granularity)`` of a user's FIRST event; offset
    = whole periods between the cohort period and each active period.
    Returns ``(cohort_ms, offset, users)`` where ``users`` counts
    distinct users from that cohort active at that offset (offset 0 is
    the cohort size). ``cohort_ms`` is the cohort period start as unix
    millis so both engines hash identically.

    Plan: first-event groupBy (user grain), equi-join back on user, then
    a (cohort, offset, user)-distinct groupBy — every stage partial-
    aggregates, and the widest shuffle carries (user, period) pairs, not
    raw events.
    """
    u, ts = user_col, ts_col
    ms = {"day": 86_400_000, "week": 604_800_000}[granularity]

    period = F.unix_millis(F.date_trunc(granularity, F.col(ts))).alias("p")
    active = events.select(F.col(u), period).distinct()
    first = active.groupBy(u).agg(F.min("p").alias("cohort_p"))
    return (
        active.join(first, u)
        .select(
            F.col("cohort_p").alias("cohort_ms"),
            # periods are exact date_trunc boundaries, so the difference
            # is an exact multiple of ms (exact in double, exact cast)
            ((F.col("p") - F.col("cohort_p")) / ms).cast("bigint").alias("offset"),
            F.col(u),
        )
        .groupBy("cohort_ms", "offset")
        .agg(F.count(F.lit(1)).alias("users"))
    )


def gap_fill(
    df: DataFrame,
    *,
    key_col: str,
    ts_col: str,
    value_col: str,
    step_s: int,
    max_buckets: int = 100_000,
    agg: Column | None = None,
    method: str = "locf",
) -> DataFrame:
    """Per-key time-series resample with gap interpolation.

    Buckets ``ts_col`` to ``step_s``-second epochs, aggregates
    ``value_col`` per (key, bucket) (default ``sum``), then emits EVERY
    bucket between each key's first and last observation, filling
    missing buckets per ``method``:

    - ``"locf"`` (default): forward fill — the last observed aggregate
      carries over (step-function semantics, right for counters/state).
    - ``"linear"``: linear interpolation between the surrounding
      observations (right for continuous measurements); by
      construction every gap is interior (the spine is bounded by each
      key's first/last observation), so no edge extrapolation arises.

    Returns ``(key, bucket_ms, value, filled)`` where ``filled`` marks
    rows synthesized by the fill.

    The bucket spine is built per key with ``sequence`` + ``explode`` —
    distributed, no driver-side calendar. ``max_buckets`` caps the
    per-key explode so one pathological key (a sensor with a 10-year
    span at 1 s steps) cannot produce a runaway partition; keys beyond
    the cap are truncated to their LAST ``max_buckets`` buckets (the
    recent window is the useful part of a runaway series). When the
    truncation point lands inside a gap, the leading spine rows have
    no preceding observation to fill from — those rows are DROPPED
    (never emitted with a NULL fill), so the contract "every emitted
    filled row carries a value" holds in the truncated case too. Either
    method is one key-partitioned window pass (linear uses the mirrored
    backward frame too — still a single sort, Spark shares the
    partitioning across both frames).
    """
    if method not in ("locf", "linear"):
        raise ValueError("method must be 'locf' or 'linear'")
    k = F.col(key_col)
    bucket = F.floor(F.unix_millis(F.col(ts_col)) / (step_s * 1000)).cast("bigint")
    # the value column keeps its caller-facing name here, so a custom
    # ``agg`` references it as written (e.g. F.avg(value_col))
    observed = (
        df.select(k.alias("key"), bucket.alias("b"), F.col(value_col))
        .groupBy("key", "b")
        .agg((agg if agg is not None else F.sum(value_col)).alias("value"))
    )
    span = observed.groupBy("key").agg(
        F.greatest(F.min("b"), F.max("b") - F.lit(max_buckets - 1)).alias("lo"),
        F.max("b").alias("hi"),
    )
    spine = span.select(
        "key", F.explode(F.sequence("lo", "hi")).alias("b")
    )
    wb = (
        Window.partitionBy("key")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    joined = spine.join(observed, ["key", "b"], "left").withColumn(
        "filled", F.col("value").isNull()
    )
    if method == "locf":
        joined = joined.withColumn(
            "value", F.last("value", ignorenulls=True).over(wb)
        )
    else:
        wf = (
            Window.partitionBy("key")
            .orderBy("b")
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        ob = F.when(F.col("value").isNotNull(), F.col("b"))
        pv = F.last("value", ignorenulls=True).over(wb)
        pb = F.last(ob, ignorenulls=True).over(wb)
        nv = F.first("value", ignorenulls=True).over(wf)
        nb = F.first(ob, ignorenulls=True).over(wf)
        joined = joined.withColumn(
            "value",
            F.when(~F.col("filled"), F.col("value")).otherwise(
                pv + (nv - pv) * (F.col("b") - pb) / (nb - pb)
            ),
        )
    return joined.where(
        # only truncation can strand a synthesized row before the first
        # retained observation (the spine is bounded by observed buckets
        # otherwise); observed rows pass even if a custom agg yields NULL
        ~(F.col("filled") & F.col("value").isNull())
    ).select(
        "key", (F.col("b") * step_s * 1000).alias("bucket_ms"), "value", "filled"
    )


def rolling_zscore(
    df: DataFrame,
    *,
    key_col: str,
    ts_col: str,
    value_col: str,
    window: int = 20,
    value_scale: int = 100,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Per-key rolling z-score anomaly signal.

    For each row, z = (v - mean) / std over the PREVIOUS ``window``
    observations of the same key (the row itself excluded, so a spike
    cannot mask itself). Returns ``(key, ts_ms, value, z)`` with z
    rounded to 6 places. z is NULL when the history carries no scale
    information: fewer than 2 predecessors, OR a zero-variance
    (flatlined) history — division by a zero std is engine- and
    version-dependent (NULL vs ±Inf vs NaN), so it is pinned to NULL
    on both sides; treat "NULL z with n >= 2" as "flatline broke",
    which IS the anomaly signal for constant series.

    ``order_cols`` defaults to the timestamp alone; if a key can carry
    two rows with the same timestamp, pass a unique tiebreaker (e.g.
    ``[ts_col, "event_id"]``) — otherwise the window order, and thus
    every z, is nondeterministic.

    Numeric determinism: the rolling sums are computed over
    ``value_scale``-scaled LONGS (exact integer arithmetic — immune to the
    engines' different sliding-window summation orders, e.g. segment
    trees vs running sums), and mean/variance derive from those exact
    sums in one double expression:

        var = (ss - s^2/n) / (n - 1)   over scaled units

    One shuffle on the key; the window is key-partitioned (millions of
    small groups at scale, never a global sort).
    """
    order_cols = order_cols or [ts_col]
    sv = F.round(F.col(value_col) * value_scale).cast("bigint")
    w = (
        Window.partitionBy(key_col)
        .orderBy(*order_cols)
        .rowsBetween(-window, -1)
    )
    # count NON-NULL values (not rows): a NULL measurement contributes to
    # neither s nor ss, so letting it inflate n would bias mean/variance
    # for the following `window` rows
    n = F.count(sv).over(w).cast("double")
    s = F.sum(sv).over(w).cast("double")
    ss = F.sum(sv * sv).over(w).cast("double")
    var = (ss - s * s / n) / (n - 1)
    z = (F.col(value_col) * value_scale - s / n) / F.sqrt(var)
    # var > 0 also absorbs the tiny-negative double-rounding case
    # (sqrt of which would be NaN)
    return df.select(
        F.col(key_col).alias("key"),
        F.unix_millis(F.col(ts_col)).alias("ts_ms"),
        F.col(value_col).alias("value"),
        F.round(F.when((n >= 2) & (var > 0), z), 6).alias("z"),
    )


def event_transitions(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    order_cols: list[str] | None = None,
) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams.

    Orders each user's events (by ``order_cols``, default the
    timestamp), pairs each event with its successor via ``lead``, and
    returns ``(from_type, to_type, pairs, prob)`` where ``prob`` is the
    row-normalized transition probability (rounded to 6 places; exact
    long division, deterministic).

    As with :func:`rolling_zscore`, the default timestamp-only order is
    only deterministic when (user, ts) is unique — pass a tiebreaker
    (e.g. ``[ts_col, "event_id"]``) when it is not, or the pair counts
    become run- and engine-dependent.

    One shuffle on the user key for the lead window, then a
    map-combinable (from, to) count and an O(#types) normalization
    join — the transition matrix itself is vocabulary-sized.
    """
    order_cols = order_cols or [ts_col]
    w = Window.partitionBy(user_col).orderBy(*order_cols)
    pairs = (
        events.select(
            F.col(type_col).alias("from_type"),
            F.lead(type_col).over(w).alias("to_type"),
        )
        .where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("pairs"))
    )
    totals = pairs.groupBy("from_type").agg(F.sum("pairs").alias("total"))
    return (
        pairs.join(F.broadcast(totals), "from_type")
        .select(
            "from_type",
            "to_type",
            "pairs",
            F.round(F.col("pairs") / F.col("total"), 6).alias("prob"),
        )
    )


def ewma(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    value_col: str,
    *,
    alpha: float = 0.3,
    window: int = 8,
    out_col: str = "ewma",
) -> DataFrame:
    """Exponentially-weighted moving average over the last ``window``
    observations per key: ``ewma_i = sum_k (1-a)^k x_{i-k} / sum_k
    (1-a)^k`` over the rows that exist (k = 0..window-1) — the bounded
    form of the classic recurrence used in monitoring/trend smoothing.
    Truncating at ``window`` rows is what makes the operator
    distributed-exact: contributions beyond W carry weight (1-a)^W
    (< 0.6 % for the defaults), and an unbounded recurrence would force
    either a sequential per-key scan or exploding (1-a)^-i rescaling.

    The weighted sum is an explicit lag chain evaluated in one window
    pass — fixed left-to-right addition order, so any SQL engine
    replays the doubles bit-for-bit (:func:`ewma_oracle_sql`). Rows
    with NULL ``value_col`` contribute to neither numerator nor
    denominator. Output is rounded to 6 dp.

    Scale: ONE shuffle on the key; no self-joins, no per-group
    single-task collapse (windows partition by key).
    """
    if not 0.0 < alpha < 1.0:
        raise ValueError("alpha must be in (0, 1)")
    if window < 1:
        raise ValueError("window must be >= 1")
    w = Window.partitionBy(key_col).orderBy(*order_cols)
    num: Column | None = None
    den: Column | None = None
    for k in range(int(window)):
        wk = (1.0 - alpha) ** k
        xk = (
            F.col(value_col)
            if k == 0
            else F.lag(F.col(value_col), k).over(w)
        )
        num_k = F.coalesce(xk * F.lit(wk), F.lit(0.0))
        den_k = F.when(xk.isNotNull(), F.lit(wk)).otherwise(F.lit(0.0))
        num = num_k if num is None else num + num_k
        den = den_k if den is None else den + den_k
    return df.withColumn(
        out_col,
        F.round(F.when(den > 0.0, num / den).otherwise(F.lit(None)), 6),
    )


def ewma_oracle_sql(
    source_sql: str,
    key_col: str,
    order_sql: str,
    value_col: str,
    *,
    alpha: float = 0.3,
    window: int = 8,
    select_cols: str = "*",
) -> str:
    """DuckDB oracle for :func:`ewma`: the identical lag chain with the
    identical double literals (``repr`` of the same Python floats Spark
    compiled in), same addition order."""
    over = f"OVER (PARTITION BY {key_col} ORDER BY {order_sql})"
    nums, dens = [], []
    for k in range(int(window)):
        wk = repr((1.0 - alpha) ** k)
        xk = value_col if k == 0 else f"lag({value_col}, {k}) {over}"
        nums.append(f"coalesce(({xk}) * {wk}, 0.0)")
        dens.append(f"CASE WHEN ({xk}) IS NOT NULL THEN {wk} ELSE 0.0 END")
    num = " + ".join(nums)
    den = " + ".join(dens)
    return (
        f"SELECT {select_cols},"
        f" round(CASE WHEN ({den}) > 0.0 THEN ({num}) / ({den}) END, 6)"
        f" AS ewma FROM ({source_sql})"
    )


def rfm(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    value_col: str,
    *,
    buckets: int = 5,
) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary): collapse
    events to user grain, score each dimension into ``buckets``
    equal-population bins by GLOBAL rank, and compose the classic
    ``rfm`` code (recency*100 + frequency*10 + monetary for the
    default 5 buckets) — the standard base segmentation for lifecycle
    analytics.

    Determinism + scale: monetary sums are exact cent-longs (no float
    accumulation); all three dimensions are ranked in ONE fused range
    exchange by :func:`...ordering.rank_many` — the melted
    (metric, value, user) long frame is range-partitioned once, ranked
    with per-metric broadcast offsets, and pivoted back (the r4 plan
    audit measured the previous three sequential rank_by passes at 58
    exchanges; this is two shuffles of narrow rows regardless of
    metric count), with the user id as tie-break; bucket =
    ``rank * buckets div n`` in pure integer arithmetic (replayable as
    SQL ``//``) + an O(1) broadcast count.

    Returns (user, last_ms, frequency, monetary, r_score, f_score,
    m_score, rfm); scores are 1..buckets, higher = more recent / more
    active / higher spend.
    """
    from kafka_streams_plumber_spark.operators.ordering import rank_many

    u = df.groupBy(F.col(user_col).alias("user")).agg(
        F.max(F.unix_millis(F.col(ts_col))).alias("last_ms"),
        F.count("*").cast("long").alias("frequency"),
        F.sum(F.round(F.col(value_col) * 100).cast("long")).alias("_cents"),
    )
    ranks = rank_many(
        u, ["last_ms", "frequency", "_cents"], "user", rank_suffix="_rank"
    ).select(
        "user",
        F.col("last_ms_rank").alias("_last_ms_rank"),
        F.col("frequency_rank").alias("_frequency_rank"),
        F.col("_cents_rank").alias("__cents_rank"),
    )
    u = u.join(ranks, "user")
    total = u.groupBy().count().select(F.col("count").alias("_n"))
    u = u.crossJoin(F.broadcast(total))

    def score(rank_col: str) -> Column:
        return (
            F.expr(f"({rank_col} * {int(buckets)}) div _n").cast("int") + 1
        )

    return u.select(
        "user",
        "last_ms",
        "frequency",
        (F.col("_cents").cast("double") / 100).alias("monetary"),
        score("_last_ms_rank").alias("r_score"),
        score("_frequency_rank").alias("f_score"),
        score("__cents_rank").alias("m_score"),
        (
            score("_last_ms_rank") * 100
            + score("_frequency_rank") * 10
            + score("__cents_rank")
        ).alias("rfm"),
    )


def active_user_metrics(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    *,
    window_days: int = 7,
) -> DataFrame:
    """DAU / WAU / stickiness per observed day — the product-health
    triple. ``wau(d)`` counts distinct users active in the trailing
    ``window_days`` ending at d; ``stickiness = dau/wau`` (the classic
    DAU/MAU shape, window configurable).

    The sliding DISTINCT is the scale trap here: a naive
    per-day-window count re-scans the event table per day. Instead the
    event table collapses ONCE to (user, epoch-day) grain, and each
    grain row fans out to the ``window_days`` day-windows it makes
    active — a bounded explode (x window_days of the GRAIN, not the
    events) followed by two map-combinable distinct aggregates. Ghost
    days (inside some window but with no activity of their own) are
    dropped by an equi-join against the observed-day set.

    Epoch-day arithmetic (floor(ms/86400000)) keeps the bucketing
    engine-exact; output: (day, dau, wau, stickiness).
    """
    day = F.floor(F.unix_millis(F.col(ts_col)) / 86400000).cast("long")
    ud = df.select(F.col(user_col).alias("u"), day.alias("day")).distinct()
    dau = ud.groupBy("day").agg(F.count("*").cast("long").alias("dau"))
    fan = ud.select(
        "u",
        F.explode(
            F.sequence(F.col("day"), F.col("day") + (int(window_days) - 1))
        ).alias("day"),
    ).distinct()
    wau = (
        fan.join(dau.select("day"), "day")
        .groupBy("day")
        .agg(F.count("*").cast("long").alias("wau"))
    )
    return (
        dau.join(wau, "day")
        .select(
            "day",
            "dau",
            "wau",
            F.round(F.col("dau") / F.col("wau").cast("double"), 6).alias(
                "stickiness"
            ),
        )
    )


def next_event_pairs(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    event_col: str,
    *,
    context: int = 3,
    sep: str = ">",
) -> DataFrame:
    """Next-event-prediction training pairs: for every event, the
    concatenation of the previous ``context`` events (oldest first) as
    the model context and the current event as the target.

    This is the sequence-dataset constructor for behavioral/session
    models (the event-stream analog of next-token pairs). One window
    pass per key — lag chains, no self-joins — and the context is a
    single delimited string column so the output stays scalar-grain
    (shardable, hashable, oracle-friendly). Rows with no predecessor
    are dropped (no partial contexts shorter than 1).

    At scale: a single shuffle on ``key_col``; per-key state is the
    ``context`` lag registers inside one window, so a hot key costs
    its own event count, never a cross-join.
    """
    w = Window.partitionBy(key_col).orderBy(*order_cols)
    lags = [
        F.lag(F.col(event_col), i).over(w) for i in range(context, 0, -1)
    ]
    # concat_ws skips NULL slots in Spark AND standard SQL engines, so
    # short histories yield short contexts with no empty separators
    ctx = F.concat_ws(sep, *lags)
    return (
        df.select(
            F.col(key_col),
            *[F.col(c) for c in order_cols],
            F.col(event_col).alias("target"),
            ctx.alias("context"),
            F.lag(F.col(event_col), 1).over(w).alias("_prev"),
        )
        .filter(F.col("_prev").isNotNull())
        .drop("_prev")
    )


def survival_curve(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    *,
    censor_window_days: int = 7,
) -> DataFrame:
    """Kaplan-Meier retention/survival estimate over event streams —
    the churn curve: S(t) = P(user still active after t days of
    tenure).

    Per user: tenure = last-event day - first-event day. Users whose
    last event falls within ``censor_window_days`` of the corpus's
    final day are CENSORED at their observed tenure (they may still be
    active — treating them as churned would bias S(t) down, the
    classic mistake KM exists to fix). Then the standard product-limit
    estimator: at tenure day t with n_t users at risk and d_t churn
    events, S(t) = prod_{s<=t} (1 - d_s / n_s).

    Scale shape: ONE user-grain aggregate (map-combinable min/max) —
    the only shuffle proportional to data — then all KM arithmetic
    runs on the O(distinct tenure days) frame: at-risk counts via an
    explicit-ROWS running sum and the running product as
    exp(running sum of ln terms), whose strictly ordered evaluation
    makes the doubles engine-exact. Output: (t, at_risk, churned,
    censored, surv).
    """
    day = F.floor(F.unix_millis(F.col(ts_col)) / F.lit(86400000)).cast("long")
    users = df.groupBy(key_col).agg(
        F.min(day).alias("_d0"), F.max(day).alias("_d1")
    )
    horizon = users.agg(F.max("_d1").alias("_dmax"))
    u = users.crossJoin(F.broadcast(horizon)).select(
        (F.col("_d1") - F.col("_d0")).alias("t"),
        (F.col("_d1") > F.col("_dmax") - censor_window_days).alias("_cens"),
    )
    per_day = u.groupBy("t").agg(
        F.sum(F.when(~F.col("_cens"), 1).otherwise(0)).alias("churned"),
        F.sum(F.when(F.col("_cens"), 1).otherwise(0)).alias("censored"),
    )
    total = per_day.agg(
        F.sum(F.col("churned") + F.col("censored")).alias("_n")
    )
    w = (
        Window.orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wcur = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    frame = per_day.crossJoin(F.broadcast(total)).withColumn(
        "at_risk",
        F.col("_n")
        - F.coalesce(
            F.sum(F.col("churned") + F.col("censored")).over(w), F.lit(0)
        ),
    )
    # a day that churns EVERY remaining at-risk user drives S to exactly
    # 0 — ln(0) is NULL in Spark (non-ANSI) and -inf elsewhere, so the
    # zero is pinned explicitly; such a day is necessarily the last row
    # (no users with longer tenure can exist past it)
    dead = F.col("churned") == F.col("at_risk")
    ln_term = F.when(
        ~dead,
        F.log(F.lit(1.0) - F.col("churned") / F.col("at_risk").cast("double")),
    )
    out = frame.withColumn(
        "surv",
        F.when(
            F.max(dead).over(wcur), F.lit(0.0)
        ).otherwise(F.round(F.exp(F.sum(ln_term).over(wcur)), 6)),
    )
    return out.select("t", "at_risk", "churned", "censored", "surv")


def render_dialogues(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    token_col: str,
    *,
    open_tag: str = "<|",
    close_tag: str = "|>",
) -> DataFrame:
    """Render each key's ordered event stream into ONE training string
    — the sequence-construction step of an SFT/behavioral-cloning
    export: ``<|view|><|click|><|purchase|>...``.

    Determinism is the whole game: ``collect_list`` order is
    partition-dependent, so the collected structs carry the order
    columns and ``array_sort`` imposes the total (order_cols must end
    in a unique key) BEFORE the join — identical output on any engine,
    any partitioning, any retry. One shuffle on ``key_col``; a key's
    string is proportional to its own event count (inherent to
    sequence construction — the group must materialize somewhere).

    Output: (key, dialogue, n_turns) — scalar grain.
    """
    struct_cols = [F.col(c) for c in order_cols] + [
        F.col(token_col).alias("_tok")
    ]
    agg = df.groupBy(key_col).agg(
        F.array_sort(F.collect_list(F.struct(*struct_cols))).alias("_seq")
    )
    rendered = F.array_join(
        F.transform(
            F.col("_seq"),
            lambda s: F.concat(
                F.lit(open_tag), s["_tok"], F.lit(close_tag)
            ),
        ),
        "",
    )
    return agg.select(
        F.col(key_col),
        rendered.alias("dialogue"),
        F.size("_seq").cast("long").alias("n_turns"),
    )


def association_rules(
    df: DataFrame,
    key_col: str = "user_id",
    item_col: str = "event_type",
    *,
    min_pair_count: int = 1,
) -> DataFrame:
    """Market-basket association rules over per-key item sets: for every
    directed item pair (a -> b) co-occurring in at least
    ``min_pair_count`` baskets, returns
    ``(antecedent, consequent, n_both, n_ante, n_cons, support,
    confidence, lift)`` — ``support = P(a,b)``, ``confidence = P(b|a)``,
    ``lift = P(b|a) / P(b)`` over the basket (key) universe.

    The behavioral companion to collocate.pmi_bigrams: PMI measures
    within-document adjacency, this measures across-event-stream
    co-occurrence ("users who did X also did Y") — the standard
    cross-sell / next-action mining primitive, and in a training-data
    pipeline the label-co-occurrence probe that flags leaky or redundant
    event vocabularies.

    Scale design: baskets collapse to the distinct (key, item) grain
    first (one map-combinable distinct), so the self-join fan-out per
    key is |basket|^2 <= |item domain|^2 — bounded by the item
    vocabulary (event types, categories), never by event volume. Item
    supports are one aggregate broadcast back onto the O(items^2) pair
    frame; the basket-universe count rides the same broadcast. All
    ratios are single double divisions of exact longs (6 dp).
    """
    basket = df.select(
        F.col(key_col).alias("_k"), F.col(item_col).alias("_i")
    ).distinct()
    n_keys = basket.agg(F.countDistinct("_k").alias("_nk"))
    item_n = basket.groupBy("_i").agg(F.count(F.lit(1)).alias("_ni"))

    a, b = basket.alias("a"), basket.alias("b")
    pairs = (
        a.join(b, (F.col("a._k") == F.col("b._k")) & (F.col("a._i") != F.col("b._i")))
        .groupBy(F.col("a._i").alias("_ia"), F.col("b._i").alias("_ib"))
        .agg(F.count(F.lit(1)).alias("n_both"))
        .where(F.col("n_both") >= int(min_pair_count))
    )
    out = (
        pairs.join(
            F.broadcast(item_n.withColumnRenamed("_i", "_ia").withColumnRenamed("_ni", "n_ante")),
            "_ia",
        )
        .join(
            F.broadcast(item_n.withColumnRenamed("_i", "_ib").withColumnRenamed("_ni", "n_cons")),
            "_ib",
        )
        .crossJoin(F.broadcast(n_keys))
    )
    conf = F.col("n_both") / F.col("n_ante")
    return out.select(
        F.col("_ia").alias("antecedent"),
        F.col("_ib").alias("consequent"),
        "n_both",
        "n_ante",
        "n_cons",
        F.round(F.col("n_both") / F.col("_nk"), 6).alias("support"),
        F.round(conf, 6).alias("confidence"),
        F.round(conf / (F.col("n_cons") / F.col("_nk")), 6).alias("lift"),
    )


def forecast_baseline_error(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    *,
    season: int,
    step_s: int = 3600,
    value_scale: int = 10**6,
) -> DataFrame:
    """Seasonal-naive forecast-error report (MASE) per key: bucket the
    series into ``step_s``-second bins, forecast each bin with the bin
    one SEASON back (e.g. season=24 on hourly bins = "same hour
    yesterday") and with the bin one STEP back (the naive baseline),
    and return per key
    ``(key, n_buckets, n_naive, n_seasonal, mae_naive, mae_seasonal,
    mase)`` where ``mase = mae_seasonal / mae_naive``.

    The metric-stream QA gate: mase >> 1 means yesterday's-same-hour
    explains the series WORSE than the last observation — seasonality
    broke (deploy, outage, bot flood); mase << 1 confirms strong
    seasonality worth modeling. Also the honest floor every fancy
    forecaster must beat (Hyndman & Koehler 2006).

    Exactness: bucket values are scaled-long sums (``value_scale`` micro
    units), errors are abs-diffs of longs, and each MAE/MASE is a
    fixed-order double division of exact integers — engine-replayable.
    Missing buckets are truly missing: the seasonal/naive counterpart
    comes from an equi-join on the exact bucket key minus the offset,
    not a row lag, so a gap never silently shifts the comparison.

    Scale design: one map-combinable (key, bucket) aggregate collapses
    events; both baselines are 8+8-byte equi-joins of that bucket frame
    to itself; the final rollup is O(keys). No windows, no gap-fill
    scan.
    """
    bucket = (
        F.floor(F.unix_millis(F.col(ts_col)) / (step_s * 1000))
        .cast("long")
        .alias("_b")
    )
    sv = F.round(F.col(value_col) * value_scale, 0).cast("long")
    binned = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(F.col(key_col).alias("_k"), bucket)
        .agg(F.sum(sv).alias("_v"))
    )

    cur = binned.alias("c")
    base1 = binned.select(
        F.col("_k"), (F.col("_b") + 1).alias("_b"), F.col("_v").alias("_v1")
    ).alias("p1")
    bases = binned.select(
        F.col("_k"),
        (F.col("_b") + season).alias("_b"),
        F.col("_v").alias("_vs"),
    ).alias("ps")
    joined = cur.join(base1, ["_k", "_b"], "left").join(
        bases, ["_k", "_b"], "left"
    )

    e1 = F.abs(F.col("_v") - F.col("_v1"))
    es = F.abs(F.col("_v") - F.col("_vs"))
    agg = joined.groupBy("_k").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.count("_v1").alias("n_naive"),
        F.count("_vs").alias("n_seasonal"),
        F.sum(e1).alias("_s1"),
        F.sum(es).alias("_ss"),
    )
    mae1 = F.col("_s1") / F.nullif(F.col("n_naive"), F.lit(0)) / value_scale
    maes = F.col("_ss") / F.nullif(F.col("n_seasonal"), F.lit(0)) / value_scale
    return agg.select(
        F.col("_k").alias(key_col),
        "n_buckets",
        "n_naive",
        "n_seasonal",
        F.round(mae1, 6).alias("mae_naive"),
        F.round(maes, 6).alias("mae_seasonal"),
        F.round(maes / F.nullif(mae1, F.lit(0.0)), 6).alias("mase"),
    )


def cusum(
    df: DataFrame,
    order_cols: list,
    value_col: str,
    *,
    target: float,
    slack: float = 0.0,
    threshold: float | None = None,
    value_scale: int = 10**6,
    out_col: str = "cusum",
) -> DataFrame:
    """One-sided (upper) CUSUM control chart over a globally-ordered
    series: ``S_i = max(0, S_{i-1} + x_i - target - slack)`` — the
    classic change-point detector for data-quality drift (daily volume,
    null-rate, mean score creeping up). EWMA (:func:`ewma`) smooths;
    CUSUM ACCUMULATES, so it catches small persistent shifts the
    smoother hides. For a lower-side chart, negate the values and the
    target.

    Adds ``out_col`` (6 dp) and — when ``threshold`` is given —
    ``alarm`` (S > threshold). Pass a unique tiebreak in ``order_cols``
    for a total order.

    Scale design: the sequential recurrence looks undistributable, but
    it has the prefix closed form ``S_i = P_i - min(0, min_{j<=i} P_j)``
    with ``P`` the running sum of ``x - target - slack`` — so it rides
    ONE fused ordering.running_agg pass (``sum`` + ``min_of_sum`` of
    the same scaled deltas share a single range exchange + O(P)-offset
    table — r6 stacked running_total then running_min, range-
    partitioning the identical keys twice). No unpartitioned window,
    no sequential scan. Values are scaled longs, both prefixes are
    exact-integer, the one division happens at output — SQL replays
    every S and every alarm decision bit-for-bit.

    The target/slack/threshold constants are quantized HALF_UP
    (decimal.Decimal), matching F.round's row-value scaling and the
    SQL oracle — Python's round() banker's-rounding would shift every
    step by one scaled unit when (target+slack)*value_scale lands exactly
    on .5.
    """
    from decimal import ROUND_HALF_UP, Decimal

    from kafka_streams_plumber_spark.operators.ordering import running_agg

    def _half_up(x: float) -> int:
        return int(
            (Decimal(str(float(x))) * value_scale).quantize(
                Decimal("1"), rounding=ROUND_HALF_UP
            )
        )

    k = _half_up(float(target) + float(slack))
    d = df.withColumn(
        "_d",
        F.round(F.col(value_col).cast("double") * value_scale, 0).cast("long")
        - F.lit(k),
    )
    m = running_agg(
        d,
        order_cols,
        [("sum", "_d", "_P"), ("min_of_sum", "_d", "_mn")],
    )
    s_scaled = F.col("_P") - F.least(F.col("_mn"), F.lit(0).cast("long"))
    out = m.withColumn(out_col, F.round(s_scaled / value_scale, 6))
    if threshold is not None:
        out = out.withColumn("alarm", s_scaled > F.lit(_half_up(threshold)))
    return out.drop("_d", "_P", "_mn")


def page_hinkley(
    df: DataFrame,
    order_cols: list,
    value_col: str,
    *,
    delta: float = 0.0,
    threshold: float | None = None,
    value_scale: int = 10**6,
    out_col: str = "ph",
) -> DataFrame:
    """Page-Hinkley change detector (the Gama-et-al streaming form)
    over a globally-ordered series: with ``U_t = sum_{s<=t} (x_s -
    mean_s - delta)`` where ``mean_s`` is the RUNNING mean of the
    first s values, ``PH_t = U_t - min_{s<=t} U_s``; alarm when PH
    exceeds ``threshold``. :func:`cusum`'s adaptive-baseline sibling:
    CUSUM needs a known in-control target, Page-Hinkley estimates the
    baseline from the stream itself — the right detector when nobody
    can say what "normal" volume is, only that it shifted. ``delta``
    is the tolerated drift per step.

    Adds ``out_col`` (6 dp) and — when ``threshold`` is given —
    ``alarm``. Pass a unique tiebreak in ``order_cols``.

    Exactness: values are scaled longs, so the prefix sum P_t is
    exact; the per-row term quantizes ``x_t - P_t/t - delta`` back to
    a scaled long with one HALF_UP round of a fixed-shape double
    expression (both engines compute the identical IEEE division and
    round); U and its prefix-min are then exact integers again. The
    one remaining division happens at output — SQL replays every PH
    and every alarm bit-for-bit.

    Scale design: TWO fused :func:`~kafka_streams_plumber_spark.
    operators.ordering.running_agg` passes on the same keys — pass 1
    carries the prefix sum AND the 1-based ordinal (for the running
    mean), pass 2 carries U's prefix sum AND its prefix-min
    (``min_of_sum``) in one range exchange. The two passes are
    inherently sequential (the second's input is a function of the
    first's output); nothing else shuffles.
    """
    from decimal import ROUND_HALF_UP, Decimal

    from kafka_streams_plumber_spark.operators.ordering import running_agg

    d = df.withColumn(
        "_xs",
        F.round(F.col(value_col).cast("double") * value_scale, 0).cast("long"),
    )
    p1 = running_agg(
        d, order_cols, [("sum", "_xs", "_P")], pos_col="_pos"
    )
    k_delta = float(delta) * value_scale  # double literal, replayed verbatim
    term = F.round(
        F.col("_xs").cast("double")
        - F.col("_P").cast("double") / (F.col("_pos") + 1).cast("double")
        - F.lit(k_delta),
        0,
    ).cast("long")
    t = p1.withColumn("_t", term)
    p2 = running_agg(
        t,
        order_cols,
        [("sum", "_t", "_U"), ("min_of_sum", "_t", "_M")],
    )
    ph_scaled = F.col("_U") - F.col("_M")
    out = p2.withColumn(out_col, F.round(ph_scaled / value_scale, 6))
    if threshold is not None:
        thr = int(
            (Decimal(str(float(threshold))) * value_scale).quantize(
                Decimal("1"), rounding=ROUND_HALF_UP
            )
        )
        out = out.withColumn("alarm", ph_scaled > F.lit(thr))
    return out.drop("_xs", "_P", "_pos", "_t", "_U", "_M")


def seasonal_decompose(
    df: DataFrame,
    index_col: str,
    value_col: str,
    *,
    period: int,
    group_cols: list[str] | None = None,
    k: float = 3.5,
    consistency: float = 1.4826,
) -> DataFrame:
    """STL-lite robust seasonal decomposition over a bucketed series —
    the seasonality-AWARE anomaly detector that complements
    :func:`cusum`'s mean-shift chart: a Sunday volume dip is normal, a
    Sunday-sized dip on a Tuesday is an anomaly, and CUSUM/EWMA can't
    tell them apart because they model one global level.

    ``index_col`` must be an integer bucket index with a meaningful
    modulus (epoch days for day-of-week with ``period=7``, hours for
    hour-of-day with ``period=24``). Adds per row:

    - ``phase`` = index mod period (non-negative);
    - ``seasonal`` — the phase's median value (robust: one broken
      week cannot shift a weekday's baseline the way a mean would);
    - ``level`` — the global median of the deseasonalized series;
    - ``residual`` = value - seasonal - level (6 dp);
    - ``robust_z`` = residual / (consistency * MAD(residual)) (6 dp;
      NULL when MAD is 0);
    - ``anomaly`` = |residual| > k * consistency * MAD — in a
      zero-MAD series ANY nonzero residual is flagged (the mad_outliers
      limit convention: for a near-constant deseasonalized feed, any
      drift is anomalous).

    NULL values or indexes are dropped (they have no phase).

    ``group_cols`` runs one INDEPENDENT decomposition per group in the
    same plan — the fleet form for monitoring many feeds at once
    (seasonal/level/MAD all computed per group; a quiet feed's weekend
    dip never calibrates a busy one).

    Exactness: both medians and the MAD are exact interpolated
    percentiles (the q_robust parity device — Spark ``percentile`` and
    DuckDB ``median``/``quantile_cont`` interpolate identically);
    every arithmetic step is a fixed-shape double expression rounded
    once at output, so SQL replays values, z and every flag
    bit-for-bit.

    Scale design: one map-combinable groupBy to the O(groups x period)
    phase grain broadcast back, two per-group median aggregates over
    the (already bucketed) series — O(groups)-row frames joined back
    under AQE broadcast — and pure column math in between. No
    self-joins, no windows, no Python. The DISTINCT-VALUES bound of
    exact ``percentile`` is per (group, phase) — fine on the bucketed
    grain this operator is for; pre-aggregate raw events to buckets
    first (as any calendar decomposition requires).
    """
    assert period >= 2
    groups = list(group_cols or [])
    v = F.col(value_col).cast("double")
    base = df.where(
        v.isNotNull() & F.col(index_col).isNotNull()
    ).withColumn("phase", F.pmod(F.col(index_col), F.lit(period)))
    seas = base.groupBy(*groups, "phase").agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("seasonal")
    )
    d = base.join(F.broadcast(seas), [*groups, "phase"]).withColumn(
        "_d", v - F.col("seasonal")
    )
    if groups:
        lev = d.groupBy(*groups).agg(
            F.expr("percentile(_d, 0.5)").alias("level")
        )
        r = d.join(F.broadcast(lev), groups).withColumn(
            "_r", F.col("_d") - F.col("level")
        )
        mad = r.groupBy(*groups).agg(
            F.expr("percentile(abs(_r), 0.5)").alias("_mad")
        )
        out = r.join(F.broadcast(mad), groups)
    else:
        lev = d.agg(F.expr("percentile(_d, 0.5)").alias("level"))
        r = d.crossJoin(F.broadcast(lev)).withColumn(
            "_r", F.col("_d") - F.col("level")
        )
        mad = r.agg(F.expr("percentile(abs(_r), 0.5)").alias("_mad"))
        out = r.crossJoin(F.broadcast(mad))
    z = F.col("_r") / F.nullif(
        F.lit(consistency) * F.col("_mad"), F.lit(0.0)
    )
    return (
        out.withColumn("residual", F.round(F.col("_r"), 6))
        .withColumn("robust_z", F.round(z, 6))
        .withColumn(
            "anomaly",
            F.abs(F.col("_r"))
            > F.lit(k * consistency) * F.col("_mad"),
        )
        .drop("_d", "_r", "_mad")
    )


def seasonal_strength(
    df: DataFrame,
    index_col: str,
    value_col: str,
    *,
    period: int,
    group_cols: list[str] | None = None,
    value_scale: int = 10**6,
) -> DataFrame:
    """Seasonal-strength measure (Hyndman's F_s) over a bucketed
    series: ``F_s = max(0, 1 - Var(residual) / Var(seasonal +
    residual))`` from the :func:`seasonal_decompose` components — the
    gate that says whether the weekly/daily pattern is REAL before
    anyone trusts seasonality-aware anomaly flags (F_s near 0: no
    seasonality, use :func:`cusum`/:func:`page_hinkley`; near 1:
    strongly seasonal, q_stl-style flags are meaningful).

    One row (per group with ``group_cols``): ``(n_buckets, strength)``
    6 dp; NULL when the detrended series is constant.

    Exactness: the decomposition's seasonal/residual are the exact-
    percentile components (both engines interpolate identically);
    variances use the population integer kernel ``n*Q - T^2`` over
    scaled longs, so the ratio is exact up to one double division —
    SQL replays bit-for-bit.

    Scale design: :func:`seasonal_decompose`'s plan plus ONE
    map-combinable moments aggregate; nothing new shuffles.
    """
    groups = list(group_cols or [])
    d = seasonal_decompose(
        df, index_col, value_col, period=period, group_cols=group_cols
    )
    # detrended = seasonal-centered + residual; residual already 6 dp
    sr = (
        F.col(value_col).cast("double") - F.col("level")
    )  # seasonal + residual
    s = d.select(
        *groups,
        F.round(sr * value_scale, 0).cast("long").alias("_sr"),
        F.round(F.col("residual") * value_scale, 0).cast("long").alias("_r"),
    )
    agg = s.groupBy(*groups).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("_n"),
        F.sum("_r").cast("decimal(38,0)").alias("_tr"),
        F.sum(
            F.col("_r").cast("decimal(19,0)") * F.col("_r").cast("decimal(19,0)")
        ).alias("_qr"),
        F.sum("_sr").cast("decimal(38,0)").alias("_ts"),
        F.sum(
            F.col("_sr").cast("decimal(19,0)")
            * F.col("_sr").cast("decimal(19,0)")
        ).alias("_qs"),
    )
    vr = (F.col("_n") * F.col("_qr") - F.col("_tr") * F.col("_tr")).cast(
        "double"
    )
    vs = (F.col("_n") * F.col("_qs") - F.col("_ts") * F.col("_ts")).cast(
        "double"
    )
    # explicit zero-variance guard: greatest() SKIPS NULLs in both
    # engines, so 1 - vr/NULL would silently collapse to 0.0 instead
    # of the documented NULL for a constant detrended series
    return agg.select(
        *groups,
        F.col("_n").cast("long").alias("n_buckets"),
        F.when(
            vs > 0,
            F.round(
                F.greatest(F.lit(0.0), F.lit(1.0) - vr / vs), 6
            ),
        ).alias("strength"),
    )


def trend_break(
    df: DataFrame,
    index_col: str,
    value_col: str,
    *,
    breakpoint: int | None = None,
    value_scale: int = 10**6,
) -> DataFrame:
    """Segmented OLS around a breakpoint — the SIZE estimate for the
    shift :func:`cusum` / :func:`page_hinkley` detect: fit
    ``y = a + b*x`` separately before (x < breakpoint) and after
    (x >= breakpoint), report both fits, the slope change and the
    LEVEL jump (gap between the two fitted lines evaluated AT the
    breakpoint). ``breakpoint=None`` splits at the exact median index
    (the natural default when the alarm time isn't known yet).

    One row: ``(n_pre, n_post, breakpoint, slope_pre, slope_post,
    slope_delta, level_delta)``, slopes per index unit, 6 dp. A
    segment with < 2 points or a constant index yields NULL fits.

    Exactness: x is the raw integer index, y a scaled long; each
    segment's moments (n, Sx, Sy, Sxx, Sxy) are exact integers on
    decimal(38,0) (envelope: Sxy ~ n*x*y_scaled — holds to ~1e9 rows
    of epoch-day indexes), the slope/intercept closed forms are
    fixed-shape double expressions, and the median breakpoint is the
    exact interpolated percentile (the q_robust parity device) — SQL
    replays every output bit-for-bit.

    Scale design: one exact-percentile aggregate (only when
    ``breakpoint`` is None) broadcast back, then ONE map-combinable
    grouped-moments aggregate over the two segments. No windows, no
    joins of the data with itself, no Python.
    """
    y = F.round(F.col(value_col).cast("double") * value_scale, 0).cast("long")
    base = df.where(
        F.col(index_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(F.col(index_col).cast("long").alias("_x"), y.alias("_y"))
    if breakpoint is None:
        bp = base.agg(
            F.floor(F.expr("percentile(_x, 0.5)")).cast("long").alias("_bp")
        )
        base = base.crossJoin(F.broadcast(bp))
    else:
        base = base.withColumn("_bp", F.lit(int(breakpoint)).cast("long"))
    # Both segments' moments in ONE global conditional aggregate: a
    # global agg always yields exactly one row, so the one-output-row
    # contract holds even when a segment is empty (constant index,
    # single bucket, breakpoint outside the index range) — a split +
    # crossJoin would drop the surviving segment's fits with it.
    post_c = F.col("_x") >= F.col("_bp")

    def seg_aggs(cond, prefix):
        x, yv = F.col("_x"), F.col("_y")
        return [
            F.sum(F.when(cond, 1).otherwise(0))
            .cast("decimal(38,0)")
            .alias(f"_n_{prefix}"),
            F.sum(F.when(cond, x)).cast("decimal(38,0)").alias(f"_sx_{prefix}"),
            F.sum(F.when(cond, yv)).cast("decimal(38,0)").alias(f"_sy_{prefix}"),
            F.sum(
                F.when(cond, x.cast("decimal(19,0)") * x.cast("decimal(19,0)"))
            ).alias(f"_sxx_{prefix}"),
            F.sum(
                F.when(cond, x.cast("decimal(19,0)") * yv.cast("decimal(19,0)"))
            ).alias(f"_sxy_{prefix}"),
        ]

    out = base.agg(
        *seg_aggs(~post_c, "pre"),
        *seg_aggs(post_c, "post"),
        F.max("_bp").alias("_bp2"),
    )

    def fit(prefix):
        n = F.col(f"_n_{prefix}")
        sx, sy = F.col(f"_sx_{prefix}"), F.col(f"_sy_{prefix}")
        den = (n * F.col(f"_sxx_{prefix}") - sx * sx).cast("double")
        slope = (n * F.col(f"_sxy_{prefix}") - sx * sy).cast("double") / F.nullif(
            den, F.lit(0.0)
        )
        slope = F.when(n >= 2, slope)
        intercept = (
            sy.cast("double") - slope * sx.cast("double")
        ) / n.cast("double")
        return [
            n.cast("long").alias(f"n_{prefix}"),
            slope.alias(f"_b_{prefix}"),
            intercept.alias(f"_a_{prefix}"),
        ]

    out = out.select(*fit("pre"), *fit("post"), "_bp2")
    bpd = F.col("_bp2").cast("double")
    fitted_pre = F.col("_a_pre") + F.col("_b_pre") * bpd
    fitted_post = F.col("_a_post") + F.col("_b_post") * bpd
    return out.select(
        "n_pre",
        "n_post",
        F.col("_bp2").cast("long").alias("breakpoint"),
        F.round(F.col("_b_pre") / value_scale, 6).alias("slope_pre"),
        F.round(F.col("_b_post") / value_scale, 6).alias("slope_post"),
        F.round(
            (F.col("_b_post") - F.col("_b_pre")) / value_scale, 6
        ).alias("slope_delta"),
        F.round((fitted_post - fitted_pre) / value_scale, 6).alias("level_delta"),
    )


def ohlc_bars(
    df: DataFrame,
    key_cols: str | list[str],
    ts_col: str,
    value_col: str,
    *,
    window: str = "1 hour",
) -> DataFrame:
    """Open/high/low/close resampling bars per key and time bucket —
    the canonical downsampled view of any numeric event stream
    (metric feeds, price ticks, sensor values): keep the first, last
    and extremes of every bucket instead of every event. One row per
    (key, bucket) with ``(window_start, n_events, open, high, low,
    close, mean)``; empty buckets are absent (compose with
    :func:`gap_fill` for a dense calendar). Rows with NULL ts or
    value are dropped.

    Determinism: open/close are min/max of the (ts, value) STRUCT —
    lexicographic struct ordering breaks timestamp ties by value, so
    two events on the same tick resample identically in any engine
    (the SQL replay uses ``first(v ORDER BY ts, v)``); high/low/count
    are plain order-insensitive aggregates; mean is the exact integer
    sum of 1e-6 scaled longs divided once.

    Scale design: ONE map-combinable aggregate on the (key, bucket)
    grain — no window functions, no join, no second pass; the
    tumbling bucket comes from the built-in ``F.window`` (the same
    expression Structured Streaming uses, so the operator lifts to a
    watermarked stream unchanged).
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    v = F.col(value_col).cast("double")
    base = df.where(F.col(ts_col).isNotNull() & v.isNotNull()).select(
        *keys,
        F.col(ts_col).alias("_ts"),
        v.alias("_v"),
        F.round(v * F.lit(1000000.0)).cast("long").alias("_s"),
    )
    agg = base.groupBy(*keys, F.window("_ts", window).alias("_w")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(F.struct(F.col("_ts"), F.col("_v"))).alias("_omin"),
        F.max(F.struct(F.col("_ts"), F.col("_v"))).alias("_omax"),
        F.max("_v").alias("high"),
        F.min("_v").alias("low"),
        # decimal accumulation: a LONG sum of the 1e6-scaled values
        # wraps silently once a (key, window) bar's n * |_s| crosses
        # 2^63 — inside the 100 TB envelope for hot keys (r10 audit;
        # same wrap-before-cast class as the stats kernels).
        F.sum(F.col("_s").cast("decimal(28,0)"))
        .cast("decimal(38,0)")
        .alias("_ssum"),
    )
    return agg.select(
        *keys,
        F.col("_w.start").alias("window_start"),
        F.col("n_events").cast("long").alias("n_events"),
        F.col("_omin._v").alias("open"),
        "high",
        "low",
        F.col("_omax._v").alias("close"),
        F.round(
            F.col("_ssum").cast("double")
            / F.col("n_events").cast("double")
            / F.lit(1000000.0),
            6,
        ).alias("mean"),
    )


def logrank_test(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    *,
    round_durations: int | None = None,
) -> DataFrame:
    """Log-rank test — do two groups have the same survival curve?
    The significance companion to :func:`survival_curve`'s
    Kaplan-Meier estimate: "cohort B churns slower" needs this before
    anyone ships it. Right-censored design: ``event_col`` truthy
    means the event (churn/death/conversion) was OBSERVED at
    ``duration_col``; falsy means censored (still alive at last
    sight) — censored subjects count in the at-risk denominators but
    never as events, the entire point of the machinery. One row
    ``(n_a, n_b, o_a, e_a, chi2)``: observed vs expected events in
    group A under the pooled-hazard null; chi2 is 1-df
    ((O-E)^2 / V, the standard Mantel-Haenszel form). chi2 NULL when
    the variance is 0 (no comparable event times).

    Exactness: collapse to the distinct-duration grain; at-risk
    counts are suffix sums off ONE fused prefix pass (total - prefix
    + self); the per-time expectation and variance terms are frozen
    to 1e-9 scaled longs via fixed-shape IEEE expressions (the
    q_psi_drift device), so the time-grain sums are exact integer
    sums — replayed bit-for-bit in SQL. ``round_durations`` bounds
    the grain (mann_whitney's contract).

    Scale design: one map-combinable collapse, one range exchange
    (running_total of two columns in the same pass), a 1-row totals
    broadcast, one final aggregate. No windows over raw rows, no
    joins beyond the broadcast.
    """
    from kafka_streams_plumber_spark.operators.ordering import (
        running_total,
    )

    t = F.col(duration_col).cast("double")
    if round_durations is not None:
        t = F.round(t, int(round_durations))
    base = df.where(
        F.col(group_col).isin(group_a, group_b) & t.isNotNull()
    ).select(
        t.alias("_t"),
        (F.col(group_col) == group_a).alias("_ga"),
        F.col(event_col).cast("boolean").cast("int").alias("_e"),
    )
    from kafka_streams_plumber_spark.plans.scale import truncate_lineage

    # the distinct-duration grain feeds the prefix pass AND the totals
    # row: materialize it once
    per_t = truncate_lineage(
        base.groupBy("_t").agg(
            F.coalesce(
                F.sum(F.col("_ga").cast("long")), F.lit(0)
            ).alias("_ca"),
            F.count(F.lit(1)).alias("_c"),
            F.coalesce(
                F.sum(F.when(F.col("_ga"), F.col("_e"))), F.lit(0)
            ).alias("_da"),
            F.coalesce(F.sum("_e"), F.lit(0)).alias("_d"),
        )
    )
    r = running_total(
        per_t, ["_t"], ["_ca", "_c"], out_col=["_cuma", "_cum"]
    )
    tot = per_t.agg(
        F.coalesce(F.sum("_ca"), F.lit(0)).alias("_A"),
        F.coalesce(F.sum("_c"), F.lit(0)).alias("_N"),
    )
    j = r.crossJoin(F.broadcast(tot))
    n1 = (F.col("_A") - F.col("_cuma") + F.col("_ca")).cast("double")
    nt = (F.col("_N") - F.col("_cum") + F.col("_c")).cast("double")
    dt = F.col("_d").cast("double")
    ratio = n1 / nt
    e1 = F.round(dt * ratio * F.lit(1000000000.0)).cast("long")
    v1 = F.when(
        nt > F.lit(1.0),
        F.round(
            dt
            * ratio
            * (F.lit(1.0) - ratio)
            * (nt - dt)
            / (nt - F.lit(1.0))
            * F.lit(1000000000.0)
        ).cast("long"),
    ).otherwise(F.lit(0))
    agg = j.agg(
        F.coalesce(F.sum("_da"), F.lit(0)).cast("long").alias("_oa"),
        F.coalesce(F.sum(e1), F.lit(0)).cast("decimal(38,0)").alias("_se"),
        F.coalesce(F.sum(v1), F.lit(0)).cast("decimal(38,0)").alias("_sv"),
    ).crossJoin(F.broadcast(tot))
    diff = (
        F.col("_oa").cast("double")
        - F.col("_se").cast("double") / F.lit(1000000000.0)
    )
    v = F.col("_sv").cast("double") / F.lit(1000000000.0)
    return agg.select(
        F.col("_A").cast("long").alias("n_a"),
        (F.col("_N") - F.col("_A")).cast("long").alias("n_b"),
        F.col("_oa").alias("o_a"),
        F.round(
            F.col("_se").cast("double") / F.lit(1000000000.0), 6
        ).alias("e_a"),
        F.round(diff * diff / F.nullif(v, F.lit(0.0)), 6).alias("chi2"),
    )


def durbin_watson(
    df: DataFrame,
    group_col: str,
    index_col: str,
    value_col: str,
    *,
    scale: int = 6,
) -> DataFrame:
    """Durbin-Watson / von Neumann successive-difference ratio per
    series — is the residual noise of a bucketed metric
    AUTOCORRELATED? DW = sum_t (x_t - x_{t-1})^2 / sum_t (x_t -
    mean)^2 on the mean-centered series (the mean cancels in the
    differences, so this is DW on the residuals of the
    constant-only fit). Reads like the classic regression
    diagnostic: ~2 means uncorrelated noise, << 2 positive
    autocorrelation (drift/trend the mean didn't capture — hand the
    series to seasonal_decompose or trend_break next), >> 2
    oscillation. One row per group ``(group, n_buckets, n_pairs,
    dw)``; only ADJACENT observed buckets (index and index+1) form
    difference pairs — a gap drops its pair, n_pairs reports
    coverage. dw NULL for a constant or single-point series.

    Exactness: values freeze to scaled longs; the numerator
    sum-of-squared-diffs and the cleared-mean denominator identity
    n * sum(x - mean)^2 = n*Q - T^2 are ALL exact integers on
    decimal(38,0): dw = n * D / (n*Q - T^2) is one double division.
    SQL replays bit-for-bit.

    Scale design: the series is already on the bucketed (group,
    index) grain; one self-EQUI-join on the shifted index (the
    autocorrelation device — never a range join, never a per-group
    window), two map-combinable aggregates, one broadcast join of the
    O(groups)-row moment table.
    """
    mult = float(10 ** int(scale))
    v = F.round(F.col(value_col).cast("double") * F.lit(mult)).cast("long")
    base = df.where(
        F.col(group_col).isNotNull()
        & F.col(index_col).isNotNull()
        & F.col(value_col).isNotNull()
    ).select(
        F.col(group_col).alias("_g"),
        F.col(index_col).cast("long").alias("_i"),
        v.alias("_v"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    tot = base.groupBy("_g").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("_n"),
        # decimal accumulation: a LONG sum of _v wraps silently once
        # n * |_v| crosses 2^63 (inside the 100 TB envelope) — the
        # "ALL exact integers on decimal(38,0)" contract above only
        # holds if the sum never passes through long (r10 audit).
        F.sum(F.col("_v").cast("decimal(28,0)")).cast("decimal(38,0)").alias("_t"),
        F.sum(
            dec(F.col("_v").cast("decimal(19,0)"))
            * F.col("_v").cast("decimal(19,0)")
        ).alias("_q"),
    )
    nxt = base.select(
        "_g", (F.col("_i") - 1).alias("_i"), F.col("_v").alias("_vn")
    )
    diffs = base.join(nxt, ["_g", "_i"])
    dd = (F.col("_vn") - F.col("_v")).alias("_d")
    num = diffs.select("_g", dd).groupBy("_g").agg(
        F.count(F.lit(1)).alias("_k"),
        F.coalesce(
            F.sum(
                dec(F.col("_d").cast("decimal(19,0)"))
                * F.col("_d").cast("decimal(19,0)")
            ),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("_dsum"),
    )
    out = tot.join(num, "_g", "left")
    den = F.col("_n") * F.col("_q") - F.col("_t") * F.col("_t")
    dw = F.round(
        F.col("_n").cast("double")
        * F.col("_dsum").cast("double")
        / F.nullif(den.cast("double"), F.lit(0.0)),
        6,
    )
    return out.select(
        F.col("_g").alias(group_col),
        F.col("_n").cast("long").alias("n_buckets"),
        F.coalesce(F.col("_k"), F.lit(0)).cast("long").alias("n_pairs"),
        F.when(F.col("_k").isNotNull(), dw).alias("dw"),
    )


def _pair_join(base: DataFrame, b: DataFrame, on: list[str]) -> DataFrame:
    """The O(B^2) per-group bucket pair expansion shared by the trend
    kernels (:func:`theil_sen`, :func:`mann_kendall` and their seasonal
    forms): every row of ``base`` (carrying ``_i``) against every row of
    ``b`` (carrying ``_j``) within the same ``on`` keys; callers filter
    ``_j > _i``.

    SALTED for parallelism: the equi-key has few distinct values (one
    per series), and the join's inputs are tiny collapsed panels, so
    AQE coalesces the exchange to one partition by input SIZE and the
    whole B^2 expansion — the only heavy part of these kernels — runs
    on ONE core (measured: 3.5 s of q_theil_sen's 6.6 s at sf0.1 in
    two single-task stages). Salting ``base`` by a deterministic hash
    of ``_i`` and fanning ``b`` out over all salt values spreads each
    series' pairs over ``defaultParallelism`` cells (guide §2.5); the
    explicit ``repartition(k, keys)`` is what AQE is NOT allowed to
    coalesce, which keeps the expansion wide even though its input is
    a few hundred KB. Pair set and per-pair values are identical —
    each (i, j) pair lands in exactly the one cell ``hash(i)``.

    ``k`` is capped at 256 (ADVICE r11): the right panel is replicated
    ``k``-fold and the repartition is pinned (AQE-uncoalescible), so an
    uncapped ``defaultParallelism`` on a thousands-of-cores cluster
    would inflate the replication and the pinned partition count far
    past what a few-hundred-KB expansion input needs. 256 cells keeps
    the B^2 expansion wide on any realistic executor wave without
    scaling the fanout with cluster size.
    """
    k = max(1, min(int(base.sparkSession.sparkContext.defaultParallelism), 256))
    left = base.withColumn("_psl", F.pmod(F.xxhash64(F.col("_i")), F.lit(k)))
    right = b.withColumn(
        "_psl",
        F.explode(F.sequence(F.lit(0).cast("long"), F.lit(k - 1).cast("long"))),
    )
    return (
        left.repartition(k, *on, "_psl")
        .join(right, [*on, "_psl"])
        .drop("_psl")
    )


def theil_sen(
    df: DataFrame,
    group_col: str,
    index_col: str,
    value_col: str,
    *,
    slope_round: int = 6,
) -> DataFrame:
    """Theil-Sen robust trend slope per series — the MEDIAN of all
    pairwise slopes (v_j - v_i)/(j - i) over a bucketed metric. The
    robust alternative to the OLS fit inside :func:`trend_break`: up
    to ~29% of the buckets can be wild (an outage day, a backfill
    spike) without moving the estimate, which makes it the right
    "is this feed drifting, ignore the incidents" number. One row per
    group ``(group, n_buckets, n_pairs, slope)`` in value-units per
    index-unit; slope NULL for series with < 2 buckets.

    Exactness: each pairwise slope is ONE double division frozen to
    10^-``slope_round`` resolution; the median over the frozen-slope
    grain is the exact interpolated percentile
    (stats.exact_percentiles — bit-identical to DuckDB
    ``quantile_cont``). SQL replays bit-for-bit.

    Scale design: the O(B^2) pair join runs on the COLLAPSED bucketed
    grain, not the raw events — B is bounded (hours in the window:
    B=720 for a 30-day hourly panel is 259k pairs per series, trivial)
    and the join is equi-keyed per group so pairs never cross groups.
    The median rides the percentile range exchange. Do NOT call this
    on an uncollapsed per-event index.
    """
    base = df.where(
        F.col(group_col).isNotNull()
        & F.col(index_col).isNotNull()
        & F.col(value_col).isNotNull()
    ).select(
        F.col(group_col).alias("_g"),
        F.col(index_col).cast("long").alias("_i"),
        F.col(value_col).cast("double").alias("_v"),
    )
    # base feeds three consumers (pair-join left, the fanned right
    # panel, the bucket counts); without the barrier each one carried
    # its own pruning-specialized copy of the collapse subtree below —
    # the r12 profile showed three identical map stages per execution
    # (plans.scale.reuse_barrier; same device across the four trend
    # kernels).
    base = reuse_barrier(base)
    b = base.select(
        "_g", F.col("_i").alias("_j"), F.col("_v").alias("_w")
    )
    pairs = _pair_join(base, b, ["_g"]).where(F.col("_j") > F.col("_i"))
    slopes = pairs.select(
        "_g",
        F.round(
            (F.col("_w") - F.col("_v"))
            / (F.col("_j") - F.col("_i")).cast("double"),
            int(slope_round),
        ).alias("_s"),
    )
    from kafka_streams_plumber_spark.operators.stats import (
        exact_percentiles,
    )

    med = exact_percentiles(slopes, "_g", "_s", {"_med": 0.5})
    counts = base.groupBy("_g").agg(F.count(F.lit(1)).alias("_nb"))
    out = counts.join(med, "_g", "left")
    return out.select(
        F.col("_g").alias(group_col),
        F.col("_nb").cast("long").alias("n_buckets"),
        (
            F.col("_nb") * (F.col("_nb") - 1) / 2
        ).cast("long").alias("n_pairs"),
        F.round(F.col("_med"), int(slope_round)).alias("slope"),
    )


def mann_kendall(
    df: DataFrame,
    group_col: str,
    index_col: str,
    value_col: str,
    *,
    round_values: int | None = None,
) -> DataFrame:
    """Mann-Kendall trend test per series — IS there a monotone trend,
    the significance companion to :func:`theil_sen`'s HOW STEEP.
    S = sum over bucket pairs of sign(v_j - v_i) (j later than i);
    the tie-corrected normal approximation
    var = [n(n-1)(2n+5) - sum_t t(t-1)(2t+5)] / 18 and the
    continuity-corrected z = (S -+ 1)/sqrt(var) make |z| >= 1.96 the
    95% monotone-trend verdict — robust to outliers and any monotone
    transform of the values, which is exactly what a feed-drift
    screen wants. One row per group ``(group, n_buckets, s, z)``;
    z NULL when n < 2 or zero variance (all values tied).

    Exactness: S and the two variance terms are exact integers (the
    pair join emits sign values; tie runs come from the per-value
    counts); z is one fixed-shape double — replayed bit-for-bit in
    SQL.

    Scale design: the O(B^2) pair join runs on the COLLAPSED bucketed
    grain per group (the :func:`theil_sen` contract — bounded B,
    equi-keyed per group); ties ride a separate (group, value)
    collapse. Do NOT call this on an uncollapsed per-event index.
    """
    v = F.col(value_col).cast("double")
    if round_values is not None:
        v = F.round(v, int(round_values))
    base = df.where(
        F.col(group_col).isNotNull()
        & F.col(index_col).isNotNull()
        & v.isNotNull()
    ).select(
        F.col(group_col).alias("_g"),
        F.col(index_col).cast("long").alias("_i"),
        v.alias("_v"),
    )
    base = reuse_barrier(base)  # shared subtree — see theil_sen
    b = base.select(
        "_g", F.col("_i").alias("_j"), F.col("_v").alias("_w")
    )
    pairs = _pair_join(base, b, ["_g"]).where(F.col("_j") > F.col("_i"))
    s_agg = pairs.groupBy("_g").agg(
        F.coalesce(
            F.sum(F.signum(F.col("_w") - F.col("_v")).cast("long")),
            F.lit(0),
        ).alias("_s")
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    ties = (
        base.groupBy("_g", "_v")
        .agg(F.count(F.lit(1)).alias("_t"))
        .groupBy("_g")
        .agg(
            F.sum("_t").cast("decimal(38,0)").alias("_n"),
            F.coalesce(
                F.sum(
                    dec(
                        (F.col("_t") * (F.col("_t") - 1)).cast(
                            "decimal(19,0)"
                        )
                    )
                    * (2 * F.col("_t") + 5).cast("decimal(19,0)")
                ),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("_tt"),
        )
    )
    out = ties.join(s_agg, "_g", "left")
    nn = F.col("_n")
    var18 = (
        nn * (nn - 1) * (2 * nn + 5) - F.col("_tt")
    ).cast("double") / F.lit(18.0)
    s = F.coalesce(F.col("_s"), F.lit(0))
    zc = F.when(s > 0, (s - 1).cast("double")).when(
        s < 0, (s + 1).cast("double")
    ).otherwise(F.lit(0.0))
    z = zc / F.nullif(F.sqrt(var18), F.lit(0.0))
    ok = (nn >= 2) & (var18 > F.lit(0.0))
    return out.select(
        F.col("_g").alias(group_col),
        nn.cast("long").alias("n_buckets"),
        s.cast("long").alias("s"),
        F.when(ok, F.round(z, 6)).alias("z"),
    )


def mann_kendall_seasonal(
    df: DataFrame,
    group_col: str,
    index_col: str,
    value_col: str,
    *,
    period: int,
    round_values: int | None = None,
) -> DataFrame:
    """Seasonal Mann-Kendall trend test per series — the
    :func:`mann_kendall` variant for SEASONAL data: comparing hour-15
    today against hour-3 yesterday reads the daily cycle as "trend",
    so this form compares each bucket only against LATER buckets in
    the SAME phase (index mod ``period``) and sums the per-season
    statistics: S = sum_h S_h, var = sum_h var_h (Hirsch-Slack
    without the cross-season covariance term — the standard
    independent-seasons form). One row per group ``(group,
    n_buckets, n_seasons, s, z)`` with the same continuity-corrected
    z as the plain test; z NULL when every season is constant or too
    short.

    Exactness: per-season S and tie-corrected variance are the exact
    integer kernels of :func:`mann_kendall`, summed per group; one
    fixed-shape z. SQL replays bit-for-bit.

    Scale design: the pair join carries the season key (group,
    phase), so pairs only form within a phase — B^2/period pairs on
    the collapsed bounded grain; ties ride a (group, phase, value)
    collapse.
    """
    assert period >= 1
    v = F.col(value_col).cast("double")
    if round_values is not None:
        v = F.round(v, int(round_values))
    base = df.where(
        F.col(group_col).isNotNull()
        & F.col(index_col).isNotNull()
        & v.isNotNull()
    ).select(
        F.col(group_col).alias("_g"),
        F.col(index_col).cast("long").alias("_i"),
        F.pmod(F.col(index_col).cast("long"), F.lit(period)).alias("_h"),
        v.alias("_v"),
    )
    base = reuse_barrier(base)  # shared subtree — see theil_sen
    b = base.select(
        "_g", "_h", F.col("_i").alias("_j"), F.col("_v").alias("_w")
    )
    pairs = _pair_join(base, b, ["_g", "_h"]).where(F.col("_j") > F.col("_i"))
    s_agg = pairs.groupBy("_g").agg(
        F.coalesce(
            F.sum(F.signum(F.col("_w") - F.col("_v")).cast("long")),
            F.lit(0),
        ).alias("_s")
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    per_season = (
        base.groupBy("_g", "_h", "_v")
        .agg(F.count(F.lit(1)).alias("_t"))
        .groupBy("_g", "_h")
        .agg(
            F.sum("_t").alias("_nh"),
            F.coalesce(
                F.sum(
                    dec(
                        (F.col("_t") * (F.col("_t") - 1)).cast(
                            "decimal(19,0)"
                        )
                    )
                    * (2 * F.col("_t") + 5).cast("decimal(19,0)")
                ),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("_tth"),
        )
    )
    var_agg = per_season.groupBy("_g").agg(
        F.sum("_nh").cast("decimal(38,0)").alias("_n"),
        F.count(F.lit(1)).alias("_hs"),
        F.coalesce(
            F.sum(
                dec(F.col("_nh").cast("decimal(19,0)"))
                * (F.col("_nh") - 1).cast("decimal(19,0)")
                * (2 * F.col("_nh") + 5).cast("decimal(19,0)")
            )
            - F.sum(F.col("_tth")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("_v18"),
    )
    out = var_agg.join(s_agg, "_g", "left")
    var = F.col("_v18").cast("double") / F.lit(18.0)
    s = F.coalesce(F.col("_s"), F.lit(0))
    zc = F.when(s > 0, (s - 1).cast("double")).when(
        s < 0, (s + 1).cast("double")
    ).otherwise(F.lit(0.0))
    ok = (F.col("_n") >= 2) & (var > F.lit(0.0))
    return out.select(
        F.col("_g").alias(group_col),
        F.col("_n").cast("long").alias("n_buckets"),
        F.col("_hs").cast("long").alias("n_seasons"),
        s.cast("long").alias("s"),
        F.when(ok, F.round(zc / F.nullif(F.sqrt(var), F.lit(0.0)), 6)).alias(
            "z"
        ),
    )


def theil_sen_seasonal(
    df: DataFrame,
    group_col: str,
    index_col: str,
    value_col: str,
    *,
    period: int,
    slope_round: int = 6,
) -> DataFrame:
    """Seasonal Sen's slope per series — the magnitude companion to
    :func:`mann_kendall_seasonal` exactly as :func:`theil_sen` is to
    the plain test: the median of PAIRWISE slopes computed only
    WITHIN each phase (index mod ``period``), so the diurnal cycle
    never contaminates the trend estimate (a plain Theil-Sen over an
    hourly series mixes hour-3-vs-hour-15 "slopes" that are pure
    seasonality). One row per group ``(group, n_buckets, n_pairs,
    slope)`` in value-units per index-unit; slope NULL when no phase
    has 2+ buckets.

    Exactness: slopes freeze to 10^-``slope_round`` resolution; the
    pooled median over all phases' slopes is the exact interpolated
    percentile. SQL replays bit-for-bit.

    Scale design: the pair join carries the (group, phase) key —
    B^2/period pairs on the collapsed bounded grain; the median
    rides the percentile range exchange. The theil_sen contract: do
    NOT call on an uncollapsed per-event index.
    """
    assert period >= 1
    base = df.where(
        F.col(group_col).isNotNull()
        & F.col(index_col).isNotNull()
        & F.col(value_col).isNotNull()
    ).select(
        F.col(group_col).alias("_g"),
        F.col(index_col).cast("long").alias("_i"),
        F.pmod(F.col(index_col).cast("long"), F.lit(period)).alias("_h"),
        F.col(value_col).cast("double").alias("_v"),
    )
    base = reuse_barrier(base)  # shared subtree — see theil_sen
    b = base.select(
        "_g", "_h", F.col("_i").alias("_j"), F.col("_v").alias("_w")
    )
    pairs = _pair_join(base, b, ["_g", "_h"]).where(F.col("_j") > F.col("_i"))
    slopes = pairs.select(
        "_g",
        F.round(
            (F.col("_w") - F.col("_v"))
            / (F.col("_j") - F.col("_i")).cast("double"),
            int(slope_round),
        ).alias("_s"),
    )
    from kafka_streams_plumber_spark.operators.stats import (
        exact_percentiles,
    )

    med = exact_percentiles(slopes, "_g", "_s", {"_med": 0.5})
    npairs = (
        base.groupBy("_g", "_h")
        .agg(F.count(F.lit(1)).alias("_nh"))
        .groupBy("_g")
        .agg(
            F.sum("_nh").alias("_nb"),
            F.sum(F.col("_nh") * (F.col("_nh") - 1) / 2)
            .cast("long")
            .alias("_np"),
        )
    )
    out = npairs.join(med, "_g", "left")
    return out.select(
        F.col("_g").alias(group_col),
        F.col("_nb").cast("long").alias("n_buckets"),
        F.col("_np").alias("n_pairs"),
        F.round(F.col("_med"), int(slope_round)).alias("slope"),
    )
