"""exact_percentiles: bit-parity with the builtin percentile aggregate,
edge cases (integral index, single row, nulls, multi-group-col)."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_streams_plumber_spark.operators.stats import exact_percentiles


def test_matches_builtin_percentile(spark):
    df = spark.range(0, 10007).select(
        (F.col("id") % 3).alias("g"),
        (F.sin(F.col("id")) * 1000).alias("v"),
    )
    builtin = {
        r["g"]: (r["p25"], r["p50"], r["p999"])
        for r in df.groupBy("g")
        .agg(
            F.percentile("v", 0.25).alias("p25"),
            F.percentile("v", 0.5).alias("p50"),
            F.percentile("v", 0.999).alias("p999"),
        )
        .collect()
    }
    ours = {
        r["g"]: (r["p25"], r["p50"], r["p999"])
        for r in exact_percentiles(
            df, "g", "v", {"p25": 0.25, "p50": 0.5, "p999": 0.999}
        ).collect()
    }
    assert ours == builtin  # bit-for-bit


def test_integral_index_and_single_row(spark):
    # 5 rows: p=0.5 lands exactly on index 2 (integral — no interpolation)
    df = spark.createDataFrame([(1, float(v)) for v in (10, 20, 30, 40, 50)], "g int, v double")
    out = exact_percentiles(df, "g", "v", {"p50": 0.5}).collect()[0]
    assert out["p50"] == 30.0
    one = spark.createDataFrame([(1, 42.0)], "g int, v double")
    assert exact_percentiles(one, "g", "v", {"p50": 0.5}).collect()[0]["p50"] == 42.0


def test_nulls_excluded(spark):
    df = spark.createDataFrame(
        [(1, None), (1, 1.0), (1, 3.0)], "g int, v double"
    )
    out = exact_percentiles(df, "g", "v", {"p50": 0.5}).collect()[0]
    assert out["p50"] == 2.0  # interpolated over the 2 non-null rows


def test_multiple_group_cols(spark):
    df = spark.createDataFrame(
        [(1, "x", 1.0), (1, "x", 3.0), (1, "y", 10.0)], "a int, b string, v double"
    )
    rows = {
        (r["a"], r["b"]): r["p50"]
        for r in exact_percentiles(df, ["a", "b"], "v", {"p50": 0.5}).collect()
    }
    assert rows == {(1, "x"): 2.0, (1, "y"): 10.0}


def test_topk_per_group_matches_single_window(spark):
    from kafka_streams_plumber_spark.operators.stats import topk_per_group
    from pyspark.sql import Window
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [(g, v) for g in ("a", "b") for v in (5, 3, 9, 9, 1, 7)], "g string, v int"
    ).repartition(4)
    got = sorted(
        (r["g"], r["v"], r["rnk"])
        for r in topk_per_group(df, "g", [F.desc("v")], 2).collect()
    )
    w = Window.partitionBy("g").orderBy(F.desc("v"))
    want = sorted(
        (r["g"], r["v"], r["rnk"])
        for r in df.withColumn("rnk", F.dense_rank().over(w))
        .filter(F.col("rnk") <= 2).collect()
    )
    assert got == want
    # ties at the boundary survive (two 9 rows at rank 1 per group)
    assert sum(1 for g, v, r in got if g == "a" and r == 1) == 2


def test_numeric_histogram_clamps_and_counts(spark):
    from kafka_streams_plumber_spark.operators.stats import numeric_histogram

    df = spark.createDataFrame(
        [(-5.0,), (0.0,), (4.9,), (5.0,), (14.9,), (99.0,), (None,)],
        "v double",
    )
    out = {
        r["bin"]: (r["bin_lo"], r["bin_hi"], r["cnt"])
        for r in numeric_histogram(df, "v", bins=3, lo=0.0, hi=15.0).collect()
    }
    # -5 clamps into bin 0, 99 clamps into bin 2, NULL excluded
    assert out == {
        0: (0.0, 5.0, 3),
        1: (5.0, 10.0, 1),
        2: (10.0, 15.0, 2),
    }


def test_skew_profile_orders_and_ties(spark):
    from kafka_streams_plumber_spark.operators.stats import skew_profile

    rows = [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 3 + [("d",)] * 1
    df = spark.createDataFrame(rows, "k string")
    got = [
        (r["key"], r["cnt"], r["rnk"], r["share"])
        for r in skew_profile(df, "k", top_n=3)
        .orderBy("rnk")
        .collect()
    ]
    # b/c tie on count -> both rank 2 by count, broken to ranks 2,3 by key
    assert got == [
        ("a", 5, 1, round(5 / 12, 6)),
        ("b", 3, 2, 0.25),
        ("c", 3, 3, 0.25),
    ]


def test_winsorize_clips_to_group_bounds(spark):
    from pyspark.sql import functions as F

    from kafka_streams_plumber_spark.operators.stats import winsorize

    rows = [("a", float(v)) for v in range(1, 101)] + [("b", 1000.0)]
    df = spark.createDataFrame(rows, ["g", "v"])
    out = winsorize(df, "v", "g", lo=0.10, hi=0.90).collect()
    a_vals = [r["v_clipped"] for r in out if r["g"] == "a"]
    # p10 of 1..100 = 10.9, p90 = 90.1 (R-7 interpolation)
    assert abs(min(a_vals) - 10.9) < 1e-9 and abs(max(a_vals) - 90.1) < 1e-9
    assert all(10.9 - 1e-9 <= v <= 90.1 + 1e-9 for v in a_vals)
    # singleton group: value is its own quantile, untouched
    b = [r["v_clipped"] for r in out if r["g"] == "b"]
    assert b == [1000.0]


def test_winsorize_approx_path_plans_partial_agg(spark):
    from kafka_streams_plumber_spark.operators.stats import winsorize
    from kafka_streams_plumber_spark.plans.inspect import plan_string

    df = spark.range(1000).selectExpr("id % 3 AS g", "CAST(id AS DOUBLE) AS v")
    p = plan_string(winsorize(df, "v", "g", exact=False))
    # approx_percentile is a mergeable sketch: partial_ appears map-side
    assert "approx_percentile" in p or "percentile_approx" in p


def test_winsorize_preserves_nulls(spark):
    from kafka_streams_plumber_spark.operators.stats import winsorize

    rows = [("a", float(v)) for v in range(1, 21)] + [("a", None)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = winsorize(df, "v", "g", lo=0.10, hi=0.90).collect()
    nulls = [r for r in out if r["v"] is None]
    assert len(nulls) == 1 and nulls[0]["v_clipped"] is None


def test_k_anonymity_counts_risky_combos(spark):
    from kafka_streams_plumber_spark.operators.stats import k_anonymity

    rows = [("a", 1)] * 10 + [("b", 1)] * 3 + [("c", 2)] * 1
    df = spark.createDataFrame(rows, ["q1", "q2"])
    r = k_anonymity(df, ["q1", "q2"], k=5).collect()[0]
    assert r["n_rows"] == 14 and r["n_combos"] == 3
    assert r["combos_below_k"] == 2 and r["rows_at_risk"] == 4
    assert r["min_combo_size"] == 1
    assert abs(r["risk_fraction"] - round(4 / 14, 6)) < 1e-12


# ---------------------------------------------------------------------
# MAD outliers
# ---------------------------------------------------------------------

from kafka_streams_plumber_spark.operators.stats import mad_outliers  # noqa: E402


def test_mad_flags_only_the_extreme_point(spark):
    vals = [10.0, 11.0, 12.0, 13.0, 14.0, 1000.0]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    out = {r["x"]: r["is_outlier"] for r in mad_outliers(df, "x").collect()}
    assert out[1000.0] is True
    assert all(out[v] is False for v in vals[:-1])


def test_mad_grouped_isolated(spark):
    rows = [("a", v) for v in [1.0, 2.0, 3.0, 100.0]] + [
        ("b", v) for v in [100.0, 101.0, 102.0, 103.0]
    ]
    df = spark.createDataFrame(rows, "g string, x double")
    out = mad_outliers(df, "x", group_cols="g").collect()
    flagged = {(r["g"], r["x"]) for r in out if r["is_outlier"]}
    assert flagged == {("a", 100.0)}  # 100 is normal in group b


def test_mad_zero_mad_flags_nothing(spark):
    df = spark.createDataFrame([(5.0,)] * 6 + [(9.0,)], "x double")
    out = mad_outliers(df, "x").collect()
    # mad == 0 -> threshold 0; 9.0 deviates but convention keeps
    # is_outlier boolean (no inf math): adev > 0 flags it
    assert [r["is_outlier"] for r in out if r["x"] == 9.0] == [True]
    assert all(not r["is_outlier"] for r in out if r["x"] == 5.0)


def test_mad_null_passthrough(spark):
    df = spark.createDataFrame([(1.0,), (2.0,), (3.0,), (None,)], "x double")
    out = {r["x"]: r["is_outlier"] for r in mad_outliers(df, "x").collect()}
    assert out[None] is None


# ---------------------------------------------------------------------
# Equi-depth histogram
# ---------------------------------------------------------------------

from kafka_streams_plumber_spark.operators.stats import (  # noqa: E402
    equi_depth_histogram,
)


def test_equi_depth_balanced_counts(spark):
    df = spark.createDataFrame([(float(i),) for i in range(1000)], "x double")
    out = equi_depth_histogram(df, "x", bins=10).orderBy("bin").collect()
    assert [r["bin"] for r in out] == list(range(10))
    assert all(abs(r["cnt"] - 100) <= 1 for r in out), [r["cnt"] for r in out]
    # edges tile the domain: first lo = min, last hi = max
    assert out[0]["lo"] == 0.0 and out[-1]["hi"] == 999.0
    for a, b in zip(out, out[1:]):
        assert a["hi"] == b["lo"]


def test_equi_depth_heavy_tail_still_balanced(spark):
    vals = [1.0] * 0 + [float(i) for i in range(100)] + [1e6, 2e6, 3e6]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    out = equi_depth_histogram(df, "x", bins=4).collect()
    counts = [r["cnt"] for r in sorted(out, key=lambda r: r["bin"])]
    assert max(counts) - min(counts) <= 2, counts


def test_equi_depth_grouped(spark):
    rows = [("a", float(i)) for i in range(100)] + [
        ("b", float(1000 + i)) for i in range(50)
    ]
    df = spark.createDataFrame(rows, "g string, x double")
    out = equi_depth_histogram(df, "x", bins=5, group_cols="g").collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r["g"], []).append(r["cnt"])
    assert sum(by_g["a"]) == 100 and sum(by_g["b"]) == 50
    assert all(abs(c - 20) <= 1 for c in by_g["a"])


def test_ab_test_hand_computed(spark):
    """z matches the textbook pooled two-proportion statistic."""
    import math

    from kafka_streams_plumber_spark.operators.stats import ab_test

    # control: 2/4 convert; treatment: 3/4 convert (unit grain, one row each)
    rows = [
        ("u%d" % i, "a_control", i < 2) for i in range(4)
    ] + [
        ("v%d" % i, "b_treat", i < 3) for i in range(4)
    ]
    df = spark.createDataFrame(rows, "unit string, variant string, conv boolean")
    out = ab_test(df, "unit", "variant", "conv").collect()
    assert len(out) == 1
    r = out[0]
    assert (r["variant"], r["n_c"], r["x_c"], r["n_t"], r["x_t"]) == (
        "b_treat", 4, 2, 4, 3,
    )
    p = 5 / 8
    se = math.sqrt(p * (1 - p) * (1 / 4 + 1 / 4))
    assert r["z"] == round((0.75 - 0.5) / se, 6)
    assert r["lift"] == 0.25


def test_ab_test_unit_collapse_and_multi_arm(spark):
    """Event-grain rows collapse to units (any-conversion); every
    non-control arm scores against the explicit control."""
    from kafka_streams_plumber_spark.operators.stats import ab_test

    rows = [
        ("u1", "ctl", False), ("u1", "ctl", True),   # converts
        ("u2", "ctl", False),
        ("t1", "arm_x", True), ("t2", "arm_x", True),
        ("t3", "arm_y", False), ("t4", "arm_y", False),
    ]
    df = spark.createDataFrame(rows, "unit string, variant string, conv boolean")
    out = {r["variant"]: r for r in ab_test(
        df, "unit", "variant", "conv", control="ctl").collect()}
    assert set(out) == {"arm_x", "arm_y"}
    assert (out["arm_x"]["n_c"], out["arm_x"]["x_c"]) == (2, 1)
    assert (out["arm_x"]["n_t"], out["arm_x"]["x_t"]) == (2, 2)
    assert (out["arm_y"]["n_t"], out["arm_y"]["x_t"]) == (2, 0)


def test_ab_test_degenerate_variance_is_null(spark):
    """All units converted in both arms -> pooled variance 0 -> z NULL."""
    from kafka_streams_plumber_spark.operators.stats import ab_test

    rows = [("u1", "a", True), ("u2", "b", True)]
    df = spark.createDataFrame(rows, "unit string, variant string, conv boolean")
    r = ab_test(df, "unit", "variant", "conv").collect()[0]
    assert r["z"] is None and r["lift"] == 0.0


def test_l_diversity_homogeneity_attack(spark):
    """A combo with many rows but one sensitive value is exposed even
    though it is k-anonymous; a diverse combo is not."""
    from kafka_streams_plumber_spark.operators.stats import l_diversity

    rows = (
        [("a", "x")] * 5          # 5 rows, 1 sensitive value -> exposed
        + [("b", "x"), ("b", "y")]  # 2 rows, 2 values -> fine at l=2
    )
    df = spark.createDataFrame(rows, "quasi string, s string")
    r = l_diversity(df, ["quasi"], "s", l=2).collect()[0]
    assert r["n_rows"] == 7 and r["n_combos"] == 2
    assert r["combos_below_l"] == 1 and r["rows_exposed"] == 5
    assert r["min_diversity"] == 1
    assert r["exposed_fraction"] == round(5 / 7, 6)


def test_weighted_percentiles_brute_force(spark):
    """Type-1 weighted quantiles match a literal Python scan, including
    heavy-weight rows straddling the target and tied values."""
    import math
    import random

    from kafka_streams_plumber_spark.operators.stats import weighted_percentiles

    rng = random.Random(5)
    rows = [
        ("g%d" % (i % 3), rng.randrange(0, 50), rng.randrange(1, 20))
        for i in range(300)
    ]
    rows += [("g0", 10, 500)]  # one dominant weight
    df = spark.createDataFrame(rows, "g string, v long, w long")
    got = {
        r["g"]: (r["p25"], r["p50"], r["p99"])
        for r in weighted_percentiles(
            df, "g", "v", "w", {"p25": 0.25, "p50": 0.5, "p99": 0.99}
        ).collect()
    }
    per: dict = {}
    for g, v, w in rows:
        per.setdefault(g, []).append((v, w))
    for g, items in per.items():
        items.sort()
        W = sum(w for _, w in items)
        exp = []
        for p in (0.25, 0.5, 0.99):
            t = math.ceil(p * W)
            cum = 0
            for v, w in items:
                cum += w
                if cum >= t:
                    exp.append(v)
                    break
        assert got[g] == tuple(exp), (g, got[g], exp)


def test_weighted_percentiles_excludes_bad_rows(spark):
    from kafka_streams_plumber_spark.operators.stats import weighted_percentiles

    rows = [("g", 1, 1), ("g", None, 5), ("g", 99, 0), ("g", 2, 1)]
    df = spark.createDataFrame(rows, "g string, v long, w long")
    r = weighted_percentiles(df, "g", "v", "w", {"p50": 0.5}).collect()[0]
    assert r["p50"] == 1  # only the two unit-weight rows count


def test_jsd_matrix_hand_computed(spark):
    import math

    from kafka_streams_plumber_spark.operators.diff import jsd_matrix

    # g1: a,a,b ; g2: a,b,b ; g3: c,c  (c absent from g1/g2, and
    # g3 lacks a/b entirely -> disjoint support vs both)
    rows = (
        [("g1", "a")] * 2 + [("g1", "b")]
        + [("g2", "a")] + [("g2", "b")] * 2
        + [("g3", "c")] * 2
    )
    df = spark.createDataFrame(rows, "g string, v string")
    got = {
        (r["group_a"], r["group_b"]): (r["jsd"], r["n_values"])
        for r in jsd_matrix(df, "g", "v").collect()
    }

    def jsd(p, q):
        s = 0.0
        for pa, pb in zip(p, q):
            m = (pa + pb) / 2
            if pa > 0:
                s += 0.5 * pa * math.log2(pa / m)
            if pb > 0:
                s += 0.5 * pb * math.log2(pb / m)
        return round(s, 6)

    # support order [a, b, c]
    assert got[("g1", "g2")][0] == jsd(
        [2 / 3, 1 / 3, 0], [1 / 3, 2 / 3, 0]
    )
    # disjoint distributions hit the JSD maximum of exactly 1 bit
    assert got[("g1", "g3")][0] == 1.0
    assert got[("g2", "g3")][0] == 1.0
    # every pair sees the same global support
    assert {v[1] for v in got.values()} == {3}
    assert len(got) == 3


def test_jsd_matrix_identical_groups_zero(spark):
    from kafka_streams_plumber_spark.operators.diff import jsd_matrix

    rows = [("x", "a"), ("x", "b"), ("y", "a"), ("y", "b")]
    df = spark.createDataFrame(rows, "g string, v string")
    r = jsd_matrix(df, "g", "v").collect()
    assert len(r) == 1 and r[0]["jsd"] == 0.0


def test_quantile_normalize_maps_groups_onto_pooled(spark):
    from kafka_streams_plumber_spark.operators.stats import (
        quantile_normalize,
    )

    # group a runs hot (+100) but has the same shape as b; after
    # normalization both map onto the pooled values at equal quantiles
    rows = [(i, "a", 100.0 + i) for i in range(1, 5)] + [
        (10 + i, "b", float(i)) for i in range(1, 5)
    ]
    df = spark.createDataFrame(rows, "id long, g string, v double")
    out = quantile_normalize(df, "g", "v", id_col="id").collect()
    by_group = {}
    for r in out:
        by_group.setdefault(r["g"], []).append((r["v"], r["normalized"]))
    a = [n for _, n in sorted(by_group["a"])]
    b = [n for _, n in sorted(by_group["b"])]
    # same within-group rank -> same pooled target
    assert a == b
    # pooled targets are actual pooled values, monotone in rank
    pooled = sorted([v for v, _ in by_group["a"]] + [v for v, _ in by_group["b"]])
    assert set(a).issubset(set(pooled)) and a == sorted(a)


def test_quantile_normalize_identity_on_single_group(spark):
    from kafka_streams_plumber_spark.operators.stats import (
        quantile_normalize,
    )

    rows = [(i, "only", float(i * 7 % 13)) for i in range(1, 14)]
    df = spark.createDataFrame(rows, "id long, g string, v double")
    out = quantile_normalize(df, "g", "v", id_col="id").collect()
    # one group == pooled: the map is the identity
    assert all(r["normalized"] == r["v"] for r in out)
    assert len(out) == 13


def test_correlation_matrix_hand_computed(spark):
    from kafka_streams_plumber_spark.operators.stats import (
        correlation_matrix,
    )

    rows = [(float(i), 2.0 * i + 1, float(10 - i), 5.0) for i in range(10)]
    df = spark.createDataFrame(rows, "x double, y double, z double, c double")
    got = {
        (r["col_a"], r["col_b"]): (r["n"], r["r"])
        for r in correlation_matrix(df, ["x", "y", "z", "c"]).collect()
    }
    assert got[("x", "y")] == (10, 1.0)   # perfectly linear
    assert got[("x", "z")] == (10, -1.0)  # perfectly anti-linear
    assert got[("c", "x")][1] is None     # zero-variance pair -> NULL
    assert len(got) == 6


def test_correlation_matrix_wide_magnitudes_no_overflow(spark):
    import math

    from kafka_streams_plumber_spark.operators.stats import (
        correlation_matrix,
    )

    # 1e5-scale values whose squared scaled-long sums would wrap int64
    rows = [(1e5 + i * 17.0, 2e5 - i * 13.0) for i in range(5000)]
    df = spark.createDataFrame(rows, "a double, b double")
    r = got = correlation_matrix(df, ["a", "b"]).collect()[0]
    assert r["n"] == 5000
    assert r["r"] is not None and abs(r["r"] + 1.0) < 1e-6


def test_correlation_matrix_pairwise_deletion(spark):
    from kafka_streams_plumber_spark.operators.stats import (
        correlation_matrix,
    )

    rows = [(1.0, 1.0), (2.0, None), (3.0, 3.0), (None, 4.0), (5.0, 5.0)]
    df = spark.createDataFrame(rows, "a double, b double")
    r = correlation_matrix(df, ["a", "b"]).collect()[0]
    assert r["n"] == 3 and r["r"] == 1.0


def test_chi2_independence_hand_computed(spark):
    from kafka_streams_plumber_spark.operators.stats import (
        chi2_independence,
    )

    # independent 2x2: chi2 == 0
    rows = (
        [("x", "u")] * 6 + [("x", "v")] * 4
        + [("y", "u")] * 3 + [("y", "v")] * 2
    )
    df = spark.createDataFrame(rows, "a string, b string")
    r = chi2_independence(df, "a", "b").collect()[0]
    assert (r["n"], r["levels_a"], r["levels_b"], r["dof"]) == (15, 2, 2, 1)
    assert r["chi2"] == 0.0

    # perfectly associated 2x2 (diagonal): chi2 == n
    rows = [("x", "u")] * 5 + [("y", "v")] * 5
    df = spark.createDataFrame(rows, "a string, b string")
    r = chi2_independence(df, "a", "b").collect()[0]
    # observed-zero cells contribute: chi2 = n for a perfect diagonal
    assert r["chi2"] == 10.0 and r["dof"] == 1


def test_gini_concentration_regimes(spark):
    from kafka_streams_plumber_spark.operators.stats import (
        gini_concentration,
    )

    rows = (
        [("even", 10.0)] * 8
        + [("onehot", 0.0)] * 7 + [("onehot", 100.0)]
        + [("mixed", 1.0), ("mixed", 2.0), ("mixed", 3.0), ("mixed", 4.0)]
    )
    df = spark.createDataFrame(rows, "g string, v double")
    got = {
        r["g"]: (r["n"], r["total"], r["gini"])
        for r in gini_concentration(df, "g", "v").collect()
    }
    assert got["even"] == (8, 80.0, 0.0)
    # all mass in one of 8 members: G = (n-1)/n = 0.875
    assert got["onehot"] == (8, 100.0, 0.875)
    # 1,2,3,4: G = (2*(1+4+9+16) - 5*10) / (4*10) = 10/40
    assert got["mixed"] == (4, 10.0, 0.25)


def test_robust_scale_outlier_resistance(spark):
    from kafka_streams_plumber_spark.operators.stats import robust_scale

    # 1..9 plus a wild outlier: median 5.5? no — 10 values 1..9 + 1000
    rows = [("g", float(v)) for v in range(1, 10)] + [("g", 1000.0)]
    df = spark.createDataFrame(rows, "grp string, v double")
    out = {r["v"]: r["v_robust"] for r in robust_scale(df, "v", "grp").collect()}
    # median = 5.5, q1 = 3.25, q3 = 7.75, iqr = 4.5 (quantile_cont)
    assert out[5.0] == round((5.0 - 5.5) / 4.5, 6)
    # the outlier lands far out but the scale stays data-driven
    assert out[1000.0] == round((1000.0 - 5.5) / 4.5, 6)


def test_robust_scale_zero_iqr_is_null(spark):
    from kafka_streams_plumber_spark.operators.stats import robust_scale

    df = spark.createDataFrame(
        [("g", 5.0)] * 6 + [("g", 9.0)], "grp string, v double"
    )
    out = robust_scale(df, "v", "grp").collect()
    # >75% of mass on one value -> IQR = 0 -> NULL everywhere
    assert all(r["v_robust"] is None for r in out)


def test_ks_test_hand_computed(spark):
    from kafka_streams_plumber_spark.operators.stats import ks_test

    # A = {1,2,3,4}, B = {3,4,5,6}: D peaks at x=2 with F_a=0.5, F_b=0
    rows = [("a", float(v)) for v in (1, 2, 3, 4)] + [
        ("b", float(v)) for v in (3, 4, 5, 6)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    r = ks_test(df, "g", "v", "a", "b").collect()[0]
    assert (r["n_a"], r["n_b"]) == (4, 4)
    assert r["d"] == 0.5 and r["d_at"] == 2.0


def test_ks_test_identical_and_disjoint(spark):
    from kafka_streams_plumber_spark.operators.stats import ks_test

    same = [("a", float(v)) for v in range(10)] + [
        ("b", float(v)) for v in range(10)
    ]
    df = spark.createDataFrame(same, "g string, v double")
    assert ks_test(df, "g", "v", "a", "b").collect()[0]["d"] == 0.0

    disjoint = [("a", float(v)) for v in range(5)] + [
        ("b", float(v + 100)) for v in range(5)
    ]
    df = spark.createDataFrame(disjoint, "g string, v double")
    r = ks_test(df, "g", "v", "a", "b").collect()[0]
    assert r["d"] == 1.0 and r["d_at"] == 4.0  # gap completes at max(A)


def test_ks_test_ignores_other_groups_and_nulls(spark):
    from kafka_streams_plumber_spark.operators.stats import ks_test

    rows = [("a", 1.0), ("b", 2.0), ("c", 99.0), ("a", None)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = ks_test(df, "g", "v", "a", "b").collect()[0]
    assert (r["n_a"], r["n_b"]) == (1, 1) and r["d"] == 1.0


def test_theils_u_directionality(spark):
    from kafka_streams_plumber_spark.operators.stats import theils_u

    # b determines a (each b level maps to one a), but a does not
    # determine b (each a level spans two b levels)
    rows = (
        [("x", "b1")] * 4 + [("x", "b2")] * 4
        + [("y", "b3")] * 4 + [("y", "b4")] * 4
    )
    df = spark.createDataFrame(rows, "a string, b string")
    r = theils_u(df, "a", "b").collect()[0]
    assert r["n"] == 16
    assert abs(r["u_a_given_b"] - 1.0) < 1e-6  # B fully explains A
    assert 0.0 < r["u_b_given_a"] < 1.0        # A only halves B's entropy
    assert abs(r["u_b_given_a"] - 0.5) < 1e-6  # H(B)=2 bits, MI=1 bit


def test_theils_u_independent_and_constant(spark):
    from kafka_streams_plumber_spark.operators.stats import theils_u

    indep = [("x", "u"), ("x", "v"), ("y", "u"), ("y", "v")] * 3
    df = spark.createDataFrame(indep, "a string, b string")
    r = theils_u(df, "a", "b").collect()[0]
    assert abs(r["u_a_given_b"]) < 1e-6 and abs(r["u_b_given_a"]) < 1e-6

    const = [("x", "u"), ("x", "v")] * 3  # a constant -> H(A)=0 -> NULL
    df = spark.createDataFrame(const, "a string, b string")
    r = theils_u(df, "a", "b").collect()[0]
    assert r["u_a_given_b"] is None


def test_gini_concentration_survives_int64_envelope(spark):
    """Both aggregate sums must ride decimal(38,0): a 1..30 ramp of
    3e11 keeps every scaled value inside int64 (the per-value contract
    of the scaled-long device) but pushes sum(v*1e6) to 1.4e20 and
    sum(i*v*1e6) to 2.8e21 — where plain long sums silently wrap
    (ADVICE r5). G for a 1..n ramp is (n-1)/(3n) -> 29/90."""
    from kafka_streams_plumber_spark.operators.stats import (
        gini_concentration,
    )

    rows = [("g", (i + 1) * 3.0e11) for i in range(30)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = gini_concentration(df, "g", "v").collect()[0]
    assert r["n"] == 30 and r["total"] == 1.395e14
    assert r["gini"] == round(29 / 90, 6)


def test_bh_fdr_hand_computed(spark):
    """Textbook BH step-up on 6 p-values at alpha=0.05:
    p=(.001,.008,.039,.041,.042,.06), thresholds i/m*alpha =
    (.0083,.0167,.025,.0333,.0417,.05). Largest i with p_i <= line is
    i=5 (.042 <= .0417? no — .042 > .04166…; i=4: .041 > .0333; i=2:
    .008 <= .0167 yes) -> k=2, reject ranks 1-2 ONLY, even though rank
    3-5 p's are below their own alpha. q-values are suffix-mins of
    m*p/i."""
    from kafka_streams_plumber_spark.operators.stats import bh_fdr

    ps = [0.001, 0.008, 0.039, 0.041, 0.042, 0.06]
    df = spark.createDataFrame(
        [(f"h{i}", p) for i, p in enumerate(ps)], "metric string, p double"
    )
    rows = {r["metric"]: r for r in bh_fdr(df, "p", "metric").collect()}
    assert [rows[f"h{i}"]["rank"] for i in range(6)] == [1, 2, 3, 4, 5, 6]
    assert all(rows[f"h{i}"]["m"] == 6 for i in range(6))
    rejected = [rows[f"h{i}"]["rejected"] for i in range(6)]
    assert rejected == [True, True, False, False, False, False]
    # q-values: raw m*p/i = (.006,.024,.078,.0615,.0504,.06);
    # suffix-min -> (.006,.024,.0504,.0504,.0504,.06)
    expect_q = [0.006, 0.024, 0.0504, 0.0504, 0.0504, 0.06]
    got_q = [rows[f"h{i}"]["q_value"] for i in range(6)]
    assert got_q == [round(q, 6) for q in expect_q]


def test_bh_fdr_step_up_rejects_above_the_crossing(spark):
    """The defining step-up property: a hypothesis whose p is ABOVE its
    own line is still rejected when a LARGER rank crosses. p=(.01,.02,
    .021) at alpha=0.05: lines (.0167,.0333,.05); i=3: .021<=.05 ->
    k=3, ALL rejected (including rank 2's .02 > its own line? .02 <=
    .0333 fine — and rank 3)."""
    from kafka_streams_plumber_spark.operators.stats import bh_fdr

    df = spark.createDataFrame(
        [("a", 0.01), ("b", 0.02), ("c", 0.021)], "metric string, p double"
    )
    rows = {r["metric"]: r["rejected"] for r in bh_fdr(df, "p", "metric").collect()}
    assert rows == {"a": True, "b": True, "c": True}

    # and none rejected when nothing crosses
    df2 = spark.createDataFrame(
        [("a", 0.9), ("b", 0.95)], "metric string, p double"
    )
    rows2 = {r["metric"]: r["rejected"] for r in bh_fdr(df2, "p", "metric").collect()}
    assert rows2 == {"a": False, "b": False}


def test_spearman_corr_ties_and_monotonicity(spark):
    """Average-rank tie handling (hand value 0.970588 for the classic
    tied pair), rho = 1 for any monotone nonlinear map, -1 for
    reversal, NULL for a constant column, outlier-robust vs Pearson."""
    from kafka_streams_plumber_spark.operators.stats import spearman_corr

    a = [1.0, 2.0, 2.0, 3.0, 5.0, 8.0]
    b = [10.0, 20.0, 25.0, 30.0, 30.0, 100.0]
    df = spark.createDataFrame(list(zip(a, b)), "x double, y double")
    r = spearman_corr(df, "x", "y").collect()[0]
    assert r["n"] == 6 and r["rho"] == 0.970588

    mono = spark.createDataFrame(
        [(float(i), float(i * i)) for i in range(10)], "x double, y double"
    )
    assert spearman_corr(mono, "x", "y").collect()[0]["rho"] == 1.0
    anti = spark.createDataFrame(
        [(float(i), float(-i)) for i in range(10)], "x double, y double"
    )
    assert spearman_corr(anti, "x", "y").collect()[0]["rho"] == -1.0

    const = spark.createDataFrame(
        [(float(i), 7.0) for i in range(5)], "x double, y double"
    )
    assert spearman_corr(const, "x", "y").collect()[0]["rho"] is None

    # one wild outlier: Pearson collapses, Spearman barely moves
    out = spark.createDataFrame(
        [(float(i), float(i)) for i in range(20)] + [(21.0, 1.0e12)],
        "x double, y double",
    )
    assert spearman_corr(out, "x", "y").collect()[0]["rho"] == 1.0


def test_mann_whitney_hand_computed_with_ties(spark):
    """a=[1,2,2,5,7] vs b=[2,3,4,4]: tie-corrected U_a = 9, z ~
    -0.250217 (independent sequential reference). Clear separation
    gives U = n_a*n_b and the max z; all-tied values give NULL z."""
    from kafka_streams_plumber_spark.operators.stats import mann_whitney

    rows = [("a", v) for v in (1.0, 2.0, 2.0, 5.0, 7.0)] + [
        ("b", v) for v in (2.0, 3.0, 4.0, 4.0)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    r = mann_whitney(df, "v", "g", "a", "b").collect()[0]
    assert (r["n_a"], r["n_b"]) == (5, 4)
    assert r["u_a"] == 9.0 and r["z"] == -0.250217

    sep = spark.createDataFrame(
        [("a", v) for v in (10.0, 11.0, 12.0)]
        + [("b", v) for v in (1.0, 2.0, 3.0)],
        "g string, v double",
    )
    r = mann_whitney(sep, "v", "g", "a", "b").collect()[0]
    assert r["u_a"] == 9.0 and r["z"] == 1.963961

    tied = spark.createDataFrame(
        [("a", 5.0)] * 3 + [("b", 5.0)] * 3, "g string, v double"
    )
    assert mann_whitney(tied, "v", "g", "a", "b").collect()[0]["z"] is None


def test_mann_whitney_degenerate_single_row_panel(spark):
    """n_total <= 1 makes the tie-correction denominator n*(n-1) zero;
    the nullif guard must yield the documented NULL z (not NaN — IEEE
    engines like DuckDB would otherwise propagate 0/0 through 0*NaN)."""
    from kafka_streams_plumber_spark.operators.stats import mann_whitney

    one = spark.createDataFrame([("a", 5.0)], "g string, v double")
    r = mann_whitney(one, "v", "g", "a", "b").collect()[0]
    assert (r["n_a"], r["n_b"]) == (1, 0)
    assert r["z"] is None


def test_autocorrelation_hand_computed_and_gaps(spark):
    """[1..5]: r_1 = 0.4, r_2 = -0.1 (classic hand case). A missing
    bucket drops exactly the pairs that touch it; an empty lag stays
    visible with n_pairs=0 and NULL acf; a constant series gives NULL
    (zero variance)."""
    from kafka_streams_plumber_spark.operators.stats import autocorrelation

    df = spark.createDataFrame(
        [(i, float(i + 1)) for i in range(5)], "idx long, v double"
    )
    got = {
        r["lag"]: r
        for r in autocorrelation(df, "idx", "v", max_lag=6, value_scale=1).collect()
    }
    assert (got[1]["n_pairs"], got[1]["acf"]) == (4, 0.4)
    assert (got[2]["n_pairs"], got[2]["acf"]) == (3, -0.1)
    assert got[5]["n_pairs"] == 0 and got[5]["acf"] is None
    assert got[6]["n_pairs"] == 0 and got[6]["acf"] is None

    # gap at idx=2: lag-1 pairs (1,2) and (2,3) disappear
    gappy = spark.createDataFrame(
        [(0, 1.0), (1, 2.0), (3, 4.0), (4, 5.0)], "idx long, v double"
    )
    g = {
        r["lag"]: r
        for r in autocorrelation(gappy, "idx", "v", max_lag=2, value_scale=1).collect()
    }
    assert g[1]["n_pairs"] == 2  # (0,1) and (3,4)
    assert g[2]["n_pairs"] == 1  # (1,3)

    const = spark.createDataFrame(
        [(i, 7.0) for i in range(4)], "idx long, v double"
    )
    c = autocorrelation(const, "idx", "v", max_lag=1, value_scale=1).collect()[0]
    assert c["acf"] is None


def test_t_closeness_hand_computed(spark):
    """Two combos over a 3-category sensitive column: the skewed combo
    crosses t, the representative one doesn't, and absent categories
    contribute their full marginal mass (closed form, no cross-join)."""
    from kafka_streams_plumber_spark.operators.stats import t_closeness

    # global: a=5, b=4, c=1 (N=10)
    # combo g1 (6 rows): a=3, b=3   -> dist = (|3*10-5*6| + |3*10-4*6|
    #   + absent c: 1*6) / (2*6*10) = (0 + 6 + 6)/120 = 0.1
    # combo g2 (4 rows): a=2, b=1, c=1 -> (|20-20| + |10-16| + |10-4|)
    #   / (2*4*10) = 12/80 = 0.15
    rows = (
        [("g1", "a")] * 3 + [("g1", "b")] * 3
        + [("g2", "a")] * 2 + [("g2", "b")] + [("g2", "c")]
    )
    df = spark.createDataFrame(rows, "q string, s string")
    r = t_closeness(df, ["q"], "s", t=0.12).collect()[0]
    assert r["n_rows"] == 10 and r["n_combos"] == 2
    assert r["combos_above_t"] == 1 and r["rows_exposed"] == 4
    assert r["max_distance"] == 0.15
    assert r["exposed_fraction"] == 0.4

    # raising t above the max clears the exposure
    r2 = t_closeness(df, ["q"], "s", t=0.15).collect()[0]
    assert r2["combos_above_t"] == 0 and r2["rows_exposed"] == 0

    # a combo identical to the global distribution has distance 0
    uni = spark.createDataFrame(
        [("g", "a"), ("g", "b"), ("h", "a"), ("h", "b")], "q string, s string"
    )
    r3 = t_closeness(uni, ["q"], "s", t=0.0).collect()[0]
    assert r3["max_distance"] == 0.0 and r3["combos_above_t"] == 0

    # NULL sensitive values ARE a category (the docstring's contract):
    # the marginal join must be null-safe or the NULL mass silently
    # drops from per-combo terms while N still counts it.
    # global: a=2, NULL=2 (N=4)
    # combo g1 (2 rows): a=1, NULL=1 -> identical to global, dist 0
    # combo g2 (2 rows): a=1, NULL=1 -> dist 0 as well
    nulls = spark.createDataFrame(
        [("g1", "a"), ("g1", None), ("g2", "a"), ("g2", None)],
        "q string, s string",
    )
    rn = t_closeness(nulls, ["q"], "s", t=0.0).collect()[0]
    assert rn["n_rows"] == 4 and rn["n_combos"] == 2
    assert rn["max_distance"] == 0.0 and rn["combos_above_t"] == 0
    # skewed NULL split: global a=2, NULL=2 (N=4);
    # combo h1 (2 rows): a=2 -> (|2*4-2*2| + absent NULL: 2*2)/(2*2*4)
    #   = (4+4)/16 = 0.5; combo h2 symmetric -> 0.5
    skew = spark.createDataFrame(
        [("h1", "a"), ("h1", "a"), ("h2", None), ("h2", None)],
        "q string, s string",
    )
    rs = t_closeness(skew, ["q"], "s", t=0.4).collect()[0]
    assert rs["n_rows"] == 4 and rs["combos_above_t"] == 2
    assert rs["rows_exposed"] == 4 and rs["max_distance"] == 0.5


def _ref_anderson_darling(a_vals, b_vals):
    """Scholz-Stephens (1987) eq. 7 midrank A2_akN + the published
    variance polynomial, transcribed directly from the paper (plain
    double arithmetic — independent of the engine's scaled-long
    quantization)."""
    from collections import Counter

    pooled = sorted(a_vals + b_vals)
    zstar = sorted(set(pooled))
    big_n = len(pooled)
    na, nb = len(a_vals), len(b_vals)
    counts = Counter(pooled)
    a2 = 0.0
    for n_i, c_i in ((na, Counter(a_vals)), (nb, Counter(b_vals))):
        cum_i = cum = 0
        inner = 0.0
        for z in zstar:
            lj, fij = counts[z], c_i.get(z, 0)
            maij = cum_i + fij / 2
            bj = cum + lj / 2
            denom = bj * (big_n - bj) - big_n * lj / 4
            if denom != 0:
                inner += lj / big_n * (big_n * maij - n_i * bj) ** 2 / denom
            cum_i += fij
            cum += lj
        a2 += inner / n_i
    a2 *= (big_n - 1) / big_n
    hcap = 1 / na + 1 / nb
    h = sum(1 / i for i in range(1, big_n))
    g = sum(
        sum(1 / j for j in range(i + 1, big_n)) / (big_n - i)
        for i in range(1, big_n - 1)
    )
    k = 2
    pa = (4 * g - 6) * (k - 1) + (10 - 6 * g) * hcap
    pb = (
        (2 * g - 4) * k * k + 8 * h * k
        + (2 * g - 14 * h - 4) * hcap - 8 * h + 4 * g - 6
    )
    pc = (
        (6 * h + 2 * g - 2) * k * k + (4 * h - 4 * g + 6) * k
        + (2 * h - 6) * hcap + 4 * h
    )
    pd = (2 * h + 6) * k * k - 4 * h * k
    sigma2 = (pa * big_n**3 + pb * big_n**2 + pc * big_n + pd) / (
        (big_n - 1) * (big_n - 2) * (big_n - 3)
    )
    return a2, (a2 - 1) / sigma2**0.5


def test_ad_test_matches_paper_reference(spark):
    """ad_test equals the from-the-paper reference (ties included) on
    mixed panels; identical samples give a2 near its null mean; a
    clear location shift drives the standardized stat far positive."""
    from kafka_streams_plumber_spark.operators.stats import ad_test

    a = [1.0, 2.0, 2.0, 3.5, 4.0, 5.0, 7.0, 8.0]
    b = [2.0, 3.0, 3.5, 6.0, 6.5, 9.0]
    rows = [("a", v) for v in a] + [("b", v) for v in b]
    df = spark.createDataFrame(rows, "g string, v double")
    got = ad_test(df, "v", "g", "a", "b").collect()[0]
    ref_a2, ref_std = _ref_anderson_darling(a, b)
    assert (got["n_a"], got["n_b"]) == (8, 6)
    assert abs(got["a2"] - ref_a2) < 1e-4, (got["a2"], ref_a2)
    assert abs(got["a2_standardized"] - ref_std) < 1e-4

    # strong location shift: standardized stat clearly significant
    shift = [("a", float(v)) for v in range(10)] + [
        ("b", float(v) + 50) for v in range(10)
    ]
    s = ad_test(
        spark.createDataFrame(shift, "g string, v double"), "v", "g", "a", "b"
    ).collect()[0]
    assert s["a2_standardized"] > 3.752  # 0.1% critical value

    # all values tied -> NULL (zero-variance degenerate)
    tied = spark.createDataFrame(
        [("a", 5.0)] * 4 + [("b", 5.0)] * 4, "g string, v double"
    )
    t = ad_test(tied, "v", "g", "a", "b").collect()[0]
    assert t["a2"] is None and t["a2_standardized"] is None

    # one empty group -> NULL
    solo = spark.createDataFrame(
        [("a", float(v)) for v in range(6)], "g string, v double"
    )
    r = ad_test(solo, "v", "g", "a", "b").collect()[0]
    assert r["a2"] is None and r["n_b"] == 0


def test_bh_fdr_by_method_more_conservative(spark):
    """BY divides the BH line by c(m): on the same panel it can only
    reject a subset of BH's rejections, q-values scale by exactly
    c(m), and method='bh' stays bit-identical to the default."""
    from kafka_streams_plumber_spark.operators.stats import bh_fdr

    rows = [(f"h{i}", p) for i, p in enumerate(
        [0.001, 0.004, 0.019, 0.03, 0.2, 0.5, 0.9, 0.95]
    )]
    df = spark.createDataFrame(rows, "id string, p double")
    bh = {r["id"]: r for r in bh_fdr(df, "p", "id", alpha=0.1).collect()}
    bh2 = {
        r["id"]: r
        for r in bh_fdr(df, "p", "id", alpha=0.1, method="bh").collect()
    }
    assert bh == bh2  # the 1.0 multiply is an IEEE no-op
    by = {
        r["id"]: r
        for r in bh_fdr(df, "p", "id", alpha=0.1, method="by").collect()
    }
    rej_bh = {k for k, r in bh.items() if r["rejected"]}
    rej_by = {k for k, r in by.items() if r["rejected"]}
    assert rej_by <= rej_bh and rej_by  # conservative but not empty
    cm = sum(round(1e12 / i) / 1e12 for i in range(1, 9))
    for k in bh:
        if bh[k]["q_value"] < 1.0 / cm - 1e-9:
            assert abs(by[k]["q_value"] - round(
                bh[k]["q_value"] * cm, 4)) < 2e-4

    import pytest as _pt

    with _pt.raises(ValueError):
        bh_fdr(df, "p", "id", method="holm")


def test_runs_test_hand_computed(spark):
    """Residuals [+,+,-,-,+] around zero: a=3, b=2, runs=3,
    z = (3 - 3.4)/sqrt(0.84). Median-center drops ties; degenerate
    panels (one-sided, or a=b=1 where sigma is exactly 0) give NULL."""
    from kafka_streams_plumber_spark.operators.stats import runs_test

    df = spark.createDataFrame(
        [(0, 1.0), (1, 1.0), (2, -1.0), (3, -1.0), (4, 1.0)],
        "idx long, v double",
    )
    r = runs_test(df, "idx", "v", center="zero").collect()[0]
    assert (r["n_above"], r["n_below"], r["runs"]) == (3, 2, 3)
    assert r["z"] == round((3 - 3.4) / 0.84**0.5, 6)

    # median center: [10, 20, 10, 20, 30] -> median 20, ties dropped,
    # kept signs F,F,T -> runs 2
    med = spark.createDataFrame(
        [(i, v) for i, v in enumerate([10.0, 20.0, 10.0, 20.0, 30.0])],
        "idx long, v double",
    )
    m = runs_test(med, "idx", "v").collect()[0]
    assert (m["n_above"], m["n_below"], m["runs"]) == (1, 2, 2)
    assert m["z"] == round((2 - (4 / 3 + 1)) / ((4 * 1) / (9 * 2)) ** 0.5, 6)

    # one-sided: NULL
    one = spark.createDataFrame([(0, 5.0), (1, 6.0)], "idx long, v double")
    o = runs_test(one, "idx", "v", center="zero").collect()[0]
    assert o["runs"] is None and o["z"] is None

    # a=b=1: sigma^2 == 0 exactly -> NULL z in both engines
    ab1 = spark.createDataFrame([(0, 1.0), (1, -1.0)], "idx long, v double")
    a1 = runs_test(ab1, "idx", "v", center="zero").collect()[0]
    assert a1["runs"] == 2 and a1["z"] is None

    import pytest as _pt

    with _pt.raises(ValueError):
        runs_test(df, "idx", "v", center="mean")


def test_autocorrelation_grouped_isolated(spark):
    """group_cols: pairs never cross groups, and each group's ACF
    equals its own ungrouped computation."""
    from kafka_streams_plumber_spark.operators.stats import autocorrelation

    rows = [("a", i, float(i + 1)) for i in range(5)] + [
        ("b", i, [3.0, 9.0][i % 2]) for i in range(6)
    ]
    df = spark.createDataFrame(rows, "g string, idx long, v double")
    got = {
        (r["g"], r["lag"]): (r["n_pairs"], r["acf"])
        for r in autocorrelation(
            df, "idx", "v", max_lag=2, group_cols=["g"], value_scale=1
        ).collect()
    }
    # group a == the classic [1..5] hand case
    assert got[("a", 1)] == (4, 0.4) and got[("a", 2)] == (3, -0.1)
    # group b alternates: strong negative r1, positive r2
    solo = {
        r["lag"]: (r["n_pairs"], r["acf"])
        for r in autocorrelation(
            spark.createDataFrame(
                [(i, [3.0, 9.0][i % 2]) for i in range(6)], "idx long, v double"
            ),
            "idx",
            "v",
            max_lag=2,
            value_scale=1,
        ).collect()
    }
    assert got[("b", 1)] == solo[1] and got[("b", 2)] == solo[2]
    assert got[("b", 1)][1] < 0 < got[("b", 2)][1]


def test_kruskal_wallis_hand_computed(spark):
    """a=[1,2] vs b=[3,4]: H = 2.4 (classic no-tie case); the all-tie
    panel gives NULL; ties are corrected (a=[1,1] vs b=[2,2] -> 3.0,
    the 2.4/0.8 tie-corrected value); 3-group case H = 1.805556."""
    from kafka_streams_plumber_spark.operators.stats import kruskal_wallis

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 3.0), ("b", 4.0)],
        "g string, v double",
    )
    r = kruskal_wallis(df, "v", "g").collect()[0]
    assert (r["n"], r["k_groups"], r["df"]) == (4, 2, 1)
    assert r["h"] == 2.4

    tied = spark.createDataFrame(
        [("a", 1.0), ("a", 1.0), ("b", 2.0), ("b", 2.0)],
        "g string, v double",
    )
    assert kruskal_wallis(tied, "v", "g").collect()[0]["h"] == 3.0

    allt = spark.createDataFrame(
        [("a", 5.0), ("b", 5.0), ("c", 5.0)], "g string, v double"
    )
    assert kruskal_wallis(allt, "v", "g").collect()[0]["h"] is None

    three = spark.createDataFrame(
        [("a", 2.1), ("a", 3.5), ("a", 1.0), ("b", 4.2), ("b", 5.5),
         ("c", 0.5), ("c", 6.1), ("c", 7.7)],
        "g string, v double",
    )
    r3 = kruskal_wallis(three, "v", "g").collect()[0]
    assert (r3["n"], r3["k_groups"], r3["df"]) == (8, 3, 2)
    assert r3["h"] == 1.805556


def test_anova_oneway_hand_computed(spark):
    """a=[1,2,3], b=[2,3,4], c=[4,5,6]: SSB=14, SSW=6 -> F = 7.0,
    eta_sq = 0.7; zero within-variance -> NULL F with eta_sq 1;
    single group -> NULL F."""
    from kafka_streams_plumber_spark.operators.stats import anova_oneway

    rows = [("a", v) for v in (1.0, 2.0, 3.0)] + [
        ("b", v) for v in (2.0, 3.0, 4.0)
    ] + [("c", v) for v in (4.0, 5.0, 6.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = anova_oneway(df, "v", "g").collect()[0]
    assert (r["n"], r["k_groups"]) == (9, 3)
    assert (r["df_between"], r["df_within"]) == (2, 6)
    assert r["f"] == 7.0 and r["eta_sq"] == 0.7

    novar = spark.createDataFrame(
        [("a", 1.0), ("a", 1.0), ("b", 2.0), ("b", 2.0)],
        "g string, v double",
    )
    rn = anova_oneway(novar, "v", "g").collect()[0]
    assert rn["f"] is None and rn["eta_sq"] == 1.0

    single = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0)], "g string, v double"
    )
    assert anova_oneway(single, "v", "g").collect()[0]["f"] is None


def test_brown_forsythe_hand_computed(spark):
    """Median-centered Levene: a=[1,2,3,4,10] (med 3) vs b=[2,2,3,2,3]
    (med 2): F = 8.1/4 = 2.025; vs c=[1,2,3,4] the even-size group
    exercises the interpolated median 2.5 -> F = 22.4/31.8."""
    from kafka_streams_plumber_spark.operators.stats import brown_forsythe

    a = [("a", v) for v in (1.0, 2.0, 3.0, 4.0, 10.0)]
    b = [("b", v) for v in (2.0, 2.0, 3.0, 2.0, 3.0)]
    df = spark.createDataFrame(a + b, "g string, v double")
    r = brown_forsythe(df, "v", "g").collect()[0]
    assert (r["n"], r["k_groups"]) == (10, 2)
    assert r["f"] == 2.025
    assert r["eta_sq"] == round(8.1 / 40.1, 6)

    c = [("c", v) for v in (1.0, 2.0, 3.0, 4.0)]
    df2 = spark.createDataFrame(a + c, "g string, v double")
    r2 = brown_forsythe(df2, "v", "g").collect()[0]
    assert r2["f"] == round(22.4 / 31.8, 6)
    assert r2["eta_sq"] == round(3.2 / 35.0, 6)


def test_kendall_tau_hand_computed(spark):
    """(12,1),(2,4),(1,7),(12,1),(2,0): P=2, Q=6, x-tie pairs 2,
    y-tie pairs 1 -> tau_b = -4/sqrt(8*9) = -0.471405 (scipy's
    doc value for this panel); perfect order -> 1.0; all-x-tied ->
    NULL."""
    from kafka_streams_plumber_spark.operators.stats import kendall_tau

    df = spark.createDataFrame(
        [(12.0, 1.0), (2.0, 4.0), (1.0, 7.0), (12.0, 1.0), (2.0, 0.0)],
        "x double, y double",
    )
    r = kendall_tau(df, "x", "y").collect()[0]
    assert (r["n"], r["concordant"], r["discordant"]) == (5, 2, 6)
    assert r["tau_b"] == -0.471405

    perf = spark.createDataFrame(
        [(float(i), float(i * 2)) for i in range(6)], "x double, y double"
    )
    p = kendall_tau(perf, "x", "y").collect()[0]
    assert p["tau_b"] == 1.0 and p["discordant"] == 0

    tied = spark.createDataFrame(
        [(1.0, float(i)) for i in range(4)], "x double, y double"
    )
    assert kendall_tau(tied, "x", "y").collect()[0]["tau_b"] is None


def test_kendall_tau_brute_force_cross_check(spark):
    """Deterministic pseudo-random panel vs an O(n^2) pure-Python
    reference: the prefix-sum formulation must count every pair class
    exactly."""
    from kafka_streams_plumber_spark.operators.stats import kendall_tau

    rows = []
    s = 7
    for i in range(60):
        s = (s * 1103515245 + 12345) % (2**31)
        xv = float(s % 13)
        s = (s * 1103515245 + 12345) % (2**31)
        yv = float(s % 7)
        rows.append((xv, yv))
    p = q = 0
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            dx = rows[i][0] - rows[j][0]
            dy = rows[i][1] - rows[j][1]
            if dx * dy > 0:
                p += 1
            elif dx * dy < 0:
                q += 1
    df = spark.createDataFrame(rows, "x double, y double")
    r = kendall_tau(df, "x", "y").collect()[0]
    assert (r["concordant"], r["discordant"]) == (p, q)


def test_cohens_d_hand_computed(spark):
    """a=[2,4,7,3] vs b=[1,2,3]: pooled s^2 = 16/5, d = 2/sqrt(3.2) =
    1.118034, g = d*(1 - 3/19); empty side and zero-variance panels
    give NULL."""
    from kafka_streams_plumber_spark.operators.stats import cohens_d

    rows = [("a", v) for v in (2.0, 4.0, 7.0, 3.0)] + [
        ("b", v) for v in (1.0, 2.0, 3.0)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    r = cohens_d(df, "v", "g", "a", "b").collect()[0]
    d_exp = 2.0 / (3.2 ** 0.5)
    assert (r["n_a"], r["n_b"]) == (4, 3)
    assert (r["mean_a"], r["mean_b"]) == (4.0, 2.0)
    assert r["d"] == round(d_exp, 6)
    assert r["g"] == round(d_exp * (1 - 3.0 / 19.0), 6)

    onesided = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0)], "g string, v double"
    )
    assert cohens_d(onesided, "v", "g", "a", "b").collect()[0]["d"] is None

    const = spark.createDataFrame(
        [("a", 5.0), ("a", 5.0), ("b", 5.0)], "g string, v double"
    )
    assert cohens_d(const, "v", "g", "a", "b").collect()[0]["d"] is None


def test_cmh_hand_computed(spark):
    """Two strata vs an independent pure-Python reference; the classic
    all-concordant stratum contributes nothing to OR's denominator;
    degenerate single-row strata contribute zero variance."""
    from kafka_streams_plumber_spark.operators.stats import cmh_test

    strata = {
        "s1": (12, 5, 6, 10),   # (a, b, c, d)
        "s2": (4, 9, 3, 14),
    }
    rows = []
    for s, (a, b, c, d) in strata.items():
        rows += [(s, True, True)] * a + [(s, True, False)] * b
        rows += [(s, False, True)] * c + [(s, False, False)] * d
    df = spark.createDataFrame(rows, "s string, x boolean, y boolean")

    r_sum = s_sum = e_sum = v_sum = sa = 0.0
    for a, b, c, d in strata.values():
        n = a + b + c + d
        sa += a
        r_sum += a * d / n
        s_sum += b * c / n
        e_sum += (a + b) * (a + c) / n
        v_sum += (a + b) * (c + d) * (a + c) * (b + d) / (n * n * (n - 1))
    or_ref = r_sum / s_sum
    chi_ref = (max(abs(sa - e_sum) - 0.5, 0)) ** 2 / v_sum

    r = cmh_test(df, "s", "x", "y").collect()[0]
    assert (r["n_strata"], r["n"]) == (2, sum(sum(v) for v in strata.values()))
    assert abs(r["or_mh"] - or_ref) < 1e-6
    assert abs(r["chi2"] - chi_ref) < 1e-6

    u = cmh_test(df, "s", "x", "y", corrected=False).collect()[0]
    assert abs(u["chi2"] - (sa - e_sum) ** 2 / v_sum) < 1e-6

    conc = spark.createDataFrame(
        [("s", True, True), ("s", False, False)] * 3,
        "s string, x boolean, y boolean",
    )
    rc = cmh_test(conc, "s", "x", "y").collect()[0]
    assert rc["or_mh"] is None  # no discordant mass: b*c sums to 0


def test_jonckheere_terpstra_brute_force(spark):
    """J, E, Var vs an independent O(n^2) pure-Python reference on a
    tied deterministic panel; a clean increasing trend gives large
    positive z; reversing the group order flips the sign; all-tied
    values give NULL z."""
    from kafka_streams_plumber_spark.operators.stats import (
        jonckheere_terpstra,
    )

    order = ["low", "mid", "high"]
    rows, s = [], 11
    for i in range(90):
        s = (s * 1103515245 + 12345) % (2**31)
        g = order[i % 3]
        rows.append((g, float(s % 8 + (i % 3))))  # mild trend + ties

    def ref(rows):
        j = 0.0
        for gi in range(3):
            for hi in range(gi + 1, 3):
                xs = [v for g, v in rows if g == order[gi]]
                ys = [v for g, v in rows if g == order[hi]]
                for x in xs:
                    for y in ys:
                        j += 1.0 if x < y else (0.5 if x == y else 0.0)
        n = len(rows)
        ngs = [sum(1 for g, _ in rows if g == o) for o in order]
        from collections import Counter

        tvs = list(Counter(v for _, v in rows).values())
        e = (n * n - sum(x * x for x in ngs)) / 4.0
        a = (
            n * (n - 1) * (2 * n + 5)
            - sum(x * (x - 1) * (2 * x + 5) for x in ngs)
            - sum(t * (t - 1) * (2 * t + 5) for t in tvs)
        )
        b = sum(x * (x - 1) * (x - 2) for x in ngs) * sum(
            t * (t - 1) * (t - 2) for t in tvs
        )
        c = sum(x * (x - 1) for x in ngs) * sum(t * (t - 1) for t in tvs)
        var = (
            a / 72.0
            + b / (36.0 * n * (n - 1) * (n - 2))
            + c / (8.0 * n * (n - 1))
        )
        return j, (j - e) / var**0.5

    j_ref, z_ref = ref(rows)
    df = spark.createDataFrame(rows, "g string, v double")
    r = jonckheere_terpstra(df, "v", "g", order).collect()[0]
    assert (r["n"], r["k_groups"]) == (90, 3)
    assert r["j"] == j_ref
    assert abs(r["z"] - z_ref) < 1e-6

    trend = [("low", float(i)) for i in range(5)] + [
        ("mid", float(i + 5)) for i in range(5)
    ] + [("high", float(i + 10)) for i in range(5)]
    dft = spark.createDataFrame(trend, "g string, v double")
    up = jonckheere_terpstra(dft, "v", "g", order).collect()[0]
    down = jonckheere_terpstra(
        dft, "v", "g", list(reversed(order))
    ).collect()[0]
    assert up["z"] > 3 and down["z"] == -up["z"]
    assert up["j"] == 75.0  # 3 pairs x 25 all-concordant

    allt = spark.createDataFrame(
        [(g, 1.0) for g in order * 3], "g string, v double"
    )
    assert jonckheere_terpstra(allt, "v", "g", order).collect()[0]["z"] is None


def test_pacf_hand_computed_and_reference(spark):
    """An AR(1)-shaped ACF (r_k = 0.5^k) must cut off: pacf_1 = 0.5,
    pacf_2 = pacf_3 = 0. A synthetic series is checked against an
    independent pure-Python Durbin-Levinson on the SAME rounded ACF
    values."""
    from kafka_streams_plumber_spark.operators.stats import (
        autocorrelation,
        pacf,
    )

    # geometric series x_t with exact AR(1) sample structure is hard
    # to construct; instead check the recursion itself on a series
    # and mirror it in pure Python from the operator's own ACF.
    rows = [(i, float((i * 37 % 11) + (i % 3))) for i in range(40)]
    df = spark.createDataFrame(rows, "idx long, v double")
    m = 5
    acf_vals = {
        r["lag"]: r["acf"]
        for r in autocorrelation(df, "idx", "v", max_lag=m, value_scale=1).collect()
    }

    def ref(r, m):
        phi = {1: {1: r[1]}}
        out = {1: r[1]}
        for k in range(2, m + 1):
            num = r[k]
            den = 1.0
            for j in range(1, k):
                num -= phi[k - 1][j] * r[k - j]
                den -= phi[k - 1][j] * r[j]
            pkk = num / den
            phi[k] = {k: pkk}
            for j in range(1, k):
                phi[k][j] = phi[k - 1][j] - pkk * phi[k - 1][k - j]
            out[k] = pkk
        return out

    want = ref(acf_vals, m)
    got = {
        r["lag"]: r["pacf"]
        for r in pacf(df, "idx", "v", max_lag=m, value_scale=1).collect()
    }
    for k in range(1, m + 1):
        assert abs(got[k] - round(want[k], 6)) < 2e-6, (k, got[k], want[k])

    const = spark.createDataFrame(
        [(i, 7.0) for i in range(10)], "idx long, v double"
    )
    cg = {
        r["lag"]: r["pacf"]
        for r in pacf(const, "idx", "v", max_lag=3, value_scale=1).collect()
    }
    assert all(v is None for v in cg.values())


def test_jarque_bera_hand_computed(spark):
    """[1..5]: symmetric -> skew 0, m4/m2^2 = 6.8/4 -> kurt -1.3,
    JB = 5/6 * (0 + 1.69/4) = 0.352083; constant series -> NULLs."""
    from kafka_streams_plumber_spark.operators.stats import jarque_bera

    df = spark.createDataFrame(
        [("a", float(x)) for x in range(1, 6)] + [("c", 7.0), ("c", 7.0)],
        "g string, v double",
    )
    out = {r["g"]: r for r in jarque_bera(df, "v", "g").collect()}
    a = out["a"]
    assert a["n"] == 5
    assert a["skewness"] == 0.0
    assert a["kurt_excess"] == -1.3
    assert a["jb"] == 0.352083
    c = out["c"]
    assert (c["skewness"], c["kurt_excess"], c["jb"]) == (None,) * 3


def test_jarque_bera_matches_pure_python(spark):
    """Skewed panel vs an independent pure-Python moment kernel."""
    import random

    from kafka_streams_plumber_spark.operators.stats import jarque_bera

    random.seed(11)
    xs = [round(random.expovariate(0.3), 4) for _ in range(300)]
    df = spark.createDataFrame([("g", x) for x in xs], "g string, v double")
    r = jarque_bera(df, "v", "g").collect()[0]
    n = len(xs)
    m = sum(xs) / n
    m2 = sum((x - m) ** 2 for x in xs) / n
    m3 = sum((x - m) ** 3 for x in xs) / n
    m4 = sum((x - m) ** 4 for x in xs) / n
    sk = m3 / m2**1.5
    ku = m4 / m2**2 - 3
    jb = n / 6 * (sk * sk + ku * ku / 4)
    assert abs(r["skewness"] - sk) < 1e-5
    assert abs(r["kurt_excess"] - ku) < 1e-5
    assert abs(r["jb"] - jb) < 1e-3


def test_cramer_von_mises_hand_computed(spark):
    """a=[1,2] vs b=[3,4]: ECDF gaps (.5, 1, .5, 0), T = 4/16 * 1.5 =
    0.375; empty side -> NULL."""
    from kafka_streams_plumber_spark.operators.stats import (
        cramer_von_mises,
    )

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 3.0), ("b", 4.0)],
        "g string, v double",
    )
    r = cramer_von_mises(df, "v", "g", "a", "b").collect()[0]
    assert (r["n_a"], r["n_b"]) == (2, 2)
    assert r["t"] == 0.375

    r2 = cramer_von_mises(df, "v", "g", "a", "zzz").collect()[0]
    assert r2["t"] is None and r2["n_b"] == 0


def test_cramer_von_mises_identical_samples_zero(spark):
    """Same distribution on both sides at the distinct-value grain
    -> every gap m*cumA - n*cumB is 0 -> T = 0."""
    from kafka_streams_plumber_spark.operators.stats import (
        cramer_von_mises,
    )

    rows = [("a", float(v)) for v in (1, 2, 3)] + [
        ("b", float(v)) for v in (1, 2, 3)
    ]
    r = cramer_von_mises(
        spark.createDataFrame(rows, "g string, v double"), "v", "g", "a", "b"
    ).collect()[0]
    assert r["t"] == 0.0


def test_mood_median_hand_computed(spark):
    """a=[1,2,3] vs b=[4,5,6]: grand median 3.5, perfect separation
    -> chi2 = 6.0 with df 1."""
    from kafka_streams_plumber_spark.operators.stats import mood_median

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0),
         ("b", 4.0), ("b", 5.0), ("b", 6.0)],
        "g string, v double",
    )
    r = mood_median(df, "v", "g").collect()[0]
    assert (r["n_used"], r["k_groups"], r["df"]) == (6, 2, 1)
    assert r["grand_median"] == 3.5
    assert r["chi2"] == 6.0


def test_mood_median_ties_at_median_dropped(spark):
    """Values equal to the grand median leave n_used (scipy
    ties='ignore'); a balanced split scores chi2 = 0."""
    from kafka_streams_plumber_spark.operators.stats import mood_median

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 5.0), ("b", 2.0), ("b", 4.0), ("b", 3.0)],
        "g string, v double",
    )
    r = mood_median(df, "v", "g").collect()[0]
    # grand median = 3.0 (exact middle) -> the 3.0 row drops
    assert r["grand_median"] == 3.0
    assert r["n_used"] == 4
    assert r["chi2"] == 0.0


def test_mood_median_all_tied_group_keeps_df_nulls_chi2(spark):
    """ADVICE r8: a group whose EVERY value equals the grand median
    must still count in k_groups/df (scipy.median_test raises here —
    it never silently re-sizes the table); chi2 goes NULL instead of
    being computed over a shrunken k-1 table."""
    from kafka_streams_plumber_spark.operators.stats import mood_median

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("c", 3.0), ("c", 3.0),
         ("b", 4.0), ("b", 5.0)],
        "g string, v double",
    )
    r = mood_median(df, "v", "g").collect()[0]
    # grand median = 3.0; group c ties entirely -> 0 usable rows
    assert r["grand_median"] == 3.0
    assert r["n_used"] == 4
    assert (r["k_groups"], r["df"]) == (3, 2)
    assert r["chi2"] is None


def test_jarque_bera_spread_guard_nulls_not_wraps(spark):
    """ADVICE r8: the per-row d^2 is a raw long*long (the hot path);
    past scaled spread 3037000499 it would wrap silently. The guard
    must NULL that group's statistics while an in-bound group in the
    same frame still computes."""
    from kafka_streams_plumber_spark.operators.stats import jarque_bera

    rows = [("wide", 0.0), ("wide", 1.0e9), ("wide", 2.0e9)] + [
        ("ok", float(v)) for v in (1, 2, 3, 4, 10)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    out = {r["g"]: r for r in jarque_bera(df, "v", "g").collect()}
    # scale=4 default: wide's scaled spread = 2e13 > 3037000499
    assert out["wide"]["n"] == 3
    assert out["wide"]["skewness"] is None
    assert out["wide"]["kurt_excess"] is None
    assert out["wide"]["jb"] is None
    assert out["ok"]["jb"] is not None


def test_jarque_bera_spread_guard_catches_negative_wrap(spark):
    """A true scaled spread past 2^63 wraps NEGATIVE in the long
    max-min; without the 0 <= _sp bound it would pass the upper guard
    and re-admit wrapped d^2 garbage (code-review r9)."""
    from kafka_streams_plumber_spark.operators.stats import jarque_bera

    rows = [("huge", -5.0e14), ("huge", 5.0e14), ("huge", 0.0)] + [
        ("ok", float(v)) for v in (1, 2, 3, 4, 10)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    out = {r["g"]: r for r in jarque_bera(df, "v", "g").collect()}
    # scale=4: _s = +-5e18 each fits a long; true spread 1e19 > 2^63
    # wraps to a negative long
    assert out["huge"]["jb"] is None
    assert out["huge"]["skewness"] is None
    assert out["ok"]["jb"] is not None


def test_friedman_hand_computed(spark):
    """6 blocks x 3 treatments with within-block ties: tie-corrected
    Q = 2.111111 (independent pure-Python midrank kernel); an
    incomplete block is excluded; all-tie panel -> NULL."""
    from kafka_streams_plumber_spark.operators.stats import friedman

    vals = [
        [1.0, 2.0, 3.0],
        [2.0, 2.0, 1.0],
        [5.0, 4.0, 4.0],
        [1.5, 1.5, 1.5],
        [3.0, 1.0, 2.0],
        [9.0, 8.0, 7.0],
    ]
    rows = [
        (b, t, v)
        for b, vs in enumerate(vals)
        for t, v in zip(["x", "y", "z"], vs)
    ]
    # an incomplete block (only 2 of 3 treatments) must not count
    rows += [(99, "x", 1.0), (99, "y", 2.0)]
    df = spark.createDataFrame(rows, "b long, t string, v double")
    r = friedman(df, "b", "t", "v", n_treatments=3).collect()[0]
    assert (r["n_blocks"], r["k"], r["df"]) == (6, 3, 2)
    assert r["q"] == 2.111111

    allt = spark.createDataFrame(
        [(b, t, 1.0) for b in range(3) for t in ("x", "y", "z")],
        "b long, t string, v double",
    )
    assert friedman(allt, "b", "t", "v", n_treatments=3).collect()[0][
        "q"
    ] is None


def test_friedman_classic_no_ties(spark):
    """No-tie case: Q reduces to 12/(n*k*(k+1)) * sum R_j^2 -
    3n(k+1); blocks all ranking (1,2,3) -> Q = 2n*(k-1) = 12 at
    n = 6, the maximum."""
    from kafka_streams_plumber_spark.operators.stats import friedman

    rows = [
        (b, t, float(i + 1))
        for b in range(6)
        for i, t in enumerate(["x", "y", "z"])
    ]
    df = spark.createDataFrame(rows, "b long, t string, v double")
    r = friedman(df, "b", "t", "v", n_treatments=3).collect()[0]
    assert r["q"] == 12.0


def test_welch_t_hand_computed(spark):
    """a=[1..4] (var 5/3) vs b=[2,4,..,10] (var 10): the classic
    unequal-variance case; expectations replayed from the
    Welch-Satterthwaite closed form."""
    import math

    from kafka_streams_plumber_spark.operators.stats import welch_t

    a = [1.0, 2.0, 3.0, 4.0]
    b = [2.0, 4.0, 6.0, 8.0, 10.0]
    rows = [("a", x) for x in a] + [("b", x) for x in b]
    df = spark.createDataFrame(rows, "g string, v double")
    r = welch_t(df, "v", "g", "a", "b").collect()[0]
    va, vb = 5 / 3, 10.0
    se2 = va / 4 + vb / 5
    t = (2.5 - 6.0) / math.sqrt(se2)
    dfw = se2 * se2 / ((va / 4) ** 2 / 3 + (vb / 5) ** 2 / 4)
    assert (r["n_a"], r["n_b"]) == (4, 5)
    assert (r["mean_a"], r["mean_b"], r["mean_diff"]) == (2.5, 6.0, -3.5)
    assert abs(r["t"] - t) < 1e-6
    assert abs(r["df"] - dfw) < 1e-6

    tiny = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0)], "g string, v double"
    )
    r2 = welch_t(tiny, "v", "g", "a", "b").collect()[0]
    assert r2["t"] is None and r2["df"] is None


def test_cross_correlation_hand_computed(spark):
    """y = x shifted by +2: the CCF peaks AT lag 2 (the pairs there
    align x_t with x_t; full-series normalization keeps it just
    under 1 from boundary pairs); lag 0 of x-vs-x is exactly 1.0;
    constant y -> NULL everywhere."""
    from kafka_streams_plumber_spark.operators.stats import (
        cross_correlation,
    )

    xs = {i: float((i * 7) % 5 + 1) for i in range(20)}
    rows = [(i, xs[i], xs[i - 2]) for i in range(2, 20)]
    df = spark.createDataFrame(rows, "i long, x double, y double")
    out = {
        r["lag"]: r
        for r in cross_correlation(df, "i", "x", "y", max_lag=3).collect()
    }
    peak = max(out.values(), key=lambda r: r["ccf"])
    assert peak["lag"] == 2 and peak["ccf"] > 0.9
    assert out[0]["ccf"] < out[2]["ccf"]
    assert len(out) == 7 and out[-3]["lag"] == -3

    same = spark.createDataFrame(
        [(i, xs[i], xs[i]) for i in range(20)], "i long, x double, y double"
    )
    s = {
        r["lag"]: r["ccf"]
        for r in cross_correlation(same, "i", "x", "y", max_lag=1).collect()
    }
    assert s[0] == 1.0

    const = spark.createDataFrame(
        [(i, xs[i], 5.0) for i in range(20)], "i long, x double, y double"
    )
    c = cross_correlation(const, "i", "x", "y", max_lag=1).collect()
    assert all(r["ccf"] is None for r in c)


def test_cross_correlation_lag0_is_pearson(spark):
    """Lag 0 equals the Pearson correlation of the aligned series
    (pure-Python reference)."""
    import math
    import random

    from kafka_streams_plumber_spark.operators.stats import (
        cross_correlation,
    )

    random.seed(4)
    rows = [
        (i, round(random.gauss(10, 2), 4), round(random.gauss(5, 1), 4))
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, "i long, x double, y double")
    r0 = {
        r["lag"]: r["ccf"]
        for r in cross_correlation(df, "i", "x", "y", max_lag=1).collect()
    }[0]
    X = [round(x * 1e6) for _, x, _ in rows]
    Y = [round(y * 1e6) for _, _, y in rows]
    n = len(X)
    num = n * sum(a * b for a, b in zip(X, Y)) - sum(X) * sum(Y)
    den = math.sqrt(
        (n * sum(a * a for a in X) - sum(X) ** 2)
        * (n * sum(b * b for b in Y) - sum(Y) ** 2)
    )
    assert abs(r0 - num / den) < 2e-6


def test_two_proportion_z_hand_computed(spark):
    """30/100 vs 50/120: z from the pooled closed form; equal rates
    -> z = 0; empty side -> NULLs."""
    import math

    from kafka_streams_plumber_spark.operators.stats import (
        two_proportion_z,
    )

    rows = [("a", i < 30) for i in range(100)] + [
        ("b", i < 50) for i in range(120)
    ]
    df = spark.createDataFrame(rows, "g string, s boolean")
    r = two_proportion_z(df, "s", "g", "a", "b").collect()[0]
    pa, pb, pool = 0.3, 50 / 120, 80 / 220
    z = (pa - pb) / math.sqrt(pool * (1 - pool) * (1 / 100 + 1 / 120))
    assert (r["n_a"], r["n_b"], r["pos_a"], r["pos_b"]) == (100, 120, 30, 50)
    assert abs(r["z"] - z) < 1e-6

    eq = spark.createDataFrame(
        [("a", i < 5) for i in range(10)] + [("b", i < 5) for i in range(10)],
        "g string, s boolean",
    )
    assert two_proportion_z(eq, "s", "g", "a", "b").collect()[0]["z"] == 0.0

    r2 = two_proportion_z(df, "s", "g", "a", "zz").collect()[0]
    assert r2["z"] is None and r2["n_b"] == 0


def test_chi2_gof_hand_computed(spark):
    """50/30/20 vs (0.5, 0.25, 0.25) over N=100: chi2 = 0 + 1 + 1 =
    2; off-target categories are excluded; an absent target category
    keeps its full expected mass."""
    from kafka_streams_plumber_spark.operators.stats import chi2_gof

    rows = [("en",)] * 50 + [("de",)] * 30 + [("fr",)] * 20 + [("xx",)] * 7
    df = spark.createDataFrame(rows, "g string")
    r = chi2_gof(df, "g", {"en": 0.5, "de": 0.25, "fr": 0.25}).collect()[0]
    assert (r["n"], r["k"], r["df"]) == (100, 3, 2)
    assert r["chi2"] == 2.0

    # absent category 'es' with half the target mass: N stays 100,
    # E = (25, 12.5, 12.5, 50), so chi2 = 25 + 24.5 + 4.5 + 50 = 104
    r2 = chi2_gof(df, "g", {"en": 0.25, "de": 0.125, "fr": 0.125,
                            "es": 0.5}).collect()[0]
    assert r2["k"] == 4
    assert r2["chi2"] == 104.0


def test_cliffs_delta_hand_computed(spark):
    """Complete separation -> +-1; identical samples -> 0; the
    textbook a=[1,2,3] b=[2,3,4]: wins 1, losses 6, ties -> delta =
    (1-6)/9 = -0.555556."""
    from kafka_streams_plumber_spark.operators.stats import cliffs_delta

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0),
         ("b", 2.0), ("b", 3.0), ("b", 4.0)],
        "g string, v double",
    )
    r = cliffs_delta(df, "v", "g", "a", "b").collect()[0]
    assert (r["n_a"], r["n_b"]) == (3, 3)
    assert r["delta"] == -0.555556

    sep = spark.createDataFrame(
        [("a", 9.0), ("a", 8.0), ("b", 1.0)], "g string, v double"
    )
    assert cliffs_delta(sep, "v", "g", "a", "b").collect()[0]["delta"] == 1.0
    assert cliffs_delta(sep, "v", "g", "b", "a").collect()[0]["delta"] == -1.0


def test_bartlett_hand_computed(spark):
    """Equal-variance groups -> T ~ 0 (exactly 0 when variances are
    identical); a zero-variance group -> NULL; n_i < 2 -> NULL."""
    from kafka_streams_plumber_spark.operators.stats import bartlett

    # two groups with IDENTICAL sample variance -> T = 0
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0),
         ("b", 11.0), ("b", 12.0), ("b", 13.0)],
        "g string, v double",
    )
    assert bartlett(df, "v", "g").collect()[0]["t"] == 0.0

    zv = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 5.0), ("b", 5.0)],
        "g string, v double",
    )
    assert bartlett(zv, "v", "g").collect()[0]["t"] is None

    tiny = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 7.0)], "g string, v double"
    )
    assert bartlett(tiny, "v", "g").collect()[0]["t"] is None


def test_qq_table_hand_computed(spark):
    """b = a + 10 exactly: every decile diff is 10; an empty side
    yields NULL quantiles but keeps the 9 probe rows."""
    from kafka_streams_plumber_spark.operators.stats import qq_table

    a = [float(x) for x in range(1, 12)]
    rows = [("a", x) for x in a] + [("b", x + 10.0) for x in a]
    df = spark.createDataFrame(rows, "g string, v double")
    out = qq_table(df, "v", "g", "a", "b").collect()
    assert len(out) == 9
    assert [r["p"] for r in out] == [round(i / 10, 6) for i in range(1, 10)]
    assert all(r["diff"] == -10.0 for r in out)
    assert out[4]["q_a"] == 6.0  # median of 1..11

    empty_b = qq_table(df, "v", "g", "a", "zz").collect()
    assert len(empty_b) == 9
    assert all(r["q_b"] is None and r["diff"] is None for r in empty_b)
    assert empty_b[4]["q_a"] == 6.0


def test_cochran_armitage_hand_computed(spark):
    """Rising rates across ordered tiers give a large positive z
    (closed-form replayed); flat rates give exactly 0; reversing the
    score order flips the sign; all-success -> NULL."""
    import math

    from kafka_streams_plumber_spark.operators.stats import (
        cochran_armitage,
    )

    rows = []
    for w, k, n in [(0, 5, 50), (1, 12, 60), (2, 14, 40), (3, 15, 30)]:
        rows += [(w, i < k) for i in range(n)]
    df = spark.createDataFrame(rows, "w long, s boolean")
    r = cochran_armitage(df, "w", "s").collect()[0]
    N, R = 180, 46
    wr = 0 * 5 + 1 * 12 + 2 * 14 + 3 * 15
    wn = 0 * 50 + 1 * 60 + 2 * 40 + 3 * 30
    w2n = 0 * 50 + 1 * 60 + 4 * 40 + 9 * 30
    z = (N * wr - R * wn) * math.sqrt(N) / math.sqrt(
        R * (N - R) * (N * w2n - wn * wn)
    )
    assert (r["n"], r["n_success"], r["k_scores"]) == (180, 46, 4)
    assert abs(r["z"] - z) < 1e-6

    rev = spark.createDataFrame([(3 - w, s) for w, s in rows], "w long, s boolean")
    assert cochran_armitage(rev, "w", "s").collect()[0]["z"] == -r["z"]

    flat = spark.createDataFrame(
        [(w, i < 10) for w in range(3) for i in range(20)],
        "w long, s boolean",
    )
    assert cochran_armitage(flat, "w", "s").collect()[0]["z"] == 0.0

    allpos = spark.createDataFrame(
        [(w, True) for w in range(3) for _ in range(5)], "w long, s boolean"
    )
    assert cochran_armitage(allpos, "w", "s").collect()[0]["z"] is None


def test_hhi_concentration_hand_computed(spark):
    """Uniform 4-way mix -> HHI 0.25, effective_k exactly 4; a
    50-vs-2 near-monoculture -> HHI (50^2+2^2)/52^2 with top share
    50/52; single category -> HHI 1."""
    from kafka_streams_plumber_spark.operators.stats import (
        hhi_concentration,
    )

    rows = (
        [("g1", f"c{i % 4}") for i in range(80)]
        + [("g2", "c0")] * 50
        + [("g2", "c1")] * 2
        + [("g3", "only")] * 7
    )
    df = spark.createDataFrame(rows, "g string, c string")
    out = {r["g"]: r for r in hhi_concentration(df, "g", "c").collect()}
    assert (out["g1"]["hhi"], out["g1"]["effective_k"]) == (0.25, 4.0)
    assert out["g2"]["hhi"] == round((50 * 50 + 4) / (52 * 52), 6)
    assert out["g2"]["top_share"] == round(50 / 52, 6)
    assert (out["g3"]["hhi"], out["g3"]["effective_k"]) == (1.0, 1.0)
    assert out["g3"]["k_categories"] == 1


def test_wilson_ci_hand_computed(spark):
    """3/10 at z=1.959964: the textbook Wilson interval; p=0 keeps
    lo = 0 exactly and hi > 0 (where Wald collapses); interval always
    inside [0, 1]."""
    import math

    from kafka_streams_plumber_spark.operators.stats import wilson_ci

    rows = [("a", i < 3) for i in range(10)] + [("b", False)] * 5 + [
        ("c", True)
    ] * 4
    df = spark.createDataFrame(rows, "g string, s boolean")
    out = {r["g"]: r for r in wilson_ci(df, "s", "g").collect()}

    z, n, p = 1.959964, 10, 0.3
    denom = 1 + z * z / n
    center = (p + z * z / (2 * n)) / denom
    half = z * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n)) / denom
    a = out["a"]
    assert (a["n"], a["pos"], a["p"]) == (10, 3, 0.3)
    assert a["lo"] == round(center - half, 6)
    assert a["hi"] == round(center + half, 6)

    b = out["b"]
    assert b["p"] == 0.0 and b["lo"] == 0.0 and 0.0 < b["hi"] < 1.0
    c = out["c"]
    assert c["p"] == 1.0 and c["hi"] == 1.0 and 0.0 < c["lo"] < 1.0


def test_dunn_test_hand_computed(spark):
    """Pooled-midrank pairwise z on a tied 3-group panel equals the
    sequential reference; separation gives the extreme pair the
    largest |z|; pair labels are lexically ordered."""
    import math
    from collections import Counter, defaultdict

    from kafka_streams_plumber_spark.operators.stats import dunn_test

    rows = [("a", 1.0), ("a", 2.0), ("a", 2.0), ("b", 2.0), ("b", 3.0),
            ("b", 4.0), ("c", 5.0), ("c", 6.0), ("c", 6.0), ("c", 7.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = {(r["group_a"], r["group_b"]): r for r in
           dunn_test(df, "v", "g").collect()}
    assert set(out) == {("a", "b"), ("a", "c"), ("b", "c")}

    vals = sorted(v for _, v in rows)
    n = len(vals)
    rank, i = {}, 0
    while i < n:
        j = i
        while j < n and vals[j] == vals[i]:
            j += 1
        rank[vals[i]] = (i + 1 + j) / 2
        i = j
    rsum, cnt = defaultdict(float), Counter()
    for g, v in rows:
        rsum[g] += rank[v]
        cnt[g] += 1
    t = Counter(vals)
    var0 = n * (n + 1) / 12 - sum(x**3 - x for x in t.values()) / (
        12 * (n - 1)
    )
    for ga, gb in out:
        md = rsum[ga] / cnt[ga] - rsum[gb] / cnt[gb]
        z = md / math.sqrt(var0 * (1 / cnt[ga] + 1 / cnt[gb]))
        assert out[(ga, gb)]["z"] == round(z, 6), (ga, gb)
    assert abs(out[("a", "c")]["z"]) > abs(out[("b", "c")]["z"])


def test_partial_corr_hand_computed(spark):
    """y = z exactly and x = z exactly: all marginals 1, partial
    NULL (degenerate denominator); independent x fully explained by
    z: partial ~ 0 on a confounded panel (closed-form replay)."""
    import math
    import random

    from kafka_streams_plumber_spark.operators.stats import partial_corr

    ident = spark.createDataFrame(
        [(float(i), float(i), float(i)) for i in range(10)],
        "x double, y double, z double",
    )
    r = partial_corr(ident, "x", "y", "z").collect()[0]
    assert (r["r_xy"], r["r_xz"], r["r_yz"]) == (1.0, 1.0, 1.0)
    assert r["r_xy_given_z"] is None

    random.seed(8)
    rows = []
    for _ in range(200):
        z = random.gauss(0, 2)
        rows.append((round(z + random.gauss(0, 0.5), 4),
                     round(z + random.gauss(0, 0.5), 4), round(z, 4)))
    df = spark.createDataFrame(rows, "x double, y double, z double")
    got = partial_corr(df, "x", "y", "z").collect()[0]
    X = [round(a * 1e6) for a, _, _ in rows]
    Y = [round(b * 1e6) for _, b, _ in rows]
    Z = [round(c * 1e6) for _, _, c in rows]
    n = len(X)

    def cor(A, B):
        num = n * sum(a * b for a, b in zip(A, B)) - sum(A) * sum(B)
        den = math.sqrt(
            (n * sum(a * a for a in A) - sum(A) ** 2)
            * (n * sum(b * b for b in B) - sum(B) ** 2)
        )
        return num / den

    rxy, rxz, ryz = cor(X, Y), cor(X, Z), cor(Y, Z)
    part = (rxy - rxz * ryz) / math.sqrt((1 - rxz**2) * (1 - ryz**2))
    assert got["r_xy_given_z"] == round(part, 6)
    assert abs(got["r_xy_given_z"]) < 0.25 < abs(got["r_xy"])


def test_ljung_box_hand_computed(spark):
    """AR(1)-style series scores a large Q matching the sequential
    r_k^2/(n-k) fold on the operator's own 6-dp ACF values; a
    constant series is NULL; a series shorter than h+1 is NULL."""
    from kafka_streams_plumber_spark.operators.stats import ljung_box

    vals = [float((i * 13) % 7) + 0.5 * i for i in range(40)]
    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "i long, v double")
    r = ljung_box(df, "i", "v", max_lag=4).collect()[0]
    X = [round(v * 1e6) for v in vals]
    n = len(X)
    t, q = sum(X), sum(a * a for a in X)
    s = 0
    for k in range(1, 5):
        p = sum(X[i] * X[i + k] for i in range(n - k))
        hh = sum(X[i] for i in range(n - k))
        g = sum(X[i + k] for i in range(n - k))
        acf = round(
            (n * n * p - n * t * (hh + g) + (n - k) * t * t)
            / (n * (n * q - t * t)),
            6,
        )
        s += round(acf * acf / (n - k) * 1e12)
    assert (r["n_buckets"], r["h"]) == (40, 4)
    assert r["q"] == round(n * (n + 2) * s / 1e12, 6)

    const = spark.createDataFrame(
        [(i, 5.0) for i in range(20)], "i long, v double"
    )
    assert ljung_box(const, "i", "v", max_lag=3).collect()[0]["q"] is None

    short = spark.createDataFrame(
        [(i, float(i % 3)) for i in range(4)], "i long, v double"
    )
    assert ljung_box(short, "i", "v", max_lag=5).collect()[0]["q"] is None


def test_welch_t_decimal_sum_survives_int64_envelope(spark):
    """VERDICT r9 item 2 (the r9-deferred wrap-before-cast site): each
    group's scaled-value sum must accumulate on decimal — group a's
    longs sum to 1.2e19 > 2^63, where a plain long F.sum wraps to
    -6.45e18 (mean_a would read -1.6e12 instead of 3e12) while every
    per-row value honors the scaled-long contract. Expectations replay
    the kernel's exact integer + fixed-shape-double arithmetic."""
    import math

    from kafka_streams_plumber_spark.operators.stats import welch_t

    rows = [("a", 2.0e12), ("a", 4.0e12)] * 2 + [("b", 1.0e12), ("b", 3.0e12)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = welch_t(df, "v", "g", "a", "b").collect()[0]

    sa = [round(2.0e12 * 1e6), round(4.0e12 * 1e6)] * 2
    sb = [round(1.0e12 * 1e6), round(3.0e12 * 1e6)]
    Sa, Qa = sum(sa), sum(x * x for x in sa)
    Sb, Qb = sum(sb), sum(x * x for x in sb)
    assert Sa > 2**63 - 1  # the fixture really is in the old wrap regime
    ma = float(Sa) / 4.0 / 1e6
    mb = float(Sb) / 2.0 / 1e6
    va = (4.0 * float(Qa) - float(Sa) * float(Sa)) / 12.0 / 1e12
    vb = (2.0 * float(Qb) - float(Sb) * float(Sb)) / 2.0 / 1e12
    se2 = va / 4.0 + vb / 2.0
    t = (ma - mb) / math.sqrt(se2)
    dfw = se2 * se2 / (va * va / (16.0 * 3.0) + vb * vb / (4.0 * 1.0))
    assert (r["n_a"], r["n_b"]) == (4, 2)
    assert r["mean_a"] == round(ma, 6) == 3.0e12
    assert r["mean_b"] == round(mb, 6) == 2.0e12
    assert r["mean_diff"] == 1.0e12
    assert r["t"] == round(t, 6) == 0.866025
    assert r["df"] == round(dfw, 6) == 1.714286


def _anova_expect(groups):
    """Pure-Python replica of _anova_on_scaled's exact-int + frozen-
    quotient arithmetic over [(n_g, S_g, Q_g)] exact integers."""

    def term(S, n):
        return round(float(S) / float(n) * float(S) * 1e6)

    k = len(groups)
    A = sum(term(S, n) for n, S, _ in groups)
    N = sum(n for n, _, _ in groups)
    S = sum(S for _, S, _ in groups)
    Q = sum(Q for _, _, Q in groups)
    gm = round(float(S) / float(N) * float(S) * 1e6)
    between = float(A) - gm
    within = float(Q) * 1e6 - float(A)
    f = between / (k - 1) / (within / (N - k))
    eta = between / (float(Q) * 1e6 - gm)
    return round(f, 6), round(eta, 6)


def test_anova_decimal_sum_survives_int64_envelope(spark):
    """VERDICT r9 item 2: _anova_on_scaled's per-group scaled sum must
    ride decimal — 1e6 rows of ~9.4e6 at scale=6 sum the scaled longs
    to 9.4e18 > 2^63 (a plain long F.sum wraps negative) while every
    per-row value and the 1e6-scaled frozen-quotient terms stay inside
    their documented envelopes."""
    import pyspark.sql.functions as F

    from kafka_streams_plumber_spark.operators.stats import anova_oneway

    big = spark.range(1_000_000).select(
        F.lit("g1").alias("g"),
        (F.lit(9399999.0) + (F.col("id") % 2).cast("double") * 2.0).alias(
            "v"
        ),
    )
    small = spark.createDataFrame(
        [("g2", 8.0e6), ("g2", 9.0e6)], "g string, v double"
    )
    r = anova_oneway(big.unionAll(small), "v", "g").collect()[0]

    s_lo, s_hi = round(9399999.0 * 1e6), round(9400001.0 * 1e6)
    g1 = (
        1_000_000,
        500_000 * (s_lo + s_hi),
        500_000 * (s_lo * s_lo + s_hi * s_hi),
    )
    s2 = [round(8.0e6 * 1e6), round(9.0e6 * 1e6)]
    g2 = (2, sum(s2), sum(x * x for x in s2))
    assert g1[1] > 2**63 - 1  # the old long sum would wrap here
    f, eta = _anova_expect([g1, g2])
    assert (r["n"], r["k_groups"], r["df_between"], r["df_within"]) == (
        1_000_002,
        2,
        1,
        1_000_000,
    )
    assert r["f"] == f
    assert r["eta_sq"] == eta


def test_brown_forsythe_shares_hardened_anova_core(spark):
    """q_brown_forsythe's driver re-proof rides q_anova (identical
    changed core); this pins the OTHER caller of _anova_on_scaled in
    the wrap regime: 1e6 median-deviations of ~9.4e6 sum their scaled
    longs past 2^63. Median + deviation prefix replayed exactly."""
    import pyspark.sql.functions as F

    from kafka_streams_plumber_spark.operators.stats import brown_forsythe

    M = 19_800_000.0
    vals = [0.0, 1_000_000.0, M - 1_000_000.0, M]
    big = spark.range(1_000_000).select(
        F.lit("g1").alias("g"),
        F.element_at(
            F.array(*[F.lit(v) for v in vals]), (F.col("id") % 4 + 1).cast("int")
        ).alias("v"),
    )
    small = spark.createDataFrame(
        [("g2", 0.0), ("g2", 1.7e7)], "g string, v double"
    )
    r = brown_forsythe(big.unionAll(small), "v", "g").collect()[0]

    med1 = (1_000_000.0 + (M - 1_000_000.0)) / 2.0  # interpolated median
    sd1 = [round(abs(v - med1) * 1e6) for v in vals]
    g1 = (1_000_000, 250_000 * sum(sd1), 250_000 * sum(x * x for x in sd1))
    sd2 = [round(abs(v - 8.5e6) * 1e6) for v in (0.0, 1.7e7)]
    g2 = (2, sum(sd2), sum(x * x for x in sd2))
    assert g1[1] > 2**63 - 1  # deviation sum in the old wrap regime
    f, eta = _anova_expect([g1, g2])
    assert (r["n"], r["k_groups"]) == (1_000_002, 2)
    assert r["f"] == f == 6.479987
    assert r["eta_sq"] == eta


def test_jarque_bera_pivot_clamped_into_group_range(spark):
    """ADVICE r9: floor(double(S1)/n) carries ~|mean|*2^-52 rounding,
    so near the long boundary it can land OUTSIDE [min_s, max_s] —
    x = 9150000000000002048 (an exact double) has
    floor(double(3x)/3.0) = x + 1024. The clamp restores the
    |d| <= spread invariant the d^2 wrap guard relies on; outputs are
    pivot-exact either way in the non-wrap regime (the divergent
    regime needs ~1e9 rows at max spread), so this pins the clamped
    path computing correctly on the escape fixture."""
    import math

    from kafka_streams_plumber_spark.operators.stats import jarque_bera

    x = 9150000000000002048.0
    raw_pivot = math.floor(float(3 * int(x)) / 3.0)
    assert raw_pivot == int(x) + 1024  # the unclamped pivot escapes

    rows = [("flat", x)] * 3 + [("ok", float(v)) for v in (1, 2, 3, 4, 10)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = {r["g"]: r for r in jarque_bera(df, "v", "g", scale=0).collect()}
    # clamp -> pivot = x, every d = 0, zero variance -> NULL stats
    assert out["flat"]["n"] == 3
    assert out["flat"]["skewness"] is None
    assert out["flat"]["jb"] is None
    # a normal group in the same frame still computes
    assert out["ok"]["jb"] is not None


def test_scale_parameter_convention_is_uniform():
    """VERDICT r9 item 5: the module docstring's scale-parameter
    convention, machine-enforced so a new kernel cannot reintroduce
    the raw-multiplier-named-``scale`` ambiguity. Walks every function
    signature in stats.py and sampling.py: a param named exactly
    ``scale`` must default to a small int EXPONENT (<= 18); any
    scale-ish raw multiplier must carry a ``*_scale`` suffix name and
    a power-of-ten default."""
    import ast
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    offenders = []
    styles = {}
    import glob as _glob

    mods = sorted(
        os.path.basename(p)[:-3]
        for p in _glob.glob(
            os.path.join(
                repo, "kafka_streams_plumber_spark", "operators", "*.py"
            )
        )
        if not os.path.basename(p).startswith("__")
    )
    for mod in mods:
        path = os.path.join(
            repo, "kafka_streams_plumber_spark", "operators", f"{mod}.py"
        )
        tree = ast.parse(open(path).read())
        # module-level integer constants (e.g. classify.SCALE) are
        # legal defaults — resolve them for the power-of-ten check
        consts = {}
        for node in tree.body:
            if (
                isinstance(node, ast.Assign)
                and len(node.targets) == 1
                and isinstance(node.targets[0], ast.Name)
                and isinstance(node.value, ast.Constant)
                and isinstance(node.value.value, int)
            ):
                consts[node.targets[0].id] = node.value.value
        for fn in (n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)):
            # kwonly params plus positional-or-keyword params with
            # defaults — a scale-ish param declared before the bare *
            # must not escape the convention (code-review r10)
            pos_with_defaults = (
                list(
                    zip(
                        [a.arg for a in fn.args.args][
                            len(fn.args.args) - len(fn.args.defaults) :
                        ],
                        fn.args.defaults,
                    )
                )
                if fn.args.defaults
                else []
            )
            pairs = (
                list(
                    zip(
                        [a.arg for a in fn.args.kwonlyargs],
                        fn.args.kw_defaults,
                    )
                )
                + pos_with_defaults
            )
            for name, default in pairs:
                if "scale" not in name or default is None:
                    continue
                if name == "timescale":
                    # MP4's standard units-per-second field name
                    # (mvhd/mdhd "timescale"), not a quantization knob
                    continue
                if (
                    isinstance(default, ast.BinOp)
                    and isinstance(default.op, ast.Pow)
                    and isinstance(default.left, ast.Constant)
                    and isinstance(default.right, ast.Constant)
                ):
                    val = default.left.value ** default.right.value
                elif isinstance(default, ast.Name) and default.id in consts:
                    val = consts[default.id]
                else:
                    try:
                        val = ast.literal_eval(default)
                    except ValueError:
                        offenders.append(
                            f"{mod}.{fn.name}({name}): non-literal default"
                        )
                        continue
                if name == "scale":
                    kind = "exponent"
                    if not (isinstance(val, int) and 0 <= val <= 18):
                        offenders.append(
                            f"{mod}.{fn.name}(scale={val}): bare 'scale' must be"
                            " a base-10 exponent <= 18; raw multipliers must be"
                            " named *_scale"
                        )
                else:
                    kind = "raw-multiplier"
                    if not (
                        name.endswith("_scale")
                        and isinstance(val, int)
                        and val >= 10
                        and str(val).rstrip("0") == "1"
                    ):
                        offenders.append(
                            f"{mod}.{fn.name}({name}={val}): raw multiplier"
                            " must be *_scale-suffixed with a power-of-ten"
                            " default"
                        )
                styles[f"{mod}.{fn.name}.{name}"] = kind
    assert not offenders, "\n".join(offenders)
    # the full per-kernel style ledger this round's audit signed off on;
    # a new scale-ish param must be added here deliberately
    assert styles == {
        "behavior.rolling_zscore.value_scale": "raw-multiplier",
        "behavior.forecast_baseline_error.value_scale": "raw-multiplier",
        "behavior.cusum.value_scale": "raw-multiplier",
        "behavior.page_hinkley.value_scale": "raw-multiplier",
        "behavior.seasonal_strength.value_scale": "raw-multiplier",
        "behavior.trend_break.value_scale": "raw-multiplier",
        "behavior.durbin_watson.scale": "exponent",
        "classify.lr_train.value_scale": "raw-multiplier",
        "classify.lr_oracle_sql.value_scale": "raw-multiplier",
        "classify.krippendorff_alpha.value_scale": "raw-multiplier",
        "classify.cronbach_alpha.value_scale": "raw-multiplier",
        "classify.icc.scale": "exponent",
        "classify.average_precision.term_scale": "raw-multiplier",
        "clustering.kcenter_select.value_scale": "raw-multiplier",
        "clustering.kcenter_oracle_sql.value_scale": "raw-multiplier",
        "clustering.clustering_agreement.value_scale": "raw-multiplier",
        "diff.jsd_matrix.value_scale": "raw-multiplier",
        "diff.psi_drift.value_scale": "raw-multiplier",
        "diff.quantile_drift.value_scale": "raw-multiplier",
        "graph.adamic_adar.value_scale": "raw-multiplier",
        "retrieval.rbo.value_scale": "raw-multiplier",
        "sampling.neyman_sample.value_scale": "raw-multiplier",
        "sampling.poisson_bootstrap.value_scale": "raw-multiplier",
        "sampling.poisson_bootstrap.mean_scale": "raw-multiplier",
        "similarity.label_centroids.value_scale": "raw-multiplier",
        "similarity.pca_top_component.value_scale": "raw-multiplier",
        "similarity.pca_oracle_sql.value_scale": "raw-multiplier",
        "similarity.embedding_drift.value_scale": "raw-multiplier",
        "similarity.embedding_diversity.value_scale": "raw-multiplier",
        "stats.standardize.value_scale": "raw-multiplier",
        "stats.correlation_matrix.value_scale": "raw-multiplier",
        "stats.chi2_independence.value_scale": "raw-multiplier",
        "stats.gini_concentration.value_scale": "raw-multiplier",
        "stats.theils_u.value_scale": "raw-multiplier",
        "stats.autocorrelation.value_scale": "raw-multiplier",
        "stats.ad_test.term_scale": "raw-multiplier",
        "stats.ad_test.harmonic_scale": "raw-multiplier",
        "stats.anova_oneway.scale": "exponent",
        "stats.brown_forsythe.scale": "exponent",
        "stats.cohens_d.scale": "exponent",
        "stats.pacf.value_scale": "raw-multiplier",
        "stats.jarque_bera.scale": "exponent",
        "stats.welch_t.scale": "exponent",
        "stats.cross_correlation.value_scale": "raw-multiplier",
        "stats.bartlett.scale": "exponent",
        "stats.partial_corr.scale": "exponent",
        "stats.ljung_box.value_scale": "raw-multiplier",
        "text.zipf_fit.value_scale": "raw-multiplier",
        "text.heaps_fit.value_scale": "raw-multiplier",
    }, styles


def test_welch_t_sum_overflow_nulls_not_zero(spark):
    """ADVICE r11: welch_t's square-sum can overflow decimal(38,0)
    while every term is non-NULL (two rows with |_s| ~ 7.5e18 give
    non-NULL ~5.6e37 squares whose sum > 1e38); with the old coalesce
    that read as _qg = 0 and a wrong non-NULL t. The NULL now
    propagates: t and df come out NULL."""
    from kafka_streams_plumber_spark.operators.stats import welch_t

    rows = [("a", 7.5e12), ("a", 7.5e12), ("b", 1.0), ("b", 2.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = welch_t(df, "v", "g", "a", "b").collect()[0]
    s = round(7.5e12 * 10**6)
    assert s < 2**63 - 1 and 2 * s * s > 10**38 - 1
    assert (r["n_a"], r["n_b"]) == (2, 2)
    assert r["t"] is None and r["df"] is None


def test_anova_sum_overflow_nulls_not_zero(spark):
    """ADVICE r11: same square-sum overflow in _anova_on_scaled — the
    group-level NULL sum was coalesced to _qg = 0 (wrong non-NULL F);
    the raw-sum null gate now NULLs f and eta_sq."""
    from kafka_streams_plumber_spark.operators.stats import anova_oneway

    rows = [
        ("g1", 7.5e12),
        ("g1", 7.5e12),
        ("g2", 1.0),
        ("g2", 2.0),
        ("g3", 3.0),
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    r = anova_oneway(df, "v", "g").collect()[0]
    s = round(7.5e12 * 10**6)
    assert 2 * s * s > 10**38 - 1
    assert r["n"] == 5 and r["k_groups"] == 3
    assert r["f"] is None and r["eta_sq"] is None


def _rank_panel(spark):
    """200 rows over four groups, values in [0, 1000): rounded to 0
    decimals a few values tie, rounded to -2 they fall on 11 values."""
    rows = [
        (f"g{i % 4}", float((i * 7919 + (i % 4) * 131) % 100003) / 100.003)
        for i in range(200)
    ]
    return spark.createDataFrame(rows, "g string, v double")


def _under_confs(spark, confs, fn):
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        return fn()
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_pooled_rank_tests_ignore_range_boundaries(spark):
    """kruskal_wallis, dunn_test and mann_whitney fold per-partition
    midrank sums: the rows are identical whatever the range exchange's
    boundaries (AQE on/off x 1/3/7 shuffle partitions) under light and
    heavy ties."""
    from kafka_streams_plumber_spark.operators.stats import (
        dunn_test,
        kruskal_wallis,
        mann_whitney,
    )

    df = _rank_panel(spark)

    def ranked():
        # one union, so each configuration is one query
        frames = []
        for r in (0, -2):
            outs = {
                "kruskal": kruskal_wallis(df, "v", "g", round_values=r),
                "dunn": dunn_test(df, "v", "g", round_values=r),
                "mann_whitney": mann_whitney(
                    df, "v", "g", "g0", "g2", round_values=r
                ),
            }
            frames += [
                out.select(
                    F.lit(f"{name} {r}").alias("k"),
                    F.to_json(F.struct("*")).alias("row"),
                )
                for name, out in outs.items()
            ]
        union = frames[0]
        for f in frames[1:]:
            union = union.unionByName(f)
        return sorted(union.collect())

    seen = {}
    for aqe in ("true", "false"):
        for parts in ("1", "3", "7"):
            confs = {
                "spark.sql.adaptive.enabled": aqe,
                "spark.sql.shuffle.partitions": parts,
            }
            seen[(aqe, parts)] = _under_confs(spark, confs, ranked)
    first = seen[("true", "1")]
    assert len({row["k"] for row in first}) == 6
    assert all(rows == first for rows in seen.values()), seen


def _friedman_reference(blocks, k):
    """Sequential tie-corrected Friedman Q over complete blocks
    ({treatment: value}, MIN over duplicate cells already taken)."""
    full = [b for b in blocks if len(b) == k]
    if not full:
        return 0, None
    ts = sorted({t for b in full for t in b})
    rsum = dict.fromkeys(ts, 0.0)
    a = 0.0
    for b in full:
        vals = sorted(b.values())
        for t, v in b.items():
            lo = vals.index(v)
            hi = len(vals) - vals[::-1].index(v)
            rank = (lo + 1 + hi) / 2
            rsum[t] += rank
            a += rank * rank
    n = len(full)
    c = n * k * (k + 1) ** 2 / 4
    if a == c:
        return n, None
    num = (k - 1) * sum((r - n * (k + 1) / 2) ** 2 for r in rsum.values())
    return n, round(num / (a - c), 6)


def test_friedman_per_block_window_matches_reference(spark):
    """Incomplete blocks drop out, duplicate cells collapse to their
    MIN, within-block ties get midranks and an all-tie block adds
    nothing to the statistic: Q equals the pure-Python midrank
    reference. A panel with no complete block gives a NULL q."""
    from kafka_streams_plumber_spark.operators.stats import friedman

    blocks = [
        {"x": 1.0, "y": 2.0, "z": 3.0, "w": 4.0},
        {"x": 2.0, "y": 2.0, "z": 1.0, "w": 5.0},
        {"x": 7.0, "y": 7.0, "z": 7.0, "w": 7.0},  # all ties
        {"x": 3.0, "y": 1.0, "z": 3.0, "w": 1.0},
        {"x": 9.0, "y": 8.0, "z": 8.5, "w": 0.5},
        {"x": 4.0, "y": 6.0, "z": 5.0},  # incomplete
        {"x": 1.0},  # incomplete
        {"x": 0.5, "y": 0.25, "z": 0.75, "w": 0.25},
    ]
    rows = [(b, t, v) for b, cells in enumerate(blocks) for t, v in cells.items()]
    rows += [(0, "x", 6.0), (3, "y", 2.0)]  # duplicates: MIN wins
    df = spark.createDataFrame(rows, "b long, t string, v double")
    n, q = _friedman_reference(blocks, 4)
    got = friedman(df, "b", "t", "v", n_treatments=4).collect()[0]
    assert (got["n_blocks"], got["k"], got["df"]) == (n, 4, 3) == (6, 4, 3)
    assert q is not None and got["q"] == q

    none = spark.createDataFrame(
        [(b, t, float(b)) for b in range(3) for t in ("x", "y")],
        "b long, t string, v double",
    )
    r = friedman(none, "b", "t", "v", n_treatments=4).collect()[0]
    assert r["q"] is None and r["n_blocks"] is None


def test_rank_tests_plan_shape(spark):
    """The rank tests launch a bounded number of jobs, materialize no
    localCheckpoint, and rank in one sorted pass: exactly one range
    exchange for the pooled-rank kernels, none for friedman's
    per-block window."""
    from kafka_streams_plumber_spark.operators.stats import (
        dunn_test,
        friedman,
        kruskal_wallis,
        mann_whitney,
        mood_median,
    )
    from kafka_streams_plumber_spark.plans.inspect import plan_string
    from kafka_streams_plumber_spark.plans.scale import inline_table

    rows = [(f"g{i % 3}", i % 5, float(i % 11)) for i in range(60)]
    df = inline_table(spark, rows, "g string, b int, v double")
    cases = {
        # name: (frame, max jobs, range exchanges)
        "kruskal": (kruskal_wallis(df, "v", "g"), 5, 1),
        "dunn": (dunn_test(df, "v", "g"), 5, 1),
        "mann_whitney": (mann_whitney(df, "v", "g", "g0", "g1"), 5, 1),
        "friedman": (friedman(df, "b", "g", "v", n_treatments=3), 5, 0),
        "mood": (mood_median(df, "v", "g"), 11, None),
    }
    sc = spark.sparkContext
    for name, (out, max_jobs, ranges) in cases.items():
        group = f"rank-plan-{name}"
        sc.setJobGroup(group, group)
        try:
            out.collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert 0 < len(jobs) <= max_jobs, (name, len(jobs))
        plan = plan_string(out).split("== Initial Plan ==")[0]
        assert "LogicalRDD" not in plan and "ExistingRDD" not in plan, name
        if ranges is not None:
            assert plan.count("Exchange rangepartitioning") == ranges, (
                name,
                plan,
            )
