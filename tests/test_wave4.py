"""Round-4 wave operators: approx-quantile bound, standardize,
embedding drift, text normalization, next-event pairs, k-anonymity
generalization."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from kafka_streams_plumber_spark.operators.behavior import next_event_pairs
from kafka_streams_plumber_spark.operators.privacy import generalize_to_k
from kafka_streams_plumber_spark.operators.similarity import embedding_drift
from kafka_streams_plumber_spark.operators.stats import (
    approx_percentiles_bounded,
    standardize,
)
from kafka_streams_plumber_spark.operators.text import normalize_text


# ---------------------------------------------------------------------
# approx_percentiles_bounded
# ---------------------------------------------------------------------


def test_approx_pct_bound_holds_and_exact_matches(spark):
    df = spark.range(0, 20011).select(
        (F.col("id") % 2).alias("g"), F.col("id").cast("double").alias("v")
    )
    out = approx_percentiles_bounded(df, "g", "v", {"p50": 0.5, "p90": 0.9})
    rows = {(r["g"], r["p_label"]): r for r in out.collect()}
    assert len(rows) == 4
    for (g, lab), r in rows.items():
        assert r["within_bound"], (g, lab)
    # exact p50 of 0..20010 evens/odds is the interpolated midpoint
    exact = {
        (r["g"], "p50"): r["e"]
        for r in df.groupBy("g").agg(F.percentile("v", 0.5).alias("e")).collect()
    }
    for key, v in exact.items():
        assert rows[key]["exact"] == v


def test_approx_pct_null_values_excluded(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("a", 3.0)], "g string, v double"
    )
    out = approx_percentiles_bounded(df, "g", "v", {"p50": 0.5}).collect()
    assert out[0]["exact"] == 2.0 and out[0]["within_bound"]


# ---------------------------------------------------------------------
# standardize
# ---------------------------------------------------------------------


def test_standardize_moments(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 10.0), ("b", 10.0)],
        "g string, x double",
    )
    out = {
        (r["g"], r["x"]): r["z_x"]
        for r in standardize(df, "g", ["x"]).collect()
    }
    # group a: mean 2, std_pop sqrt(2/3)
    s = math.sqrt(2.0 / 3.0)
    assert abs(out[("a", 1.0)] - round(-1.0 / s, 6)) < 1e-9
    assert abs(out[("a", 3.0)] - round(1.0 / s, 6)) < 1e-9
    assert out[("a", 2.0)] == 0.0


def test_standardize_multiple_columns_and_zero_var(spark):
    df = spark.createDataFrame(
        [("a", 1.0, 5.0), ("a", 3.0, 5.0)], "g string, x double, y double"
    )
    r = standardize(df, "g", ["x", "y"]).collect()
    zx = sorted(row["z_x"] for row in r)
    assert zx == [-1.0, 1.0]
    # zero variance -> division by zero -> NULL (droppable), not a crash
    assert all(row["z_y"] is None for row in r)


# ---------------------------------------------------------------------
# embedding_drift
# ---------------------------------------------------------------------


def test_embedding_drift_detects_shift(spark):
    ref = spark.createDataFrame(
        [([0.0, 1.0],), ([0.0, 1.0],)], "embedding array<double>"
    )
    cur = spark.createDataFrame(
        [([0.0, 1.2],), ([0.0, 1.2],)], "embedding array<double>"
    )
    rows = {r["pos"]: r for r in embedding_drift(ref, cur).collect()}
    assert rows[0]["shift"] == 0.0 and not rows[0]["drifted"]
    assert abs(rows[1]["shift"] - 0.2) < 1e-9 and rows[1]["drifted"]
    assert rows[1]["mean_ref"] == 1.0 and rows[1]["mean_cur"] == 1.2


# ---------------------------------------------------------------------
# normalize_text
# ---------------------------------------------------------------------


def test_normalize_text_folds_and_collapses(spark):
    df = spark.createDataFrame(
        [("  Héllo\tWörld\x01  Ça va  ",), ("É\x7fÀ",)], "t string"
    )
    out = [r["n"] for r in df.select(normalize_text("t").alias("n")).collect()]
    # ö/ä-style umlauts fold via the explicit map; tabs/controls -> space
    assert out[0] == "hello world ca va"
    assert out[1] == "e a"


def test_normalize_text_empty_and_ascii_passthrough(spark):
    df = spark.createDataFrame([("",), ("plain text",)], "t string")
    out = [r["n"] for r in df.select(normalize_text("t").alias("n")).collect()]
    assert out == ["", "plain text"]


# ---------------------------------------------------------------------
# next_event_pairs
# ---------------------------------------------------------------------


def test_next_event_pairs_contexts(spark):
    df = spark.createDataFrame(
        [(1, i, t) for i, t in enumerate(["a", "b", "c", "d"])],
        "u long, seq long, ev string",
    )
    rows = {
        r["seq"]: (r["context"], r["target"])
        for r in next_event_pairs(df, "u", ["seq"], "ev", context=3).collect()
    }
    # first event has no predecessor -> dropped
    assert 0 not in rows
    assert rows[1] == ("a", "b")
    assert rows[2] == ("a>b", "c")
    assert rows[3] == ("a>b>c", "d")


def test_next_event_pairs_per_key_isolation(spark):
    df = spark.createDataFrame(
        [(1, 0, "a"), (1, 1, "b"), (2, 0, "x"), (2, 1, "y")],
        "u long, seq long, ev string",
    )
    rows = next_event_pairs(df, "u", ["seq"], "ev", context=2).collect()
    got = {(r["u"], r["seq"]): r["context"] for r in rows}
    assert got == {(1, 1): "a", (2, 1): "x"}


# ---------------------------------------------------------------------
# generalize_to_k
# ---------------------------------------------------------------------


def test_generalize_global_level_no_undersized_release(spark):
    # 3 rows in (n1, s1) but a SINGLETON (n2, s1): level 0's worst
    # class misses k=3, so the GLOBAL level must be 1 for every row —
    # a per-row choice would release c4 as a singleton (r1,s1)-vs-
    # (n1,s1) split, defeating k-anonymity.
    df = spark.createDataFrame(
        [
            ("c1", "n1", "r1", "s1"),
            ("c2", "n1", "r1", "s1"),
            ("c3", "n1", "r1", "s1"),
            ("c4", "n2", "r1", "s1"),
        ],
        "id string, nat string, reg string, seg string",
    )
    out = generalize_to_k(
        df,
        [
            [F.col("nat"), F.col("reg"), F.lit("ALL")],
            [F.col("seg"), F.col("seg"), F.lit("ALL")],
        ],
        k=3,
        out_cols=["geo", "segment"],
    )
    rows = {r["id"]: r for r in out.collect()}
    assert all(r["gen_level"] == 1 for r in rows.values())
    assert all(r["geo"] == "r1" and r["segment"] == "s1" for r in rows.values())
    assert all(r["k_ok"] for r in rows.values())
    # every RELEASED equivalence class holds >= k rows
    released = {}
    for r in rows.values():
        released[(r["geo"], r["segment"])] = (
            released.get((r["geo"], r["segment"]), 0) + 1
        )
    assert all(v >= 3 for v in released.values())


def test_generalize_picks_finest_level_when_all_classes_reach_k(spark):
    # every nation-level class holds >= 2 rows: level 0 is usable
    df = spark.createDataFrame(
        [
            ("c1", "n1", "r1", "s1"),
            ("c2", "n1", "r1", "s1"),
            ("c3", "n2", "r1", "s1"),
            ("c4", "n2", "r1", "s1"),
        ],
        "id string, nat string, reg string, seg string",
    )
    out = generalize_to_k(
        df,
        [
            [F.col("nat"), F.col("reg"), F.lit("ALL")],
            [F.col("seg"), F.col("seg"), F.lit("ALL")],
        ],
        k=2,
        out_cols=["geo", "segment"],
    )
    rows = {r["id"]: r for r in out.collect()}
    assert all(r["gen_level"] == 0 and r["k_ok"] for r in rows.values())
    assert rows["c1"]["geo"] == "n1" and rows["c3"]["geo"] == "n2"


def test_generalize_flags_unreachable_k(spark):
    df = spark.createDataFrame(
        [("c1", "n1", "r1", "s1"), ("c2", "n2", "r2", "s2")],
        "id string, nat string, reg string, seg string",
    )
    out = generalize_to_k(
        df,
        [
            [F.col("nat"), F.col("reg"), F.lit("ALL")],
            [F.col("seg"), F.col("seg"), F.lit("ALL")],
        ],
        k=5,
        out_cols=["geo", "segment"],
    )
    rows = out.collect()
    # even the coarsest class (2 rows) misses k=5: coarsest level, flagged
    assert all(r["gen_level"] == 2 and not r["k_ok"] for r in rows)
    assert all(r["geo"] == "ALL" and r["segment"] == "ALL" for r in rows)


# ---------------------------------------------------------------------
# word_dropout / ppl_buckets / lang_mix
# ---------------------------------------------------------------------


def test_word_dropout_deterministic_and_bounded(spark):
    from kafka_streams_plumber_spark.operators.text import word_dropout

    df = spark.createDataFrame(
        [(1, "one two three four five six seven eight nine ten")],
        "doc_id long, text string",
    )
    a = word_dropout(df, "text", "doc_id", rate=0.3, seed=7).collect()[0]
    b = word_dropout(df, "text", "doc_id", rate=0.3, seed=7).collect()[0]
    assert a["text_out"] == b["text_out"]  # retry-stable
    assert a["n_tokens"] == 10
    assert a["n_dropped"] == 10 - len(a["text_out"].split())
    # kept tokens preserve original order
    kept = a["text_out"].split()
    orig = "one two three four five six seven eight nine ten".split()
    assert kept == [t for t in orig if t in kept]
    # a different seed flips at least one decision on 10 tokens
    c = word_dropout(df, "text", "doc_id", rate=0.3, seed=8).collect()[0]
    assert (c["text_out"] != a["text_out"]) or (c["n_dropped"] != a["n_dropped"])


def test_word_dropout_rate_extremes(spark):
    from kafka_streams_plumber_spark.operators.text import word_dropout

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    keep_all = word_dropout(df, "text", "doc_id", rate=0.0).collect()[0]
    assert keep_all["text_out"] == "a b c" and keep_all["n_dropped"] == 0
    drop_all = word_dropout(df, "text", "doc_id", rate=1.0).collect()[0]
    assert drop_all["text_out"] == "" and drop_all["n_dropped"] == 3


def test_ppl_buckets_tercile_assignment(spark):
    from kafka_streams_plumber_spark.operators.lm import ppl_buckets

    rows = [(i, "s", float(i)) for i in range(1, 10)]  # ppl 1..9
    rows.append((99, "s", None))  # unscoreable -> excluded
    df = spark.createDataFrame(rows, "doc_id long, source string, perplexity double")
    out = {r["doc_id"]: r["bucket"] for r in ppl_buckets(df, "source").collect()}
    assert 99 not in out
    assert [out[i] for i in range(1, 10)] == (
        ["head"] * 3 + ["middle"] * 3 + ["tail"] * 3
    )


def test_lang_mix_flags_code_switching(spark):
    from kafka_streams_plumber_spark.operators.text import lang_mix

    df = spark.createDataFrame(
        [
            (1, "the cat is in the house. der hund ist nicht da."),
            (2, "the cat is of the house. it is a cat for the win."),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in lang_mix(df, "text", "doc_id").collect()}
    assert rows[1]["n_langs"] == 2 and rows[1]["mixed"]
    assert rows[1]["majority_frac"] == 0.5
    assert rows[2]["n_langs"] == 1 and not rows[2]["mixed"]


# ---------------------------------------------------------------------
# balanced_bins / poisson_bootstrap
# ---------------------------------------------------------------------


def test_balanced_bins_near_equal_totals(spark):
    from kafka_streams_plumber_spark.operators.packing import balanced_bins

    rows = [(i, 100 + (i * 37) % 400) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, n long")
    out = balanced_bins(df, "doc_id", "n", n_bins=8)
    totals = [
        r["t"]
        for r in out.groupBy("bin").agg(F.sum("n").alias("t")).collect()
    ]
    assert len(totals) == 8
    # serpentine dealing: spread within one max item of each other
    assert max(totals) - min(totals) <= 499


def test_balanced_bins_serpentine_order(spark):
    from kafka_streams_plumber_spark.operators.packing import balanced_bins

    df = spark.createDataFrame(
        [(i, 100 - i) for i in range(8)], "doc_id long, n long"
    )
    got = {
        r["doc_id"]: r["bin"]
        for r in balanced_bins(df, "doc_id", "n", n_bins=4).collect()
    }
    # ranks 0..7 (length desc == doc order) -> bins 0,1,2,3,3,2,1,0
    assert [got[i] for i in range(8)] == [0, 1, 2, 3, 3, 2, 1, 0]


def test_bootstrap_ci_brackets_mean_and_is_deterministic(spark):
    from kafka_streams_plumber_spark.operators.sampling import poisson_bootstrap

    # 2100 rows = 100 full cycles of 0..20 -> exact mean 10.0
    rows = [(i, "g", float(10 + (i % 21) - 10)) for i in range(2100)]
    df = spark.createDataFrame(rows, "id long, g string, v double")
    a, b = (
        poisson_bootstrap(df, "id", "v", group_cols="g", b=32).collect()
        for _ in range(2)
    )
    assert a == b  # replayable
    (a,) = a
    assert a["g"] == "g" and a["n_replicas"] == 32
    assert a["ci_lo"] <= a["point_mean"] <= a["ci_hi"]
    assert a["ci_lo"] <= a["boot_mean"] <= a["ci_hi"]
    # CI width shrinks as ~1/sqrt(n): 2000 symmetric draws around 10
    assert a["ci_hi"] - a["ci_lo"] < 1.0
    assert a["point_mean"] == 10.0


# ---------------------------------------------------------------------
# survival_curve
# ---------------------------------------------------------------------


def test_survival_km_textbook_values(spark):
    from datetime import datetime, timedelta

    from kafka_streams_plumber_spark.operators.behavior import survival_curve

    base = datetime(2024, 1, 1)
    rows = []
    # corpus horizon pushed out by a long-lived observer user so nobody
    # else lands in the censor window
    def span(uid, days):
        rows.append((uid, base))
        rows.append((uid, base + timedelta(days=days)))

    span(1, 0)   # churned at t=0
    span(2, 1)   # churned at t=1
    span(3, 1)   # churned at t=1
    span(4, 3)   # churned at t=3
    span(100, 30)  # horizon user: censored (within last 7 days)
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {r["t"]: r for r in survival_curve(df, "user_id", "ts").collect()}
    # KM: n=5 -> t0: 1/5 churn -> S=0.8 ; t1: 2/4 -> 0.4 ; t3: 1/2 -> 0.2
    assert out[0]["at_risk"] == 5 and out[0]["churned"] == 1
    assert out[0]["surv"] == 0.8
    assert out[1]["at_risk"] == 4 and out[1]["surv"] == 0.4
    assert out[3]["at_risk"] == 2 and out[3]["surv"] == 0.2
    assert out[30]["censored"] == 1 and out[30]["churned"] == 0
    assert out[30]["surv"] == 0.2  # censoring doesn't move S


def test_survival_total_churn_hits_zero(spark):
    from datetime import datetime, timedelta

    from kafka_streams_plumber_spark.operators.behavior import survival_curve

    base = datetime(2024, 1, 1)
    rows = []
    for uid in (1, 2):
        rows.append((uid, base))
        rows.append((uid, base + timedelta(days=2)))
    # horizon far in the future so both users are uncensored
    rows.append((9, base + timedelta(days=40)))
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {r["t"]: r for r in survival_curve(df, "user_id", "ts").collect()}
    # horizon user is t=0 censored; both real users churn at t=2
    assert out[2]["churned"] == 2 and out[2]["at_risk"] == 2
    assert out[2]["surv"] == 0.0  # ln(0) guarded: exact zero, not NULL


def test_neyman_oversamples_high_variance_strata(spark):
    from kafka_streams_plumber_spark.operators.sampling import neyman_sample

    rows = []
    # stratum "flat": 4000 rows, constant value -> S=0 -> ~no budget
    for i in range(4000):
        rows.append((i, "flat", 5.0))
    # stratum "wild": 4000 rows, high variance -> nearly all budget
    for i in range(4000, 8000):
        rows.append((i, "wild", float((i % 100) * 10)))
    df = spark.createDataFrame(rows, "id long, g string, v double")
    out = neyman_sample(df, "g", "v", "id", total_n=1000)
    got = (
        out.groupBy("g")
        .agg(F.count(F.lit(1)).alias("c"), F.max("n_target").alias("t"))
        .collect()
    )
    by = {r["g"]: r for r in got}
    assert "flat" not in by or by["flat"]["t"] == 0
    assert by["wild"]["t"] == 1000
    # threshold acceptance: within 15% of the target
    assert abs(by["wild"]["c"] - 1000) <= 150
    # deterministic: same call, same rows
    again = neyman_sample(df, "g", "v", "id", total_n=1000)
    assert again.count() == out.count()


def test_functional_dependency_holds_and_violates(spark):
    from kafka_streams_plumber_spark.operators.expect import (
        functional_dependency,
    )

    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "b"), (3, "x"), (3, "y")],
        "k long, v string",
    )
    r = functional_dependency(df, "k", "v").collect()[0]
    assert not r["holds"] and r["violating_keys"] == 1 and r["n_keys"] == 3
    ok = functional_dependency(df.filter("k < 3"), "k", "v").collect()[0]
    assert ok["holds"] and ok["violating_keys"] == 0


def test_functional_dependency_null_rhs_counts(spark):
    from kafka_streams_plumber_spark.operators.expect import (
        functional_dependency,
    )

    df = spark.createDataFrame(
        [(1, "a"), (1, None)], "k long, v string"
    )
    r = functional_dependency(df, "k", "v").collect()[0]
    # a key mapping to both NULL and 'a' IS a violation
    assert not r["holds"] and r["violating_keys"] == 1


def test_benford_on_benford_like_data(spark):
    import math

    from kafka_streams_plumber_spark.operators.stats import benford_audit

    # log-uniform magnitudes are Benford-distributed
    rows = [(math.exp(i * 0.001),) for i in range(1, 9211)]  # e^0.001..e^9.2
    df = spark.createDataFrame(rows, "v double")
    out = {r["digit"]: r for r in benford_audit(df, "v").collect()}
    assert set(out) == set(range(1, 10))
    for d in range(1, 10):
        assert abs(out[d]["deviation"]) < 0.02, (d, out[d])
    assert out[1]["chi2"] == out[9]["chi2"]  # replicated scalar
    assert out[1]["chi2"] < 50.0


def test_benford_uniform_data_flagged(spark):
    from kafka_streams_plumber_spark.operators.stats import benford_audit

    # uniform 1000..9999: every first digit equally likely — not Benford
    df = spark.range(1000, 10000).select(F.col("id").cast("double").alias("v"))
    out = benford_audit(df, "v").collect()
    assert out[0]["chi2"] > 1000.0  # strongly rejected


def test_benford_huge_magnitudes_and_carry(spark):
    """The three failure modes of the old digit extraction: int64
    saturation at |v| >= ~9.2e12 (reported digit 9 for everything),
    round-carry flipping a true leading 9 to 1, and zero-count digits
    silently dropping their chi-square terms."""
    from kafka_streams_plumber_spark.operators.stats import benford_audit

    rows = [
        (3.7e13,),  # beyond old int64 envelope -> must be digit 3
        (8.1e200,),  # astronomically large -> digit 8
        (9.9999997,),  # round would carry to 10000000 -> must stay 9
        (2.0,),
    ]
    df = spark.createDataFrame(rows, "v double")
    out = {r["digit"]: r for r in benford_audit(df, "v").collect()}
    assert set(out) == set(range(1, 10))  # full digit frame, cnt=0 rows
    assert out[3]["cnt"] == 1 and out[8]["cnt"] == 1
    assert out[9]["cnt"] == 1 and out[2]["cnt"] == 1
    assert out[1]["cnt"] == 0 and out[1]["freq"] == 0.0
    # zero-count digits contribute expected-count chi2 terms: with 4 obs
    # chi2 must exceed the sum of the five missing digits' E_d terms
    import math

    expect_missing = sum(
        4 * math.log10(1 + 1 / d) for d in (1, 4, 5, 6, 7)
    )
    assert out[1]["chi2"] > expect_missing


def test_render_dialogues_order_is_total_and_partition_proof(spark):
    from kafka_streams_plumber_spark.operators.behavior import (
        render_dialogues,
    )

    rows = [(1, i, 100 - i, f"e{i}") for i in range(6)]  # seq asc
    df = spark.createDataFrame(rows, "u long, seq long, other long, ev string")
    out = render_dialogues(
        df.repartition(5), "u", ["seq"], "ev"
    ).collect()[0]
    assert out["dialogue"] == "<|e0|><|e1|><|e2|><|e3|><|e4|><|e5|>"
    assert out["n_turns"] == 6
    # order columns must win over any incidental partition order
    out2 = render_dialogues(df.repartition(1), "u", ["seq"], "ev").collect()[0]
    assert out2["dialogue"] == out["dialogue"]
