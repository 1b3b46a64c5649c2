"""Deterministic sampling/splitting + text hygiene operators."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_streams_plumber_spark.operators.sampling import (
    deterministic_sample,
    hash_split,
    stratified_sample,
)
from kafka_streams_plumber_spark.operators.text import chunk_tokens, redact_pii


def test_hash_split_partitions_every_row_once(spark):
    df = spark.range(0, 10000).select(F.col("id"))
    s = hash_split(df, "id", fractions={"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in s.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 10000  # fractions cover 1.0 -> no drops
    assert 7500 < counts["train"] < 8500
    assert 500 < counts["val"] < 1500
    assert 500 < counts["test"] < 1500
    # determinism: same assignment on a re-run
    s2 = hash_split(df, "id", fractions={"train": 0.8, "val": 0.1, "test": 0.1})
    assert s.collect() == s2.collect()


def test_hash_split_subsampling_drops_remainder(spark):
    df = spark.range(0, 1000)
    s = hash_split(df, "id", fractions={"train": 0.5})
    n = s.count()
    assert 400 < n < 600


def test_deterministic_sample_is_a_subset_and_stable(spark):
    df = spark.range(0, 5000)
    a = {r["id"] for r in deterministic_sample(df, "id", 0.2).collect()}
    b = {r["id"] for r in deterministic_sample(df, "id", 0.2).collect()}
    assert a == b
    assert 700 < len(a) < 1300
    bigger = {r["id"] for r in deterministic_sample(df, "id", 0.5).collect()}
    assert a <= bigger  # nested: growing the fraction keeps prior rows


def test_stratified_sample_respects_per_stratum_fractions(spark):
    df = spark.range(0, 4000).select(
        "id", F.when(F.col("id") % 2 == 0, "crawl").otherwise("curated").alias("src")
    )
    s = stratified_sample(df, "id", "src", {"crawl": 0.1, "curated": 1.0})
    counts = {r["src"]: r["n"] for r in s.groupBy("src").agg(F.count("*").alias("n")).collect()}
    assert counts["curated"] == 2000
    assert 100 < counts["crawl"] < 350


def test_redact_pii_patterns(spark):
    rows = [
        (1, "mail me at bob.smith+x@example.co.uk please"),
        (2, "call +31 (0)20-123 4567 now"),
        (3, "server at 192.168.0.1 is up"),
        (4, "nothing sensitive here"),
    ]
    df = spark.createDataFrame(rows, "id int, t string")
    out = {r["id"]: r["c"] for r in df.select("id", redact_pii("t").alias("c")).collect()}
    assert out[1] == "mail me at [REDACTED] please"
    assert out[2] == "call [REDACTED] now"
    assert out[3] == "server at [REDACTED] is up"
    assert out[4] == "nothing sensitive here"


def test_chunk_tokens_windows_and_overlap(spark):
    text = " ".join(f"w{i}" for i in range(300))
    df = spark.createDataFrame([(1, text)], "doc_id int, text string")
    rows = sorted(
        chunk_tokens(df, "text", "doc_id", size=128, overlap=32).collect(),
        key=lambda r: r["chunk_idx"],
    )
    # stride 96 over 300 tokens -> starts 0, 96, 192, 288
    assert [r["chunk_idx"] for r in rows] == [0, 1, 2, 3]
    assert [r["n_tokens"] for r in rows] == [128, 128, 108, 12]
    assert rows[0]["chunk_text"].split(" ")[0] == "w0"
    assert rows[1]["chunk_text"].split(" ")[0] == "w96"
    # overlap: chunk 1 starts inside chunk 0's tail
    assert "w96" in rows[0]["chunk_text"]


def test_chunk_tokens_short_doc_single_chunk(spark):
    df = spark.createDataFrame([(7, "a b c")], "doc_id int, text string")
    rows = chunk_tokens(df, "text", "doc_id", size=128, overlap=32).collect()
    assert len(rows) == 1
    assert rows[0]["n_tokens"] == 3
    assert rows[0]["chunk_text"] == "a b c"


def test_gopher_rules_on_synthetic_docs(spark):
    from kafka_streams_plumber_spark.operators.text import gopher_rules

    good = "the cat sat on a mat and it was that good for everyone " * 5
    rows = [
        (1, good),                                   # passes everything
        (2, "short doc"),                            # too few words
        (3, "### " * 60),                            # symbols + no alpha
        (4, ("xqz " * 60)),                          # no stopwords
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["doc_id"]: r["g"] for r in df.select("doc_id", gopher_rules("text").alias("g")).collect()}
    assert out[1]["passed"]
    assert not out[2]["word_count_ok"]
    assert not out[3]["symbol_ratio_ok"] and not out[3]["alpha_ratio_ok"]
    assert not out[4]["stopword_ok"]
    assert not out[2]["passed"] and not out[3]["passed"] and not out[4]["passed"]


def test_mix_sources_solves_fractions(spark):
    from kafka_streams_plumber_spark.operators.sampling import mix_sources

    # 100 ids per source; weights 2:1 -> binding source 'a' kept whole,
    # 'b' thinned to ~50, 'c' (absent from weights) dropped entirely.
    rows = [(i, s) for s in ("a", "b", "c") for i in range(100)]
    df = spark.createDataFrame(
        [(i + {"a": 0, "b": 1000, "c": 2000}[s], s) for i, s in rows],
        "id long, src string",
    )
    out = mix_sources(df, "id", "src", {"a": 2.0, "b": 1.0})
    counts = {
        r["src"]: r["n"]
        for r in out.groupBy("src").agg(F.count("*").alias("n")).collect()
    }
    assert counts["a"] == 100
    assert "c" not in counts
    assert 35 <= counts["b"] <= 65  # hash-thinned to ~half

    # deterministic: same rows on re-run
    ids1 = sorted(r["id"] for r in out.collect())
    ids2 = sorted(r["id"] for r in out.collect())
    assert ids1 == ids2


def test_group_split_never_splits_a_group(spark):
    from kafka_streams_plumber_spark.operators.sampling import group_split

    rows = [(u, e) for u in range(50) for e in range(4)]
    df = spark.createDataFrame(rows, ["user_id", "event_id"])
    out = group_split(
        df, "user_id", fractions={"train": 0.7, "test": 0.3}
    ).collect()
    assert len(out) == 200
    per_user: dict = {}
    for r in out:
        per_user.setdefault(r["user_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in per_user.values())


def test_importance_sample_rate_tracks_sigmoid(spark):
    from pyspark.sql import functions as F

    from kafka_streams_plumber_spark.operators.sampling import importance_sample

    n = 4000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit(0.0).alias("score")
    )
    kept = importance_sample(df, "score", "doc_id").count()
    # sigmoid(0) = 0.5: the uniform id hash should keep ~half
    assert abs(kept / n - 0.5) < 0.05

    high = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit(6.0).alias("score")
    )
    assert importance_sample(high, "score", "doc_id").count() > 0.95 * n


def test_importance_sample_is_deterministic(spark):
    from pyspark.sql import functions as F

    from kafka_streams_plumber_spark.operators.sampling import importance_sample

    df = spark.range(500).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7 / 3.0 - 1.0).alias("score")
    )
    a = sorted(r["doc_id"] for r in importance_sample(df, "score", "doc_id").collect())
    b = sorted(
        r["doc_id"]
        for r in importance_sample(df.repartition(9), "score", "doc_id").collect()
    )
    assert a == b


def test_negative_samples_uniform_and_never_anchor(spark):
    from kafka_streams_plumber_spark.operators.sampling import negative_samples

    df = spark.range(97).selectExpr("id AS doc_id")
    out = negative_samples(df, "doc_id", k=3).collect()
    assert len(out) == 97 * 3
    assert all(r["neg_id"] != r["doc_id"] for r in out)
    # every doc appears as a negative exactly k times (stride walk is a
    # bijection per j)
    from collections import Counter

    c = Counter(r["neg_id"] for r in out)
    assert set(c.values()) == {3}
    # reproducible across partitionings
    out2 = negative_samples(df.repartition(11), "doc_id", k=3).collect()
    key = lambda r: (r["doc_id"], r["neg_idx"])
    assert sorted(out, key=key) == sorted(out2, key=key)


def test_negative_samples_strides_distinct_per_anchor(spark):
    from collections import Counter

    from kafka_streams_plumber_spark.operators.sampling import negative_samples

    # N=3, k=2 (k <= N-1): each anchor's negatives must be distinct
    df = spark.range(3).selectExpr("id AS doc_id")
    out = negative_samples(df, "doc_id", k=2).collect()
    per_anchor: dict = {}
    for r in out:
        assert r["neg_id"] != r["doc_id"]
        per_anchor.setdefault(r["doc_id"], []).append(r["neg_id"])
    assert all(len(v) == len(set(v)) == 2 for v in per_anchor.values())
    # single-row corpus: no valid negative exists -> empty result
    one = spark.range(1).selectExpr("id AS doc_id")
    assert negative_samples(one, "doc_id", k=2).count() == 0


# ---------------------------------------------------------------------
# Weighted sampling (Efraimidis-Spirakis)
# ---------------------------------------------------------------------

from kafka_streams_plumber_spark.operators.sampling import (  # noqa: E402
    weighted_sample_per_group,
)


def test_weighted_sample_exact_k_per_group(spark):
    rows = [(i, "g%d" % (i % 4), 1.0 + (i % 3)) for i in range(400)]
    df = spark.createDataFrame(rows, "id long, g string, w double")
    out = weighted_sample_per_group(df, "id", "w", "g", 7)
    counts = {r["g"]: r["n"] for r in out.groupBy("g").count().withColumnRenamed("count", "n").collect()}
    assert all(v == 7 for v in counts.values()) and len(counts) == 4


def test_weighted_sample_prefers_heavy_rows(spark):
    # 100 light rows (w=1) vs 100 heavy rows (w=50) in one group:
    # the 20-row sample should be dominated by heavy rows
    rows = [(i, "g", 50.0 if i % 2 == 0 else 1.0) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, g string, w double")
    out = weighted_sample_per_group(df, "id", "w", "g", 20).collect()
    heavy = sum(1 for r in out if r["w"] == 50.0)
    assert heavy >= 15, heavy


def test_weighted_sample_deterministic_and_partition_invariant(spark):
    rows = [(i, "g%d" % (i % 3), float(1 + i % 7)) for i in range(300)]
    df = spark.createDataFrame(rows, "id long, g string, w double")
    a = sorted(map(tuple, weighted_sample_per_group(df.repartition(8), "id", "w", "g", 5).collect()))
    b = sorted(map(tuple, weighted_sample_per_group(df.coalesce(1), "id", "w", "g", 5).collect()))
    assert a == b


def test_weighted_sample_drops_nonpositive_weights(spark):
    rows = [(1, "g", 0.0), (2, "g", -1.0), (3, "g", None), (4, "g", 2.0)]
    df = spark.createDataFrame(rows, "id long, g string, w double")
    out = weighted_sample_per_group(df, "id", "w", "g", 10).collect()
    assert [r["id"] for r in out] == [4]


# ---------------------------------------------------------------------
# Temperature mixing
# ---------------------------------------------------------------------

from kafka_streams_plumber_spark.operators.sampling import temperature_mix  # noqa: E402


def _mix_df(spark):
    rows = [(i, "big") for i in range(900)] + [(1000 + i, "small") for i in range(100)]
    return spark.createDataFrame(rows, "id long, s string")


def test_temperature_tau1_keeps_everything(spark):
    assert temperature_mix(_mix_df(spark), "id", "s", tau=1.0).count() == 1000


def test_temperature_high_tau_flattens_to_uniform(spark):
    out = temperature_mix(_mix_df(spark), "id", "s", tau=1000.0)
    counts = {r["s"]: r["n"] for r in out.groupBy("s").count().withColumnRenamed("count", "n").collect()}
    # near-uniform: big thinned to ~the small stratum's size
    assert counts["small"] >= 95  # binding stratum kept (hash granularity)
    assert abs(counts["big"] - counts["small"]) <= 0.15 * counts["small"], counts


def test_temperature_tau2_between_original_and_uniform(spark):
    out = temperature_mix(_mix_df(spark), "id", "s", tau=2.0)
    counts = {r["s"]: r["n"] for r in out.groupBy("s").count().withColumnRenamed("count", "n").collect()}
    share_big = counts["big"] / (counts["big"] + counts["small"])
    assert 0.5 < share_big < 0.9, counts  # flattened from 0.9 toward 0.5
    # target share at tau=2: sqrt(900)/(sqrt(900)+sqrt(100)) = 0.75
    assert abs(share_big - 0.75) < 0.05, counts


def test_temperature_never_upsamples(spark):
    df = _mix_df(spark)
    out = temperature_mix(df, "id", "s", tau=3.0)
    assert out.count() <= df.count()
    # deterministic across partitionings
    a = sorted(r["id"] for r in out.collect())
    b = sorted(r["id"] for r in temperature_mix(df.repartition(7), "id", "s", tau=3.0).collect())
    assert a == b


def test_temporal_split_embargo_gap(spark):
    import datetime as dt

    from kafka_streams_plumber_spark.operators.sampling import temporal_split

    base = dt.datetime(2024, 1, 1)
    rows = [(i, base + dt.timedelta(hours=i)) for i in range(10)]
    df = spark.createDataFrame(rows, "id long, ts timestamp")
    out = temporal_split(
        df, "ts", train_frac=0.5, embargo_ms=2 * 3600 * 1000
    ).collect()
    got = {r["id"]: r["split"] for r in out}
    # 0.5-quantile of hours 0..9 = 4.5h -> train = ids 0..4;
    # embargo (4.5h, 6.5h] drops ids 5 and 6; val = ids 7..9
    assert {i for i, s in got.items() if s == "train"} == {0, 1, 2, 3, 4}
    assert {i for i, s in got.items() if s == "val"} == {7, 8, 9}
    assert 5 not in got and 6 not in got


def test_temporal_split_no_embargo_partitions_everything(spark):
    import datetime as dt

    from kafka_streams_plumber_spark.operators.sampling import temporal_split

    base = dt.datetime(2024, 1, 1)
    rows = [(i, base + dt.timedelta(minutes=i)) for i in range(20)]
    df = spark.createDataFrame(rows, "id long, ts timestamp")
    out = temporal_split(df, "ts", train_frac=0.75).collect()
    assert len(out) == 20  # nothing dropped without an embargo
    splits = {r["id"]: r["split"] for r in out}
    # every train row precedes every val row in time
    max_train = max(i for i, s in splits.items() if s == "train")
    min_val = min(i for i, s in splits.items() if s == "val")
    assert max_train < min_val


def test_temporal_split_validates_fraction(spark):
    import pytest as _pytest

    from kafka_streams_plumber_spark.operators.sampling import temporal_split

    df = spark.createDataFrame([(1,)], "id long")
    with _pytest.raises(ValueError, match="train_frac"):
        temporal_split(df, "id", train_frac=1.5)


def test_kfold_partition_properties(spark):
    """Folds partition the data, are deterministic, and grouped keys
    never straddle folds."""
    from kafka_streams_plumber_spark.operators.sampling import kfold

    rows = [(i, i % 37) for i in range(500)]
    df = spark.createDataFrame(rows, "row_id long, group_id long")
    out = kfold(df, "group_id", k=4)
    assert out.count() == 500  # total preserved
    folds = {r["fold"] for r in out.select("fold").distinct().collect()}
    assert folds <= set(range(4)) and len(folds) == 4
    # a group maps to exactly one fold
    per_group = (
        out.groupBy("group_id").agg(F.countDistinct("fold").alias("n")).collect()
    )
    assert all(r["n"] == 1 for r in per_group)
    # deterministic across invocations
    a = sorted(map(tuple, out.select("row_id", "fold").collect()))
    b = sorted(map(tuple, kfold(df, "group_id", k=4)
                   .select("row_id", "fold").collect()))
    assert a == b


def test_kfold_rejects_k1(spark):
    import pytest as _pt

    from kafka_streams_plumber_spark.operators.sampling import kfold

    df = spark.createDataFrame([(1,)], "id long")
    with _pt.raises(ValueError):
        kfold(df, "id", k=1)


def test_reweight_to_target_mix(spark):
    """Weighted stratum mass matches the target mix exactly; absent
    strata weigh zero; total weighted mass ~= corpus size."""
    from kafka_streams_plumber_spark.operators.sampling import reweight_to_target

    rows = [(i, "a" if i < 60 else ("b" if i < 90 else "c")) for i in range(100)]
    df = spark.createDataFrame(rows, "id long, s string")
    out = reweight_to_target(df, "s", {"a": 0.5, "b": 0.5}).collect()
    w = {}
    for r in out:
        w.setdefault(r["s"], []).append(r["weight"])
    assert len(out) == 100
    # 60 rows of a at weight 50/60, 30 of b at 50/30, 10 of c at 0
    assert set(w["a"]) == {round(0.5 * 100 / 60, 6)}
    assert set(w["b"]) == {round(0.5 * 100 / 30, 6)}
    assert set(w["c"]) == {0.0}
    mass_a = sum(w["a"])
    mass_b = sum(w["b"])
    assert abs(mass_a / (mass_a + mass_b) - 0.5) < 1e-6


def test_reweight_rejects_bad_target(spark):
    import pytest as _pt

    from kafka_streams_plumber_spark.operators.sampling import reweight_to_target

    df = spark.createDataFrame([(1, "a")], "id long, s string")
    with _pt.raises(ValueError):
        reweight_to_target(df, "s", {"a": 0.5})


def test_sample_to_token_budget_semantics(spark):
    """Each group's kept set is the hash-order prefix crossing the
    budget; totals land in [budget, budget + max_doc); deterministic."""
    import hashlib

    from kafka_streams_plumber_spark.operators.sampling import (
        sample_to_token_budget,
    )

    rows = [(i, "a" if i % 2 else "b", 10 + (i * 7) % 40) for i in range(80)]
    df = spark.createDataFrame(rows, "doc_id long, g string, n long")
    out = sample_to_token_budget(
        df, "g", "doc_id", "n", budget=150
    ).collect()

    per: dict = {}
    for i, g, n in rows:
        k = hashlib.md5(f"42:{i}".encode()).hexdigest()
        per.setdefault(g, []).append((k, i, n))
    for g, items in per.items():
        items.sort()
        cum, exp = 0, set()
        for _, i, n in items:
            if cum >= 150:
                break
            cum += n
            exp.add(i)
        got = {r["doc_id"] for r in out if r["g"] == g}
        assert got == exp, g
        tot = sum(r["n"] for r in out if r["g"] == g)
        assert 150 <= tot < 150 + 50
    # stable across recomputation
    again = sample_to_token_budget(df, "g", "doc_id", "n", budget=150).collect()
    assert sorted(r["doc_id"] for r in again) == sorted(r["doc_id"] for r in out)


def _bootstrap_reference(rows, b, ci, scale=10**6, ms_scale=10**9):
    """Pure-Python poisson_bootstrap over ``(id, value)`` rows: the
    Knuth hash -> Poisson(1) inverse CDF -> exact replica sums ->
    scaled-long means -> integer-moment SE -> interpolated percentile
    CI, as the kernel's output columns."""
    import math

    from kafka_streams_plumber_spark.operators.sampling import POISSON1_CDF

    def weight(k, r):
        h = ((k * b + r) % 2**31) * 2654435761 % 2**31
        u = (h + 1.0) / (2**31 + 1)  # kernel: /float(_M31 + 1), _M31 = 2**31
        for kk, thr in enumerate(POISSON1_CDF):
            if u < thr:
                return kk
        return len(POISSON1_CDF)

    def pctl(xs, p):
        xs = sorted(xs)
        idx = p * (len(xs) - 1)
        lo, w = int(math.floor(idx)), idx - math.floor(idx)
        return xs[lo] + w * (xs[min(lo + 1, len(xs) - 1)] - xs[lo])

    vs = {k: round(v * scale) for k, v in rows}
    ms = []
    for r in range(b):
        sv = sum(weight(k, r) * vs[k] for k, _ in rows)
        sw = sum(weight(k, r) for k, _ in rows)
        if sw > 0:
            ms.append(round(sv / sw / scale * ms_scale))
    n, t, q = len(ms), sum(ms), sum(m * m for m in ms)
    alpha = (1.0 - ci) / 2.0
    return {
        "n_rows": len(rows),
        "n_replicas": n or None,
        "point_mean": round(sum(vs.values()) / len(rows) / scale, 6),
        "boot_mean": round(t / n / ms_scale, 6) if n else None,
        "boot_se": (
            round(math.sqrt((n * q - t * t) / (n * (n - 1))) / ms_scale, 6)
            if n > 1
            else None
        ),
        "ci_lo": round(pctl(ms, alpha) / ms_scale, 6) if n else None,
        "ci_hi": round(pctl(ms, 1.0 - alpha) / ms_scale, 6) if n else None,
    }


def test_poisson_bootstrap_matches_pure_python_reference(spark):
    """The whole pipeline equals an independent pure-Python
    recomputation, bit for bit at the 6 dp contract — over the whole
    frame, and per group (a NULL key and a single-row group included)."""
    from kafka_streams_plumber_spark.operators.sampling import poisson_bootstrap

    rows = [(i, float(10 + 3 * (i % 5))) for i in range(1, 41)]
    df = spark.createDataFrame(rows, "rid long, v double")
    b = 7
    got = poisson_bootstrap(df, "rid", "v", b=b, ci=0.95).collect()[0]
    assert got.asDict() == _bootstrap_reference(rows, b, 0.95)
    # the interval brackets the point estimate and SE is positive
    assert got["ci_lo"] <= got["point_mean"] <= got["ci_hi"]
    assert got["boot_se"] > 0.0

    # determinism: a second run is identical
    again = poisson_bootstrap(df, "rid", "v", b=b, ci=0.95).collect()[0]
    assert again == got

    # grouped: three groups, one keyed NULL and one holding a single row
    groups = {"a": rows[:25], None: rows[25:], "c": [(41, 7.25)]}
    gdf = spark.createDataFrame(
        [(g, k, v) for g, rs in groups.items() for k, v in rs],
        "g string, rid long, v double",
    )
    out = poisson_bootstrap(gdf, "rid", "v", group_cols="g", b=b, ci=0.9)
    assert out.columns[:2] == ["g", "n_rows"]
    by_group = {r["g"]: r.asDict() for r in out.collect()}
    assert by_group == {
        g: {"g": g, **_bootstrap_reference(rs, b, 0.9)}
        for g, rs in groups.items()
    }


def test_poisson_bootstrap_ungrouped_equals_one_constant_group(spark):
    """``group_cols=()`` is the grouped kernel over one group: the same
    row, column for column, as grouping by a constant column."""
    from kafka_streams_plumber_spark.operators.sampling import poisson_bootstrap

    rows = [(i, float((i * 37) % 113) - 31.5) for i in range(1, 101)]
    df = spark.createDataFrame(rows, "rid long, v double")
    flat = poisson_bootstrap(df, "rid", "v", b=11).collect()
    grouped = poisson_bootstrap(
        df.withColumn("g", F.lit("all")), "rid", "v", group_cols=["g"], b=11
    ).collect()
    assert len(flat) == len(grouped) == 1
    assert {"g": "all", **flat[0].asDict()} == grouped[0].asDict()
    assert list(grouped[0].asDict())[1:] == list(flat[0].asDict())


def test_poisson_bootstrap_salt_invariance(spark):
    """The r9 salted two-level sum is an exactness-preserving
    rewrite: every output column is bit-identical across salt_cells
    settings (salt_cells=1 degenerates to the unsalted global decimal
    sum, so equality across 1/7/64 proves the long-partial path
    reassociates to the same exact integers)."""
    from kafka_streams_plumber_spark.operators.sampling import (
        poisson_bootstrap,
    )

    rows = [(i, float((i * 37) % 113) - 31.5) for i in range(1, 101)]
    df = spark.createDataFrame(rows, "rid long, v double")
    outs = [
        poisson_bootstrap(df, "rid", "v", b=11, salt_cells=s).collect()[0]
        for s in (1, 7, 64)
    ]
    assert outs[0] == outs[1] == outs[2]


def test_poisson_bootstrap_overflow_guard_nulls_boot_columns(spark):
    """A cell whose count * 8 * max|scaled value| crosses 2^62 could
    have wrapped the level-1 long partial sum: the guard must NULL
    the bootstrap columns (fail-loud) while keeping the decimal-exact
    point estimate."""
    from kafka_streams_plumber_spark.operators.sampling import (
        poisson_bootstrap,
    )

    # scale=1e6 puts 6e11 at 6e17 scaled; 1 row * 8 * 6e17 > 2^62
    df = spark.createDataFrame(
        [(1, 6.0e11), (2, 1.0), (3, 2.0)], "rid long, v double"
    )
    r = poisson_bootstrap(df, "rid", "v", b=5).collect()[0]
    assert r["n_rows"] == 3 and r["point_mean"] is not None
    assert r["boot_mean"] is None
    assert r["boot_se"] is None
    assert r["ci_lo"] is None and r["ci_hi"] is None


def test_poisson_bootstrap_guard_survives_long_min_saturation(spark):
    """ADVICE r9: a value far outside the |value|*scale < 2^63/8
    contract saturates the double->long cast to Long.MIN_VALUE, where
    a long abs() WRAPS NEGATIVE and would understate the guard
    magnitude — the old max(abs(_v)) guard then passed while the long
    partials had wrapped. The magnitude is now taken on the DOUBLE
    side (MIN_VALUE -> +9.22e18), so the guard trips and NULLs the
    bootstrap columns instead."""
    from kafka_streams_plumber_spark.operators.sampling import (
        poisson_bootstrap,
    )

    # -1e13 * 1e6 = -1e19 < Long.MIN -> saturates to MIN_VALUE
    df = spark.createDataFrame(
        [(1, -1.0e13), (2, 1.0), (3, 2.0)], "rid long, v double"
    )
    r = poisson_bootstrap(df, "rid", "v", b=5).collect()[0]
    assert r["n_rows"] == 3
    assert r["boot_mean"] is None
    assert r["boot_se"] is None
    assert r["ci_lo"] is None and r["ci_hi"] is None
