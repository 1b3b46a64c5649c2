"""Plan-quality regression tests: the physical plans the engine promises
(SURVEY §4.3, README scale notes) — pushdown, pruning, broadcast,
codegen, no Python in expression-only operators."""

from __future__ import annotations

import pytest

from kafka_streams_plumber_spark.plans.inspect import (
    broadcast_join_count,
    codegen_compiles,
    codegen_span_count,
    pushed_filters,
    python_eval_count,
    read_schemas,
)
from kafka_streams_plumber_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def test_filter_pushdown_through_pipeline(spark):
    """Pipeline's struct packing must be transparent to Catalyst: the
    filter reaches the parquet scan and the scan reads only used cols."""
    df = QUERIES["q_filter"](spark, SF)
    pf = " ".join(pushed_filters(df))
    assert "LessThan(l_quantity,10.0)" in pf
    assert "GreaterThan(l_discount,0.05)" in pf
    (cols,) = read_schemas(df)
    assert set(cols) == {
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
    }


def test_q1_shipdate_pushdown(spark):
    df = QUERIES["q1_pricing"](spark, SF)
    assert any("l_shipdate" in p for p in pushed_filters(df))


def test_joins_broadcast_dimensions(spark):
    assert broadcast_join_count(QUERIES["q3_topk"](spark, SF)) >= 1
    assert broadcast_join_count(QUERIES["q5_join"](spark, SF)) >= 2


def test_expression_operators_have_no_python(spark):
    for name in [
        "q_filter",
        "q_chain",
        "q_conform",
        "q_union",
        "q1_pricing",
        "text_stats",
        "text_quality",
        "dedup_exact",
        "dedup_minhash",
        "sim_topk",
        "q_sessionize",
    ]:
        assert python_eval_count(QUERIES[name](spark, SF)) == 0, name


def test_codegen_covers_scan_queries(spark):
    assert codegen_span_count(QUERIES["q_filter"](spark, SF)) >= 1
    assert codegen_span_count(QUERIES["q1_pricing"](spark, SF)) >= 1


def test_tpch_shapes_broadcast_not_shuffle_join(spark):
    """Q14/18/19: the dimension (part / HAVING-survivors) broadcasts, so
    the fact side never shuffles for the join."""
    for name in ["q14_promo", "q18_bigorders", "q19_disjunct", "q15_topsupplier"]:
        assert broadcast_join_count(QUERIES[name](spark, SF)) >= 1, name
        assert python_eval_count(QUERIES[name](spark, SF)) == 0, name


def test_q19_disjunct_pushes_common_conjuncts(spark):
    """Catalyst must extract brand/size predicates onto the part scan
    from the OR-of-ANDs (the pushdown that makes Q19 scale)."""
    df = QUERIES["q19_disjunct"](spark, SF)
    pf = " ".join(pushed_filters(df))
    assert "p_brand" in pf and "l_quantity" in pf


def test_new_hygiene_queries_stay_jvm_side(spark):
    for name in ["q_redact", "q_chunks", "q_split", "q_vocab", "q_stratified", "q_range"]:
        assert python_eval_count(QUERIES[name](spark, SF)) == 0, name


def test_final_tpch_shapes_plan_quality(spark):
    """The last-wave TPC-H shapes: dims broadcast, no Python eval, and
    the decorrelated shapes hold to their single-fact-shuffle promise."""
    from kafka_streams_plumber_spark.plans.inspect import shuffle_count

    for name in [
        "q2_mincost",
        "q7_volume",
        "q8_marketshare",
        "q9_profit",
        "q13_custdist",
        "q16_suppcnt",
        "q17_smallqty",
        "q20_shippers",
        "q21_waiting",
        "q22_idle",
    ]:
        df = QUERIES[name](spark, SF)
        assert broadcast_join_count(df) >= 1, name
        assert python_eval_count(df) == 0, name
    # q9: 4-table star resolved with exactly one exchange pre-AQE
    assert shuffle_count(QUERIES["q9_profit"](spark, SF)) <= 2
    # q17: decorrelated avg never re-shuffles the fact
    assert shuffle_count(QUERIES["q17_smallqty"](spark, SF)) <= 2


def test_q2_argmin_is_single_window_shuffle(spark):
    """Per-part argmin via window, not groupBy+rejoin: exactly one extra
    exchange beyond the distinct bridge."""
    from kafka_streams_plumber_spark.plans.inspect import plan_string

    df = QUERIES["q2_mincost"](spark, SF)
    assert plan_string(df).count("Window") >= 1


def test_dedup_minhash_never_nested_loop(spark):
    """The LSH pipeline's 100 TB claim: every join is equi-keyed (band
    buckets / candidate ids) — a regression to a nested-loop or
    cartesian plan means the banding broke."""
    from kafka_streams_plumber_spark.plans.inspect import plan_string

    plan = plan_string(QUERIES["dedup_minhash"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_decontaminate_broadcasts_benchmark_grams(spark):
    """decontaminate's scale contract: the benchmark gram set broadcasts,
    the corpus is never shuffled for the join."""
    from kafka_streams_plumber_spark.plans.inspect import plan_string

    plan = plan_string(QUERIES["q_decontaminate"](spark, SF))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_interval_join_is_shuffled_equi_join(spark):
    """q_interval (stream_interval_join batch mode): key-equi join with a
    range post-filter — nested-loop would be the scale-killer."""
    from kafka_streams_plumber_spark.plans.inspect import plan_string

    plan = plan_string(QUERIES["q_interval"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_global_order_plan_is_parallel(spark):
    """global_order must plan a range exchange + broadcast offset join —
    never a global single-partition sort or a sort-merge join."""
    from kafka_streams_plumber_spark.plans.inspect import (
        broadcast_join_count,
        plan_string,
        shuffle_count,
    )

    df = QUERIES["q_train_order"](spark, SF)
    p = plan_string(df)
    assert "rangepartitioning" in p.lower()
    assert broadcast_join_count(df) >= 1
    assert "SortMergeJoin" not in p
    # exchanges: the range repartition + the tiny offset-table shuffle;
    # a regression to orderBy+row_number would add a singlepartition
    # exchange
    assert "SinglePartition" not in p.replace(
        "rangepartitioning", ""
    ) or shuffle_count(df) <= 3


def test_source_cap_no_nested_loop(spark):
    from kafka_streams_plumber_spark.plans.inspect import plan_string

    p = plan_string(QUERIES["q_source_cap"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_session_window_single_shuffle(spark):
    from kafka_streams_plumber_spark.plans.inspect import shuffle_count

    assert shuffle_count(QUERIES["q_session_window"](spark, SF)) <= 1


def test_incremental_dedup_equi_joins_only(spark):
    """incremental_minhash_dedup's scale contract: candidate generation
    is an equi-join on (band, key); the index is never nested-looped
    against the batch."""
    from kafka_streams_plumber_spark.plans.inspect import plan_string

    plan = plan_string(QUERIES["q_incr_dedup"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_cms_build_is_single_partial_agg(spark):
    """cms_build shuffles at most depth x width rows per partition: one
    hash-partitioned exchange, partial aggregation below it."""
    from kafka_streams_plumber_spark.operators.sketches import cms_build
    from kafka_streams_plumber_spark.plans.inspect import (
        plan_string,
        python_eval_count,
        shuffle_count,
    )

    t = __import__(
        "kafka_streams_plumber_spark.plans.session", fromlist=["load_tables"]
    ).load_tables(spark, SF)
    sk = cms_build(t["events"], "user_id")
    assert shuffle_count(sk) == 1
    assert python_eval_count(sk) == 0
    assert "partial_count" in plan_string(sk)


def test_snapshot_diff_prunes_unread_columns(spark):
    """Digest-before-join also means column pruning: a diff comparing 2
    columns must not read the other 7 from parquet."""
    from kafka_streams_plumber_spark.plans.inspect import read_schemas

    df = QUERIES["q_snapshot_diff"](spark, SF)
    for cols in read_schemas(df):
        assert set(cols) <= {"o_orderkey", "o_totalprice", "o_orderstatus"}


def test_url_and_matryoshka_are_shuffle_free_projections(spark):
    """canonicalize_url / matryoshka_truncate are pure expression trees:
    no exchange, no Python eval — they run at scan speed."""
    from kafka_streams_plumber_spark.plans.inspect import (
        python_eval_count,
        shuffle_count,
    )

    for name in ["q_url_canon", "q_matryoshka"]:
        df = QUERIES[name](spark, SF)
        assert shuffle_count(df) == 0, name
        assert python_eval_count(df) == 0, name


def test_domain_stats_single_aggregate(spark):
    """q_domain_stats plans exactly the two exchanges its COUNT(DISTINCT
    lang) requires — partial distinct on (host, lang), final on host —
    and canonicalization itself adds no extra shuffle or Python."""
    from kafka_streams_plumber_spark.plans.inspect import (
        python_eval_count,
        shuffle_count,
    )

    df = QUERIES["q_domain_stats"](spark, SF)
    assert shuffle_count(df) == 2
    assert python_eval_count(df) == 0


def test_length_batches_shuffles_on_bucket_and_shard(spark):
    """length_bucketed_batches partitions its window by (bucket, shard):
    the plan must show the composite key (no single-key hot window) and
    stay Python-free."""
    from kafka_streams_plumber_spark.plans.inspect import (
        plan_string,
        python_eval_count,
    )

    df = QUERIES["q_length_batches"](spark, SF)
    p = plan_string(df)
    assert "hashpartitioning(bucket" in p and "shard" in p
    assert python_eval_count(df) == 0


def test_nb_classifier_broadcasts_model(spark):
    """nb_score must broadcast the O(vocab) model side and keep the
    corpus un-collected: >=1 broadcast join, no Python eval."""
    from kafka_streams_plumber_spark.plans.inspect import (
        broadcast_join_count,
        python_eval_count,
    )

    from kafka_streams_plumber_spark.plans.inspect import plan_string

    df = QUERIES["q_nb_classifier"](spark, SF)
    # weights join broadcasts; the prior attaches as a 1-row broadcast
    # (BroadcastNestedLoopJoin over a scalar row — the legitimate kind).
    assert broadcast_join_count(df) >= 1
    assert python_eval_count(df) == 0
    assert "CartesianProduct" not in plan_string(df)


def test_setsim_plans_equi_joins_only(spark):
    """jaccard_prefix_join must never plan an all-pairs join: candidate
    generation and verify are token-equi joins; no cartesian, no
    nested-loop, no Python."""
    from kafka_streams_plumber_spark.plans.inspect import (
        plan_string,
        python_eval_count,
    )

    df = QUERIES["q_setsim"](spark, SF)
    p = plan_string(df)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert python_eval_count(df) == 0


def test_triangles_plans_equi_joins_only(spark):
    """triangle_counts closes wedges with an equi-join on the
    (least, greatest) key pair — Catalyst must extract the equality
    keys, not fall back to a nested-loop probe."""
    from kafka_streams_plumber_spark.plans.inspect import (
        plan_string,
        python_eval_count,
    )

    df = QUERIES["q_triangles"](spark, SF)
    p = plan_string(df)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert python_eval_count(df) == 0


def test_pmi_single_corpus_shuffle(spark):
    """pmi_bigrams: the only large shuffle carries (w1, w2) counts; the
    unigram/scalar joins broadcast (the one-row totals attach as the
    legitimate scalar BroadcastNestedLoopJoin)."""
    from kafka_streams_plumber_spark.plans.inspect import (
        broadcast_join_count,
        python_eval_count,
        shuffle_count,
    )

    df = QUERIES["q_pmi"](spark, SF)
    assert shuffle_count(df) <= 3
    assert broadcast_join_count(df) >= 2
    assert python_eval_count(df) == 0


def test_similarity_query_broadcast_is_size_gated(spark):
    # cosine_topk/ivf_topk broadcast the query side only under the size
    # gate; above it (or with the gate off) the plan must fall back to a
    # distributed join, never a forced driver broadcast
    from kafka_streams_plumber_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
    )
    from kafka_streams_plumber_spark.plans.inspect import plan_string

    corpus = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(100, [1.0, 2.0]), (101, [2.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    conf = spark.conf
    prev = conf.get("spark.sql.autoBroadcastJoinThreshold")
    # kill auto-broadcast so only the operator's explicit hint can
    # produce a broadcast node — isolates the gate under test
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        small = plan_string(cosine_topk(corpus, queries))
        assert "Broadcast" in small  # in-gate: hint applied
        big = plan_string(
            cosine_topk(corpus, queries, broadcast_threshold=None)
        )
        assert "Broadcast" not in big
        assert "CartesianProduct" in big  # partitioned cross join

        ivf_big = plan_string(
            ivf_topk(corpus, queries, n_cells=2, nprobe=1, assign=1,
                     broadcast_threshold=None)
        )
        # candidate join degrades to a shuffled equi-join on the cell key
        assert "SortMergeJoin" in ivf_big or "ShuffledHashJoin" in ivf_big
    finally:
        conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_round3_additions_stay_jvm_side(spark):
    """The new oracled operator families compile to pure JVM plans —
    zero Python evals anywhere near the hot path."""
    for name in [
        "q_ewma",
        "q_cdc_chunks",
        "q_kfold",
        "q_ab_test",
        "q_reweight",
        "q_calibration",
        "q_l_diversity",
        "q_semantic_keep",
    ]:
        df = QUERIES[name](spark, SF)
        assert python_eval_count(df) == 0, name


def test_kfold_is_shuffle_free_projection(spark):
    from kafka_streams_plumber_spark.plans.inspect import shuffle_count

    df = QUERIES["q_kfold"](spark, SF)
    assert shuffle_count(df) == 0
    assert python_eval_count(df) == 0


def test_ewma_single_key_shuffle(spark):
    from kafka_streams_plumber_spark.plans.inspect import shuffle_count

    df = QUERIES["q_ewma"](spark, SF)
    assert shuffle_count(df) == 1  # one exchange on the user key


def test_ab_test_broadcasts_control_row(spark):
    df = QUERIES["q_ab_test"](spark, SF)
    assert broadcast_join_count(df) >= 1


def test_reweight_broadcasts_weights_fact_never_wide(spark):
    df = QUERIES["q_reweight"](spark, SF)
    assert broadcast_join_count(df) >= 1
    assert python_eval_count(df) == 0


def test_gate_window_queries_emit_only_scalar_columns(spark):
    """Registry guard (VERDICT r3 item 2): the driver's correctness gate
    canonicalizes results with pandas ``sort_values`` over every column,
    which crashes on array/map/struct cells (unhashable ndarray —
    CORRECTNESS_r01 multimodal_features, CORRECTNESS_r03 q_kmeans /
    q_centroids). Every query promoted into _GATE_WINDOW must therefore
    emit scalar-only output. Schema resolution is lazy — this builds 50
    plans, runs no jobs."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    from kafka_streams_plumber_spark.queries import _GATE_WINDOW

    offenders = []
    for name in _GATE_WINDOW:
        schema = QUERIES[name](spark, SF).schema
        for f in schema.fields:
            if isinstance(f.dataType, (ArrayType, MapType, StructType)):
                offenders.append((name, f.name, f.dataType.simpleString()))
    assert not offenders, f"complex-typed gate-window output: {offenders}"


def test_every_oracled_query_is_driver_hashed_or_windowed():
    """Rotation-ledger guard (VERDICT r4 item 8): the union of
    driver-hash-verified names (CORRECTNESS_r01..r{N} hash_match rows),
    the CURRENT _GATE_WINDOW, and the documented _NEXT_WINDOW_QUEUE
    must cover every ORACLES key — so an oracled query structurally
    cannot slip through every rotation forever. When a new query is
    added after the window froze, it must be queued for the next
    rotation or this test goes red. The queue itself cannot hide
    already-hashed names (it exists only for genuinely-new oracles) and
    cannot overlap the window (asserted at import in queries.py)."""
    import glob
    import json
    import os

    from kafka_streams_plumber_spark.queries import (
        _GATE_WINDOW,
        _NEXT_WINDOW_QUEUE,
        ORACLES,
    )

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    hashed = set()
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        with open(path) as f:
            data = json.load(f)
        for name, row in data.items():
            if isinstance(row, dict) and row.get("hash_match"):
                hashed.add(name)
    stale = sorted(set(_NEXT_WINDOW_QUEUE) & hashed)
    assert not stale, (
        f"queued names already driver-hashed — remove from the queue: "
        f"{stale}"
    )
    uncovered = sorted(
        set(ORACLES) - hashed - set(_GATE_WINDOW) - set(_NEXT_WINDOW_QUEUE)
    )
    assert not uncovered, (
        f"{len(uncovered)} oracled queries have no driver hash row and are "
        f"not in the current gate window — add them to _NEXT_WINDOW_QUEUE "
        f"for the next rotation: {uncovered}"
    )


def test_gate_window_follows_staleness_rotation_policy():
    """Steady-state rotation policy guard (VERDICT r7 item 2): beyond
    the declared sentinel / re-proof / first-hash buckets, the window
    must be filled with the registered oracled queries holding the
    OLDEST last-green driver-hash rows — recomputed here from the
    committed CORRECTNESS ledger, so a staler eligible query can never
    be silently left out of the rotation."""
    from kafka_streams_plumber_spark.queries import (
        _GATE_WINDOW,
        _WINDOW_FIRST_HASH,
        _WINDOW_REPROOFS,
        _WINDOW_SENTINELS,
        _WINDOW_STALE_SKIP,
        ORACLES,
        _driver_green_rounds,
        _driver_last_green,
    )

    placed = (
        set(_WINDOW_SENTINELS)
        | set(_WINDOW_REPROOFS)
        | set(_WINDOW_FIRST_HASH)
        | set(_WINDOW_STALE_SKIP)
    )
    # the three declared buckets are disjoint and lead the window
    assert len(placed - set(_WINDOW_STALE_SKIP)) == len(_WINDOW_SENTINELS) + len(
        _WINDOW_REPROOFS
    ) + len(_WINDOW_FIRST_HASH)
    lead = _WINDOW_SENTINELS + _WINDOW_REPROOFS + _WINDOW_FIRST_HASH
    assert _GATE_WINDOW[: len(lead)] == lead

    # Self-healing first-hash check (VERDICT r8 item 2): the driver
    # writes CORRECTNESS_r{N}.json AFTER the session closes, so on the
    # shipped tree every first-hash name legitimately carries a green
    # row in the ledger's NEWEST round — that is the success case, not
    # a violation. The guard fires only when a first-hash name was
    # already proven in an EARLIER round (a genuinely skipped
    # rotation).
    rounds = _driver_green_rounds()
    newest = max((r for rs in rounds.values() for r in rs), default=0)
    already = [
        n
        for n in _WINDOW_FIRST_HASH
        if rounds.get(n) and rounds[n] != {newest}
    ]
    assert not already, (
        f"first-hash bucket holds names green-hashed before the newest "
        f"ledger round (rotation skipped): {already}"
    )

    last = _driver_last_green()

    # nothing staler than the fill was skipped: the max last-green
    # round INSIDE the fill is <= the min last-green round of every
    # eligible query left OUT of the window
    fill = set(_GATE_WINDOW) - set(lead)
    left_out = set(ORACLES) - set(_GATE_WINDOW) - placed
    if fill and left_out:
        worst_in = max(last.get(n, 0) for n in fill)
        best_out = min(last.get(n, 0) for n in left_out)
        assert worst_in <= best_out, (
            f"window fill holds a query last green in round {worst_in} "
            f"while a staler eligible query (round {best_out}) was left out"
        )


def test_session4_wave_stays_jvm_side(spark):
    """Every session-4 kernel (k-sample/normality/eval/graph +
    concentration/trend waves) compiles to a pure JVM plan — zero
    Python evals; the statistics are Column algebra end to end."""
    for name in [
        "q_jarque_bera",
        "q_cvm",
        "q_mood_median",
        "q_friedman",
        "q_welch",
        "q_dw",
        "q_theil_sen",
        "q_avg_precision",
        "q_mcc",
        "q_assortativity",
        "q_ccf",
        "q_prop_test",
        "q_gof",
        "q_cliffs_delta",
        "q_bartlett",
        "q_qq",
        "q_lexdiv",
        "q_clustering",
        "q_cochran_armitage",
        "q_hhi",
        "q_mann_kendall",
        "q_wilson",
        "q_chao",
        "q_dunn",
        "q_partial_corr",
        "q_smk",
        "q_ljung_box",
        "q_sen_seasonal",
    ]:
        df = QUERIES[name](spark, SF)
        assert python_eval_count(df) == 0, name


def test_session4_pair_joins_are_bounded_grain_equi_joins(spark):
    """The O(B^2) operators (theil_sen, mann_kendall pairs) join on
    the GROUP key over the collapsed hourly grain — the plan must
    show an equi-join (hash/sortmerge), never a nested-loop cartesian
    over raw events; the shifted-index operators (dw, ccf) likewise
    equi-join on the bucket key."""
    for name in ["q_theil_sen", "q_mann_kendall", "q_dw", "q_ccf"]:
        df = QUERIES[name](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
        # BroadcastNestedLoopJoin appears only for the tiny 1-row /
        # spine broadcasts, never carrying the pair fan-out; the pair
        # stage itself must be a hash or sort-merge equi-join
        assert (
            "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan
        ), name


def test_funnel_single_event_exchange(spark):
    """The funnel recurrence must ride ONE user-keyed exchange over the
    step-filtered event projection: per-step `_step =` filters stay
    ABOVE the repartition (behind the pushdown barrier) so every step
    branch's exchange subtree is canonically identical and AQE stage
    reuse runs one scan + one shuffle. If a refactor lets Catalyst push
    the per-step equality down to the scan again, each branch gets its
    own specialized scan/exchange and the event log is read k times."""
    for name in ["q_funnel", "q_funnel_window"]:
        df = QUERIES[name](spark, SF)
        pf = " ".join(pushed_filters(df))
        assert "In(event_type" in pf, name
        assert "EqualTo(event_type" not in pf, name


def test_funnel_event_exchange_actually_reused(spark):
    """ADVICE r11: the pushed-filters assertion above does not prove a
    single exchange MATERIALIZED — a Catalyst change that folds the
    barrier (it already folds rand() bounds, and it folds 0*hash) would
    silently revert to k scans/shuffles while keeping In() pushdown.
    Execute each funnel at test scale and assert the FINAL adaptive
    plan carries exactly ONE materialized user-keyed
    REPARTITION_BY_COL exchange, every other step branch riding a
    ReusedExchange of it."""
    for name in ["q_funnel", "q_funnel_window"]:
        df = QUERIES[name](spark, SF)
        df.write.format("noop").mode("overwrite").save()
        # the noop write runs its own execution; re-run via collect so
        # THIS dataset's adaptive plan is finalized
        df = QUERIES[name](spark, SF)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan, name
        final = plan.split("== Initial Plan ==")[0]
        mat = [
            ln
            for ln in final.split("\n")
            if "REPARTITION_BY_COL" in ln and "ReusedExchange" not in ln
        ]
        reused = [
            ln
            for ln in final.split("\n")
            if "ReusedExchange" in ln and "REPARTITION_BY_COL" in ln
        ]
        assert len(mat) == 1, (name, mat)
        assert len(reused) >= 1, name


def test_warm_plans_reuse_generated_code(spark):
    """A second run of 150 plans, each with its own generated code,
    compiles nothing: get_spark sizes Spark's codegen cache to hold a
    whole query pass. At Spark's default of 100 classes the LRU evicts
    every class before its next use and the second round recompiles all
    of them."""
    from pyspark.sql import functions as F

    def run_all() -> int:
        before = codegen_compiles(spark)
        for k in range(150):
            spark.range(8).select(F.col("id") * k + k).collect()
        return codegen_compiles(spark) - before

    assert run_all() > 100  # more classes than Spark's default cache holds
    assert run_all() == 0
