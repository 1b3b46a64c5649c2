"""Benchmark harness for the driver's query bench.

``python bench.py`` times every query of :data:`BLOCKS` at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS], best of $SPARK_GRAFT_BENCH_REPS (default 3),
and prints three JSON lines: the full detail, the ``blocks`` line
(per-query maps of the blocks not on the last line) and, last, the
contract line the driver reads (headline timings plus every block's
total).

``python bench.py NAME[=SF_DIR] ...`` re-measures single queries for
anomaly adjudication: each NAME runs in a fresh session, timed with
construction + write, at SF_DIR (default $SPARK_GRAFT_SF_DIR). It prints
one JSON line per query (``reps``, ``min``, ``compiles``: the classes
the last rep compiled from generated code, ``sf_dir``,
``load1_before``), the per-stage duration/tasks/shuffle table of the
last rep from the UI REST API, and a closing ``summary`` line.

Execution is measured to a noop sink (full compute, no driver collect),
after a warmup at sf0.001 to amortize JVM/codegen startup.

Quiet-host protocol (VERDICT r9 item 3): before the JVM starts, the
full run WAITS for the 1-minute load average to drop under
$SPARK_GRAFT_BENCH_MAX_LOAD1 (default 2.0, up to 2 min of retries),
and the output JSON carries ``load1_start`` / ``load1_end`` /
``load1_quiet`` stamps so a hot epoch is visible in the artifact
itself instead of needing after-the-fact narrative.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
import urllib.request
from datetime import datetime
from typing import Callable, NamedTuple

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from kafka_streams_plumber_spark.plans.inspect import codegen_compiles  # noqa: E402
from kafka_streams_plumber_spark.plans.session import get_spark  # noqa: E402
from kafka_streams_plumber_spark.queries import QUERIES  # noqa: E402

WARM_DIR = "/root/testdata/sf0.001"
LOAD_RETRIES = 6
LOAD_WAIT_S = 20.0


class Block(NamedTuple):
    """One bench block. ``key`` prefixes its output keys (``queries`` is
    the frozen headline). ``eager`` names are timed with construction +
    write: their iterative operators (semantic dedup's connected
    components, the HITS power iteration) materialize while the frame is
    built, so write-only timing would credit them with near-zero cost.
    ``capped`` benches a query at a fixed scale regardless of the bench
    dir. ``contract_map`` puts the per-query map on the contract line
    instead of the ``blocks`` line."""

    key: str
    names: tuple[str, ...]
    eager: tuple[str, ...] = ()
    capped: dict[str, str] | None = None
    contract_map: bool = False


_EXTRA4 = (
    "q_semantic_keep_lsh",
    "q_ewma",
    "q_attrib_last",
    "q_cdc_chunks",
    "q_benford",
    "q_survival",
)

#: The bench, in timing and output order. Each block after the headline
#: is totaled separately so drift in a newer wave is visible round over
#: round without breaking the frozen 28-query headline series.
BLOCKS = (
    # Every family with nontrivial compute (aggs, joins, window, text
    # ops) plus a pushdown-friendly scan filter.
    Block("queries", (
        "q_filter", "q_chain", "q1_pricing", "q3_topk", "q5_join",
        "q_window", "q_hourly", "q_setops", "q_rollup", "q_pivot",
        "q_asof", "q14_promo", "q18_bigorders", "q19_disjunct",
        "q_percentiles", "q_sessionize", "dedup_exact", "dedup_minhash",
        "sim_topk", "text_stats", "text_quality", "text_repetition",
        "q_topk_group", "q7_volume", "q9_profit", "q13_custdist",
        "q17_smallqty", "q21_waiting",
    )),
    # Round-3 families.
    Block("extra", ("q_lm_ppl", "q_rfm", "q_kcore", "q_funnel_window")),
    # Round-4 slice (first in BENCH_r05). q_semantic_keep_lsh is capped
    # at sf0.01 (same reason as tools/scale_probe.py MAX_SF): the
    # synthetic corpus's true cosine>=0.8 pair graph is ~10% dense, so at
    # sf0.1 ANY correct semantic dedup is output-bound (~2.5M true pairs,
    # ~95 s) and would track the fixture, not the engine. The capped SF is
    # in the output (``extra4_capped_sf``) so rounds compare like to like.
    Block(
        "extra4", _EXTRA4, eager=_EXTRA4,
        capped={"q_semantic_keep_lsh": "/root/testdata/sf0.01"},
        contract_map=True,
    ),
    # Round-5 audit wave (first in BENCH_r06), one per family generation.
    Block("extra5", ("q_containment", "q_jsd", "q_ks", "q_theils_u")),
    # Round-8 windowed-drift and fertility-mix additions.
    Block("extra6", (
        "q_psi_drift", "q_fertility_mix", "q_hist_drift", "q_vocab_drift",
        "q_dup_drift", "q_quantile_drift", "q_bootstrap_ci",
    )),
    # Round-8 second wave: one representative per new family.
    Block("extra7", (
        "q_kruskal", "q_kendall", "q_hll", "q_tfidf_keywords", "q_ohlc",
        "q_logrank", "q_icc", "q_hits",
    ), eager=("q_hits",)),
    # Round-8 third wave: one per session-4 kernel.
    Block("extra8", (
        "q_jarque_bera", "q_cvm", "q_mood_median", "q_friedman", "q_welch",
        "q_dw", "q_theil_sen", "q_avg_precision", "q_mcc",
        "q_assortativity", "q_ccf", "q_prop_test", "q_gof",
        "q_cliffs_delta", "q_bartlett", "q_qq", "q_lexdiv", "q_clustering",
        "q_cochran_armitage", "q_hhi", "q_mann_kendall", "q_wilson",
        "q_chao", "q_dunn", "q_partial_corr", "q_smk", "q_ljung_box",
        "q_sen_seasonal",
    )),
)

#: Warmed with the bench but not timed.
WARM_ONLY = ("q_distinct",)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def best_of(build: Callable, reps: int, *, include_construction: bool) -> float:
    """The minimum wall time over ``reps`` runs of ``build()`` (a
    DataFrame factory) written to the noop sink. A single-shot wall time
    swings +-30% under GC pauses and host noise; the minimum is the
    reproducible steady-state cost of the plan. With
    ``include_construction`` the clock also covers ``build()``."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        df = build()
        if not include_construction:
            t0 = time.perf_counter()
        _noop(df)
        times.append(time.perf_counter() - t0)
    return min(times)


def _warm(spark, names, sf_dir: str) -> None:
    """Run each plan once at the smallest SF available (else the bench
    dir), so the timed reps skip most first-run costs: Janino compiling
    the plan's generated classes, class loading, JIT. Generated code
    depends on the plan's shape, not on the data, but only while the
    classes stay in Spark's codegen cache
    (``plans.session.CODEGEN_CACHE_ENTRIES``). Compiles counted in a
    full run with the bench dir at sf0.01: the warm pass compiles
    about 1.66k classes; the timed writes then compile about 100 on the
    first rep (plans whose shape differs at the bench scale, where AQE
    picks another join or partitioning), about 40 on the second and 16
    on the third (plans that build new code on every run). At Spark's
    default of 100 classes the warm pass evicted itself: the first timed
    rep recompiled about 1.95k classes, and the best of three came from
    the later reps, which find their own query's classes still cached."""
    warm_dir = sf_dir
    if os.path.isdir(WARM_DIR) and os.path.abspath(WARM_DIR) != os.path.abspath(sf_dir):
        warm_dir = WARM_DIR
    for name in names:
        try:
            _noop(QUERIES[name](spark, warm_dir))
        except Exception:
            pass  # warmup is best-effort; the measured run reports real errors


def _sf(sf_dir: str) -> float | None:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else None


def _sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _reps() -> int:
    return int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))


def _load1() -> float:
    try:
        return round(os.getloadavg()[0], 2)
    except OSError:  # pragma: no cover - getloadavg always exists on linux
        return -1.0


def _await_quiet_host(threshold: float) -> float:
    """Block until the 1-minute load average drops to ``threshold``
    (the quiet-host precondition — VERDICT r9 item 3: r6-r9 each had a
    bench epoch contaminated by co-tenant load that then needed manual
    adjudication). Re-checks every LOAD_WAIT_S seconds up to
    LOAD_RETRIES times, then proceeds anyway (the per-round artifact
    must exist) — the stamped load values let the reader see the epoch
    was hot."""
    load = _load1()
    for _ in range(LOAD_RETRIES):
        if load < 0 or load <= threshold:
            break
        print(
            f"bench: host busy (load1={load} > {threshold}); waiting {LOAD_WAIT_S:.0f}s",
            file=sys.stderr,
        )
        time.sleep(LOAD_WAIT_S)
        load = _load1()
    return load


def main() -> None:
    sf_dir = _sf_dir()
    if not os.path.isdir(sf_dir):
        print(f"bench: SPARK_GRAFT_SF_DIR does not exist: {sf_dir}", file=sys.stderr)
        sys.exit(2)
    sf = _sf(sf_dir)

    # Quiet-host gate BEFORE the JVM starts: load1 here is pure
    # co-tenant noise (nothing of ours is running yet).
    load_threshold = float(os.environ.get("SPARK_GRAFT_BENCH_MAX_LOAD1", "2.0"))
    load1_start = _await_quiet_host(load_threshold)

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    _warm(spark, WARM_ONLY + tuple(n for b in BLOCKS for n in b.names), sf_dir)

    reps = _reps()
    timings: dict[str, dict[str, float]] = {}
    capped_sf: dict[str, dict[str, float]] = {}
    for b in BLOCKS:
        timings[b.key], capped_sf[b.key] = {}, {}
        for name in b.names:
            q_dir = (b.capped or {}).get(name, sf_dir)
            if not os.path.isdir(q_dir):
                q_dir = sf_dir
            timings[b.key][name] = round(
                best_of(
                    lambda: QUERIES[name](spark, q_dir),
                    reps,
                    include_construction=name in b.eager,
                ),
                3,
            )
            if q_dir != sf_dir and _sf(q_dir) is not None:
                capped_sf[b.key][name] = _sf(q_dir)

    headline, *blocks = BLOCKS
    total = round(sum(timings[headline.key].values()), 3)

    # The driver records only the LAST 2000 characters of stdout
    # (BENCH_r08.json's `tail` cut the headline block mid-object once
    # the single detail line outgrew the buffer — VERDICT r8 item 4).
    # So: the full per-query detail goes out FIRST, and the LAST line
    # is a compact, complete JSON summary (headline timings + every
    # block total) guaranteed to fit the tail buffer, so the committed
    # artifact always parses and carries the whole headline series.
    # load1 at close still carries OUR OWN just-finished executor work
    # (load1 decays over ~1 min), so it over-reads by construction; the
    # pair (start, end) is for the adjudication record, and the boolean
    # is the start-gate verdict the cross-round series should trust.
    stamps = {
        "value": total,
        "unit": "sec",
        "load1_start": load1_start,
        "load1_end": _load1(),
        "load1_quiet": 0 <= load1_start <= load_threshold,
        "queries": timings[headline.key],
    }
    detail = {"metric": "headline_queries_total_sec_detail", **stamps}
    compact = {"metric": "headline_queries_total_sec", **stamps}
    for b in blocks:
        k = b.key
        detail[f"{k}_total_sec"] = compact[f"{k}_total_sec"] = round(
            sum(timings[k].values()), 3
        )
        if b.capped is not None:
            detail[f"{k}_capped_sf"] = capped_sf[k]
        detail[f"{k}_queries"] = timings[k]
        # extra4's map stays on the contract line (VERDICT r10 item 3):
        # it holds the eager iterative operators (semantic dedup) and
        # the driver's PERF comparison already reads it from here.
        if b.contract_map:
            compact[f"{k}_queries"] = timings[k]
            compact[f"{k}_capped_sf"] = capped_sf[k]
    detail["sf"] = compact["sf"] = sf
    print(json.dumps(detail))

    # Per-block per-query attribution for EVERY block rides the tail
    # (VERDICT r11 item 1: extra5's map fell outside the 2,000-char
    # capture, which made q_containment's stabilization unverifiable in
    # driver data). Two lines, both inside the tail window:
    #   line A ("blocks"): the maps not already on the compact line,
    #     2-decimal values, no-space separators;
    #   line B (LAST, the contract line): byte-compatible keys with the
    #     r10/r11 compact line, no-space separators.
    # Together they must fit the driver's 2000-char capture; the assert
    # below enforces it, with a deterministic 1-decimal fallback for
    # line A if a future run's values outgrow the budget.
    sep = (",", ":")

    def _blocks_line(ndigits: int) -> str:
        maps = {
            b.key: {n: round(v, ndigits) for n, v in timings[b.key].items()}
            for b in blocks
            if not b.contract_map
        }
        return json.dumps({"metric": "blocks", **maps}, separators=sep)

    line = json.dumps(compact, separators=sep)
    blocks_line = _blocks_line(2)
    if len(blocks_line) + len(line) + 2 > 1990:
        blocks_line = _blocks_line(1)
    # Tail-buffer invariant: BOTH final lines (plus newlines) must fit
    # the driver's 2000-char capture. At r11's values the pair is
    # ~1970 chars; the assert fails loudly rather than silently losing
    # a block's attribution again.
    assert len(blocks_line) + len(line) + 2 <= 2000, (
        f"bench tail lines too long: {len(blocks_line)} + {len(line)}"
    )
    print(blocks_line)
    print(line, flush=True)
    spark.stop()


def _stage_table(spark, skip: set[int]) -> list[str]:
    """Duration, tasks, shuffle and input bytes of every stage not in
    ``skip``, slowest first, from the UI REST API."""
    rows = []
    for s in _stages(spark):
        if s["stageId"] in skip or s["status"] == "SKIPPED":
            continue
        sub, comp = s.get("submissionTime"), s.get("completionTime")
        dur = None
        if sub and comp:
            fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
            dur = (datetime.strptime(comp, fmt) - datetime.strptime(sub, fmt)).total_seconds()
        rows.append((
            s["stageId"], dur, s["numCompleteTasks"], s.get("shuffleReadBytes", 0),
            s.get("shuffleWriteBytes", 0), s.get("inputBytes", 0), (s.get("name") or "")[:80],
        ))
    rows.sort(key=lambda r: r[1] or 0.0, reverse=True)
    out = [f"{'stage':>6} {'sec':>8} {'tasks':>6} {'shRead':>10} {'shWrite':>10} {'input':>10}  name"]
    for sid, dur, tasks, sh_r, sh_w, inp, name in rows:
        d = "?" if dur is None else f"{dur:.3f}"
        out.append(f"{sid:>6} {d:>8} {tasks:>6} {sh_r:>10} {sh_w:>10} {inp:>10}  {name}")
    tot = sum(r[1] for r in rows if r[1] is not None)
    out.append(f"stages: {len(rows)}  sum(stage seconds, incl overlap): {tot:.3f}")
    return out


def _stages(spark) -> list[dict]:
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/stages"
    with urllib.request.urlopen(url) as resp:
        return json.load(resp)


def measure_each(args: list[str]) -> None:
    """The ``bench.py NAME[=SF_DIR] ...`` mode (see the module doc)."""
    unknown = [n for n in (a.partition("=")[0] for a in args) if n not in QUERIES]
    if unknown:
        sys.exit(f"bench: unknown queries: {', '.join(unknown)}")
    reps = _reps()
    out: dict[str, dict] = {}
    for arg in args:
        name, _, sf_dir = arg.partition("=")
        sf_dir = sf_dir or _sf_dir()
        load1 = _load1()
        spark = get_spark(f"bench-{name}")
        spark.sparkContext.setLogLevel("ERROR")
        _warm(spark, (name,), sf_dir)
        times = []
        for _ in range(reps):
            before = {s["stageId"] for s in _stages(spark)}
            compiles = codegen_compiles(spark)
            t = best_of(lambda: QUERIES[name](spark, sf_dir), 1, include_construction=True)
            times.append(round(t, 3))
            compiles = codegen_compiles(spark) - compiles
        stage_lines = _stage_table(spark, before)
        spark.stop()
        out[name] = {
            "reps": times, "min": min(times), "compiles": compiles,
            "sf_dir": sf_dir, "load1_before": load1,
        }
        print(json.dumps({name: out[name]}))
        print("\n".join(stage_lines), flush=True)
    print(json.dumps({"summary": out}))


if __name__ == "__main__":
    if sys.argv[1:]:
        measure_each(sys.argv[1:])
    else:
        main()
