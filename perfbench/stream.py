"""The two wire-path workloads, both run through ``PlumberJob`` with the
benchmark's own source and sink factories.

demo_drain: a pre-generated Avro backlog (parquet files of binary key and
value stand in for the topic) is drained with an ``availableNow`` trigger,
closed loop, one drain after another.

csv_stream: an open-loop ``rate`` source offers CSV lines at a fixed rate;
each event's creation stamp rides in the key, so its latency is read from
the sink side.

Both sinks encode to ``noop`` and ``observe`` the row count, the summed
CRC-32 of the value bytes and the byte count, which are compared with the
generator's expectations for every micro-batch.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import json
import os
import statistics
import time

import pyspark.sql.functions as F

import gen
from common import Ctx, clean, job_counts, pct, peak_rss_mb, session, stop_jvm, timed_setup

DEMO_RECORDS = 50_000
DEMO_WARMUPS = 2  # the first warm-up drain alone leaves the next ones slow
CSV_RATE = 2_000  # offered records per second
CSV_POOL = 1_024  # distinct lines; event v carries line v % CSV_POOL
CSV_BAD_SHARE = 0.1
CSV_WARMUP_S = 2.0  # micro-batches starting earlier are not measured
CSV_STATIC_ROWS = 20_000  # rows for the csv layer prefixes

_PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


# ---------------------------------------------------------------------------
# job wiring
# ---------------------------------------------------------------------------


def _wire(example_dir: str, spec: str):
    from kafka_streams_plumber_spark.sources.serde import parse_type

    if spec.startswith("avro="):
        spec = "avro=" + os.path.join(example_dir, spec[len("avro="):])
    return parse_type(spec)


def _job(spark, example_dir: str, types: dict, source_factory, topic: str):
    from kafka_streams_plumber_spark.streaming.runner import PlumberJob

    transform = gen.load_module(os.path.join(example_dir, "example.py"))
    fixtures = gen.load_module(os.path.join(example_dir, "example.test.py"))
    return PlumberJob(
        spark=spark,
        pipeline=transform.pipeline(),
        brokers="",
        source_topic=f"{topic}-in",
        sink_topic=f"{topic}-out",
        fixtures=fixtures.fixtures(),
        expectations=fixtures.expectations(),
        source_factory=source_factory,
        **types,
    )


def _decoded(kv, key_type, value_type):
    from kafka_streams_plumber_spark.sources.serde import decode

    return kv.select(
        decode(kv["key"], key_type).alias("key"),
        decode(kv["value"], value_type).alias("value"),
    )


def _conformed(job, df):
    """``job``'s transform: its pipeline, then conform to the Avro output
    models, as ``PlumberJob.run`` applies them."""
    from kafka_streams_plumber_spark.operators.conform import conform

    out = job.pipeline(df)
    if job.output_value.kind == "avro":
        out = conform(out, job.output_value.model)
    if job.output_key.kind == "avro":
        out = conform(out, job.output_key.model, column="key")
    return out


def _encoded(out, job):
    from kafka_streams_plumber_spark.sources.serde import encode

    return out.select(
        encode(out["key"], job.output_key).alias("key"),
        encode(out["value"], job.output_value).alias("value"),
    )


def _with_sink(job, checkpoint: str, trigger: dict, stamps: bool = False):
    """``job`` writing its encoded output to noop, observing what the
    output check needs."""

    def sink(out):
        if stamps:
            out = out.observe(
                "stamps", F.min("key").alias("lo"), F.max("key").alias("hi"),
                F.count("key").alias("keys"),
            )
        enc = _encoded(out, job).observe(
            "sink",
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.crc32("value")).alias("digest"),
            F.sum(F.length("value")).alias("bytes"),
        )
        w = enc.writeStream.format("noop").option("checkpointLocation", checkpoint)
        return (w.trigger(**trigger) if trigger else w).start()

    return dataclasses.replace(job, checkpoint=checkpoint, sink_factory=sink)


def _progress(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def _observed(p: dict, name: str, col: str) -> int:
    v = (p.get("observedMetrics") or {}).get(name, {}).get(col)
    return 0 if v is None else int(v)


def _epoch(ts: str) -> float:
    return dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


# ---------------------------------------------------------------------------
# layer metrics shared by both workloads
# ---------------------------------------------------------------------------


def _batch_spans(ctx: Ctx, progs: list[dict], parent: int | None) -> None:
    """One span per micro-batch, its children laid out from durationMs."""
    tr = ctx.tracer
    if not tr.enabled:
        return
    shift = time.time() - time.perf_counter()
    for p in progs:
        start = _epoch(p["timestamp"]) - shift
        d = p["durationMs"]
        bid = tr.add("stream.batch", start, start + d.get("triggerExecution", 0) / 1e3,
                     parent, batch=p["batchId"], rows=p["numInputRows"])
        t = start
        for ph in _PHASES:
            if ph in d:
                tr.add(f"stream.{ph}", t, t + d[ph] / 1e3, bid)
                t += d[ph] / 1e3


def _stream_metrics(progs: list[dict]) -> dict:
    rows = [p for p in progs if p["numInputRows"] > 0] or progs or [{"durationMs": {}, "numInputRows": 0}]
    m = {}
    for key, name in [("triggerExecution", "trigger")] + [(p, p) for p in _PHASES if p != "getBatch"]:
        m[f"stream.{name}_ms_p50"] = pct([p["durationMs"].get(key, 0) for p in rows], 50)
    m["stream.batches"] = len(progs)
    m["stream.rows_per_batch_p50"] = pct([p["numInputRows"] for p in rows], 50)
    m["stream.empty_batch_frac"] = sum(p["numInputRows"] == 0 for p in progs) / max(len(progs), 1)
    return m


def _prefix_metrics(ctx: Ctx, job, kv, n_in: int, reps: int = 3) -> dict:
    """Execution self time per layer from cumulative prefixes of one plan
    (decode; +pipeline; +conform; +encode), each run to noop, best of
    ``reps``. Plan building is lazy, so spans around the calls would only
    time construction."""
    from kafka_streams_plumber_spark.plans.inspect import python_eval_count

    decoded = _decoded(kv, job.input_key, job.input_value)
    piped = job.pipeline(decoded)
    conformed = _conformed(job, decoded)
    encoded = _encoded(conformed, job)
    best = {}
    for name, df in [("decode", decoded), ("pipeline", piped), ("conform", conformed), ("encode", encoded)]:
        runs = []
        for _ in range(reps):
            t0 = time.perf_counter()
            with ctx.tracer.span(f"prefix.{name}"):
                df.write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        best[name] = min(runs)
    return {
        "serde.decode_self_s": best["decode"],
        "serde.decode_rec_s": n_in / best["decode"],
        "pipeline.self_s": best["pipeline"] - best["decode"],
        "conform.self_s": best["conform"] - best["pipeline"],
        "serde.encode_self_s": best["encode"] - best["conform"],
        "serde.python_eval_nodes": python_eval_count(encoded),
    }


def _setup_metrics(ctx: Ctx) -> dict:
    def durs(name):
        return [s["end"] - s["start"] for s in ctx.tracer.spans if s["name"] == name] or [0.0]

    return {
        "session.start_s": statistics.median(durs("session.start")),
        "verify.gate_s": statistics.median(durs("verify.gate")),
    }


def _traced_setup(ctx: Ctx, cores: int, build):
    """A new session, the job ``build(spark)`` makes, and its golden gate."""
    tr = ctx.tracer
    with tr.span("session.start"):
        spark = session(cores)
    with tr.span("runner.construct"):
        job = build(spark)
    with tr.span("verify.gate"):
        job.preflight()
    # the gate has passed; what follows times the stream alone
    return spark, dataclasses.replace(job, expectations=[])


# ---------------------------------------------------------------------------
# demo_drain
# ---------------------------------------------------------------------------


def demo_drain(ctx: Ctx) -> tuple[dict, dict]:
    with ctx.phase("generate"):
        data_dir, expected = gen.demo_backlog(ctx.cache, ctx.seed, DEMO_RECORDS, ctx.cores)
    example = os.path.join(ctx.root, "examples", "demo")
    types = {
        "input_key": _wire(example, "void"),
        "input_value": _wire(example, "avro=example.undesired.avsc"),
        "output_key": _wire(example, "void"),
        "output_value": _wire(example, "avro=example.desired.avsc"),
    }

    def source(sp):
        kv = sp.readStream.schema("key binary, value binary").parquet(data_dir)
        return _decoded(kv, types["input_key"], types["input_value"])

    def build(spark):
        return _job(spark, example, types, source, "demo")

    with ctx.phase("setups"):
        (spark, job), setup_s = timed_setup(ctx, lambda: _traced_setup(ctx, ctx.cores, build))
    tr = ctx.tracer

    def drain(j, label: str):
        ck = ctx.scratch_dir("drain")
        try:
            t0 = time.perf_counter()
            with tr.span("drain"):
                q = _with_sink(j, ck, {"availableNow": True}).run()
            secs = time.perf_counter() - t0
        except Exception as e:  # noqa: BLE001 -- a failed drain is a failed check
            ctx.check(f"{label}: {type(e).__name__}: {str(e)[:300]}", DEMO_RECORDS, False)
            return None
        finally:
            clean(ck)
        progs = _progress(q)
        got = {c: sum(_observed(p, "sink", c) for p in progs) for c in ("rows", "digest", "bytes")}
        ctx.check(f"{label}: sink {got} != expected {expected}", DEMO_RECORDS, got == expected)
        if tr.enabled:
            _batch_spans(ctx, progs, tr.spans[-1]["id"] if tr.spans else None)
        return secs, progs, str(q.runId)

    def timed_drains():
        out, t_end = [], time.perf_counter() + ctx.seconds
        while time.perf_counter() < t_end or not out:
            r = drain(job, "drain")
            if r is None:
                break
            out.append(r)
        return out

    with ctx.phase("warm-up"):
        for _ in range(DEMO_WARMUPS):  # untimed: Python workers, codegen, JIT
            drain(job, "warm-up drain")
    with ctx.phase("timed"):
        drains = timed_drains()
    secs = [d[0] for d in drains] or [float("nan")]
    ctx.samples = secs
    metrics = {
        "throughput_rec_s": DEMO_RECORDS / statistics.median(secs),
        "latency_p50_ms": statistics.median(secs) * 1e3,
        "query_total_s": statistics.median(secs),
        "setup_s": setup_s,
    }
    if not (tr.enabled and drains):
        stop_jvm(spark)
        return metrics, {}

    last = drains[-1]
    counts = job_counts(spark, last[2])
    layers = {
        **_setup_metrics(ctx),
        **_stream_metrics([p for d in drains for p in d[1]]),
        "stream.backlog_rec_end": 0,  # a drain ends with its backlog consumed
        "spark.jobs": counts["jobs"],
        "spark.stages": counts["stages"],
        "spark.tasks": counts["tasks"],
        "serde.bytes_out": sum(_observed(p, "sink", "bytes") for p in last[1]),
        "pipeline.kept_frac": sum(_observed(p, "sink", "rows") for p in last[1]) / DEMO_RECORDS,
    }
    kv = spark.read.schema("key binary, value binary").parquet(data_dir)
    layers.update(_prefix_metrics(ctx, job, kv, DEMO_RECORDS))

    # tracing overhead: the same drain loop with spans off
    tr.enabled = False
    try:
        plain = timed_drains()
    finally:
        tr.enabled = True
    traced_s = statistics.median(secs)
    layers["trace.overhead_frac"] = traced_s / statistics.median(d[0] for d in plain) - 1
    layers["process.peak_rss_mb"] = peak_rss_mb(spark)
    stop_jvm(spark)

    # the single-threaded baseline: a drain on a local[1] session, after
    # the same untimed drains as on the base session
    with tr.span("scaling.local1"):
        one = session(1)
        job1 = dataclasses.replace(job, spark=one)
        warm = all(drain(job1, "local[1] warm-up drain") for _ in range(DEMO_WARMUPS))
        r = warm and drain(job1, "local[1] drain")
        stop_jvm(one)
    if r:
        layers["scaling.demo_local1_rec_s"] = DEMO_RECORDS / r[0]
        layers["scaling.demo_speedup_vs_local1"] = r[0] / traced_s
    return metrics, layers


# ---------------------------------------------------------------------------
# csv_stream
# ---------------------------------------------------------------------------


def _csv_kv(raw, pool: list[str]):
    """Binary (key, value) from rows of (timestamp, value): the key is the
    creation stamp in microseconds, 8 bytes big-endian; the value is line
    ``value % len(pool)``."""
    stamp = F.unix_micros("timestamp")
    line = F.element_at(F.array(*[F.lit(s) for s in pool]), (F.col("value") % len(pool) + 1).cast("int"))
    return raw.select(
        F.unhex(F.lpad(F.hex(stamp), 16, "0")).alias("key"),
        line.cast("binary").alias("value"),
    )


def _static_csv_kv(spark, pool: list[str], created: float, rows: int = CSV_STATIC_ROWS):
    """What the csv stream's source yields for its first ``rows`` events,
    as a static frame: counter values from 0, stamps spaced at the offered
    rate from ``created`` (epoch seconds)."""
    raw = spark.range(rows).select(
        F.col("id").alias("value"),
        F.timestamp_micros(
            F.lit(int(created * 1e6)) + F.col("id") * (1_000_000 // CSV_RATE)
        ).alias("timestamp"),
    )
    return _csv_kv(raw, pool)


def _latencies(batches: list[dict]) -> list[float]:
    """Seconds from each delivered event's creation stamp to the end of
    its micro-batch's sink write. The rate source spaces stamps evenly, so
    a batch's stamps are ``keys`` points from ``lo`` to ``hi``."""
    out = []
    for p in batches:
        n = _observed(p, "stamps", "keys")
        if n == 0:
            continue
        d = p["durationMs"]
        done = _epoch(p["timestamp"]) + (d["triggerExecution"] - d.get("commitOffsets", 0)) / 1e3
        lo, hi = _observed(p, "stamps", "lo") / 1e6, _observed(p, "stamps", "hi") / 1e6
        step = (hi - lo) / (n - 1) if n > 1 else 0.0
        out.extend(done - (lo + i * step) for i in range(n))
    return out


def csv_stream(ctx: Ctx) -> tuple[dict, dict]:
    pool = gen.csv_pool(ctx.seed, CSV_POOL, CSV_BAD_SHARE)
    expected = gen.csv_expected(pool)
    example = os.path.join(ctx.root, "examples", "csv")
    types = {
        "input_key": _wire(example, "long"),
        "input_value": _wire(example, "string"),
        "output_key": _wire(example, "long"),
        "output_value": _wire(example, "avro=example.avsc"),
    }
    tr = ctx.tracer

    def source(sp):
        raw = (
            sp.readStream.format("rate")
            .option("rowsPerSecond", CSV_RATE)
            .option("numPartitions", ctx.cores)
            .load()
            .observe("source", F.count(F.lit(1)).alias("rows"),
                     F.min("value").alias("lo"), F.max("value").alias("hi"))
        )
        return _decoded(_csv_kv(raw, pool), types["input_key"], types["input_value"])

    def start(job):
        return _with_sink(job, ctx.scratch_dir("csv"), {}, stamps=True).run(await_termination=False)

    def setup():
        spark, job = _traced_setup(
            ctx, ctx.cores, lambda s: _job(s, example, types, source, "csv")
        )
        with tr.span("stream.start"):
            q = start(job)
        return spark, job, q

    with ctx.phase("setups"):
        (spark, job, q), setup_s = timed_setup(ctx, setup)
    q.stop()
    with ctx.phase("warm-up"):
        # the same plan over static rows warms codegen and the Python
        # workers, so the stream's first micro-batches build no backlog
        static = _decoded(_static_csv_kv(spark, pool, time.time()), types["input_key"], types["input_value"])
        _encoded(_conformed(job, static), job).write.format("noop").mode("overwrite").save()
    with tr.span("stream"):
        q = start(job)
    t_measure = time.time() + CSV_WARMUP_S
    with ctx.phase("timed"):
        time.sleep(max(0.0, t_measure + ctx.seconds + 0.3 - time.time()))
    q.stop()
    stopped = time.time()
    progs = _progress(q)
    try:
        q.awaitTermination()
    except Exception as e:  # noqa: BLE001
        ctx.notes.append(f"stream ended with {type(e).__name__}: {str(e)[:300]}")

    # every completed micro-batch, warm-up included, is checked
    for p in progs:
        rows = _observed(p, "source", "rows")
        if rows == 0:
            continue
        lo, hi = _observed(p, "source", "lo"), _observed(p, "source", "hi")
        want = gen.csv_range_expected(expected, lo, hi)
        got = tuple(_observed(p, "sink", c) for c in ("rows", "digest", "bytes"))
        ok = rows == hi - lo + 1 and got == want and _observed(p, "stamps", "keys") == got[0]
        ctx.check(f"batch {p['batchId']}: sink {got} != expected {want}", rows, ok)
    if q.exception() is not None:
        ctx.check(f"stream failed: {q.exception()}", 1, False)

    t_end = t_measure + ctx.seconds
    measured = [
        p for p in progs
        if p["numInputRows"] > 0 and _epoch(p["timestamp"]) >= t_measure
        and _epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1e3 <= t_end
    ]
    lat = _latencies(measured) or [float("nan")]
    ctx.samples = [p["processedRowsPerSecond"] for p in measured]
    metrics = {
        "throughput_rec_s": statistics.median(p["processedRowsPerSecond"] for p in measured)
        if measured else float("nan"),
        "latency_p50_ms": pct(lat, 50) * 1e3,
        "query_total_s": statistics.median(p["durationMs"]["triggerExecution"] for p in measured) / 1e3
        if measured else float("nan"),
        "setup_s": setup_s,
    }
    ctx.notes.append(f"latency_p99_ms {pct(lat, 99) * 1e3:.1f} over {len(lat)} events")
    layers = {}
    if tr.enabled:
        layers = _csv_layers(ctx, spark, job, q, progs, measured, pool, stopped)
    stop_jvm(spark)
    return metrics, layers


def _csv_layers(ctx, spark, job, q, progs, measured, pool, stopped) -> dict:
    tr = ctx.tracer
    stream_span = next(s["id"] for s in reversed(tr.spans) if s["name"] == "stream.start")
    _batch_spans(ctx, measured, stream_span)
    counts = job_counts(spark, str(q.runId))
    n = max(len(progs), 1)
    done = [p for p in progs if _observed(p, "source", "rows")]
    created = min((_observed(p, "stamps", "lo") / 1e6 for p in done), default=stopped)
    processed = max((_observed(p, "source", "hi") + 1 for p in done), default=0)
    src_rows = sum(_observed(p, "source", "rows") for p in measured)
    layers = {
        **_setup_metrics(ctx),
        **_stream_metrics(measured),
        "stream.backlog_rec_end": CSV_RATE * (stopped - created) - processed,
        "spark.jobs": counts["jobs"] / n,
        "spark.stages": counts["stages"] / n,
        "spark.tasks": counts["tasks"] / n,
        "serde.bytes_out": sum(_observed(p, "sink", "bytes") for p in measured),
        "pipeline.kept_frac": sum(_observed(p, "sink", "rows") for p in measured) / max(src_rows, 1),
    }
    # the spans of a streamed run are all recorded once the stream has
    # stopped, so the stream itself runs the same code traced or not
    layers["trace.overhead_frac"] = 0.0
    layers.update(_prefix_metrics(ctx, job, _static_csv_kv(spark, pool, created), CSV_STATIC_ROWS))
    layers["process.peak_rss_mb"] = peak_rss_mb(spark)
    return layers
