"""Session set-up, Spark scheduler counters and small statistics shared by
the workloads."""

from __future__ import annotations

import contextlib
import os
import resource
import shutil
import time
import uuid
from dataclasses import dataclass, field

from tracing import Tracer


@dataclass
class Ctx:
    root: str  # checkout root
    work: str  # scratch space inside the checkout
    seed: int
    seconds: float
    cores: int
    tracer: Tracer
    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)
    phases: dict[str, float] = field(default_factory=dict)  # wall seconds per step
    samples: list[float] = field(default_factory=list)  # the timed samples

    @property
    def cache(self) -> str:
        return os.path.join(self.work, "cache")

    def scratch_dir(self, prefix: str) -> str:
        """A fresh directory for one stream's checkpoint."""
        return os.path.join(self.work, "run", f"{prefix}-{uuid.uuid4().hex[:8]}")

    @contextlib.contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = round(self.phases.get(name, 0.0) + time.perf_counter() - t0, 3)

    def check(self, what: str, n: int, ok: bool) -> None:
        """Count ``n`` attempted records (or queries); all fail unless ``ok``."""
        self.attempted += n
        if not ok:
            self.failed += n
            self.notes.append(f"output check failed: {what}")


def session(cores: int):
    """A session on a JVM of its own: the first call, and every call after
    ``stop_jvm``, launches one."""
    from kafka_streams_plumber_spark.plans.session import get_spark

    spark = get_spark("perfbench", master=f"local[{cores}]", shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop ``spark`` and the JVM behind it, and wait until the JVM (and
    with it the Python workers it forked) has exited. The next
    ``session()`` starts cold."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway  # noqa: SLF001
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 -- never leave it running
            proc.kill()
            proc.wait()
    SparkContext._gateway = None  # noqa: SLF001
    SparkContext._jvm = None  # noqa: SLF001


def timed_setup(ctx: Ctx, one_setup):
    """Run ``one_setup()`` once, cold: the session it starts launches the
    JVM. Returns its state and seconds. A cold set-up costs 10-15 s, so a
    run makes one, and the median is taken over runs."""
    t0 = time.perf_counter()
    with ctx.tracer.span("setup"):
        state = one_setup()
    return state, time.perf_counter() - t0


def job_counts(spark, group: str) -> dict:
    """Jobs, stages, tasks and shuffle bytes Spark ran for job group
    ``group`` (a streaming query's run id names its group). Skipped stages
    (reused shuffle output) are not counted."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    store = sc._jsc.sc().statusStore()  # noqa: SLF001 -- stage metrics
    jobs = list(st.getJobIdsForGroup(group))
    out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "shuffle_read": 0, "shuffle_write": 0}
    seen = set()
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else []:
            if s in seen:
                continue
            seen.add(s)
            data = store.stageData(s, False, None, False, None)
            if data.isEmpty():
                continue
            d = data.head()
            if d.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += d.numCompleteTasks()
            out["shuffle_read"] += d.shuffleReadBytes()
            out["shuffle_write"] += d.shuffleWriteBytes()
    return out


def peak_rss_mb(spark) -> float:
    """Peak resident set of this process plus the driver JVM."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    try:
        pid = spark.sparkContext._jvm.ProcessHandle.current().pid()  # noqa: SLF001
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
    except OSError:
        pass
    return kb / 1024.0


def pct(values, q: float) -> float:
    """The q-th percentile (0-100), linear between closest ranks."""
    v = sorted(values)
    if len(v) == 1:
        return float(v[0])
    x = (len(v) - 1) * q / 100.0
    i = int(x)
    j = min(i + 1, len(v) - 1)
    return v[i] + (v[j] - v[i]) * (x - i)


def clean(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
