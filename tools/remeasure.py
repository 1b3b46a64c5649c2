"""Isolated 5-rep re-measure for bench-anomaly adjudication.

Runs each named query in its OWN fresh SparkSession (one session per
query, torn down between queries), 5 reps after a sf0.001 codegen
warmup, at sf0.1, and prints per-query [reps], min, and the host
1-minute load average sampled before each query. This is the artifact
format the r6/r7 verdicts asked for when a BENCH_r{N} reading diverges
from the cross-round band: the reading is adjudicated environmental
only if a quiet-host isolated re-measure lands back inside the band.

A rep times construction plus write: eager operators (semantic dedup's
connected components, HITS) materialize while the DataFrame is built,
so write-only timing would credit them with near-zero cost.
``name=sf_dir`` overrides the measured scale per query (e.g.
``q_semantic_keep_lsh=<sf0.01 dir>`` — the bench's capped SF).

Usage: python tools/remeasure.py q1_pricing q_hits q_semantic_keep_lsh=<sf0.01 dir>
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_streams_plumber_spark.plans.session import get_spark  # noqa: E402
from kafka_streams_plumber_spark.queries import QUERIES  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WARM_DIR = "/root/testdata/sf0.001"
REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5"))


def _run(name: str, sf_dir: str, spark) -> None:
    QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()


def main() -> None:
    out: dict[str, dict] = {}
    for arg in sys.argv[1:]:
        name, _, sf = arg.partition("=")
        sf_dir = sf or SF_DIR
        load1 = os.getloadavg()[0]
        spark = get_spark(f"remeasure-{name}")
        spark.sparkContext.setLogLevel("ERROR")
        if os.path.isdir(WARM_DIR):
            _run(name, WARM_DIR, spark)
        reps = []
        for _ in range(REPS):
            t0 = time.time()
            _run(name, sf_dir, spark)
            reps.append(round(time.time() - t0, 3))
        spark.stop()
        out[name] = {
            "reps": reps,
            "min": min(reps),
            "sf_dir": sf_dir,
            "load1_before": round(load1, 2),
        }
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps({"summary": out}))


if __name__ == "__main__":
    main()
