"""bench.py's three output lines, pinned byte for byte without a JVM.

``run_fake_bench`` runs ``bench.main()`` with ``get_spark``, ``QUERIES``,
the clock, ``os.getloadavg`` and ``os.path.isdir`` faked. Each fake query
advances the clock while it is built and again while it is written, by
amounts that depend on the query, the scale-factor dir and how often it
ran before, so the output also pins the warmup, which queries are timed
with construction, which dir each query reads and the best-of-N rule.
``bench_contract_golden.json`` holds the stdout of the table-driven
bench's predecessor (eight hand-kept lists) under the same fakes.
"""

from __future__ import annotations

import contextlib
import io
import itertools
import json
import os
import re
import sys
import zlib
from pathlib import Path
from types import SimpleNamespace
from unittest import mock

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import bench  # noqa: E402

GOLDEN = Path(__file__).with_name("bench_contract_golden.json")

#: Cost multiplier per scenario: "2dp" fits the ``blocks`` line at two
#: decimals; "1dp" outgrows it and takes the one-decimal fallback.
SCALES = {"2dp": 0.1, "1dp": 12.0}

HEADLINE_28 = [
    "q_filter", "q_chain", "q1_pricing", "q3_topk", "q5_join", "q_window",
    "q_hourly", "q_setops", "q_rollup", "q_pivot", "q_asof", "q14_promo",
    "q18_bigorders", "q19_disjunct", "q_percentiles", "q_sessionize",
    "dedup_exact", "dedup_minhash", "sim_topk", "text_stats",
    "text_quality", "text_repetition", "q_topk_group", "q7_volume",
    "q9_profit", "q13_custdist", "q17_smallqty", "q21_waiting",
]


class _Clock:
    def __init__(self) -> None:
        self.now = 1000.0

    def time(self) -> float:
        return self.now

    perf_counter = time

    def sleep(self, s: float) -> None:
        self.now += s


class _Writer:
    def __init__(self, on_save) -> None:
        self._on_save = on_save

    def format(self, _fmt):
        return self

    def mode(self, _mode):
        return self

    def save(self) -> None:
        self._on_save()


def _fake_queries(names, clock: _Clock, scale: float) -> dict:
    calls = dict.fromkeys(names, 0)
    # A rep's write cost cycles through these, so the minimum is not
    # always the first or the last rep.
    jitter = (1.25, 1.0, 1.5, 1.1)

    def cost(name: str, sf_dir: str) -> float:
        sf = re.search(r"sf([0-9.]+)", sf_dir).group(1)
        per_sf = {"0.001": 0.01, "0.01": 0.1}.get(sf, 1.0)
        return (1 + zlib.crc32(name.encode()) % 997) / 1000 * scale * per_sf

    def query(name: str):
        def build(_spark, sf_dir: str):
            calls[name] += 1
            base, k = cost(name, sf_dir), calls[name]
            clock.now += base / 7

            def save() -> None:
                clock.now += base * jitter[k % len(jitter)]

            return SimpleNamespace(write=_Writer(save))

        return build

    return {n: query(n) for n in names}


def run_fake_bench(bench_mod, scale: float) -> str:
    """Stdout of ``bench_mod.main()`` under the fakes."""
    clock = _Clock()
    spark = SimpleNamespace(
        sparkContext=SimpleNamespace(setLogLevel=lambda _lvl: None),
        stop=lambda: None,
    )
    # Two busy readings before the gate opens, then the closing reading.
    loads = itertools.chain([2.75, 2.25, 1.25], itertools.repeat(3.5))
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_BENCH")}
    env["SPARK_GRAFT_SF_DIR"] = "bench-data/sf0.1"
    out = io.StringIO()
    with contextlib.ExitStack() as stack:
        for target, attr, value in (
            (bench_mod, "get_spark", lambda *a, **k: spark),
            (bench_mod, "QUERIES", _fake_queries(bench_mod.QUERIES, clock, scale)),
            (bench_mod, "time", clock),
            (os, "getloadavg", lambda: (next(loads), 0.0, 0.0)),
            (os.path, "isdir", lambda _p: True),
        ):
            stack.enter_context(mock.patch.object(target, attr, value))
        stack.enter_context(mock.patch.dict(os.environ, env, clear=True))
        stack.enter_context(contextlib.redirect_stderr(io.StringIO()))
        stack.enter_context(contextlib.redirect_stdout(out))
        bench_mod.main()
    return out.getvalue()


def test_headline_is_the_frozen_28():
    headline = bench.BLOCKS[0]
    assert headline.key == "queries"
    assert list(headline.names) == HEADLINE_28


@pytest.mark.parametrize("scenario", sorted(SCALES))
def test_bench_lines_match_golden(scenario):
    got = run_fake_bench(bench, SCALES[scenario])
    assert got == json.loads(GOLDEN.read_text())[scenario]

    _detail, blocks, contract = got.splitlines()
    assert len(blocks) + len(contract) + 2 <= 2000
    decimals = {len(d) for d in re.findall(r":\d+\.(\d+)", blocks)}
    assert max(decimals) == int(scenario[0])


def test_tail_overflow_fails_loudly():
    with pytest.raises(AssertionError, match="bench tail lines too long"):
        run_fake_bench(bench, 1000.0)
