"""Seeded inputs for the benchmark, and what the program must make of them.

Everything here is the benchmark's own: a minimal Avro binary writer for
the two example schemas, the record / line / table generators, and
plain-Python models of the demo and csv transforms. Nothing imports the
package, so the expected outputs do not depend on the code under test.

Generated inputs are cached under the work directory, keyed by workload,
seed and size; a cache entry is written to a temporary name and renamed
into place, so a killed run never leaves a half-written entry behind.
"""

from __future__ import annotations

import datetime as dt
import importlib.util
import json
import os
import random
import re
import shutil
import zlib

# ---------------------------------------------------------------------------
# Avro binary encoding (spec section "Binary Encoding")
# ---------------------------------------------------------------------------


def _long(n: int) -> bytes:
    z = (n << 1) ^ (n >> 63)
    out = bytearray()
    while z > 0x7F:
        out.append((z & 0x7F) | 0x80)
        z >>= 7
    out.append(z)
    return bytes(out)


def _string(s: str) -> bytes:
    b = s.encode("utf-8")
    return _long(len(b)) + b


def _bool(v: bool) -> bytes:
    return b"\x01" if v else b"\x00"


def avro_undesired(r: dict) -> bytes:
    """examples/demo/example.undesired.avsc"""
    p = r["person"]
    return (
        _long(r["redundantField"]) + _bool(r["notValid"]) + _long(r["fingers_lh"])
        + _long(r["fingers_rh"]) + _string(p["name"]) + _string(p["species"])
    )


def avro_desired(r: dict) -> bytes:
    """examples/demo/example.desired.avsc"""
    return _bool(r["valid"]) + _string(r["name"]) + _long(r["fingers"])


def avro_github_user(r: dict) -> bytes:
    """examples/csv/example.avsc; ``blog`` is the union ["null", "string"]."""
    blog = b"\x00" if r["blog"] is None else b"\x02" + _string(r["blog"])
    return (
        _string(r["login"]) + _string(r["created_at"]) + blog
        + _long(r["public_repos"])
    )


# ---------------------------------------------------------------------------
# models of the example transforms
# ---------------------------------------------------------------------------


def demo_model(v: dict) -> dict:
    """examples/demo/example.py: negate a flag, lowercase a nested name,
    add two counts."""
    return {
        "valid": not v["notValid"],
        "name": v["person"]["name"].lower(),
        "fingers": v["fingers_lh"] + v["fingers_rh"],
    }


# The example's pattern with its character classes spelled out in ASCII,
# which is what Java's \w and \d mean.
_CSV_LINE = re.compile(r"^([A-Za-z0-9_\-]+),([^,]+),([^,]*),([0-9]+)$")


def csv_model(line: str) -> dict | None:
    """examples/csv/example.py: None for a dropped line, else the record."""
    m = _CSV_LINE.match(line)
    if m is None:
        return None
    login, created_at, blog, repos = m.groups()
    return {
        "login": login,
        "created_at": created_at,
        "blog": blog or None,
        "public_repos": int(repos),
    }


def load_module(path: str):
    spec = importlib.util.spec_from_file_location(
        "_fixtures_" + os.path.basename(os.path.dirname(path)), path
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_models(root: str) -> None:
    """The models must reproduce the examples' golden fixtures."""
    demo = load_module(os.path.join(root, "examples", "demo", "example.test.py"))
    got = [demo_model(v) for _k, v in demo.fixtures()]
    want = [v for _k, v in demo.expectations()]
    if got != want:
        raise AssertionError(f"demo model disagrees with its fixtures: {got} != {want}")
    csv = load_module(os.path.join(root, "examples", "csv", "example.test.py"))
    got = [m for m in (csv_model(v) for _k, v in csv.fixtures()) if m is not None]
    want = [v for _k, v in csv.expectations()]
    if got != want:
        raise AssertionError(f"csv model disagrees with its fixtures: {got} != {want}")


# ---------------------------------------------------------------------------
# cache
# ---------------------------------------------------------------------------


def _cached(cache: str, key: str, build) -> str:
    """Directory ``cache/key``, built by ``build(tmpdir)`` on a miss."""
    final = os.path.join(cache, key)
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    try:
        os.rename(tmp, final)
    except OSError:  # another run built it first
        shutil.rmtree(tmp, ignore_errors=True)
    return final


def _write_kv(dirpath: str, values: list[bytes], parts: int) -> None:
    """A binary (key, value) backlog in ``parts`` parquet files; keys are
    NULL, as on the demo's topic."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    step = -(-len(values) // parts)
    for i in range(parts):
        chunk = values[i * step : (i + 1) * step]
        table = pa.table(
            {
                "key": pa.nulls(len(chunk), pa.binary()),
                "value": pa.array(chunk, pa.binary()),
            }
        )
        pq.write_table(table, os.path.join(dirpath, f"part-{i:03d}.parquet"))


# ---------------------------------------------------------------------------
# demo backlog
# ---------------------------------------------------------------------------

_SYLLABLES = ["ro", "el", "an", "na", "ki", "to", "mi", "la", "ze", "vo", "qu", "ix", "b", "r"]
_SPECIES = ["human", "homo sapiens", "elf", "dwarf", "hobbit", "orc", "ent"]


def _demo_record(rng: random.Random) -> dict:
    name = "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(1, 5)))
    upper = rng.getrandbits(len(name))
    name = "".join(c.upper() if upper >> i & 1 else c for i, c in enumerate(name))
    return {
        "redundantField": rng.randint(-(1 << 40), 1 << 40),
        "notValid": rng.random() < 0.5,
        "fingers_lh": rng.randint(0, 300),
        "fingers_rh": rng.randint(0, 300),
        "person": {"name": name, "species": rng.choice(_SPECIES)},
    }


def demo_backlog(cache: str, seed: int, n: int, parts: int) -> tuple[str, dict]:
    """Directory of ``n`` Avro ``UndesiredStructure`` records, and the
    expected sink output: rows, CRC-32 sum and byte count of the encoded
    ``DesiredStructure`` values."""

    def build(tmp: str) -> None:
        rng = random.Random(seed)
        values, crc, nbytes = [], 0, 0
        for _ in range(n):
            rec = _demo_record(rng)
            values.append(avro_undesired(rec))
            out = avro_desired(demo_model(rec))
            crc += zlib.crc32(out)
            nbytes += len(out)
        os.makedirs(os.path.join(tmp, "data"))
        _write_kv(os.path.join(tmp, "data"), values, parts)
        with open(os.path.join(tmp, "expected.json"), "w") as f:
            json.dump({"rows": n, "digest": crc, "bytes": nbytes}, f)

    d = _cached(cache, f"demo-s{seed}-n{n}-p{parts}", build)
    with open(os.path.join(d, "expected.json")) as f:
        return os.path.join(d, "data"), json.load(f)


# ---------------------------------------------------------------------------
# csv line pool
# ---------------------------------------------------------------------------

_LOGIN_CHARS = "abcdefghijklmnopqrstuvwxyz0123456789_-"


def csv_pool(seed: int, size: int, bad_share: float) -> list[str]:
    """``size`` CSV lines; about ``bad_share`` of them are malformed in one
    of the ways the example's filter drops."""
    rng = random.Random(seed)
    epoch = dt.datetime(2008, 1, 1, tzinfo=dt.timezone.utc)
    lines = []
    for _ in range(size):
        login = "".join(rng.choice(_LOGIN_CHARS) for _ in range(rng.randint(3, 14)))
        created = (epoch + dt.timedelta(seconds=rng.randint(0, 15 * 365 * 86400)))
        created = created.strftime("%Y-%m-%dT%H:%M:%SZ")
        blog = "" if rng.random() < 0.3 else f"https://{login}.example.org/blog"
        repos = rng.randint(0, 5000)
        if rng.random() < bad_share:
            line = rng.choice(
                [
                    "",
                    "error",
                    f"{login},{created},{repos}",
                    f"{login}.dot,{created},{blog},{repos}",
                    f"{login},{created},{blog},{repos}x",
                    f"{login},,{blog},{repos}",
                ]
            )
        else:
            line = f"{login},{created},{blog},{repos}"
        lines.append(line)
    return lines


def csv_expected(pool: list[str]) -> list[tuple[bool, int, int]]:
    """Per pool line: (kept, CRC-32, length) of its encoded output value."""
    out = []
    for line in pool:
        rec = csv_model(line)
        if rec is None:
            out.append((False, 0, 0))
        else:
            b = avro_github_user(rec)
            out.append((True, zlib.crc32(b), len(b)))
    return out


def csv_range_expected(expected, lo: int, hi: int) -> tuple[int, int, int]:
    """(rows, CRC-32 sum, bytes) expected at the sink for the input
    counter values ``lo..hi`` inclusive, line ``v`` being ``pool[v % M]``."""
    m = len(expected)
    rows = crc = nbytes = 0
    for i, (kept, c, n) in enumerate(expected):
        if not kept:
            continue
        # how many v in [lo, hi] have v % m == i
        k = (hi - i) // m - (lo - 1 - i) // m
        rows += k
        crc += k * c
        nbytes += k * n
    return rows, crc, nbytes


# ---------------------------------------------------------------------------
# star schema + events + documents + embeddings for the query set
# ---------------------------------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line"
    " merge order part query row scan slow small sort spark stream table the"
    " value vector window"
).split()


def _tables(seed: int, sf: float) -> dict:
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(seed)

    def ints(lo, hi, n, dtype="int64"):
        return rng.integers(lo, hi, n).astype(dtype)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start, ndays, n):
        base = np.datetime64(start, "us")
        return base + ints(0, ndays, n) * np.timedelta64(86400_000_000, "us")

    def pick(choices, n):
        return np.asarray(choices, dtype=object)[ints(0, len(choices), n)]

    n_cust, n_ord, n_line = int(150_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_part, n_supp, n_ev = int(200_000 * sf), max(int(10_000 * sf), 10), int(1_000_000 * sf)
    n_doc, n_emb = max(int(50_000 * sf), 500), max(int(20_000 * sf), 500)
    n_user = max(int(15_000 * sf), 15)
    t = {}
    t["region"] = {"r_regionkey": np.arange(5, dtype="int32"), "r_name": _REGIONS}
    t["nation"] = {
        "n_nationkey": np.arange(25, dtype="int32"),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": ints(0, 5, 25, "int32"),
    }
    t["customer"] = {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": ints(0, 25, n_cust, "int32"),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(_SEGMENTS, n_cust),
    }
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": ints(0, 25, n_supp, "int32"),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    }
    t["part"] = {
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": pick([f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN], n_part),
        "p_brand": pick([f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": pick(_PART_TYPES, n_part),
        "p_size": ints(1, 51, n_part, "int32"),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    }
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": ints(0, n_cust, n_ord),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": days("1995-01-01", 2400, n_ord),
        "o_orderpriority": pick(_PRIORITIES, n_ord),
    }
    t["lineitem"] = {
        "l_orderkey": ints(0, n_ord, n_line),
        "l_partkey": ints(0, n_part, n_line),
        "l_suppkey": ints(0, n_supp, n_line),
        "l_linenumber": ints(1, 8, n_line, "int32"),
        "l_quantity": ints(1, 51, n_line).astype("float64"),
        "l_extendedprice": money(900, 105_000, n_line),
        "l_discount": ints(0, 11, n_line) / 100.0,
        "l_tax": ints(0, 9, n_line) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n_line),
        "l_linestatus": pick(["F", "O"], n_line),
        "l_shipdate": days("1995-01-02", 2500, n_line),
    }
    span_us = 30 * 86400 * 1_000_000
    t["events"] = {
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": np.datetime64("2024-01-01", "us")
        + np.sort(ints(0, span_us, n_ev)).astype("timedelta64[us]"),
        "user_id": ints(0, n_user, n_ev),
        "event_type": pick(_EVENT_TYPES, n_ev),
        "value": np.round(np.maximum(rng.exponential(50.0, n_ev), 0.01), 2),
        "props": [f'{{"k": {k}}}' for k in ints(0, 100, n_ev)],
    }
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(pick(_WORDS, int(rng.integers(10, 100)))))
    t["documents"] = {
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": pick(_LANGS, n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype="int64"),
    }
    emb = rng.standard_normal((n_emb, 64)).astype("float32")
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = {
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": ints(0, 10, n_emb, "int32"),
    }
    return t


def query_tables(cache: str, seed: int, sf: float) -> str:
    """Directory holding ``<table>.parquet`` for every table the queries
    read, as one row group each."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def build(tmp: str) -> None:
        for name, cols in _tables(seed, sf).items():
            pq.write_table(pa.table(cols), os.path.join(tmp, f"{name}.parquet"))

    return _cached(cache, f"tables-s{seed}-sf{sf}", build)
