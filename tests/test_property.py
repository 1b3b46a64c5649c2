"""Property-based tests (hypothesis) — a layer the reference lacks
(SURVEY §5: "No property-based testing").

Spark jobs are expensive per example, so each property batches all
hypothesis-generated examples into ONE DataFrame and checks the whole
batch with a single action.
"""

from __future__ import annotations

from hypothesis import example, given, settings, strategies as st

from pyspark.sql import functions as F

from kafka_streams_plumber_spark.functions import tonumber
from kafka_streams_plumber_spark.operators.conform import conform
from kafka_streams_plumber_spark.operators.pipeline import Pipeline, to_kv
from kafka_streams_plumber_spark.sources.serde import WireType, decode, encode

# One batched example set per property: lists of scalars.
longs = st.lists(
    st.integers(min_value=-(2**63), max_value=2**63 - 1), min_size=1, max_size=50
)
texts = st.lists(
    st.text(
        alphabet=st.characters(blacklist_categories=("Cs",), max_codepoint=0x2FF),
        max_size=40,
    ),
    min_size=1,
    max_size=50,
)


@settings(max_examples=10, deadline=None)
@given(longs)
def test_long_serde_roundtrip_is_identity(spark, values):
    """decode(encode(x)) == x for every int64, including the extremes
    (8-byte big-endian two's-complement both ways)."""
    df = spark.createDataFrame([(v,) for v in values], "v long")
    wt = WireType("long")
    out = df.select(
        F.col("v"), decode(encode(F.col("v"), wt), wt).alias("rt")
    ).collect()
    for r in out:
        assert r["rt"] == r["v"], (r["v"], r["rt"])


@settings(max_examples=10, deadline=None)
@given(texts)
def test_string_serde_roundtrip_is_identity(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "v string")
    wt = WireType("string")
    out = df.select(
        F.col("v"), decode(encode(F.col("v"), wt), wt).alias("rt")
    ).collect()
    for r in out:
        assert r["rt"] == r["v"]


@settings(max_examples=10, deadline=None)
@given(texts)
def test_conform_output_always_matches_declared_schema(spark, values):
    """Whatever the input struct holds, conform's output column has
    EXACTLY the declared schema: extra fields dropped, missing fields
    null — the reference's defining semantic (LuaMapper.scala:116-122)."""
    df = spark.createDataFrame(
        [((v, len(v)),) for v in values], "value struct<a:string, extra:int>"
    )
    out = conform(df, "struct<a:string, missing:long>")
    assert (
        out.schema["value"].dataType.simpleString() == "struct<a:string,missing:bigint>"
    )
    for r in out.select("value.*").collect():
        assert r["missing"] is None


@settings(max_examples=10, deadline=None)
@given(texts)
def test_tonumber_matches_python_float_semantics(spark, values):
    """tonumber: parseable strings -> their float value, everything else
    -> null (the Lua tonumber drop-idiom, examples/time/example.lua:8)."""
    df = spark.createDataFrame([(v,) for v in values], "v string")
    out = {r["v"]: r["n"] for r in df.select("v", tonumber("v").alias("n")).collect()}
    ctl = "".join(chr(c) for c in range(0x21))  # Spark trims ALL chars <= 0x20
    for v in values:
        try:
            stripped = v.strip(ctl)
            if "_" in stripped:  # Python float() allows 1_0; JVM doesn't
                continue
            expected = float(stripped) if stripped else None
            # nan/inf spellings: Python and Java accept different sets
            # ("inf" vs "Infinity") — out of scope for the property
            if expected is not None and (
                expected != expected or expected in (float("inf"), float("-inf"))
            ):
                continue
        except ValueError:
            expected = None
        if expected is None:
            assert out[v] is None, (v, out[v])
        else:
            assert out[v] == expected, (v, out[v], expected)


@settings(max_examples=8, deadline=None)
@given(longs)
def test_pipeline_filter_map_composition(spark, values):
    """filter(p).map_values(f) over a kv frame == the same per-record
    fold in Python (the reference's Option-fold semantics,
    StreamProcessOperations.scala:167-168)."""
    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)], "k long, v long")
    kv = to_kv(df, key="k", value="v")
    p = (
        Pipeline()
        .filter(lambda k, v: v % 2 == 0)
        .map_values(lambda v: v + 1)
    )
    got = {(r["key"], r["value"]) for r in p(kv).collect()}
    want = {(i, v + 1) for i, v in enumerate(values) if v % 2 == 0}
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2**40),
            st.integers(min_value=1, max_value=5000),
        ),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[0],
    )
)
def test_pack_sequences_invariants(spark, docs):
    """For any (id, n_tokens) corpus: offsets stay in [0, seq_len);
    within a shard, consecutive docs are gapless (next offset = previous
    offset + previous length, mod rolled into seq_idx); every doc keeps
    its token count."""
    from kafka_streams_plumber_spark.operators.packing import pack_sequences

    seq_len = 512
    df = spark.createDataFrame(docs, "doc_id long, n_tokens int")
    rows = pack_sequences(df, "doc_id", "n_tokens", seq_len=seq_len, n_shards=4).collect()
    assert len(rows) == len(docs)
    by_shard: dict[int, list] = {}
    for r in rows:
        assert 0 <= r["offset"] < seq_len
        by_shard.setdefault(r["shard"], []).append(r)
    for shard_rows in by_shard.values():
        shard_rows.sort(key=lambda r: r["doc_id"])
        pos = 0
        for r in shard_rows:
            assert r["seq_idx"] * seq_len + r["offset"] == pos
            pos += r["n_tokens"]


@settings(max_examples=8, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**50), min_size=1, max_size=80, unique=True))
def test_hash_split_is_total_and_exclusive(spark, ids):
    """Fractions summing to 1 assign every id to exactly one split, and
    the assignment is a pure function of the id (stable under union with
    itself)."""
    from kafka_streams_plumber_spark.operators.sampling import hash_split

    df = spark.createDataFrame([(i,) for i in ids], "id long")
    out = hash_split(df.union(df), "id", fractions={"a": 0.5, "b": 0.3, "c": 0.2})
    rows = out.collect()
    assert len(rows) == 2 * len(ids)
    seen: dict[int, str] = {}
    for r in rows:
        assert seen.setdefault(r["id"], r["split"]) == r["split"]


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(min_value=0, max_value=10**6), st.integers(min_value=0, max_value=10**6)),
        min_size=1,
        max_size=40,
    )
)
def test_connected_components_labels_are_component_minima(spark, edge_list):
    """Every node's label must be reachable from it, and equal-labeled
    nodes must be connected: verify against a driver-side union-find on
    the same edges."""
    from kafka_streams_plumber_spark.operators.graph import connected_components

    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_list:
        parent[find(a)] = find(b)
    expected = {n: min(m for m in parent if find(m) == find(n)) for n in parent}

    edges = spark.createDataFrame(edge_list, "a_id long, b_id long")
    got = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert got == expected


@settings(max_examples=10, deadline=None)
@given(
    st.lists(st.binary(min_size=0, max_size=200), min_size=1, max_size=20)
)
def test_byte_stats_matches_python_reference(spark, payloads):
    """byte_stats' numpy kernel must agree with a direct per-byte
    Python computation for arbitrary binary payloads."""
    import math
    from collections import Counter

    from kafka_streams_plumber_spark.operators.multimodal import byte_stats

    df = spark.createDataFrame(
        list(enumerate(payloads)), "doc_id long, data binary"
    )
    got = {r["doc_id"]: r for r in byte_stats(df, "data").collect()}
    printable = set(range(0x20, 0x7F)) | {0x09, 0x0A, 0x0D}
    for i, raw in enumerate(payloads):
        r = got[i]
        n = len(raw)
        assert r.n_bytes == n
        if n == 0:
            assert r.entropy == 0.0 and r.top_byte == 0
            continue
        c = Counter(raw)
        ent = -sum((k / n) * math.log2(k / n) for k in c.values())
        assert r.entropy == round(ent, 6)
        assert r.printable_ratio == round(
            sum(v for b, v in c.items() if b in printable) / n, 6
        )
        assert r.null_fraction == round(c.get(0, 0) / n, 6)
        assert 0.0 <= r.entropy <= 8.0
        mx = max(c.values())
        assert r.top_byte == min(b for b, v in c.items() if v == mx)


#: URL-shaped strings: scheme/host/path/query fragments assembled from
#: constrained alphabets (hosts can't contain '/', '?', '#').
_host_label = st.text(alphabet="abcdefghijklmnopqrstuvwxyzABCDEF0123456789-", min_size=1, max_size=8)
_path_seg = st.text(alphabet="abcXYZ0129._-~", max_size=6)
_param = st.tuples(
    st.sampled_from(["a", "b", "id", "utm_source", "utm_campaign", "gclid", "ref"]),
    st.text(alphabet="abc123", max_size=4),
)
_urls = st.lists(
    st.builds(
        lambda scheme, labels, port, segs, params, frag: (
            scheme
            + "://"
            + ".".join(labels)
            + port
            + ("/" + "/".join(segs) if segs else "")
            + ("?" + "&".join(f"{k}={v}" for k, v in params) if params else "")
            + frag
        ),
        st.sampled_from(["http", "HTTPS", "https", "HTTP"]),
        st.lists(_host_label, min_size=1, max_size=4),
        st.sampled_from(["", ":80", ":443", ":8080"]),
        st.lists(_path_seg, max_size=4),
        st.lists(_param, max_size=4),
        st.sampled_from(["", "#f", "#frag"]),
    ),
    min_size=1,
    max_size=30,
)


@settings(max_examples=10, deadline=None)
@given(_urls)
def test_canonicalize_url_is_idempotent_on_url_shapes(spark, urls):
    """canonicalize(canonicalize(u)) == canonicalize(u): the canonical
    form must be a fixed point for any URL-shaped input."""
    from kafka_streams_plumber_spark.operators.web import canonicalize_url

    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    once = canonicalize_url(F.col("url"))
    bad = (
        df.select(once.alias("c1"))
        .select("c1", canonicalize_url(F.col("c1")).alias("c2"))
        .filter(F.col("c1") != F.col("c2"))
    )
    rows = bad.collect()
    assert rows == [], rows[:5]


_sent_texts = st.lists(
    st.text(
        alphabet=st.sampled_from(list("abc .!?XZ\n\t")),
        max_size=60,
    ),
    min_size=1,
    max_size=25,
)


@settings(max_examples=10, deadline=None)
@given(_sent_texts)
def test_split_sentences_offsets_reconstruct_input(spark, texts):
    """For ANY input (punctuation anywhere, whitespace runs, empties):
    slicing the cleaned text with (char_start, char_end) must give back
    the raw span whose rtrim equals the emitted sentence, and spans
    must tile the text in order without overlap."""
    from kafka_streams_plumber_spark.operators.text import split_sentences

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = split_sentences(df, "text", "doc_id").collect()
    by_doc: dict = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i, t in rows:
        cleaned = t.replace("\x01", "")
        sents = sorted(by_doc.get(i, []), key=lambda r: r["sent_idx"])
        prev_end = 0
        for r in sents:
            assert r["char_start"] >= prev_end
            span = cleaned[r["char_start"]:r["char_end"]]
            assert span.rstrip(" \t\n\r\x0b\x0c") == r["sentence"]
            prev_end = r["char_end"]
        # all emitted sentences are non-empty
        assert all(r["sentence"] != "" for r in sents)


# ---------------------------------------------------------------------
# Round-2 operators: CDC fold and fuzzy join vs reference models
# ---------------------------------------------------------------------

cdc_logs = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9),  # key
        st.integers(min_value=0, max_value=99),  # version
        st.sampled_from(["U", "D"]),
        st.integers(min_value=-1000, max_value=1000),  # payload
    ),
    min_size=1,
    max_size=60,
).map(
    # (key, version) must be unique — the CDC log contract
    lambda rows: list({(k, v): (k, v, op, p) for k, v, op, p in rows}.values())
)


@settings(max_examples=10, deadline=None)
@given(cdc_logs)
def test_apply_changes_matches_dict_fold(spark, log):
    """apply_changes == folding the log into a dict in version order."""
    from kafka_streams_plumber_spark.operators.cdc import apply_changes

    snap_rows = [(k, k * 10) for k in range(5)]
    snap = spark.createDataFrame(snap_rows, "id long, val long")
    chg = spark.createDataFrame(log, "id long, v long, op string, val long")

    model = dict(snap_rows)
    for k, v, op, p in sorted(log, key=lambda r: r[1]):
        if op == "D":
            model.pop(k, None)
        else:
            model[k] = p
    got = {
        r["id"]: r["val"]
        for r in apply_changes(snap, chg, "id", "v").collect()
    }
    assert got == model


fuzzy_names = st.lists(
    st.text(alphabet="abcde", min_size=4, max_size=8),
    min_size=1,
    max_size=25,
    unique=True,
)


@settings(max_examples=10, deadline=None)
@given(fuzzy_names, fuzzy_names)
def test_fuzzy_join_matches_bruteforce_within_blocks(spark, ls, rs):
    """fuzzy_join == brute-force levenshtein over same-block pairs."""
    import itertools

    from kafka_streams_plumber_spark.operators.linkage import fuzzy_join

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    l = spark.createDataFrame([(x,) for x in ls], "a string")
    r = spark.createDataFrame([(x,) for x in rs], "b string")
    got = {
        (x["a"], x["b"]): x["distance"]
        for x in fuzzy_join(l, r, "a", "b", max_distance=2).collect()
    }
    want = {
        (a, b): lev(a, b)
        for a, b in itertools.product(ls, rs)
        if a[:4].lower() == b[:4].lower() and lev(a, b) <= 2
    }
    assert got == want


# ---- round-2 wave: set-similarity / triangles / transitions ----

word = st.text(alphabet="abcdef", min_size=1, max_size=3)
docs_strategy = st.lists(
    st.lists(word, min_size=0, max_size=8).map(" ".join),
    min_size=2,
    max_size=12,
)


@settings(max_examples=8, deadline=None)
@given(docs_strategy, st.sampled_from([0.3, 0.5, 0.8, 1.0]))
def test_jaccard_prefix_join_equals_bruteforce(spark, texts_, threshold):
    """The prefix filter is an OPTIMIZATION, never a semantics change:
    output must equal the quadratic all-pairs ground truth for any
    corpus and threshold (tiny alphabet maximizes collisions/dups)."""
    import itertools

    from kafka_streams_plumber_spark.operators.setsim import (
        jaccard_prefix_join,
    )

    rows = [(i, t) for i, t in enumerate(texts_)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"]): r["inter"]
        for r in jaccard_prefix_join(df, threshold=threshold).collect()
    }
    sets = {i: set(t.lower().split()) - {""} for i, t in rows}
    want = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        if union and inter / union >= threshold:
            want[(a, b)] = inter
    assert got == want


edges_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=8),
        st.integers(min_value=0, max_value=8),
    ),
    min_size=0,
    max_size=30,
)


@settings(max_examples=8, deadline=None)
@given(edges_strategy)
def test_triangle_counts_equal_bruteforce(spark, pairs):
    """Degree-ordered orientation must count exactly the naive
    triangles per node, for any noisy edge list (dups, loops, both
    orientations)."""
    import itertools

    from kafka_streams_plumber_spark.operators.graph import triangle_counts

    df = spark.createDataFrame(
        pairs or [(0, 0)], "a_id long, b_id long"
    )
    got = {r["node"]: r["triangles"] for r in triangle_counts(df).collect()}
    canon = {tuple(sorted(p)) for p in pairs if p[0] != p[1]}
    nodes = sorted({n for e in canon for n in e})
    want: dict[int, int] = {}
    for a, b, c in itertools.combinations(nodes, 3):
        if {(a, b), (a, c), (b, c)} <= canon:
            for n in (a, b, c):
                want[n] = want.get(n, 0) + 1
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # user
            st.sampled_from("xyz"),                 # type
        ),
        min_size=0,
        max_size=30,
    )
)
def test_event_transitions_probs_sum_to_one(spark, seq):
    """Per-from_type probabilities always sum to ~1, and pair counts
    equal the sequential count over each user's (unique-ts) stream."""
    import datetime as dt

    from kafka_streams_plumber_spark.operators.behavior import (
        event_transitions,
    )

    rows = [
        (u, t, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i))
        for i, (u, t) in enumerate(seq)
    ]
    if not rows:
        return
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp"
    )
    out = event_transitions(df).collect()
    by_from: dict[str, float] = {}
    for r in out:
        by_from[r["from_type"]] = by_from.get(r["from_type"], 0.0) + r["prob"]
    for tot in by_from.values():
        assert abs(tot - 1.0) < 1e-4
    # sequential ground truth
    streams: dict[int, list[str]] = {}
    for u, t, _ in rows:
        streams.setdefault(u, []).append(t)
    want: dict[tuple, int] = {}
    for s in streams.values():
        for a, b in zip(s, s[1:]):
            want[(a, b)] = want.get((a, b), 0) + 1
    got = {(r["from_type"], r["to_type"]): r["pairs"] for r in out}
    assert got == want


# --- windowed funnel vs brute-force chain search -------------------------

_funnel_events = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=4),      # user
        st.integers(min_value=0, max_value=2),      # stage index (a/b/c)
        st.integers(min_value=0, max_value=20),     # minute
    ),
    min_size=1,
    max_size=25,
)


def _brute_funnel(rows, steps, within_ms):
    """Exponential-time any-chain search: user reaches stage i iff some
    non-decreasing chain e_1..e_i exists with each hop inside the
    window. Ground truth for the feasible-set recurrence."""
    users = {u for u, _, _ in rows}
    counts = {i: 0 for i in range(1, len(steps) + 1)}
    for u in users:
        evs = [(t, si) for uu, si, t in rows if uu == u]
        feas = {0: {t for t, si in evs if si == 0}}
        for i in range(1, len(steps)):
            feas[i] = {
                t
                for t, si in evs
                if si == i
                and any(
                    p <= t <= p + within_ms for p in feas[i - 1]
                )
            }
        for i in range(len(steps)):
            if feas[i]:
                counts[i + 1] += 1
    return counts


@settings(max_examples=8, deadline=None)
@given(_funnel_events)
def test_windowed_funnel_matches_bruteforce(spark, evs):
    import datetime as dt

    from kafka_streams_plumber_spark.operators.behavior import funnel

    steps = ["a", "b", "c"]
    within = 5 * 60 * 1000
    base = dt.datetime(2024, 1, 1)
    rows_ms = [(u, si, m * 60 * 1000) for u, si, m in evs]
    df = spark.createDataFrame(
        [
            (u, steps[si], base + dt.timedelta(minutes=m))
            for u, si, m in evs
        ],
        "user_id long, event_type string, ts timestamp",
    )
    got = {
        r["stage"]: r["users"]
        for r in funnel(df, steps, within_ms=within).collect()
    }
    want = _brute_funnel(rows_ms, steps, within)
    assert got == want, (evs, got, want)


# --- attribution vs brute-force credit assignment ------------------------

_attrib_events = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),      # user
        st.integers(min_value=0, max_value=2),      # 0/1 = touch, 2 = buy
        st.integers(min_value=0, max_value=30),     # minute
        st.integers(min_value=1, max_value=50),     # value cents (buys)
    ),
    min_size=1,
    max_size=25,
)


@settings(max_examples=8, deadline=None)
@given(_attrib_events)
def test_last_touch_attribution_matches_bruteforce(spark, evs):
    import datetime as dt
    from collections import defaultdict

    from kafka_streams_plumber_spark.operators.attribution import (
        attribute_conversions,
    )

    kinds = ["view", "click", "buy"]
    lb = 10 * 60 * 1000
    base = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            (i, u, kinds[k], base + dt.timedelta(minutes=m), c / 100.0)
            for i, (u, k, m, c) in enumerate(evs)
        ],
        "event_id long, user_id long, event_type string, ts timestamp, value double",
    )
    got = {
        r["channel"]: (r["conversions"], r["attributed_value"])
        for r in attribute_conversions(
            df,
            conversion_type="buy",
            touch_types=["view", "click"],
            model="last_touch",
            lookback_ms=lb,
        ).collect()
    }

    want = defaultdict(lambda: [0, 0])
    for u, k, m, c in evs:
        if k != 2:
            continue
        cts = m * 60 * 1000
        touches = [
            (mm * 60 * 1000, kk)
            for (uu, kk, mm, _) in evs
            if uu == u and kk != 2
            and cts - lb <= mm * 60 * 1000 <= cts
        ]
        # latest ts; ties -> larger touch_types index (click over view)
        ch = kinds[max(touches)[1]] if touches else None
        want[ch][0] += 1
        want[ch][1] += c
    want = {k: (n, round(v / 100.0, 6)) for k, (n, v) in want.items()}
    assert got == want, (evs, got, want)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1023),
            st.integers(min_value=0, max_value=1023),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_zorder_key_matches_python_interleave(spark, pts):
    from kafka_streams_plumber_spark.plans.scale import zorder_key

    def ref(x, y, bits=10):
        k = 0
        for i in range(bits):
            k |= ((x >> i) & 1) << (2 * i)
            k |= ((y >> i) & 1) << (2 * i + 1)
        return k

    df = spark.createDataFrame(pts, "x long, y long")
    got = [
        (r["x"], r["y"], r["z"])
        for r in df.select(
            "x", "y", zorder_key(F.col("x"), F.col("y"), bits=10).alias("z")
        ).collect()
    ]
    for x, y, z in got:
        assert z == ref(x, y), (x, y, z)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=12), min_size=1, max_size=120
    )
)
def test_content_chunks_tile_every_document(spark, tok_ids):
    """CDC chunks are contiguous, disjoint and complete for arbitrary
    token streams, and chunk hashes equal the md5 of the joined span."""
    import hashlib

    from kafka_streams_plumber_spark.operators.text import content_chunks

    toks = [f"t{i}" for i in tok_ids]
    text = " ".join(toks)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = sorted(
        content_chunks(df, window=3, mask_bits=3).collect(),
        key=lambda r: r["chunk_idx"],
    )
    pos = 0
    for i, r in enumerate(rows):
        assert r["chunk_idx"] == i and r["start_pos"] == pos
        span = toks[pos : pos + r["n_tokens"]]
        assert r["chunk_hash"] == hashlib.md5(" ".join(span).encode()).hexdigest()
        pos += r["n_tokens"]
    assert pos == len(toks)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # key
            st.one_of(
                st.none(),
                st.floats(
                    min_value=-100, max_value=100, allow_nan=False
                ),
            ),
        ),
        min_size=1,
        max_size=60,
    )
)
def test_ewma_matches_bruteforce(spark, seq):
    """Windowed EWMA equals a literal Python evaluation of the weighted
    average over the last W non-null observations."""
    from kafka_streams_plumber_spark.operators.behavior import ewma

    rows = [(k, i, v) for i, (k, v) in enumerate(seq)]
    df = spark.createDataFrame(rows, "k long, seq long, value double")
    got = {
        (r["k"], r["seq"]): r["ewma"]
        for r in ewma(df, "k", ["seq"], "value", alpha=0.4, window=5).collect()
    }
    import math

    def round_half_up6(x: float) -> float:
        # Spark F.round is HALF_UP (away from zero); Python round() is
        # banker's — they differ exactly at 6-dp halves
        return math.copysign(math.floor(abs(x) * 1e6 + 0.5) / 1e6, x)

    per_key: dict = {}
    for k, i, v in rows:
        per_key.setdefault(k, []).append((i, v))
    for k, items in per_key.items():
        for j, (i, _) in enumerate(items):
            lastw = items[max(0, j - 4) : j + 1][::-1]  # current first
            num = den = 0.0
            for lag, (_, v) in enumerate(lastw):
                if v is not None:
                    wgt = 0.6 ** lag
                    num += v * wgt
                    den += wgt
            exp = round_half_up6(num / den) if den > 0 else None
            assert got[(k, i)] == exp or (
                exp is not None and got[(k, i)] is not None
                and abs(got[(k, i)] - exp) < 1e-9
            ), (k, i, got[(k, i)], exp)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=0, max_value=9),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_label_propagation_matches_python_simulation(spark, pairs):
    """Synchronous LPA with min tie-break equals a literal Python
    re-run for arbitrary small graphs."""
    from collections import defaultdict

    from kafka_streams_plumber_spark.operators.graph import label_propagation

    edges = [(a, b) for a, b in pairs]
    df = spark.createDataFrame(edges, "a_id long, b_id long")
    got = {
        r["node"]: r["label"]
        for r in label_propagation(df, iterations=3).collect()
    }

    adj = defaultdict(list)
    for a, b in edges:
        adj[a].append(b)
        adj[b].append(a)
    lab = {n: n for n in adj}
    for _ in range(3):
        new = {}
        for n, nbrs in adj.items():
            c: dict = defaultdict(int)
            for m in nbrs:
                c[lab[m]] += 1
            mx = max(c.values())
            new[n] = min(l for l, v in c.items() if v == mx)
        lab = new
    assert got == lab


@settings(max_examples=10, deadline=None)
@given(
    st.integers(min_value=8, max_value=40),
    st.integers(min_value=8, max_value=40),
    st.booleans(),
    st.integers(min_value=0, max_value=3),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_jpeg_roundtrip_psnr_property(w, h, subsample, restart, seed):
    """Baseline JPEG roundtrips smooth content above 28 dB PSNR for
    arbitrary sizes, both sampling layouts and restart intervals."""
    import numpy as np

    from kafka_streams_plumber_spark.operators.codecs import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.default_rng(seed)
    # smooth, luma-dominant content (a shared random 2D polynomial plus
    # small per-channel tints): channel-INDEPENDENT noise would make
    # 4:2:0 chroma subsampling alone cost ~24 dB — a property of the
    # format, not the codec — and the bound would test nothing
    ys, xs = np.mgrid[0:h, 0:w]

    def poly():
        c = rng.uniform(-1, 1, 6)
        z = (
            c[0] + c[1] * xs / w + c[2] * ys / h
            + c[3] * (xs / w) ** 2 + c[4] * (ys / h) ** 2
            + c[5] * xs * ys / (w * h)
        )
        return (z - z.min()) / max(z.ptp(), 1e-9)

    base = poly() * 205
    chans = [base + poly() * 50 for _ in range(3)]
    img = np.clip(np.stack(chans, axis=2), 0, 255).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(img, subsample=subsample, restart=restart))
    assert out.shape == img.shape
    mse = np.mean((img.astype(float) - out.astype(float)) ** 2)
    psnr = 99.0 if mse == 0 else 10 * np.log10(255**2 / mse)
    assert psnr > 28, (w, h, subsample, restart, psnr)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.binary(min_size=1, max_size=40), min_size=1, max_size=25
    ),
    st.data(),
)
def test_mp4_demux_roundtrip_property(payloads, data):
    """parse_mp4/mp4_sync_samples recover exactly the planted sample
    metadata and sync payloads for arbitrary payload lists and sync
    subsets."""
    from kafka_streams_plumber_spark.operators.codecs import (
        encode_mp4,
        mp4_sync_samples,
        parse_mp4,
    )

    n = len(payloads)
    sync = sorted(
        data.draw(
            st.sets(
                st.integers(min_value=1, max_value=n), min_size=1, max_size=n
            )
        )
    )
    delta = data.draw(st.integers(min_value=1, max_value=5000))
    mp4 = encode_mp4(payloads, sample_delta=delta, sync=sync)
    meta = parse_mp4(mp4)
    assert meta["tracks"][0]["n_samples"] == n
    assert meta["duration_ms"] == n * delta * 1000 // 1000 // 1  # ts=1000
    ks = mp4_sync_samples(mp4, max_samples=64)
    assert [k["payload"] for k in ks] == [payloads[s - 1] for s in sync]
    assert [k["time_ms"] for k in ks] == [(s - 1) * delta for s in sync]


@settings(max_examples=10, deadline=None)
@given(texts)
def test_normalize_text_is_idempotent(spark, values):
    """normalize(normalize(x)) == normalize(x): the canonical form is a
    fixed point (accent fold, lower, control->space, collapse, trim are
    each idempotent and closed over each other's outputs)."""
    from kafka_streams_plumber_spark.operators.text import normalize_text

    df = spark.createDataFrame([(v,) for v in values], "t string")
    out = df.select(
        normalize_text("t").alias("once"),
    ).select("once", normalize_text("once").alias("twice"))
    assert out.filter(F.col("once") != F.col("twice")).count() == 0


@settings(max_examples=8, deadline=None)
@given(st.integers(min_value=0, max_value=2**31 - 1))
def test_phash_brightness_shift_invariance(seed):
    """phash64(img + c) == phash64(img) whenever the shift doesn't
    clip: only the DC coefficient moves, and the hash excludes it."""
    import numpy as np

    from kafka_streams_plumber_spark.operators.codecs import phash64

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 200, size=(24, 24, 3)).astype(np.uint8)
    shifted = (img.astype(np.int64) + 40).astype(np.uint8)
    assert phash64(img) == phash64(shifted)


small_longs = st.lists(
    st.integers(min_value=-(2**31), max_value=2**31 - 1),
    min_size=1,
    max_size=40,
)


@settings(max_examples=8, deadline=None)
@given(small_longs, small_longs)
def test_running_total_multi_equals_python_prefix(spark, a_vals, b_vals):
    """Fused multi-column running_total (+pos_col) over a total order
    equals the sequential Python prefix sums for BOTH columns and the
    ordinal, under arbitrary input partitioning."""
    from kafka_streams_plumber_spark.operators.ordering import (
        running_total,
    )

    n = min(len(a_vals), len(b_vals))
    rows = [(i, a_vals[i], b_vals[i]) for i in range(n)]
    df = spark.createDataFrame(rows, "k long, a long, b long").repartition(5)
    got = {
        r["k"]: (r["ca"], r["cb"], r["pos"])
        for r in running_total(
            df, ["k"], ["a", "b"], out_col=["ca", "cb"], pos_col="pos"
        ).collect()
    }
    ca = cb = 0
    for i in range(n):
        ca += a_vals[i]
        cb += b_vals[i]
        assert got[i] == (ca, cb, i), (i, got[i], (ca, cb, i))


@settings(max_examples=8, deadline=None)
@given(small_longs)
def test_running_min_equals_python_prefix_min(spark, vals):
    from kafka_streams_plumber_spark.operators.ordering import running_min

    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k long, v long").repartition(4)
    got = {
        r["k"]: r["rm"]
        for r in running_min(df, ["k"], "v", out_col="rm").collect()
    }
    m = vals[0]
    for i, v in enumerate(vals):
        m = min(m, v)
        assert got[i] == m, (i, got[i], m)


@settings(max_examples=8, deadline=None)
@given(small_longs)
def test_running_agg_mixed_reducers_one_pass(spark, vals):
    """The fused running_agg (sum + min + max + min_of_sum in ONE range
    exchange — the r7 mixed-reducer form cusum/bh_fdr ride) equals the
    sequential Python prefix reductions under arbitrary input
    partitioning. min_of_sum is checked against the running min of the
    running sum — exactly CUSUM's min_{j<=i} P_j term."""
    from kafka_streams_plumber_spark.operators.ordering import running_agg

    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k long, v long").repartition(5)
    got = {
        r["k"]: (r["s"], r["mn"], r["mx"], r["ms"], r["pos"])
        for r in running_agg(
            df,
            ["k"],
            [
                ("sum", "v", "s"),
                ("min", "v", "mn"),
                ("max", "v", "mx"),
                ("min_of_sum", "v", "ms"),
            ],
            pos_col="pos",
        ).collect()
    }
    s, mn, mx, ms = 0, vals[0], vals[0], None
    for i, v in enumerate(vals):
        s += v
        mn = min(mn, v)
        mx = max(mx, v)
        ms = s if ms is None else min(ms, s)
        assert got[i] == (s, mn, mx, ms, i), (i, got[i], (s, mn, mx, ms, i))


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.floats(
            min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
        ),
        min_size=2,
        max_size=30,
    )
)
def test_spearman_bounds_and_self_correlation(spark, vals):
    """|rho| <= 1 always; rho(x, x) == 1 whenever x is non-constant."""
    from kafka_streams_plumber_spark.operators.stats import spearman_corr

    rows = [(float(v), float(v)) for v in vals]
    df = spark.createDataFrame(rows, "x double, y double")
    r = spearman_corr(df, "x", "y").collect()[0]
    if len(set(vals)) > 1:
        assert r["rho"] == 1.0
    else:
        assert r["rho"] is None


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.floats(
            min_value=-100.0, max_value=100.0,
            allow_nan=False, allow_infinity=False,
        ),
        min_size=1,
        max_size=25,
    ),
    st.floats(min_value=-10.0, max_value=10.0, allow_nan=False),
)
def test_cusum_equals_sequential_recurrence(spark, xs, target):
    """Distributed prefix closed form == textbook sequential CUSUM for
    random series and targets (values quantized to the scaled-long
    grain both sides)."""
    from kafka_streams_plumber_spark.operators.behavior import cusum

    scale = 10**6
    xs = [round(x, 4) for x in xs]
    target = round(target, 4)
    s, want = 0, []
    k = int(round(target * scale))
    for x in xs:
        s = max(0, s + int(round(x * scale)) - k)
        want.append(round(s / scale, 6))
    df = spark.createDataFrame(
        [(i, x) for i, x in enumerate(xs)], "t long, v double"
    ).repartition(3)
    got = [
        r["cusum"]
        for r in cusum(df, ["t"], "v", target=target).orderBy("t").collect()
    ]
    assert got == want, (xs, target, got, want)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),   # unit
            st.integers(min_value=0, max_value=4),   # rater
            st.sampled_from(["x", "y", "z"]),        # label
        ),
        min_size=4,
        max_size=40,
    )
)
def test_krippendorff_alpha_bounded_and_perfect(spark, ratings):
    """alpha <= 1 always (never above perfect agreement), and exactly
    1.0 when every unit is internally unanimous but categories vary."""
    from kafka_streams_plumber_spark.operators.classify import (
        krippendorff_alpha,
    )

    df = spark.createDataFrame(
        [(f"u{u}", f"r{r}", v) for u, r, v in ratings],
        "unit string, rater string, label string",
    )
    row = krippendorff_alpha(df, "unit", "rater", "label").collect()[0]
    if row["alpha"] is not None:
        assert row["alpha"] <= 1.0

    unanimous = spark.createDataFrame(
        [(f"u{u}", f"r{r}", "x" if u % 2 else "y") for u in range(4) for r in range(3)],
        "unit string, rater string, label string",
    )
    assert (
        krippendorff_alpha(unanimous, "unit", "rater", "label").collect()[0][
            "alpha"
        ]
        == 1.0
    )


#: small grouped panels: (group 0..2, value 0..6) pairs — ties dense
panels = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),
        st.integers(min_value=0, max_value=6),
    ),
    min_size=6,
    max_size=40,
)


@settings(max_examples=8, deadline=None)
@given(panels)
def test_kruskal_wallis_matches_sequential_reference(spark, pairs):
    """Tie-corrected H equals the textbook sequential midrank
    computation on every generated tied panel (and H >= 0)."""
    from kafka_streams_plumber_spark.operators.stats import kruskal_wallis

    rows = [(f"g{g}", float(v)) for g, v in pairs]
    groups = sorted({g for g, _ in rows})
    df = spark.createDataFrame(rows, "g string, v double")
    got = kruskal_wallis(df, "v", "g").collect()[0]

    vals = sorted(v for _, v in rows)
    n = len(vals)
    # midranks per value
    rank = {}
    i = 0
    while i < n:
        j = i
        while j < n and vals[j] == vals[i]:
            j += 1
        mid = (i + 1 + j) / 2.0
        rank[vals[i]] = mid
        i = j
    import collections

    rsum = collections.defaultdict(float)
    cnt = collections.Counter()
    for g, v in rows:
        rsum[g] += rank[v]
        cnt[g] += 1
    h = 12.0 / (n * (n + 1)) * sum(
        rsum[g] ** 2 / cnt[g] for g in cnt
    ) - 3 * (n + 1)
    t = collections.Counter(vals)
    c = 1.0 - sum(x**3 - x for x in t.values()) / (n**3 - n) if n > 1 else 0
    if len(cnt) < 2 or c == 0:
        assert got["h"] is None
    else:
        ref = h / c
        assert abs(got["h"] - ref) < 1e-4, (got["h"], ref)
        assert got["h"] >= -1e-9


@settings(max_examples=8, deadline=None)
@given(panels)
def test_kendall_tau_matches_brute_force(spark, pairs):
    """Concordant/discordant masses and tau_b match the O(n^2)
    reference on every generated tied panel; tau in [-1, 1]."""
    from kafka_streams_plumber_spark.operators.stats import kendall_tau

    rows = [(float(g), float(v)) for g, v in pairs]
    df = spark.createDataFrame(rows, "x double, y double")
    got = kendall_tau(df, "x", "y").collect()[0]

    p = q = 0
    n = len(rows)
    for i in range(n):
        for j in range(i + 1, n):
            d = (rows[i][0] - rows[j][0]) * (rows[i][1] - rows[j][1])
            if d > 0:
                p += 1
            elif d < 0:
                q += 1
    assert (got["concordant"], got["discordant"]) == (p, q)
    import collections

    tx = collections.Counter(x for x, _ in rows)
    ty = collections.Counter(y for _, y in rows)
    n0 = n * (n - 1) / 2
    n1 = sum(t * (t - 1) / 2 for t in tx.values())
    n2 = sum(t * (t - 1) / 2 for t in ty.values())
    den = ((n0 - n1) * (n0 - n2)) ** 0.5
    if den == 0:
        assert got["tau_b"] is None
    else:
        assert abs(got["tau_b"] - (p - q) / den) < 1e-5
        assert -1.0 - 1e-9 <= got["tau_b"] <= 1.0 + 1e-9


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.booleans(),
        ),
        min_size=2,
        max_size=40,
    )
)
def test_brier_murphy_identity_holds(spark, pairs):
    """brier == reliability - resolution + uncertainty (to rounding)
    for every generated forecast panel — the decomposition is exact
    on the distinct-forecast grain."""
    from kafka_streams_plumber_spark.operators.classify import (
        brier_decomposition,
    )

    rows = [(p / 10.0, y) for p, y in pairs]
    df = spark.createDataFrame(rows, "p double, y boolean")
    r = brier_decomposition(df, "p", "y").collect()[0]
    lhs = r["brier"]
    rhs = r["reliability"] - r["resolution"] + r["uncertainty"]
    assert abs(lhs - rhs) < 5e-6, (lhs, rhs)
    bs_ref = sum((p - (1.0 if y else 0.0)) ** 2 for p, y in rows) / len(rows)
    assert abs(lhs - bs_ref) < 1e-6


@settings(max_examples=8, deadline=None)
@given(panels)
def test_cliffs_delta_antisymmetric_and_brute_force(spark, pairs):
    """delta is the brute-force (wins - losses)/(n*m), bounded in
    [-1, 1], and antisymmetric under swapping the groups."""
    from kafka_streams_plumber_spark.operators.stats import cliffs_delta

    rows = [(f"g{g % 2}", float(v)) for g, v in pairs]
    df = spark.createDataFrame(rows, "g string, v double")
    a = [v for g, v in rows if g == "g0"]
    b = [v for g, v in rows if g == "g1"]
    got = cliffs_delta(df, "v", "g", "g0", "g1").collect()[0]
    rev = cliffs_delta(df, "v", "g", "g1", "g0").collect()[0]
    if not a or not b:
        assert got["delta"] is None
        return
    gt = sum(1 for x in a for y in b if x > y)
    lt = sum(1 for x in a for y in b if x < y)
    want = round((gt - lt) / (len(a) * len(b)), 6)
    assert got["delta"] == want
    assert -1.0 <= got["delta"] <= 1.0
    assert rev["delta"] == -got["delta"]


@settings(max_examples=8, deadline=None)
@given(panels)
# T = 73/128 = 0.5703125 exactly: a rounding tie, which rounds half up
@example([(0, 1), (0, 1), (0, 1), (2, 3), (1, 6), (2, 3), (2, 0), (0, 1),
          (2, 0), (0, 3), (1, 3), (0, 6), (0, 5), (2, 2), (1, 6), (1, 4)])
def test_cramer_von_mises_matches_brute_force(spark, pairs):
    """T equals the brute-force weighted ECDF-gap sum at the pooled
    distinct values, computed exactly and rounded half up to 6 decimals
    as Spark's and DuckDB's ``round`` do, and is always >= 0."""
    import math
    from fractions import Fraction

    from kafka_streams_plumber_spark.operators.stats import (
        cramer_von_mises,
    )

    rows = [(f"g{g % 2}", float(v)) for g, v in pairs]
    df = spark.createDataFrame(rows, "g string, v double")
    a = sorted(v for g, v in rows if g == "g0")
    b = sorted(v for g, v in rows if g == "g1")
    got = cramer_von_mises(df, "v", "g", "g0", "g1").collect()[0]
    if not a or not b:
        assert got["t"] is None
        return
    n, m = len(a), len(b)
    t = Fraction(0)
    for v in sorted(set(a + b)):
        ca = sum(1 for x in a if x <= v)
        cb = sum(1 for x in b if x <= v)
        tv = a.count(v) + b.count(v)
        t += tv * (Fraction(ca, n) - Fraction(cb, m)) ** 2
    t *= Fraction(n * m, (n + m) ** 2)
    half_up = math.floor(t * 10**6 + Fraction(1, 2))  # t >= 0: ROUND_HALF_UP
    assert got["t"] == half_up / 10**6
    assert got["t"] >= 0.0


#: complete blocked panels: block 0..4 x 3 treatments, tied values
blocked = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),
        st.integers(min_value=0, max_value=4),
        st.integers(min_value=0, max_value=4),
    ),
    min_size=2,
    max_size=6,
)


@settings(max_examples=8, deadline=None)
@given(blocked)
def test_friedman_matches_sequential_midranks(spark, triples):
    """Tie-corrected Q equals the sequential within-block midrank
    computation on every generated complete panel."""
    from kafka_streams_plumber_spark.operators.stats import friedman

    rows = [
        (b, t, float(v))
        for b, vs in enumerate(triples)
        for t, v in zip(("x", "y", "z"), vs)
    ]
    df = spark.createDataFrame(rows, "b long, t string, v double")
    got = friedman(df, "b", "t", "v", n_treatments=3).collect()[0]

    def midranks(vs):
        order = sorted(range(len(vs)), key=lambda i: vs[i])
        out = [0.0] * len(vs)
        i = 0
        while i < len(order):
            j = i
            while j + 1 < len(order) and vs[order[j + 1]] == vs[order[i]]:
                j += 1
            mid = (i + j) / 2 + 1
            for q in range(i, j + 1):
                out[order[q]] = mid
            i = j + 1
        return out

    k, n = 3, len(triples)
    rsum = [0.0] * k
    a = 0.0
    for vs in triples:
        rs = midranks(list(vs))
        for j in range(k):
            rsum[j] += rs[j]
        a += sum(x * x for x in rs)
    c = n * k * (k + 1) ** 2 / 4
    num = (k - 1) * sum((r - n * (k + 1) / 2) ** 2 for r in rsum)
    assert got["n_blocks"] == n
    if a == c:  # every block all-ties
        assert got["q"] is None
    else:
        assert got["q"] == round(num / (a - c), 6)


@settings(max_examples=8, deadline=None)
@given(panels)
def test_welch_t_antisymmetric_and_brute_force(spark, pairs):
    """t matches the closed form, is antisymmetric under group swap,
    and df is swap-invariant."""
    import math

    from kafka_streams_plumber_spark.operators.stats import welch_t

    rows = [(f"g{g % 2}", float(v)) for g, v in pairs]
    df = spark.createDataFrame(rows, "g string, v double")
    a = [v for g, v in rows if g == "g0"]
    b = [v for g, v in rows if g == "g1"]
    got = welch_t(df, "v", "g", "g0", "g1").collect()[0]
    rev = welch_t(df, "v", "g", "g1", "g0").collect()[0]
    if len(a) < 2 or len(b) < 2:
        assert got["t"] is None
        return

    def mv(xs):
        n = len(xs)
        m = sum(xs) / n
        return n, m, sum((x - m) ** 2 for x in xs) / (n - 1)

    na, ma, va = mv(a)
    nb, mb, vb = mv(b)
    se2 = va / na + vb / nb
    if se2 == 0:
        assert got["t"] is None
        return
    assert abs(got["t"] - (ma - mb) / math.sqrt(se2)) < 1e-5
    assert rev["t"] == -got["t"]
    assert rev["df"] == got["df"]


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.booleans(),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_average_precision_matches_brute_force(spark, scored):
    """AP equals the sequential threshold sweep over distinct scores
    (descending), and lives in (0, 1]."""
    from kafka_streams_plumber_spark.operators.classify import (
        average_precision,
    )

    rows = [(float(s), y) for s, y in scored]
    df = spark.createDataFrame(rows, "s double, y boolean")
    got = average_precision(df, "s", "y").collect()[0]
    pos = sum(1 for _, y in rows if y)
    if pos == 0:
        assert got["ap"] is None
        return
    from collections import defaultdict

    per = defaultdict(lambda: [0, 0])
    for s, y in rows:
        per[s][0] += 1
        per[s][1] += int(y)
    cum = ctp = acc = 0
    for s in sorted(per, reverse=True):
        t, tp = per[s]
        cum += t
        ctp += tp
        acc += round(tp * ctp / cum * 1e9)
    assert got["ap"] == round(acc / 1e9 / pos, 6)
    assert 0.0 < got["ap"] <= 1.0


@settings(max_examples=8, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=9), min_size=2, max_size=30)
)
def test_durbin_watson_matches_brute_force(spark, vals):
    """DW equals n*sum(diff^2)/(n*Q - T^2) on a dense index and lies
    in [0, 4] whenever defined."""
    from kafka_streams_plumber_spark.operators.behavior import (
        durbin_watson,
    )

    rows = [("g", i, float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "g string, i long, v double")
    got = durbin_watson(df, "g", "i", "v").collect()[0]
    xs = [round(v * 1e6) for v in vals]
    n = len(xs)
    t, q = sum(xs), sum(x * x for x in xs)
    d = sum((xs[i + 1] - xs[i]) ** 2 for i in range(n - 1))
    if n * q == t * t:  # constant series
        assert got["dw"] is None
        return
    assert got["dw"] == round(n * d / (n * q - t * t), 6)
    assert 0.0 <= got["dw"] <= 4.000001


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=10**6),
            st.floats(
                min_value=-1000, max_value=1000,
                allow_nan=False, allow_infinity=False,
            ),
        ),
        min_size=3,
        max_size=40,
        unique_by=lambda t: t[0],
    ),
    st.sampled_from([1, 3, 16]),
    st.integers(min_value=1, max_value=3),
)
def test_poisson_bootstrap_matches_reference_any_salt(
    spark, rows, cells, n_groups
):
    """The r9 salted two-level sum equals the pure-Python reference
    (Knuth hash -> Poisson(1) CDF walk -> exact integer replica sums
    -> scaled-long means) bit-for-bit for ARBITRARY ids/values, ANY
    salt_cells and 1-3 groups (``rid % n_groups``) — the property
    behind the 'same oracle hash' claim."""
    import math

    from kafka_streams_plumber_spark.operators.sampling import (
        POISSON1_CDF,
        poisson_bootstrap,
    )

    b, scale, ms_scale = 5, 10**6, 10**9
    df = spark.createDataFrame(
        [(k % n_groups, k, v) for k, v in rows], "g long, rid long, v double"
    )
    got = {
        r["g"]: r
        for r in poisson_bootstrap(
            df, "rid", "v", group_cols="g", b=b, ci=0.9, salt_cells=cells
        ).collect()
    }

    def weight(k, r):
        h = ((k * b + r) % 2**31) * 2654435761 % 2**31
        u = (h + 1.0) / (2**31 + 1)  # kernel: /float(_M31 + 1), _M31 = 2**31
        for kk, thr in enumerate(POISSON1_CDF):
            if u < thr:
                return kk
        return len(POISSON1_CDF)

    from decimal import ROUND_HALF_UP, Decimal

    def r6(x):
        # Spark F.round is HALF_UP on the double's shortest repr;
        # Python round() is banker's on the binary value — use the
        # repo's Decimal(repr(...)) device for half-ties.
        return float(
            Decimal(repr(x)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )

    def r0(x):
        return int(
            Decimal(repr(x)).quantize(Decimal("1"), rounding=ROUND_HALF_UP)
        )

    vs = {k: r0(v * scale) for k, v in rows}
    assert set(got) == {k % n_groups for k, _ in rows}
    for g, row in got.items():
        ks = [k for k, _ in rows if k % n_groups == g]
        ms = []
        for r in range(b):
            sv = sum(weight(k, r) * vs[k] for k in ks)
            sw = sum(weight(k, r) for k in ks)
            if sw > 0:
                ms.append(r0(sv / sw / scale * ms_scale))
        assert row["n_rows"] == len(ks)
        if not ms:  # every replica drew weight 0: no bootstrap columns
            assert row["n_replicas"] is None and row["boot_mean"] is None
            continue
        assert row["n_replicas"] == len(ms)
        assert row["boot_mean"] == r6(sum(ms) / len(ms) / ms_scale)
        if len(ms) >= 2:
            n, t, q = len(ms), sum(ms), sum(m * m for m in ms)
            se = math.sqrt((n * q - t * t) / (n * (n - 1))) / ms_scale
            assert row["boot_se"] == r6(se)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.integers(min_value=0, max_value=20),
        ),
        min_size=4,
        max_size=40,
    )
)
def test_mood_median_matches_brute_force_table(spark, pairs):
    """mood_median equals the brute-force 2 x k chi-square on the
    post-tie-filter table; k_groups/df always count the PRE-filter
    group set, and chi2 is NULL exactly when k < 2, a margin is
    empty, or a group loses every row to the tie filter (the scipy-
    raises contract from ADVICE r8)."""
    from kafka_streams_plumber_spark.operators.stats import mood_median

    df = spark.createDataFrame(
        [(g, float(v)) for g, v in pairs], "g string, v double"
    )
    r = mood_median(df, "v", "g").collect()[0]

    groups = sorted({g for g, _ in pairs})
    assert r["k_groups"] == len(groups)
    assert r["df"] == len(groups) - 1

    from decimal import ROUND_HALF_UP, Decimal

    def r6(x):
        return float(
            Decimal(repr(x)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )

    xs = sorted(v for _, v in pairs)
    idx = 0.5 * (len(xs) - 1)
    lo = int(idx)
    med = xs[lo] + (idx - lo) * (xs[min(lo + 1, len(xs) - 1)] - xs[lo])
    assert r["grand_median"] == r6(med)

    ab = {g: 0 for g in groups}
    be = {g: 0 for g in groups}
    for g, v in pairs:
        if v > med:
            ab[g] += 1
        elif v < med:
            be[g] += 1
    ta, tb = sum(ab.values()), sum(be.values())
    assert r["n_used"] == ta + tb
    dropped = [g for g in groups if ab[g] + be[g] == 0]
    if len(groups) < 2 or ta == 0 or tb == 0 or dropped:
        assert r["chi2"] is None
        return
    chi = 0
    for g in groups:
        ng = ab[g] + be[g]
        ea = ng * ta / (ta + tb)
        eb = ng * tb / (ta + tb)
        term = ((ab[g] - ea) ** 2 / ea + (be[g] - eb) ** 2 / eb) * 1e6
        chi += int(
            Decimal(repr(term)).quantize(
                Decimal("1"), rounding=ROUND_HALF_UP
            )
        )
    assert r["chi2"] == r6(chi / 1e6)
