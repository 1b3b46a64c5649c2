"""Zipfian-vocabulary fixture probe for the posting-list-bound
operators (q_containment / q_novelty).

The driver's synthetic documents corpus draws from a ~30-word
vocabulary, which makes EVERY word 3-shingle COMMON and defeats the
rarest-first prefix filter by construction — SCALING.md documents the
resulting 4-6x probe ratios as corpus pathology, not algorithm cost.
This probe generates a corpus with a realistic Zipf rank-frequency
tail (10,000-word vocabulary, s = 1.1 — the shape of natural text per
Zipf's law) at the same document counts as sf0.01 and sf0.1 (5k and
50k docs, lengths 20-100 words), plants a quote every 50 docs so the
containment output is non-empty, and measures the same operators.
A 10x-step ratio well under the degenerate corpus's 4-6x is the
measured evidence that the prefix filter prunes as designed on
natural-shaped text.

Usage: python tools/zipf_probe.py            # prints one line per probe
"""

from __future__ import annotations

import bisect
import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import best_of  # noqa: E402
from kafka_streams_plumber_spark.plans.session import get_spark  # noqa: E402

VOCAB = 10_000
ZIPF_S = 1.1
SEED = 20260815


def zipf_corpus(n_docs: int) -> list[tuple[int, str]]:
    """Deterministic Zipf-tailed corpus: doc lengths 20-100 words,
    words drawn rank-proportional to 1/r^s; every 50th doc fully
    quotes the previous doc (plus 10 fresh words) so containment has
    true positives to find."""
    rng = random.Random(SEED)
    weights = [1.0 / (r + 1) ** ZIPF_S for r in range(VOCAB)]
    cum, acc = [], 0.0
    for w in weights:
        acc += w
        cum.append(acc)

    def word() -> str:
        return f"w{bisect.bisect_left(cum, rng.random() * acc)}"

    docs: list[tuple[int, str]] = []
    for i in range(n_docs):
        if i % 50 == 25 and i > 0:
            # a full quote of the previous doc + 10 fresh words:
            # containment(prev -> this) = 1.0 by construction
            text = docs[i - 1][1] + " " + " ".join(word() for _ in range(10))
        else:
            text = " ".join(word() for _ in range(rng.randint(20, 100)))
        docs.append((i, text))
    return docs


def main() -> None:
    # --section containment|semantic|all: the sections are
    # independently expensive (each runs minutes of measured walls), so
    # a re-measurement of one never has to pay for the other.
    section = "all"
    if len(sys.argv) > 1:
        if len(sys.argv) != 3 or sys.argv[1] != "--section":
            sys.exit("usage: zipf_probe.py [--section all|containment|semantic]")
        section = sys.argv[2]
    if section not in {"all", "containment", "semantic"}:
        sys.exit(
            f"zipf_probe: unknown --section {section!r}"
            " (expected all|containment|semantic)"
        )
    spark = get_spark("zipf-probe")
    spark.sparkContext.setLogLevel("ERROR")

    from kafka_streams_plumber_spark.operators.setsim import containment_join
    from kafka_streams_plumber_spark.operators.text import ngram_novelty

    sizes = {"sf0.01-equiv": 5_000, "sf0.1-equiv": 50_000}
    frames = {}
    for label, n in sizes.items():
        frames[label] = spark.createDataFrame(
            zipf_corpus(n), "doc_id long, text string"
        ).cache()
        frames[label].count()  # materialize the cache before timing

    def timed(build):
        return round(best_of(build, 3, include_construction=True), 3)

    results = {}
    for op, make in () if section == "semantic" else (
        ("q_containment", lambda d: containment_join(d, threshold=0.8)),
        ("q_novelty", lambda d: ngram_novelty(d)),
    ):
        # warmup (codegen) on the small corpus
        make(frames["sf0.01-equiv"]).write.format("noop").mode(
            "overwrite"
        ).save()
        small = timed(lambda: make(frames["sf0.01-equiv"]))
        big = timed(lambda: make(frames["sf0.1-equiv"]))
        n_pairs = make(frames["sf0.1-equiv"]).count()
        ratio = round(big / small, 1) if small else None
        results[op] = (small, big, ratio, n_pairs)
        print(
            f"{op}: zipf {sizes['sf0.01-equiv']}->{sizes['sf0.1-equiv']} docs "
            f"{small}s -> {big}s ratio {ratio}x (output rows at 50k: {n_pairs})"
        )

    # The decisive pruning evidence: candidate pairs the prefix filter
    # lets through per corpus shape. On the driver's ~30-word-vocab
    # corpus every shingle is common, so candidates grow ~quadratically;
    # on the Zipf corpus the rarest-first prefix keeps them near the
    # true-pair count. Candidates per doc is the comparable number.
    from kafka_streams_plumber_spark.operators.setsim import (
        _containment_candidates,
    )
    from kafka_streams_plumber_spark.plans.session import load_tables

    def cand_count(d) -> int:
        _, cand = _containment_candidates(
            d, threshold=0.8, k=3, id_col="doc_id", text_col="text",
            block_col=None,
        )
        return cand.count()

    for label, d in frames.items() if section != "semantic" else ():
        c = cand_count(d)
        n = sizes[label]
        print(f"zipf {label} ({n} docs): candidates={c} ({c / n:.1f}/doc)")
    for sf_dir in () if section == "semantic" else ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        if not os.path.isdir(sf_dir):
            continue
        d = load_tables(spark, sf_dir)["documents"]
        n = d.count()
        c = cand_count(d)
        print(f"degenerate {sf_dir} ({n} docs): candidates={c} ({c / n:.1f}/doc)")

    if section == "containment":
        spark.stop()
        return

    # Semantic-dedup scale path (VERDICT r9 item 4). Two findings:
    #
    # (1) The Zipf TEXT corpus is the WRONG fixture for the semantic
    # family: hashing-trick embeddings of same-vocabulary text all
    # share the common-word direction, so the TRUE cosine>=0.8 pair
    # graph is ~5.6% dense (measured below: ~700k true pairs among
    # 5k docs, mean pairwise cosine ~0.59) — any correct algorithm is
    # output-bound on it, the same pathology class as the driver
    # corpus (where the cause is the ~30-word vocabulary). Recorded,
    # not timed at 50k.
    #
    # (2) The candidate-volume linearity claim is therefore measured
    # on the fixture that isolates it: seeded random UNIT VECTORS
    # (sparse true-pair graph by construction) with a planted near-dup
    # every 50 docs, pushed through embedding_dup_pairs — the exact
    # component q_semantic_auto runs after hash_embed — with
    # target_bucket_size=64 (data-derived planes). Expected bucket
    # occupancy is held ~constant, so candidates/doc should be ~flat
    # across the 10x step while a FIXED plane count would grow ~10x.
    import math

    from pyspark.sql import functions as F

    from kafka_streams_plumber_spark.operators.similarity import (
        _hyperplanes,
        auto_n_planes,
        cosine,
        embedding_dup_pairs,
        hash_embed,
        rp_signature,
    )

    def lsh_candidate_volume(emb, n_docs, vec_col="v"):
        """(derived n_planes, bucket-stage candidate-pair volume) via
        the operator's own auto_n_planes sizing (shared helper, so a
        sizing change cannot silently diverge from the probe) and the
        embedding_dup_pairs defaults (6 tables, seed 7, bucket cap
        2000)."""
        n_planes = auto_n_planes(n_docs, 64)
        tables = [_hyperplanes(n_planes, 64, 7 + 1000 * t) for t in range(6)]
        sig = F.array(
            *[
                F.struct(
                    F.lit(t).alias("table"),
                    rp_signature(F.col(vec_col), tables[t]).alias("bucket"),
                )
                for t in range(6)
            ]
        )
        vol = (
            emb.select(F.explode(sig).alias("s"))
            .groupBy("s.table", "s.bucket")
            .agg(F.count("*").alias("n"))
            .filter((F.col("n") >= 2) & (F.col("n") <= 2000))
            .agg(F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("c"))
            .collect()[0]["c"]
        )
        return n_planes, int(vol or 0)

    # (1) zipf-text density at 5k docs: the fixture-pathology record
    emb_txt = frames["sf0.01-equiv"].select(
        "doc_id", hash_embed("text", dim=64, normalize=True).alias("v")
    ).cache()
    at = emb_txt.select(F.col("doc_id").alias("a"), F.col("v").alias("va"))
    bt = emb_txt.select(F.col("doc_id").alias("b"), F.col("v").alias("vb"))
    dens = (
        at.join(bt, F.col("a") < F.col("b"))
        .select(cosine(F.col("va"), F.col("vb")).alias("c"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("c") >= 0.8).cast("long")).alias("t"),
            F.round(F.avg("c"), 3).alias("m"),
        )
        .collect()[0]
    )
    _, cand_txt = lsh_candidate_volume(emb_txt, 5000)
    print(
        f"semantic zipf-TEXT 5k docs: true cos>=0.8 pairs {dens['t']} of "
        f"{dens['n']} ({dens['t'] / dens['n'] * 100:.1f}% dense, mean cos "
        f"{dens['m']}) -> output-bound fixture; LSH candidates "
        f"{cand_txt} ({cand_txt / 5000:.0f}/doc) track that density, "
        "not the algorithm"
    )

    # (2) sparse random-vector corpus: the linearity measurement
    import random as _random

    def vec_corpus(n):
        rng = _random.Random(SEED)
        rows, prev = [], None
        for i in range(n):
            if i % 50 == 25 and prev is not None:
                # planted near-dup: perturb the previous vector
                v = [x + rng.gauss(0.0, 0.04) for x in prev]
            else:
                v = [rng.gauss(0.0, 1.0) for _ in range(64)]
            norm = math.sqrt(sum(x * x for x in v)) or 1.0
            v = [x / norm for x in v]
            rows.append((i, v))
            prev = v
        return rows

    sem = {}
    for label, n in sizes.items():
        emb = spark.createDataFrame(
            vec_corpus(n), "vec_id long, v array<double>"
        ).cache()
        emb.count()
        planes, cand = lsh_candidate_volume(emb, n)

        def pairs():
            return embedding_dup_pairs(
                emb,
                id_col="vec_id",
                vec_col="v",
                dim=64,
                threshold=0.8,
                target_bucket_size=64,
            )

        best_of(pairs, 1, include_construction=True)  # warmup
        wall = round(best_of(pairs, 2, include_construction=True), 3)
        npairs = pairs().count()
        sem[label] = (planes, cand, wall, npairs)
        print(
            f"semantic_auto random-vec {label} ({n} docs): planes={planes} "
            f"candidates={cand} ({cand / n:.1f}/doc) wall={wall}s "
            f"true pairs found={npairs}"
        )
    s5, s50 = sem["sf0.01-equiv"], sem["sf0.1-equiv"]
    print(
        "semantic_auto random-vec 5k->50k: candidates/doc "
        f"{s5[1] / 5000:.1f} -> {s50[1] / 50000:.1f} "
        f"(total {s50[1] / max(1, s5[1]):.1f}x on a 10x step), "
        f"wall {s5[2]}s -> {s50[2]}s ({s50[2] / s5[2]:.1f}x)"
    )
    spark.stop()


if __name__ == "__main__":
    main()
