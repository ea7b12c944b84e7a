"""Plan-build cost of the width-parameterized builders.

Builders whose Column-API form makes one call per element (per
hyperplane weight, per signature bit, per hash function, per language)
send every expression family as one SQL expression. Two guards:

- plan equality: the optimized plan of each SQL-text builder is
  ``sameResult`` with the Column-API form, kept below as the oracle —
  same operators, literal types and fold order, so outputs, jobs and
  tasks cannot move;
- build cost: py4j ``send_command`` calls made while building a plan
  no longer grow with the vector dimension, and the simhash pair plan
  stays within a fixed budget.
"""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

from kgspark import runtime
from kgspark.operators import dedup, similarity, textops
from kgspark.operators.fulltext import tokenize_col

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.plan_build_cost import py4j_calls  # noqa: E402


def _optimized(df):
    return df._jdf.queryExecution().optimizedPlan()


def assert_same_plan(got, want):
    g, w = _optimized(got), _optimized(want)
    assert g.sameResult(w), (
        f"\n--- rewritten\n{str(g)[:4000]}\n--- column form\n{str(w)[:4000]}"
    )
    assert got.columns == want.columns


# ---------------------------------------------------------------------------
# Column-API forms of the rewritten builders (the oracles)
# ---------------------------------------------------------------------------


def bands_column_form(vectors, dim, n_planes=16, bands=4):
    planes = similarity.hyperplane_weights(n_planes, dim)
    rows = n_planes // bands
    v = vectors.select(
        F.col("vec_id").alias("id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    bits = [
        F.when(
            similarity.dot_col(F.col("v"), F.array(*[F.lit(w) for w in planes[p]]))
            >= 0,
            F.lit("1"),
        ).otherwise(F.lit("0"))
        for p in range(n_planes)
    ]
    bb = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.concat(*bits[b * rows : (b + 1) * rows]).alias("band_sig"),
        )
        for b in range(bands)
    ])
    return v.select("id", F.explode(bb).alias("bb")).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.band_sig").alias("band_sig")
    )


def simhash_column_form(docs, bits=64):
    words = bits // 32
    toks = docs.select(
        F.col("doc_id").alias("doc_id"),
        F.explode(tokenize_col(F.col("text"))).alias("token"),
    ).select("doc_id", F.md5(F.col("token").cast("binary")).alias("md5"))
    for w in range(words):
        toks = toks.withColumn(
            f"th_{w}",
            F.conv(F.substring(F.col("md5"), 1 + 8 * w, 8), 16, 10).cast("long"),
        )
    aggs = [
        F.sum(
            F.when(
                F.shiftright(F.col(f"th_{w}"), i).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)
        ).alias(f"s_{w}_{i}")
        for w in range(words)
        for i in range(32)
    ]
    summed = toks.groupBy("doc_id").agg(*aggs)
    outs = []
    for w in range(words):
        sim = None
        for i in range(32):
            term = F.when(
                F.col(f"s_{w}_{i}") > 0, F.lit(2**i).cast("long")
            ).otherwise(F.lit(0).cast("long"))
            sim = term if sim is None else sim + term
        outs.append(sim.alias(f"simhash_w{w}"))
    return summed.select("doc_id", *outs)


def simhash_pairs_tail_column_form(sim, max_hamming=3):
    wcols = dedup.simhash_word_cols(sim)
    bb = F.array(*[
        F.struct(
            F.lit(4 * w + b).alias("band"),
            F.shiftright(F.col(wcol), 8 * b).bitwiseAND(F.lit(255)).alias("byte"),
        )
        for w, wcol in enumerate(wcols)
        for b in range(4)
    ])
    banded = sim.select("doc_id", *wcols, F.explode(bb).alias("bb")).select(
        "doc_id", *wcols, F.col("bb.band").alias("band"), F.col("bb.byte").alias("byte")
    )
    left = banded.alias("l")
    right = banded.alias("r")
    hamming = None
    for c in wcols:
        term = F.bit_count(F.col(f"a_{c}").bitwiseXOR(F.col(f"b_{c}")))
        hamming = term if hamming is None else hamming + term
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.byte") == F.col("r.byte"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            *[F.col(f"l.{c}").alias(f"a_{c}") for c in wcols],
            *[F.col(f"r.{c}").alias(f"b_{c}") for c in wcols],
        )
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .groupBy("doc_a", "doc_b")
        .agg(F.first("hamming").alias("hamming"))
        .select("doc_a", "doc_b", "hamming")
    )


def minhash_column_form(docs, num_hashes=16, shingle_n=3):
    shingled = dedup._shingled(docs, "doc_id", "text", shingle_n)
    n_digests = (num_hashes + 3) // 4
    for b in range(n_digests):
        shingled = shingled.withColumn(
            f"d{b}", F.md5(F.concat(F.lit(f"{b}|"), F.col("shingle")))
        )
    aggs = []
    for j in range(num_hashes):
        block, word = divmod(j, 4)
        aggs.append(
            F.min(F.substring(F.col(f"d{block}"), 1 + 8 * word, 8)).alias(f"x_{j}")
        )
    grouped = shingled.groupBy("doc_id").agg(*aggs)
    return grouped.select(
        "doc_id",
        *[
            F.conv(F.col(f"x_{j}"), 16, 10).cast("long").alias(f"mh_{j}")
            for j in range(num_hashes)
        ],
    )


def lsh_banded_column_form(signatures, num_hashes=16, bands=4):
    rows = num_hashes // bands
    bb = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "_", *[F.col(f"mh_{b * rows + r}").cast("string") for r in range(rows)]
            ).alias("band_sig"),
        )
        for b in range(bands)
    ])
    return signatures.select(F.col("doc_id"), F.explode(bb).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.band_sig").alias("band_sig")
    )


def estimate_column_form(signatures, pairs, num_hashes=16):
    a = signatures.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh_{j}").alias(f"a_{j}") for j in range(num_hashes)],
    )
    b = signatures.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh_{j}").alias(f"b_{j}") for j in range(num_hashes)],
    )
    matches = None
    for j in range(num_hashes):
        term = F.when(F.col(f"a_{j}") == F.col(f"b_{j}"), 1).otherwise(0)
        matches = term if matches is None else matches + term
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a", "doc_b", (matches / F.lit(float(num_hashes))).alias("sim_est")
        )
    )


def language_id_column_form(docs):
    toks = tokenize_col(F.col("text"))
    hit_cols = [
        F.size(F.filter(toks, lambda t: t.isin(words))).alias(f"hits_{lang}")
        for lang, words in sorted(textops.LANG_STOPWORDS.items())
    ]
    scored = docs.select(F.col("doc_id").alias("doc_id"), *hit_cols)
    langs = sorted(textops.LANG_STOPWORDS)
    max_hits = F.greatest(*[F.col(f"hits_{lg}") for lg in langs])
    pred = F.when(max_hits == 0, F.lit("und"))
    for lg in langs:
        pred = pred.when(F.col(f"hits_{lg}") == max_hits, F.lit(lg))
    return scored.select("doc_id", pred.alias("pred_lang"), max_hits.alias("hits"))


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def docs(spark):
    texts = [
        "the cat sat on the mat and it is fine",
        "el gato y la casa de un amigo que es",
        "der Hund und die Katze ist in das Haus",
        "le chat et la maison de un ami est que",
        "",
        None,
        "shi de le zai he you wo ta",
    ]
    return spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")


def _vectors(spark, dim, n=8):
    import random

    rnd = random.Random(dim)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(dim)]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


# ---------------------------------------------------------------------------
# plan equality
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("dim", [64, 384])
def test_hyperplane_bands_plan_unchanged(spark, dim):
    vecs = _vectors(spark, dim)
    got = similarity.hyperplane_signature_bands(vecs, dim, 16, 4)
    want = bands_column_form(vecs, dim, 16, 4)
    assert_same_plan(got, want)
    assert sorted(got.collect()) == sorted(want.collect())


def test_simhash_plan_unchanged(spark, docs):
    got, want = dedup.simhash(docs), simhash_column_form(docs)
    assert_same_plan(got, want)
    assert sorted(got.collect()) == sorted(want.collect())


def test_simhash_pair_tail_plan_unchanged(spark, docs, monkeypatch):
    """Byte banding, Hamming sum and pair dedup over one signature table
    (the frame simhash_neardup_pairs materializes)."""
    monkeypatch.setattr(dedup, "materialize", lambda df: df)
    monkeypatch.setattr(dedup, "spread", lambda df, *cols: df)
    got = dedup.simhash_neardup_pairs(docs, max_hamming=3)
    want = simhash_pairs_tail_column_form(dedup.simhash(docs), max_hamming=3)
    assert_same_plan(got, want)


def test_minhash_signatures_and_bands_plan_unchanged(spark, docs):
    got, want = dedup.minhash_signatures(docs), minhash_column_form(docs)
    assert_same_plan(got, want)
    assert sorted(got.collect()) == sorted(want.collect())
    assert_same_plan(dedup.lsh_banded(got), lsh_banded_column_form(want))


def test_minhash_estimate_plan_unchanged(spark, docs):
    sigs = minhash_column_form(docs)
    pairs = spark.createDataFrame([(0, 1), (1, 3), (2, 6)], "doc_a long, doc_b long")
    assert_same_plan(
        dedup.minhash_estimate_pairs(sigs, pairs), estimate_column_form(sigs, pairs)
    )


def test_language_id_plan_unchanged(spark, docs):
    got, want = textops.language_id(docs), language_id_column_form(docs)
    assert_same_plan(got, want)
    assert sorted(got.collect()) == sorted(want.collect())


# ---------------------------------------------------------------------------
# build cost
# ---------------------------------------------------------------------------


def _lsh_build_calls(spark, dim) -> int:
    vecs = _vectors(spark, dim)
    mark = runtime.materialized_mark()
    try:
        with py4j_calls(spark) as n:
            similarity.cosine_neardup_pairs_lsh(vecs, threshold=0.95, dim=dim)
    finally:
        runtime.release_materialized(since=mark)
    return n[0]


def test_lsh_build_cost_does_not_grow_with_dim(spark):
    _lsh_build_calls(spark, 64)  # warm py4j's class/method lookups
    d64, d384 = _lsh_build_calls(spark, 64), _lsh_build_calls(spark, 384)
    assert d384 <= 1.5 * d64, (d64, d384)


def test_simhash_pairs_build_budget(spark, docs):
    mark = runtime.materialized_mark()
    try:
        with py4j_calls(spark) as n:
            dedup.simhash_neardup_pairs(docs)
    finally:
        runtime.release_materialized(since=mark)
    assert n[0] <= 2500, n[0]
