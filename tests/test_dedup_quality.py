"""MinHash/LSH quality: candidate recall vs exact Jaccard ground truth."""

from __future__ import annotations

import itertools
import os
import random
import sys

from kgspark.operators import dedup

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.plan_build_cost import spark_jobs  # noqa: E402


def _mk_docs(n: int = 120, seed: int = 9):
    """Docs with planted near-duplicate pairs (small token edits)."""
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(400)]
    docs = []
    for i in range(n):
        words = [rng.choice(vocab) for _ in range(50)]
        docs.append((i, " ".join(words)))
        if i % 4 == 0:  # plant a near-dup: mutate one word (J ≈ 0.89,
            # where 4 bands × 4 rows gives ~0.97 candidate probability)
            mutated = list(words)
            mutated[rng.randrange(len(mutated))] = rng.choice(vocab)
            docs.append((1000 + i, " ".join(mutated)))
    return docs


def test_lsh_recall_against_exact_jaccard(spark):
    docs = spark.createDataFrame(_mk_docs(), "doc_id long, text string")
    exact = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.85, shingle_n=3).collect()
    }
    assert exact, "fixture must contain true near-dup pairs"
    sigs = dedup.minhash_signatures(docs, num_hashes=16, shingle_n=3)
    cand = {
        (r.doc_a, r.doc_b)
        for r in dedup.lsh_candidate_pairs(sigs, num_hashes=16, bands=4).collect()
    }
    recall = len(exact & cand) / len(exact)
    assert recall >= 0.9, (recall, len(exact), len(cand))


def test_exact_dedup_groups(spark):
    rows = [(1, "a b  c"), (2, "A b c"), (3, "different text"), (4, "a B C")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.doc_id, r.dup_count) for r in dedup.exact_dedup(docs).collect()}
    assert got == {(1, 3), (3, 1)}


def test_simhash_near_identical_docs_collide(spark):
    rows = [(1, "alpha beta gamma delta " * 10), (2, "alpha beta gamma delta " * 10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sims = {
        r.doc_id: (r.simhash_w0, r.simhash_w1)
        for r in dedup.simhash(docs).collect()
    }
    assert sims[1] == sims[2]


def _mk_vectors(spark, n: int = 80, dim: int = 16, seed: int = 5):
    """Vectors with planted near-duplicates (tiny perturbations)."""
    import random

    rng = random.Random(seed)
    rows = []
    for i in range(n):
        v = [rng.uniform(-1, 1) for _ in range(dim)]
        rows.append((i, v))
        if i % 4 == 0:  # plant a near-dup at cos ≈ 0.99+
            rows.append((1000 + i, [x + rng.uniform(-0.02, 0.02) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _bruteforce_neardup_pairs(vectors, threshold: float):
    """All (a < b) pairs with cosine ≥ threshold: the exact O(n²)
    BroadcastNestedLoopJoin ground truth for the LSH path."""
    from pyspark.sql import functions as F

    from kgspark.operators.similarity import cosine_col

    a = vectors.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = vectors.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos", F.round(cosine_col(F.col("va"), F.col("vb")), 6))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def test_hyperplane_lsh_subset_and_recall(spark):
    """LSH near-dup output ⊆ exact all-pairs output, with high recall at
    the operator's design threshold (0.95)."""
    from kgspark.operators import similarity

    vecs = _mk_vectors(spark)
    exact = {
        (r.id_a, r.id_b): r.cos
        for r in _bruteforce_neardup_pairs(vecs, threshold=0.95).collect()
    }
    assert exact, "fixture must contain true near-dup pairs"
    lsh = {
        (r.id_a, r.id_b): r.cos
        for r in similarity.cosine_neardup_pairs_lsh(
            vecs, threshold=0.95, dim=16
        ).collect()
    }
    assert set(lsh) <= set(exact)
    for k, cos in lsh.items():
        assert cos == exact[k]
    recall = len(lsh) / len(exact)
    assert recall >= 0.9, (recall, len(exact), len(lsh))


def _half_up_6(x: float) -> float:
    """Spark's round(x, 6) on a double: HALF_UP on the decimal repr."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))


def _numpy_fold_pairs(ids, vecs, threshold: float) -> dict:
    """{(a, b): cos} over every a < b pair with round(cos, 6) ≥ t, where
    every dot is a left fold in index order, (((0 + a0·b0) + a1·b1) + …),
    in float64 — the arithmetic of similarity.dot_col."""
    import numpy as np

    v = vecs.astype(np.float64)
    ia, ib = np.triu_indices(len(ids), k=1)

    def fold(x, y):
        acc = np.zeros(len(x))
        for k in range(x.shape[1]):
            acc = acc + x[:, k] * y[:, k]
        return acc

    ns = fold(v, v)
    dot = fold(v[ia], v[ib])
    denom = np.sqrt(ns[ia] * ns[ib])
    out = {}
    for a, b, d, n in zip(ia, ib, dot, denom):
        if n == 0.0:  # zero-norm vector: undefined cosine, never a pair
            continue
        cos = _half_up_6(float(d / n))
        if cos >= threshold:
            out[(int(ids[a]), int(ids[b]))] = cos
    return out


def test_lsh_scorer_bit_identical_to_numpy_fold(spark):
    """The one LSH scorer (similarity._scored_pairs), fed every a < b
    pair as its candidates, returns exactly the pairs and cos bits of a
    numpy left fold, at dims 20, 64 and 384 and t ∈ {0.35, 0.9, 0.95},
    on planted near-dups, a zero-norm row and negated copies. At the
    prefix-bound thresholds (t ≥ _CASCADE_MIN_THRESHOLD) the 16-dim
    prefix and the whole-vector prefix must both return those rows."""
    import numpy as np
    from pyspark.sql import functions as F

    from kgspark.operators.similarity import (
        _CASCADE_MIN_THRESHOLD,
        _CASCADE_PREFIX,
        _scored_pairs,
    )

    for dim in (20, 64, 384):
        rng = np.random.default_rng(dim)
        centers = rng.normal(size=(4, dim))
        base = rng.normal(size=(40, dim)) + 1.2 * centers[np.arange(40) % 4]
        # near copies spread over cos ≈ 0.8–0.999, across both tight cuts
        near = base[:16] + rng.normal(size=(16, dim)) * np.linspace(0.03, 0.6, 16)[:, None] * (
            np.linalg.norm(base[:16], axis=1, keepdims=True) / np.sqrt(dim)
        )
        vecs = np.vstack([base, near, np.zeros((1, dim)), -base[:5]]).astype(np.float32)
        ids = np.arange(len(vecs), dtype=np.int64) * 3 + 1
        df = spark.createDataFrame(
            [(int(i), v.tolist()) for i, v in zip(ids, vecs)],
            "vec_id long, embedding array<float>",
        )
        cand = (
            df.select(F.col("vec_id").alias("id_a"))
            .crossJoin(df.select(F.col("vec_id").alias("id_b")))
            .filter(F.col("id_a") < F.col("id_b"))
        )
        for t in (0.35, 0.9, 0.95):
            want = _numpy_fold_pairs(ids, vecs, t)
            assert want, f"fixture must produce pairs at dim={dim}, t={t}"
            prefixes = [dim]
            if t >= _CASCADE_MIN_THRESHOLD:
                prefixes.append(_CASCADE_PREFIX)
            for prefix in prefixes:
                got = {
                    (r.id_a, r.id_b): r.cos
                    for r in _scored_pairs(
                        cand, df, t, prefix, "vec_id", "embedding"
                    ).collect()
                }
                assert got == want, (dim, t, prefix)


def test_lsh_bucket_cap_skips_degenerate_bucket(spark):
    """One boilerplate bucket (many docs with identical band signatures)
    must not go quadratic: with the cap it contributes no pairs, is
    reported by lsh_oversized_buckets, and normal pairs are unaffected."""
    docs = _mk_docs(n=40)
    # 30 identical boilerplate docs → every band bucket holds all 30
    boiler = [(5000 + i, "the same boilerplate nav footer text " * 5) for i in range(30)]
    df = spark.createDataFrame(docs + boiler, "doc_id long, text string")
    sigs = dedup.minhash_signatures(df, num_hashes=16, shingle_n=3)

    capped = {
        (r.doc_a, r.doc_b)
        for r in dedup.lsh_candidate_pairs(sigs, 16, 4, max_bucket=20).collect()
    }
    uncapped = {
        (r.doc_a, r.doc_b)
        for r in dedup.lsh_candidate_pairs(sigs, 16, 4, max_bucket=None).collect()
    }
    boiler_ids = {d for d, _ in boiler}
    boiler_pairs = {(a, b) for (a, b) in uncapped if a in boiler_ids and b in boiler_ids}
    assert boiler_pairs, "fixture must create a degenerate bucket"
    assert capped == uncapped - boiler_pairs

    over = dedup.lsh_oversized_buckets(
        dedup.lsh_banded(sigs, 16, 4), max_bucket=20
    ).collect()
    assert over and all(r.bucket_size == 30 for r in over)


def _py_band_pairs(sig_rows, num_hashes=16, bands=4, max_bucket=None) -> dict:
    """Pure-Python LSH banding: {(doc_a, doc_b): estimate} over every
    pair that shares a band bucket of at most ``max_bucket`` docs. A
    band signature is the band's minhash values joined on '_', the
    estimate the fraction of equal signature slots."""
    rows = num_hashes // bands
    buckets: dict = {}
    for r in sig_rows:
        sig = [r[f"mh_{j}"] for j in range(num_hashes)]
        for b in range(bands):
            key = (b, "_".join(str(v) for v in sig[b * rows:(b + 1) * rows]))
            buckets.setdefault(key, []).append((r["doc_id"], sig))
    out = {}
    for members in buckets.values():
        if max_bucket is not None and len(members) > max_bucket:
            continue
        for (a, sa), (b, sb) in itertools.combinations(members, 2):
            est = sum(x == y for x, y in zip(sa, sb)) / num_hashes
            out[(min(a, b), max(a, b))] = est
    return out


def _hand_signatures(spark):
    """Signatures built by hand: 30 docs (100..129) share their band-0
    signature, one bucket above a cap of 20; docs 100 and 101 also
    share band 1, a bucket of two; docs 1..6 pair up in small buckets
    of their own, with 1/2/3 sharing band 2 and 2/4 sharing band 3."""
    def sig(doc, b0, b1, b2, b3):
        bands = [b0, b1, b2, b3]
        return (doc, *[bands[j // 4] * 100 + j for j in range(16)])

    rows = [sig(100 + i, 7, 1000 + i, 2000 + i, 3000 + i) for i in range(30)]
    rows[1] = sig(101, 7, 1000, 2001, 3001)  # band 1 = doc 100's
    rows += [
        sig(1, 11, 21, 31, 41), sig(2, 12, 22, 31, 42), sig(3, 13, 23, 31, 43),
        sig(4, 14, 24, 34, 42), sig(5, 15, 25, 35, 45), sig(6, 15, 26, 36, 46),
    ]
    cols = ", ".join(["doc_id long"] + [f"mh_{j} long" for j in range(16)])
    return spark.createDataFrame(rows, cols)


def test_lsh_generator_matches_python_banding(spark):
    """Candidate pairs and their estimates equal a pure-Python banding
    of the same signatures: capped, uncapped, and on a pair that
    collides in an oversized bucket AND in a normal one (it must still
    appear)."""
    sigs = _hand_signatures(spark)
    seeded = dedup.minhash_signatures(
        spark.createDataFrame(_mk_docs(n=60), "doc_id long, text string")
    )
    for frame, caps in ((sigs, (20, None)), (seeded, (2, 10_000, None))):
        sig_rows = frame.collect()
        for cap in caps:
            want = _py_band_pairs(sig_rows, max_bucket=cap)
            got = {
                (r.doc_a, r.doc_b)
                for r in dedup.lsh_candidate_pairs(frame, 16, 4, max_bucket=cap).collect()
            }
            assert got == set(want), cap
            est = {
                (r.doc_a, r.doc_b): r.sim_est
                for r in dedup._lsh_bucket_pairs(frame, 16, 4, cap).distinct().collect()
            }
            assert est == want, cap
    hand = _py_band_pairs(sigs.collect(), max_bucket=20)
    assert (100, 101) in hand and hand[(100, 101)] == 0.5
    assert not any(a >= 102 or b >= 102 for a, b in hand if a >= 100)
    assert {(1, 2), (1, 3), (2, 3), (2, 4), (5, 6)} <= set(hand)
    assert len(_py_band_pairs(sigs.collect())) == len(hand) + 30 * 29 // 2 - 1


def test_neardup_clusters_match_python_banding(spark):
    """neardup_clusters = union-find over the pure-Python banding's
    pairs with estimate >= min_est, on the seeded near-dup docs plus a
    planted exact-dup chain."""
    from kgspark.operators.cc import _union_find

    docs = spark.createDataFrame(_mk_docs(n=60), "doc_id long, text string")
    sig_rows = dedup.minhash_signatures(docs).collect()
    for min_est in (0.5, 0.9):
        pairs = [p for p, e in _py_band_pairs(sig_rows, max_bucket=10_000).items() if e >= min_est]
        ids = [r.doc_id for r in docs.collect()]
        want = {
            n: (min(members), int(n != min(members)))
            for members in _union_find(ids, pairs).values()
            for n in members
        }
        got = {
            r.doc_id: (r.canonical_id, r.is_dup)
            for r in dedup.neardup_clusters(docs, min_est=min_est).collect()
        }
        assert got == want, min_est
        assert any(v[1] for v in got.values()), min_est


def test_lsh_bucket_cap_applies_before_the_bucket_lists(spark):
    """The bucket-size window and its cap filter sit below the
    ``collect_list`` aggregate: an oversized bucket is dropped before
    its member list is built."""
    sigs = _hand_signatures(spark)
    pairs = dedup.lsh_candidate_pairs(sigs, 16, 4, max_bucket=20)
    lines = pairs._jdf.queryExecution().executedPlan().toString().splitlines()
    lists = [i for i, ln in enumerate(lines) if "collect_list" in ln]
    windows = [i for i, ln in enumerate(lines) if "Window [count(1)" in ln]
    caps = [i for i, ln in enumerate(lines) if "Filter" in ln and "<= 20" in ln]
    assert lists and windows and caps, "\n".join(lines)
    assert max(lists) < min(caps) < min(windows), "\n".join(lines)


def test_corpus_filter_spark_job_budget(spark):
    """corpus_filter over seeded docs (planted near and exact copies)
    takes at most 9 Spark jobs: one projection per document, one
    shuffle per dedup stage, the CC's driver arm on the raw edge list.
    It runs 8; a driver arm that collects a persisted symmetric
    closure instead of the raw edges makes it 10."""
    from kgspark.operators.textops import corpus_filter

    docs = _mk_docs(n=120)
    docs += [(3000 + d, t) for d, t in docs[:20]]  # exact copies
    df = spark.createDataFrame(docs, "doc_id long, text string")
    with spark_jobs(spark) as jobs:
        out = corpus_filter(df).collect()
    assert len(out) == len(docs)
    assert sum(r.is_exact_dup for r in out) == 20
    assert sum(r.is_near_dup for r in out) > 20
    assert jobs[0] <= 9, jobs[0]


def test_neardup_clusters_transitive_chain(spark):
    """A≈B and B≈C (A,C not directly similar enough to pair) must still
    collapse into ONE cluster with the min doc id canonical — the CC
    semantics that make the keep-list correct under dup chains."""
    base = [f"w{i}" for i in range(60)]
    a = " ".join(base)
    b = " ".join(["zz" if i in (5, 6, 7) else w for i, w in enumerate(base)])
    c = " ".join(["zz" if i in (5, 6, 7, 30, 31, 32) else w
                  for i, w in enumerate(base)])
    other = " ".join(f"q{i}" for i in range(60))
    docs = spark.createDataFrame(
        [(1, a), (2, b), (3, c), (9, other)], "doc_id long, text string"
    )
    out = {r.doc_id: (r.canonical_id, r.is_dup)
           for r in dedup.neardup_clusters(docs, min_est=0.5).collect()}
    assert out[1] == (1, 0)
    assert out[2] == (1, 1)
    assert out[3] == (1, 1)
    assert out[9] == (9, 0)


def test_neardup_clusters_covers_every_doc(spark):
    docs = spark.createDataFrame(_mk_docs(n=40), "doc_id long, text string")
    out = dedup.neardup_clusters(docs).collect()
    assert len(out) == docs.count()
    ids = {r.doc_id for r in out}
    canon = {r.canonical_id for r in out}
    assert canon <= ids  # canonical is always a member
    keep = [r for r in out if r.is_dup == 0]
    assert {r.canonical_id for r in out} == {r.doc_id for r in keep}


def test_simhash_neardup_matches_bruteforce(spark):
    """Byte-banded candidate generation must lose nothing vs the n²
    all-pairs check (pigeonhole guarantee for hamming <= 3)."""
    docs = spark.createDataFrame(_mk_docs(n=60), "doc_id long, text string")
    sim = {
        r.doc_id: (r.simhash_w1 << 32) | r.simhash_w0
        for r in dedup.simhash(docs).collect()
    }
    brute = {
        (a, b, bin(sim[a] ^ sim[b]).count("1"))
        for a in sim for b in sim
        if a < b and bin(sim[a] ^ sim[b]).count("1") <= 3
    }
    banded = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in dedup.simhash_neardup_pairs(docs).collect()
    }
    assert banded == brute


def test_corpus_filter_flags_and_verdict(spark):
    """Planted near-dup pair: canonical kept, dup dropped with the
    is_near_dup flag set (not some other gate); clean English doc kept."""
    from kgspark.operators.textops import corpus_filter

    words = ("the and for with over under again " + " ".join(
        f"w{i}" for i in range(43)
    )).split()
    base = " ".join(words)
    neardup = " ".join("zz" if w == "w20" else w for w in words)
    docs = spark.createDataFrame(
        [(1, base), (2, neardup), (3, "x")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in corpus_filter(docs).collect()}
    assert out[1].keep == 1 and out[1].is_near_dup == 0
    assert out[2].keep == 0 and out[2].is_near_dup == 1
    assert out[2].lang_ok == 1  # dropped for dedup, not language
    assert out[3].keep == 0 and out[3].quality_ok == 0  # too short


def test_ivf_multiprobe_recall_dominates_single_probe(spark):
    """nprobe=3 recall@10 vs exact brute force must be >= nprobe=1
    recall (more buckets can only add candidates), and the fixture must
    actually exercise a boundary query where multi-probe recovers
    neighbors nprobe=1 misses."""
    import pyspark.sql.functions as F

    from kgspark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    centroids = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    queries = emb.filter(F.col("vec_id") < 5)

    def pairs(df):
        return {(r.query_id, r.neighbor_id) for r in df.collect()}

    exact = pairs(similarity.cosine_topk(emb, queries, k=10))
    p1 = pairs(similarity.ivf_topk(emb, queries, centroids, k=10, nprobe=1))
    p3 = pairs(similarity.ivf_topk(emb, queries, centroids, k=10, nprobe=3))
    r1 = len(exact & p1) / len(exact)
    r3 = len(exact & p3) / len(exact)
    assert r3 >= r1
    assert r3 > 0.5, (r1, r3)


def test_ivf_probing_every_bucket_equals_brute_force_topk(spark):
    """With nprobe = the number of centroids every vector is a
    candidate of every query, so ivf_topk must return exactly
    cosine_topk's rows and cos bits — on a seeded table with a
    zero-norm vector, which neither ranks nor gets neighbors."""
    import numpy as np
    import pyspark.sql.functions as F

    from kgspark.operators import similarity

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(60, 12)).astype(np.float32)
    vecs[13] = 0.0
    emb = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    centroids = emb.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    queries = emb.filter((F.col("vec_id") < 8) | (F.col("vec_id") == 13))

    exact = sorted(map(tuple, similarity.cosine_topk(emb, queries, k=5).collect()))
    ivf = sorted(map(tuple, similarity.ivf_topk(
        emb, queries, centroids, k=5, nprobe=centroids.count()
    ).collect()))
    assert len(exact) == 8 * 5
    assert ivf == exact
    assert all(13 not in (q, n) for q, n, _, _ in ivf)


def test_null_and_blank_text_docs_are_not_mutual_duplicates(spark):
    """Absent-content pages (NULL or whitespace-only text) must each
    keep their own sentinel fingerprint, never collapse into one
    duplicate group."""
    docs = spark.createDataFrame(
        [(1, None), (2, None), (3, "   "), (4, "real content"), (5, "real content")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.dup_count for r in dedup.exact_dedup(docs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 2}


def test_zero_norm_embedding_never_matches(spark):
    """An all-zero vector has undefined cosine — it must not appear as
    anyone's near-duplicate or top-1 neighbor (NaN would outrank
    everything under Spark's NaN-greatest ordering)."""
    from pyspark.sql import functions as F

    from kgspark.operators import similarity

    rows = [
        (0, [0.0] * 8),
        (1, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.001, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = similarity.cosine_neardup_pairs_lsh(
        vecs, threshold=0.9, dim=8
    ).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}
    topk = similarity.cosine_topk(vecs, vecs.filter(F.col("vec_id") == 1), k=2)
    got = [(r.neighbor_id, r.rank) for r in topk.collect()]
    assert got == [(2, 1)]  # the zero vector never ranks


def test_empty_vector_table_yields_empty_pairs(spark):
    from kgspark.operators import similarity

    vecs = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert similarity.cosine_neardup_pairs_lsh(vecs, threshold=0.9, dim=8).count() == 0


def test_ngram_hub_shingle_cap_drops_boilerplate(spark):
    """The DF cap removes a shingle shared by every doc from the
    Jaccard universe, and the drop is observable via
    ngram_hub_shingles (never silent)."""
    from pyspark.sql import functions as F  # noqa: F811

    boiler = "all rights reserved forever"
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta gamma delta {boiler}"),
            (2, f"alpha beta gamma delta {boiler}"),
            (3, f"omega psi chi phi {boiler}"),
        ],
        "doc_id long, text string",
    )
    # uncapped: boilerplate shingles create spurious 3↔1/2 similarity
    uncapped = dedup.ngram_jaccard_pairs(docs, threshold=0.1, max_doc_freq=None)
    assert uncapped.filter("doc_a = 1 AND doc_b = 3").count() == 1
    # capped at df<=2: the 3-doc boilerplate shingles leave the universe
    capped = dedup.ngram_jaccard_pairs(docs, threshold=0.1, max_doc_freq=2)
    rows = {(r.doc_a, r.doc_b): r.jaccard for r in capped.collect()}
    assert (1, 3) not in rows and (2, 3) not in rows
    assert rows[(1, 2)] == 1.0  # identical docs stay perfect matches
    dropped = {
        r.shingle: r.doc_freq
        for r in dedup.ngram_hub_shingles(docs, max_doc_freq=2).collect()
    }
    assert dropped and all(v == 3 for v in dropped.values())


def test_ngram_prefix_filter_matches_bruteforce_inverted_join(spark):
    """The round-6 AllPairs/PPJoin rewrite of ngram_jaccard_pairs
    (rank-encoded k-prefix + size-ratio + k-overlap candidate filter +
    array_intersect verify) must return EXACTLY the pairs of the
    textbook shingle-inverted self-join, across thresholds and on the
    edge shapes the prunes cut closest to: tiny docs whose qualifying
    overlap is below prefix_k, identical docs, and size-ratio
    borderline pairs."""
    import itertools

    from pyspark.sql import functions as F

    from kgspark.operators.fulltext import tokenize_col

    rng = random.Random(17)
    vocab = [f"w{i}" for i in range(60)]
    docs = []
    i = 0
    # random docs of widely varying length, incl. BELOW the 3-token
    # shingle minimum and below prefix_k qualifying overlaps
    for n_tok in (3, 4, 5, 8, 20, 40):
        for _ in range(10):
            docs.append((i, " ".join(rng.choice(vocab) for _ in range(n_tok))))
            i += 1
    # identical and 1-edit pairs (jaccard 1.0 and just-below)
    base = [rng.choice(vocab) for _ in range(12)]
    docs.append((900, " ".join(base)))
    docs.append((901, " ".join(base)))
    edited = list(base)
    edited[5] = "zz"
    docs.append((902, " ".join(edited)))
    sdf = spark.createDataFrame(docs, "doc_id long, text string")

    def brute(threshold, max_doc_freq):
        sh = (
            sdf.withColumn("toks", tokenize_col(F.col("text")))
            .select(
                "doc_id",
                F.explode(dedup.word_shingles_col(F.col("toks"), 3)).alias("s"),
            )
        )
        if max_doc_freq is not None:
            kept = (
                sh.groupBy("s").agg(F.count("*").alias("df"))
                .filter(F.col("df") <= max_doc_freq).select("s")
            )
            sh = sh.join(kept, "s")
        rows = sh.collect()
        by_doc: dict = {}
        for r in rows:
            by_doc.setdefault(r.doc_id, set()).add(r.s)
        out = set()
        for a, b in itertools.combinations(sorted(by_doc), 2):
            inter = len(by_doc[a] & by_doc[b])
            if inter == 0:
                continue
            j = round(inter / (len(by_doc[a]) + len(by_doc[b]) - inter), 6)
            if j >= threshold:
                out.add((a, b, j))
        return out

    for threshold, cap in ((0.5, None), (0.5, 3), (0.8, None), (0.3, None)):
        got = {
            (r.doc_a, r.doc_b, r.jaccard)
            for r in dedup.ngram_jaccard_pairs(
                sdf, threshold=threshold, max_doc_freq=cap
            ).collect()
        }
        assert got == brute(threshold, cap), (threshold, cap)
