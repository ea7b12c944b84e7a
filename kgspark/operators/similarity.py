"""Embedding similarity search (training-data pipeline operators).

Brute-force cosine top-k as the correctness baseline, and an
IVF-bucketed variant as the scale path, over an embeddings table
``(vec_id, embedding: array<float>, ...)``.

All arithmetic is native Column expressions in double precision
(``zip_with`` + ``aggregate``), whole-stage codegen'd — no Python in
the hot path. cosine(a,b) = dot(a,b) / sqrt(dot(a,a)·dot(b,b)), the
formula the DuckDB oracle mirrors term-for-term.

Plan-build rule: one JVM call per expression family, never per
element. The hyperplane family (planes × dim weights, one dot and one
bit per plane, one struct per band) is sent as a single SQL expression
(``dot_sql``); built from ``F.lit`` per weight it made ~33k py4j round
trips at dim 384, more driver time than the query's execution
(kgspark/functions/sqltext.py).

Scale notes:
- brute force is O(n·q): fine when the query set is broadcast-small.
- IVF: assign vectors to their nearest of K centroids once (one
  broadcast join), then search only the probe's centroid bucket —
  the standard recall/cost trade; bucket assignment is deterministic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kgspark.functions.sqltext import double_lit
from kgspark.runtime import materialize, spread


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot_col(a: Column, b: Column, init: Column | None = None) -> Column:
    """Left-fold dot product: ((init + a0·b0) + a1·b1) + …

    ``init`` (default 0.0) seeds the fold, so
    ``dot_col(a_hi, b_hi, init=dot_col(a_lo, b_lo))`` reproduces the
    full fold over lo++hi BIT-FOR-BIT — the element products and the
    addition order are identical — which is what lets the prefix-bound
    cascade in ``cosine_neardup_pairs_lsh`` split the dot without
    changing a single output bit."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0) if init is None else init,
        lambda acc, x: acc + x,
    )


def dot_sql(a: str, b: str) -> str:
    """SQL text of ``dot_col(a, b)`` over two SQL array expressions:
    the same zip_with product and 0.0-seeded left fold."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, "
        "(acc, x) -> acc + x)"
    )


# First-tier prefix length of the lossless scoring cascade in
# cosine_neardup_pairs_lsh. 16 is near-optimal on both measured
# candidate streams (survivor rate collapses to ≈ the qualifying rate
# by 16 dims; halving to 8 admits ~15× more survivors, doubling to 32
# doubles the always-paid tier-1 cost for no extra rejection) and is
# safe for any dim: with dim <= 16 the hi slice is empty, hi_ns = 0,
# and the bound degenerates to the exact filter.
_CASCADE_PREFIX = 16

# The cascade only engages at thresholds where the prefix bound can
# reject: for a pair with lo/hi energy fractions f/(1−f), the bound's
# minimum over all pair geometries is (1 − 2f)·‖a‖‖b‖ (lo parts fully
# anti-aligned, hi norms intact), so with the 16-of-64 prefix (f ≈ ¼,
# min ≈ 0.5) a threshold at or below ~0.5 can never be undercut and
# tier 1 would be pure per-pair overhead — measured: at t=0.35 the
# cascade build ran AT old cost + tier-1 (~+8%), at t=0.95 it ran 2.5×
# FASTER. 0.85 is conservative: rejection only becomes broad once
# t − (1 − 2f) clears the bulk of the candidate cosine mass.
_CASCADE_MIN_THRESHOLD = 0.85

# NOTE (round 6 A/B, kept so it is not re-tried): an UNROLLED add-chain
# dot — (((0.0 + a[0]·b[0]) + a[1]·b[1]) + … — is bit-identical to the
# HOF fold and whole-stage codegens, and it looked like the obvious win
# over the CodegenFallback HOF. Measured at sf1.0 it is a trap: the
# 64-term chain inflates the generated method past what C2 compiles
# promptly, every re-built plan re-generates a distinct class (fresh
# JIT each bench iteration), and in join+aggregate stage shapes the
# stage ran up to 7× SLOWER than the HOF form (104 s vs 15 s on the
# LSH pair stage; 12.5 s vs 2.0 s on IVF assign). The compact HOF call
# keeps every generated class small and predictable — it stays.


def cosine_col(a: Column, b: Column) -> Column:
    """Cosine similarity, NULL when either vector has zero norm.

    The guard matters: 0/0 yields NaN, and Spark orders NaN ABOVE every
    number and passes it through ``>= threshold`` filters — one all-zero
    embedding (padding, failed encode) would otherwise rank as the
    top-1 neighbor of every query and a "near-duplicate" of everything.
    NULL instead drops out of filters and sorts last under desc.
    """
    a, b = _as_double(a), _as_double(b)
    # nullif, not when(denom > 0, ...): the when-form would evaluate the
    # two norm dots twice per pair (condition + value — the HOF
    # aggregates don't CSE), measured ~1.8× on the pair-scoring stage;
    # dividing by NULL null-propagates with a single evaluation
    denom = F.nullif(F.sqrt(dot_col(a, a) * dot_col(b, b)), F.lit(0.0))
    return dot_col(a, b) / denom


def prenorm_cosine_col(a_vec, a_norm_sq, b_vec, b_norm_sq) -> Column:
    """cosine from per-side precomputed SQUARED norms — one dot per
    pair instead of three. sqrt(aa·bb) reproduces ``cosine_col``'s
    exact float arithmetic bit-for-bit (that is why norm_sq, not norm,
    is carried); same NULL-on-zero-norm guard. Use whenever one side of
    a scoring join is reused across many pairs (top-k, IVF, LSH
    confirm) — the 06b91eb A/B measured ~2× on ann_cosine_topk and
    ~2.3× on the LSH confirm stage."""
    return dot_col(a_vec, b_vec) / F.nullif(
        F.sqrt(a_norm_sq * b_norm_sq), F.lit(0.0)
    )


def _with_norm_sq(df: DataFrame, vec_in: str, vec_out: str, ns_out: str) -> DataFrame:
    """Project ``vec_in`` to a double vector + its squared norm."""
    d = df.withColumn(vec_out, _as_double(F.col(vec_in)))
    return d.withColumn(ns_out, dot_col(F.col(vec_out), F.col(vec_out)))


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
) -> DataFrame:
    """For every query vector: top-k nearest by cosine (self excluded).

    ``queries`` must be broadcast-small; the join is a broadcast
    nested-loop over the (distributed) vector table. Squared norms are
    computed once per side (|Q| + |V| rows) so the |Q|·|V| pair stage
    evaluates a single dot product per pair.
    """
    q = _with_norm_sq(
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("q_raw")
        ),
        "q_raw", "q_vec", "q_ns",
    ).drop("q_raw")
    v = _with_norm_sq(
        vectors.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("v_raw")
        ),
        "v_raw", "v_vec", "v_ns",
    ).drop("v_raw")
    scored = (
        v.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cos",
            prenorm_cosine_col(
                F.col("q_vec"), F.col("q_ns"), F.col("v_vec"), F.col("v_ns")
            ),
        )
        # undefined similarity (zero-norm vector) is not a neighbor
        .filter(F.col("cos").isNotNull())
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cos", 6).alias("cos"), "rank")
    )


def cosine_neardup_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All (a < b) pairs with cosine ≥ threshold — the EXACT baseline.

    O(n²) BroadcastNestedLoopJoin: correctness ground truth for tests
    only. The scale path is ``cosine_neardup_pairs_lsh``.
    """
    a = vectors.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = vectors.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos", F.round(cosine_col(F.col("va"), F.col("vb")), 6))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def hyperplane_weights(n_planes: int, dim: int) -> list[list[float]]:
    """±1 random-hyperplane components seeded from md5("plane|dim") —
    deterministic and engine-independent, so the DuckDB oracle embeds
    the exact same constants."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{p}|{d}".encode()).hexdigest()[:8], 16) % 2 == 0
            else -1.0
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def hyperplane_signature_bands(
    vectors: DataFrame,
    dim: int,
    n_planes: int = 16,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, band, band_sig): sign-LSH signature split into bands.

    bit_p = [dot(v, hyperplane_p) >= 0]; band signature = the band's
    bit-string. Vectors at angle θ agree on a bit with p = 1 - θ/π, so
    near-duplicates collide in ≥1 band with high probability while the
    bucket join stays Σ bucket², never n².
    """
    assert bands > 0 and n_planes % bands == 0, (
        f"bands ({bands}) must divide n_planes ({n_planes}); a remainder "
        "silently drops trailing bits, and bands > n_planes degenerates "
        "to one global bucket"
    )
    planes = hyperplane_weights(n_planes, dim)
    rows = n_planes // bands
    v = vectors.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
    )
    # NOTE: the whole family is ONE SQL expression (module docstring).
    # Each dot stays the compact HOF fold: expanding the ±1 dots into
    # explicit getItem add-chains was tried and is ~2× SLOWER — 16
    # planes × 64 terms exceeds the codegen method-size limit and the
    # whole projection falls back to interpreted mode.
    weights = ["array(" + ", ".join(map(double_lit, w)) + ")" for w in planes]
    bits = [f"CASE WHEN {dot_sql('v', w)} >= 0 THEN '1' ELSE '0' END" for w in weights]
    # explode-banding: every dot product is evaluated once per vector in
    # a single pass; a union-of-selects would re-scan (and under a
    # self-join re-dot) the vector table once per band
    bb = ", ".join(
        f"named_struct('band', {b}, "
        f"'band_sig', concat({', '.join(bits[b * rows : (b + 1) * rows])}))"
        for b in range(bands)
    )
    return v.selectExpr("id", f"explode(array({bb})) AS bb").selectExpr(
        "id", "bb.band AS band", "bb.band_sig AS band_sig"
    )


def cosine_neardup_pairs_lsh(
    vectors: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    n_planes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs via hyperplane-LSH bucketing + exact in-bucket cosine.

    The scale path: candidates are (a < b) pairs sharing ≥1 signature
    band (per-bucket self-join), then the exact cosine ≥ threshold
    filter runs only inside buckets. Output ⊆ the exact baseline;
    recall is tunable via (n_planes, bands) — with cos ≥ 0.95
    (θ ≈ 18°, bit-agreement p ≈ 0.9) and 4 bands × 4 bits,
    P(miss) = (1 - p⁴)^4 ≈ 2·10⁻⁴.
    """
    if dim is None:
        probe = vectors.select(vec_col).first()
        if probe is None:  # empty input → empty pair set, not a crash
            return vectors.select(
                F.col(id_col).alias("id_a"),
                F.col(id_col).alias("id_b"),
                F.lit(0.0).alias("cos"),
            ).limit(0)
        dim = len(probe[0])
    # materialized once: the banded signature table feeds both sides of
    # the self-join (the production pipeline writes it out; in-session
    # the checkpoint is that table boundary). spread() so the probe
    # side of the broadcast self-join is not one coalesced partition —
    # the join's multi-10⁷-row fan-out inherits this parallelism
    # (runtime.spread docstring).
    banded = materialize(spread(hyperplane_signature_bands(
        vectors, dim, n_planes, bands, id_col, vec_col
    ), "id"))
    # Candidate OCCURRENCES (one row per shared band, duplicates kept):
    # scoring runs before the dedup so the only wide shuffle of the old
    # plan — Exchange + distinct over tens of millions of candidate
    # pairs — collapses to a distinct over the threshold SURVIVORS.
    # Dedup-after-filter is exact: cos is a function of the pair, so
    # every duplicate occurrence carries the identical (id_a, id_b,
    # cos) row and distinct returns the same set the old
    # distinct-then-score produced. The extra cost (scoring duplicate
    # occurrences, ≤ bands× and ~1.1× measured) is paid in a
    # no-shuffle stage.
    cand = (
        banded.alias("l")
        .join(
            banded.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_sig") == F.col("r.band_sig"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
    )
    # Per-vector squared norms computed ONCE (|V| rows) and
    # broadcast-joined onto the candidate occurrences: the pair stage
    # evaluates a single a·b dot instead of three — the dominant cost,
    # since LSH at a loose threshold admits ~50× more candidates than
    # survivors. norm_sq (not norm) is stored so sqrt(aa·bb) reproduces
    # cosine_col's exact float arithmetic bit-for-bit.
    if float(threshold) >= _CASCADE_MIN_THRESHOLD:
        return _scored_pairs_cascade(cand, vectors, threshold, id_col, vec_col)
    return _scored_pairs_direct(cand, vectors, threshold, id_col, vec_col)


def _scored_pairs_direct(
    cand: DataFrame,
    vectors: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Exact per-occurrence scoring of LSH candidate pairs — the
    loose-threshold path (see _CASCADE_MIN_THRESHOLD), one full-width
    dot per candidate occurrence."""
    vd = vectors.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
    ).withColumn("norm_sq", dot_col(F.col("v"), F.col("v")))
    va = vd.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("norm_sq").alias("aa")
    )
    vb = vd.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("norm_sq").alias("bb")
    )
    # Per-pair scoring, three deliberate choices (each A/B'd at sf1.0,
    # 51.5M candidate occurrences):
    # 1. The HOF dot (dot_col), NOT an unrolled add-chain: inside this
    #    join+filter+aggregate stage the 64-term unrolled chain makes
    #    C2 bail on the generated method and the whole stage runs ~7×
    #    slower (104 s vs 15 s measured) — the compact HOF call keeps
    #    the generated class JIT-able.
    # 2. round() is kept OUT of the per-pair hot path: Spark's round on
    #    doubles goes through BigDecimal.valueOf → Double.toString
    #    (caught on the thread dump at multiple core-μs per call), so
    #    the join-side filter uses the RAW cosine with a conservative
    #    margin — round-half-up at 6 decimals moves a value by < 5e-7,
    #    so every pair whose ROUNDED cos ≥ t has raw ≥ t - 1e-6 — and
    #    the exact round(…) ≥ t filter runs only on the ~0.5% margin
    #    survivors, keeping the output set bit-identical.
    # 3. Dedup via groupBy + first(), NOT .distinct(): cos is a
    #    function of the pair, so first() over an all-identical group
    #    equals distinct(), while keeping the aggregate keys to two
    #    longs (distinct() would make the round(dot…) chain a group
    #    key, re-evaluated in the aggregate's hash/equality code —
    #    measured 105 s vs 5.8 s for the dedup stage).
    raw = dot_col(F.col("va"), F.col("vb")) / F.nullif(
        F.sqrt(F.col("aa") * F.col("bb")), F.lit(0.0)
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .filter(raw >= F.lit(float(threshold) - 1e-6))
        .withColumn("cos", F.round(raw, 6))
        .filter(F.col("cos") >= threshold)
        .groupBy("id_a", "id_b")
        .agg(F.first("cos").alias("cos"))
        .select("id_a", "id_b", "cos")
    )


def _scored_pairs_cascade(
    cand: DataFrame,
    vectors: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Prefix-bound cascade scoring of LSH candidate pairs (round 6) —
    the tight-threshold path.

    Tier 1 pays only a 16-dim prefix dot per candidate occurrence;
    Cauchy–Schwarz gives a LOSSLESS upper bound on the full dot,

        dot(a,b) <= dot(a_lo,b_lo) + ||a_hi||·||b_hi||,

    so ``dot_lo + sqrt(a_hi_ns·b_hi_ns) >= (t − 2e-6)·sqrt(aa·bb)`` can
    only REJECT pairs the exact filter would reject anyway: a kept pair
    has round(raw, 6) >= t, hence raw >= t − 5e-7, hence real-bound >=
    real-cos >= t − 5e-7 − fp_err, and the bound margin (2e-6) exceeds
    that slack by seven orders (the fp error of 64-term double sums is
    ~1e-13·‖a‖‖b‖, and both sides scale with ‖a‖‖b‖, so the argument is
    norm-invariant). Only bound survivors — measured ≈ the qualifying
    rate itself at t=0.95: 0.0% of 515k candidates at sf0.1, 0.56% of
    51.8M on an sf1-scale set — pay the full-width dot. Tier 2 resumes
    the SAME left fold from the tier-1 accumulator (dot_col(hi, hi,
    init=dot_lo)), so raw — and cos — is bit-identical to the
    single-fold form, and the guarded filter selects exactly the
    direct path's set: {round(raw,6) >= t} is contained in both
    {bound passes} and {raw >= t − 1e-6}, so gating on the former and
    dropping the latter changes nothing.

    The bound MUST be the `when` condition guarding raw, not a separate
    .filter(): chained filters are collapsed into one And whose
    conjunct order the optimizer chooses — measured, the bound conjunct
    was appended LAST, after the full dot, making it pure overhead
    (17.5 s vs 16 s direct at 51.8M candidate occurrences). CaseWhen
    evaluates its condition first and its value lazily, and a single
    comparison cannot be split, so the cascade order survives
    optimization (interleaved A/B at 51.8M occurrences: direct
    19.1–22.9 s, cascade 7.8–9.5 s ≈ the tier-1-only floor). round()
    runs only on bound survivors, so it stays off the per-pair hot
    path exactly as in the direct form.
    """
    p = _CASCADE_PREFIX
    vd = (
        vectors.select(
            F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
        )
        .withColumn("norm_sq", dot_col(F.col("v"), F.col("v")))
        .withColumn("v_lo", F.slice(F.col("v"), 1, p))
        .withColumn(
            "v_hi",
            F.slice(
                F.col("v"), F.lit(p + 1), F.greatest(F.size("v") - p, F.lit(0))
            ),
        )
        .withColumn("hi_ns", dot_col(F.col("v_hi"), F.col("v_hi")))
        .drop("v")
    )
    va = vd.select(
        F.col("id").alias("id_a"),
        F.col("v_lo").alias("va_lo"),
        F.col("v_hi").alias("va_hi"),
        F.col("norm_sq").alias("aa"),
        F.col("hi_ns").alias("a_hi_ns"),
    )
    vb = vd.select(
        F.col("id").alias("id_b"),
        F.col("v_lo").alias("vb_lo"),
        F.col("v_hi").alias("vb_hi"),
        F.col("norm_sq").alias("bb"),
        F.col("hi_ns").alias("b_hi_ns"),
    )
    dot_lo = dot_col(F.col("va_lo"), F.col("vb_lo"))
    denom = F.sqrt(F.col("aa") * F.col("bb"))
    raw = dot_col(F.col("va_hi"), F.col("vb_hi"), init=dot_lo) / F.nullif(
        denom, F.lit(0.0)
    )
    bound_ok = (
        dot_lo + F.sqrt(F.col("a_hi_ns") * F.col("b_hi_ns"))
        >= F.lit(float(threshold) - 2e-6) * denom
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cos", F.round(F.when(bound_ok, raw), 6))
        .filter(F.col("cos") >= threshold)
        .groupBy("id_a", "id_b")
        .agg(F.first("cos").alias("cos"))
        .select("id_a", "id_b", "cos")
    )


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    carry_norms: bool = False,
) -> DataFrame:
    """Assign each vector to its nearest centroid by cosine
    (deterministic tie-break on centroid id). Centroids broadcast.

    ``carry_norms=True`` additionally returns the double-cast vector and
    its squared norm (``v_vec``, ``v_ns``) that assignment already
    computed, so a downstream scoring stage (ivf_topk's confirm join)
    does not recompute them per row."""
    c = _with_norm_sq(
        centroids.select(
            F.col(centroid_id_col).alias("centroid_id"), F.col(vec_col).alias("c_raw")
        ),
        "c_raw", "c_vec", "c_ns",
    ).drop("c_raw")
    scored = _with_norm_sq(
        vectors.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v_raw")),
        "v_raw", "v_vec", "v_ns",
    ).join(F.broadcast(c)).withColumn(
        "cos",
        prenorm_cosine_col(
            F.col("v_vec"), F.col("v_ns"), F.col("c_vec"), F.col("c_ns")
        ),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("centroid_id"))
    picked = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    cols = ["vec_id", "centroid_id", F.col("v_raw").alias("embedding")]
    if carry_norms:
        cols += [F.col("v_vec"), F.col("v_ns")]
    return picked.select(*cols)


def ivf_probe_assign(
    queries: DataFrame,
    centroids: DataFrame,
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """(query_id, centroid_id, q_vec, q_ns): each query's top-``nprobe``
    centroid buckets (deterministic tie-break on centroid id) — the
    standard IVF recall knob (probe more buckets, miss fewer true
    neighbors near Voronoi boundaries). ``q_vec``/``q_ns`` ride along
    (double vector + squared norm) so the confirm stage scores with a
    single dot per pair."""
    c = _with_norm_sq(
        centroids.select(
            F.col(centroid_id_col).alias("centroid_id"), F.col(vec_col).alias("c_raw")
        ),
        "c_raw", "c_vec", "c_ns",
    ).drop("c_raw")
    scored = _with_norm_sq(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_raw")),
        "q_raw", "q_vec", "q_ns",
    ).join(F.broadcast(c)).withColumn(
        "cos",
        prenorm_cosine_col(
            F.col("q_vec"), F.col("q_ns"), F.col("c_vec"), F.col("c_ns")
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("centroid_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "centroid_id", "q_vec", "q_ns")
    )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """ANN top-k searching the query's ``nprobe`` nearest centroid
    buckets (a neighbor lives in exactly one bucket, so multi-probe
    needs no dedup — just a wider probe join feeding the same global
    per-query top-k)."""
    assigned = ivf_assign(
        vectors, centroids, id_col, vec_col, carry_norms=True
    ).withColumnRenamed("vec_id", "neighbor_id")
    q_assigned = ivf_probe_assign(queries, centroids, nprobe, id_col, vec_col)
    scored = (
        assigned.join(F.broadcast(q_assigned), "centroid_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cos",
            prenorm_cosine_col(
                F.col("q_vec"), F.col("q_ns"), F.col("v_vec"), F.col("v_ns")
            ),
        )
        # undefined similarity (zero-norm vector) is not a neighbor
        .filter(F.col("cos").isNotNull())
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cos", 6).alias("cos"), "rank")
    )
