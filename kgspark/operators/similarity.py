"""Embedding similarity search (training-data pipeline operators).

Over an embeddings table ``(vec_id, embedding: array<float>, ...)``:
brute-force cosine top-k (``cosine_topk``), its IVF-bucketed scale path
(``ivf_topk``), and hyperplane-LSH near-duplicate pairs
(``cosine_neardup_pairs_lsh``).

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
- IVF: one centroid ranker (``_top_centroids``, a broadcast join cut
  at top-n) assigns every vector to its nearest centroid (n = 1) and
  gives every query its ``nprobe`` nearest; the search scores only
  the probed buckets — the standard recall/cost trade, with
  deterministic assignment.
- LSH near-dups: one scorer (``_scored_pairs``), a lossless
  prefix-bound cascade over the candidate pairs; at thresholds where
  the bound cannot reject, its prefix is the whole vector.
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
    addition order are identical — which is what lets the LSH scorer
    (``_scored_pairs``) split the dot at any prefix without changing a
    single output bit. Over empty arrays the fold returns ``init``
    unchanged, so a prefix that covers the whole vector is the plain
    single fold."""
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


# First-tier prefix length of the lossless LSH scorer (_scored_pairs)
# at tight thresholds. 16 is near-optimal on both measured
# candidate streams (survivor rate collapses to ≈ the qualifying rate
# by 16 dims; halving to 8 admits ~15× more survivors, doubling to 32
# doubles the always-paid tier-1 cost for no extra rejection) and is
# safe for any dim: with dim <= 16 the hi slice is empty, hi_ns = 0,
# and the bound degenerates to the exact filter.
_CASCADE_PREFIX = 16

# The 16-dim prefix is used only at thresholds where its bound can
# reject (below, the scorer's prefix is the whole vector): for a pair
# with lo/hi energy fractions f/(1−f), the bound's minimum over all
# pair geometries is (1 − 2f)·‖a‖‖b‖ (lo parts fully anti-aligned, hi
# norms intact), so with the 16-of-64 prefix (f ≈ ¼, min ≈ 0.5) a
# threshold at or below ~0.5 can never be undercut and tier 1 would be
# pure per-pair overhead — measured: at t=0.35 the 16-dim prefix ran
# AT whole-vector cost + tier-1 (~+8%), at t=0.95 it ran 2.5× FASTER.
# 0.85 is conservative: rejection only becomes broad once t − (1 − 2f)
# clears the bulk of the candidate cosine mass.
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
    *,
    dim: int,
    n_planes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs via hyperplane-LSH bucketing + exact in-bucket cosine.

    The scale path: candidates are (a < b) pairs sharing ≥1 signature
    band (per-bucket self-join), then the exact cosine ≥ threshold
    filter runs only inside buckets. Output ⊆ the exact all-pairs set;
    recall is tunable via (n_planes, bands) — with cos ≥ 0.95
    (θ ≈ 18°, bit-agreement p ≈ 0.9) and 4 bands × 4 bits,
    P(miss) = (1 - p⁴)^4 ≈ 2·10⁻⁴. ``dim`` (the vector width) sizes
    the hyperplanes; the caller knows it, so building the plan runs no
    Spark job. An empty table has an empty band plan and no pairs.
    """
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
    # Below _CASCADE_MIN_THRESHOLD the prefix bound cannot reject, so the
    # "prefix" is the whole vector: tier 1 is then the full-width dot
    # and the bound is the exact raw-cosine compare.
    prefix = _CASCADE_PREFIX if float(threshold) >= _CASCADE_MIN_THRESHOLD else dim
    return _scored_pairs(cand, vectors, threshold, prefix, id_col, vec_col)


def _scored_pairs(
    cand: DataFrame,
    vectors: DataFrame,
    threshold: float,
    prefix: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Exact cosine ≥ threshold over LSH candidate occurrences, scored
    through a lossless prefix-bound cascade.

    Tier 1 pays only a ``prefix``-dim dot per candidate occurrence;
    Cauchy–Schwarz gives a LOSSLESS upper bound on the full dot,

        dot(a,b) <= dot(a_lo,b_lo) + ||a_hi||·||b_hi||,

    so ``dot_lo + sqrt(a_hi_ns·b_hi_ns) >= (t − 2e-6)·sqrt(aa·bb)`` can
    only REJECT pairs the exact filter would reject anyway: a kept pair
    has round(raw, 6) >= t, hence raw >= t − 5e-7, hence real-bound >=
    real-cos >= t − 5e-7 − fp_err, and the bound margin (2e-6) exceeds
    that slack by seven orders (the fp error of 64-term double sums is
    ~1e-13·‖a‖‖b‖, and both sides scale with ‖a‖‖b‖, so the argument is
    norm-invariant). Only bound survivors — measured ≈ the qualifying
    rate itself at t=0.95 with prefix 16: 0.0% of 515k candidates at
    sf0.1, 0.56% of 51.8M on an sf1-scale set — pay the rest of the
    dot. Tier 2 resumes the SAME left fold from the tier-1 accumulator
    (dot_col(hi, hi, init=dot_lo)), so raw — and cos — is bit-identical
    to the single-fold form at every prefix. At prefix >= dim the hi
    slices are empty, hi_ns = 0, tier 2 returns dot_lo unchanged, and
    the bound is the exact raw-cosine compare with a 2e-6 margin: one
    full-width dot per occurrence.

    Per-pair scoring, four deliberate choices (each A/B'd at sf1.0,
    51.5M candidate occurrences):
    1. The HOF dot (dot_col), NOT an unrolled add-chain (NOTE above
       _CASCADE_*: in this join+filter+aggregate stage the 64-term
       chain ran ~7× slower, 104 s vs 15 s).
    2. round() is kept OUT of the per-pair hot path: Spark's round on
       doubles goes through BigDecimal.valueOf → Double.toString
       (caught on the thread dump at multiple core-μs per call), so it
       runs only on bound survivors, and the exact round(…) ≥ t filter
       keeps the output set bit-identical.
    3. Dedup via groupBy + first(), NOT .distinct(): cos is a function
       of the pair, so first() over an all-identical group equals
       distinct(), while keeping the aggregate keys to two longs
       (distinct() would make the round(dot…) chain a group key,
       re-evaluated in the aggregate's hash/equality code — measured
       105 s vs 5.8 s for the dedup stage).
    4. The bound is the `when` condition guarding raw, not a separate
       .filter(): chained filters are collapsed into one And whose
       conjunct order the optimizer chooses — measured, the bound
       conjunct was appended LAST, after the full dot, making it pure
       overhead (17.5 s vs 16 s whole-vector at 51.8M candidate
       occurrences). CaseWhen evaluates its condition first and its
       value lazily, and a single comparison cannot be split, so the
       cascade order survives optimization (interleaved A/B at 51.8M
       occurrences: whole-vector 19.1–22.9 s, prefix 16 7.8–9.5 s ≈ the
       tier-1-only floor).
    """
    # Per-vector squared norms (full and hi slice) computed ONCE (|V|
    # rows) and broadcast-joined onto the candidate occurrences: the
    # pair stage evaluates a single a·b dot instead of three — the
    # dominant cost, since LSH at a loose threshold admits ~50× more
    # candidates than survivors. norm_sq (not norm) is stored so
    # sqrt(aa·bb) reproduces cosine_col's exact float arithmetic
    # bit-for-bit.
    vd = (
        vectors.select(
            F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
        )
        .withColumn("norm_sq", dot_col(F.col("v"), F.col("v")))
        .withColumn("v_lo", F.slice(F.col("v"), 1, prefix))
        .withColumn(
            "v_hi",
            F.slice(
                F.col("v"),
                F.lit(prefix + 1),
                F.greatest(F.size("v") - prefix, F.lit(0)),
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


def _top_centroids(
    vectors: DataFrame,
    centroids: DataFrame,
    n: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(id, centroid_id, vec, ns): each vector's ``n`` nearest centroids
    by cosine, ranked by (cos DESC, centroid_id ASC) — the tie-break
    makes the buckets deterministic. Centroids broadcast. n = 1 is the
    IVF bucket assignment, n = nprobe a query's probe set. The double
    vector and its squared norm (``vec``, ``ns``), computed once for the
    ranking, ride along so the confirm join scores with a single dot
    per pair."""
    c = _with_norm_sq(
        centroids.select(F.col("centroid_id"), F.col(vec_col).alias("c_raw")),
        "c_raw", "c_vec", "c_ns",
    ).drop("c_raw")
    scored = _with_norm_sq(
        vectors.select(F.col(id_col).alias("id"), F.col(vec_col).alias("raw")),
        "raw", "vec", "ns",
    ).join(F.broadcast(c)).withColumn(
        "cos",
        prenorm_cosine_col(F.col("vec"), F.col("ns"), F.col("c_vec"), F.col("c_ns")),
    )
    w = Window.partitionBy("id").orderBy(F.desc("cos"), F.asc("centroid_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n)
        .select("id", "centroid_id", "vec", "ns")
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
    per-query top-k). ``centroids`` is ``(centroid_id, vec_col)``."""
    assigned = _top_centroids(vectors, centroids, 1, id_col, vec_col).toDF(
        "neighbor_id", "centroid_id", "v_vec", "v_ns"
    )
    q_assigned = _top_centroids(queries, centroids, nprobe, id_col, vec_col).toDF(
        "query_id", "centroid_id", "q_vec", "q_ns"
    )
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
