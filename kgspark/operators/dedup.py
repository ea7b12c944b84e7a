"""Document deduplication suite (training-data pipeline operators).

Exact, MinHash+LSH, SimHash and n-gram-Jaccard dedup over a documents
table ``(doc_id, text, ...)``. The reference repo's dedup analog is
entity/triple MERGE semantics (SURVEY.md §2 C1-C5); these operators are
the web-scale generalization a Common-Crawl KG pipeline needs upstream
of extraction.

Scale design:
- Exact dedup: hash-groupBy on a 128-bit content fingerprint — one
  shuffle on uniformly-distributed keys.
- MinHash/LSH: shingle→minhash signatures via a single explode +
  groupBy with k algebraic min aggregates (map-side partial agg), then
  band-bucket self-join — candidate pairs only, never the full n².
- SimHash: 32 algebraic sum aggregates over exploded tokens, then
  bucket join on the hash for near-dup candidates.
- All hashing is md5 hex (identical in Spark, DuckDB and Python;
  engine-private hashes disagree) so the DuckDB oracle can reproduce
  signatures bit-for-bit.

Plan-build rule: one JVM call per expression family, never per
element. The width-parameterized families — minhash aggregates and
band structs, simhash sums, signature folds, byte bands and Hamming
sum, the estimate's slot matches — are each sent as one SQL expression
(kgspark/functions/sqltext.py). Built per element through the Column
API, ``simhash_neardup_pairs`` alone made ~12.9k py4j round trips.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kgspark.functions.sqltext import double_lit
from kgspark.runtime import materialize, spread

from kgspark.operators.fulltext import tokenize_col


def normalize_text_col(col: Column) -> Column:
    """Whitespace-collapsed, lowercased, trimmed content key."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def fingerprint_col(text: Column, doc_ref: Column) -> Column:
    """Content fingerprint: md5 of the normalized text, with NULL or
    whitespace-only content falling back to a per-document sentinel
    ('doc#<id>' — can never collide with an md5 hex string).

    Without the fallback every absent-content page (html-only rows,
    blank extractions — common at web scale) would share one NULL/empty
    fingerprint and be reported as mutual exact duplicates.
    """
    norm = F.nullif(normalize_text_col(text), F.lit(""))
    return F.coalesce(
        F.md5(norm.cast("binary")),
        F.concat(F.lit("doc#"), doc_ref.cast("string")),
    )


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the min-id representative per identical normalized text.

    Returns (doc_id, fingerprint, dup_count). Grouping key is the md5
    fingerprint, not the text itself, so shuffle rows stay small.
    """
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            fingerprint_col(F.col(text_col), F.col(id_col)).alias("fingerprint"),
        )
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count("*").alias("dup_count"),
        )
        .select("doc_id", "fingerprint", "dup_count")
    )


def word_shingles_col(toks: Column, n: int = 3) -> Column:
    """Space-joined word n-gram shingles (distinct), [] if < n tokens.

    ``toks`` MUST be a materialized token-array *column reference* (not
    an inline tokenize expression): Catalyst does not CSE expressions
    referenced inside higher-order-function lambdas, so an inline
    tokenizer would be re-evaluated per element — O(len²) regex work.
    """
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)]
        ),
    )
    return F.when(F.size(toks) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def _shingled(docs: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(doc_id, shingle) exploded stream with tokens materialized once."""
    return (
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
        .withColumn("toks", tokenize_col(F.col("text")))
        .select("doc_id", F.explode(word_shingles_col(F.col("toks"), n)).alias("shingle"))
    )


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """(doc_id, mh_0..mh_{k-1}) — min over shingles of the j-th hash.

    One explode + one groupBy with k algebraic mins: partial aggregation
    keeps the shuffle at k longs per doc regardless of doc length.
    """
    shingled = _shingled(docs, id_col, text_col, shingle_n)
    # one md5 digest yields four 32-bit hash-family members; min is taken
    # over the fixed-width hex substring (lexicographic == numeric order),
    # so the hex→long conversion runs once per group, not per shingle
    n_digests = (num_hashes + 3) // 4
    digests = shingled.selectExpr(
        "doc_id",
        *[f"md5(concat('{b}|', shingle)) AS d{b}" for b in range(n_digests)],
    )
    return digests.groupBy("doc_id").agg(*[
        F.expr(
            f"CAST(conv(min(substring(d{j // 4}, {1 + 8 * (j % 4)}, 8)), 16, 10) "
            f"AS BIGINT) AS mh_{j}"
        )
        for j in range(num_hashes)
    ])


def lsh_banded(signatures: DataFrame, num_hashes: int = 16, bands: int = 4) -> DataFrame:
    """(doc_id, band, band_sig) — signatures split into LSH bands.

    Explode-banding: one (band, band_sig) struct array per signature
    row, so the signature subtree is scanned once — a union-of-selects
    would recompute it per band (and per consumer under a self-join).
    """
    assert bands > 0 and num_hashes % bands == 0, (
        f"bands ({bands}) must divide num_hashes ({num_hashes}); a "
        "remainder silently drops trailing hashes from banding (lower "
        "recall than configured), and bands > num_hashes gives empty "
        "band signatures — one global n² bucket"
    )
    rows = num_hashes // bands
    bb = ", ".join(
        f"named_struct('band', {b}, 'band_sig', concat_ws('_', "
        + ", ".join(f"CAST(mh_{b * rows + r} AS STRING)" for r in range(rows))
        + "))"
        for b in range(bands)
    )
    return signatures.selectExpr("doc_id", f"explode(array({bb})) AS bb").selectExpr(
        "doc_id", "bb.band AS band", "bb.band_sig AS band_sig"
    )


def lsh_oversized_buckets(
    banded: DataFrame, max_bucket: int
) -> DataFrame:
    """(band, band_sig, bucket_size) for buckets above the cap — the
    observable drop log that pairs with ``max_bucket`` skipping."""
    return (
        banded.groupBy("band", "band_sig")
        .agg(F.count("*").alias("bucket_size"))
        .filter(F.col("bucket_size") > max_bucket)
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """(doc_a, doc_b) candidate near-dup pairs: docs sharing ≥1 LSH band.

    Band signature = concat of the band's minhash values; the self-join
    runs per-bucket, so cost is Σ bucket² not n² — EXCEPT when one
    degenerate bucket (empty-ish docs, boilerplate-heavy shards) holds
    a large fraction of the corpus and goes quadratic. ``max_bucket``
    caps that: buckets larger than the cap are skipped (a band bucket
    of 10k+ docs is a boilerplate cluster, not a useful candidate set —
    exact dedup upstream already collapses true identical content).
    Skipped buckets are enumerable via ``lsh_oversized_buckets`` so the
    drop is observable, never silent.
    """
    # three consumers (bucket sizing + both join sides) — materialize
    # once; production writes the banded table out at this boundary.
    # spread() keeps the probe side of the bucket self-join parallel
    # (a persisted aggregate otherwise arrives AQE-coalesced).
    banded = materialize(spread(lsh_banded(signatures, num_hashes, bands), "doc_id"))
    if max_bucket is not None:
        sizes = banded.groupBy("band", "band_sig").agg(
            F.count("*").alias("_bsz")
        )
        banded = (
            banded.join(
                sizes.filter(F.col("_bsz") <= max_bucket), ["band", "band_sig"]
            )
            .drop("_bsz")
        )

    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_sig") == F.col("r.band_sig"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )


def ngram_hub_shingles(
    docs: DataFrame,
    max_doc_freq: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """(shingle, doc_freq) for shingles above the document-frequency
    cap — the observable drop log that pairs with
    ``ngram_jaccard_pairs(max_doc_freq=...)`` (same pattern as
    ``lsh_oversized_buckets``)."""
    return (
        _shingled(docs, id_col, text_col, shingle_n)
        .groupBy("shingle")
        .agg(F.count("*").alias("doc_freq"))
        .filter(F.col("doc_freq") > max_doc_freq)
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    max_doc_freq: int | None = 1000,
    prefix_k: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs ≥ threshold.

    AllPairs/PPJoin-style prefix filtering (Bayardo et al., WWW'07;
    Xiao et al., WWW'08) instead of the full shingle-inverted
    self-join: order the vocabulary rarest-first, generate candidates
    only from each document's (n − ⌈t·n⌉ + k)-shingle prefix, and
    verify survivors with one exact set intersection per pair. Three
    losslessly exact prunes stack:

    - *prefix* — the k smallest (rarest) common shingles of any pair
      with Jaccard ≥ t provably lie inside both extended prefixes
      (pigeonhole over |A∩B| ≥ ⌈t·n⌉), so joining prefixes finds every
      qualifying pair;
    - *size ratio* — Jaccard ≤ min(n_a,n_b)/max(n_a,n_b), so pairs with
      incompatible sizes are dropped inside the join condition;
    - *k-overlap* — a qualifying pair shares ≥ min(k, ⌈t·n_a⌉, ⌈t·n_b⌉)
      prefix shingles, so the candidate aggregation keeps only pairs
      with that many prefix hits (measured at sf1.0: 41M ≥1-hit pairs
      → 104k ≥3-hit candidates for 2.5k true results).

    |A∩B| for survivors comes from ``array_intersect`` over the per-doc
    sorted shingle arrays — identical to the count the inverted
    self-join produced (shingle sets are distinct per doc), at
    candidate cost instead of Σ df² cost. |A∪B| = |A|+|B|-|A∩B|.

    ``max_doc_freq`` bounds the hub-shingle universe exactly as
    before: shingles above the cap leave the vocabulary (sizes, order,
    and intersections all use the capped universe), and the drop stays
    observable via ``ngram_hub_shingles``. Pass ``max_doc_freq=None``
    for the uncapped textbook definition (test/oracle scale only).
    """
    from pyspark.sql.window import Window

    # the shingle stream feeds the DF table and the per-doc grouping —
    # materialize so the tokenize+shingle explode runs once
    sh = materialize(_shingled(docs, id_col, text_col, shingle_n))
    df_tbl = sh.groupBy("shingle").agg(F.count("*").alias("_df"))
    if max_doc_freq is not None:
        df_tbl = df_tbl.filter(F.col("_df") <= max_doc_freq)

    # Dictionary-encode the vocabulary: rank = row_number over
    # (df asc, shingle asc) — an injective, order-preserving map, so
    # (a) joining/grouping/intersecting on ranks yields exactly the
    # counts the string shingles would, and (b) integer order IS the
    # rarest-first prefix order, so per-doc sets need no struct sort.
    # Everything downstream of the DF table then moves 4-byte ints
    # instead of ~25-byte strings (guide §2.3 narrower types) — the
    # prefix join keys, the 10⁷-row candidate aggregation, and the
    # per-candidate array intersections all shrink. The rank window is
    # a single-partition pass over the VOCABULARY (27.9k rows at sf1.0
    # — orders of magnitude below the corpus); at warehouse scale this
    # is the standard sorted dictionary build (range-partitioned sort +
    # per-partition offsets), not a corpus-sized window.
    rank_tbl = df_tbl.select(
        "shingle",
        F.row_number()
        .over(Window.orderBy("_df", "shingle"))
        .alias("_rk"),
    )
    shd = sh.join(rank_tbl, "shingle")

    # per-doc shingle-rank set, ascending == rarest-first; n_sh is the
    # capped set size, identical to the old sizes aggregation
    grouped = materialize(
        shd.groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.col("_rk"))).alias("_rks"))
        .select("doc_id", "_rks", F.size("_rks").alias("n_sh"))
    )

    t = float(threshold)
    k = int(prefix_k)
    # greatest(1, ·): for a degenerate threshold > 1 the formula goes
    # non-positive and slice() would raise; a 1-shingle prefix keeps the
    # plan valid and the verify filter (j ≥ t > 1) still returns the
    # correct empty set
    plen = F.greatest(
        F.lit(1),
        (F.col("n_sh") - F.ceil(F.lit(t) * F.col("n_sh")) + F.lit(k)).cast("int"),
    )
    # spread BEFORE the explode+self-join: grouped is a persisted
    # aggregate (1-2 AQE-coalesced partitions), and the prefix join
    # below is broadcast — without the repartition the whole multi-10⁷
    # row fan-out would execute in one task (runtime.spread docstring)
    pfx = spread(grouped, "doc_id").select(
        "doc_id",
        "n_sh",
        F.explode(F.slice(F.col("_rks"), F.lit(1), plen)).alias("_rk"),
    )

    a = pfx.alias("a")
    b = pfx.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a._rk") == F.col("b._rk"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # size-ratio prune: j ≥ t needs min(n_a,n_b) ≥ t·max(n_a,n_b)
            & (F.col("a.n_sh") >= F.lit(t) * F.col("b.n_sh"))
            & (F.col("b.n_sh") >= F.lit(t) * F.col("a.n_sh")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("a.n_sh").alias("na"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("b.n_sh").alias("nb"),
        )
        .agg(F.count("*").alias("_hits"))
        .filter(
            F.col("_hits")
            >= F.least(
                F.lit(k),
                F.ceil(F.lit(t) * F.col("na")),
                F.ceil(F.lit(t) * F.col("nb")),
            )
        )
    )

    ga = grouped.select(
        F.col("doc_id").alias("doc_a"), F.col("_rks").alias("_sha")
    )
    gb = grouped.select(
        F.col("doc_id").alias("doc_b"), F.col("_rks").alias("_shb")
    )
    return (
        cand.join(ga, "doc_a")
        .join(gb, "doc_b")
        .withColumn("inter", F.size(F.array_intersect("_sha", "_shb")).cast("long"))
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 64) -> DataFrame:
    """SimHash per document over its token multiset, emitted as 32-bit
    words: (doc_id, simhash_w0[, simhash_w1, ...]).

    bit_i(doc) = 1 iff Σ_tokens (±1 by token-hash bit i) > 0; computed
    as ``bits`` algebraic sums over one exploded token stream (all
    map-side combinable). Word w covers signature bits [32w, 32w+31]
    and hashes tokens with md5 hex chars [8w+1, 8w+8].

    Default is 64-bit: a 32-bit signature saturates near 10⁹ docs
    (birthday-density false collisions in banding buckets), which is
    below web-corpus scale. Two 32-bit words rather than one 64-bit
    value keeps every constant inside signed ranges on both Spark and
    DuckDB — no bit-63 sign traps in either engine.
    """
    assert bits % 32 == 0 and bits > 0, "bits must be a positive multiple of 32"
    words = bits // 32
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokenize_col(F.col(text_col))).alias("token"),
    ).select("doc_id", F.md5(F.col("token").cast("binary")).alias("md5"))
    toks = toks.selectExpr(
        "doc_id",
        *[
            f"CAST(conv(substring(md5, {1 + 8 * w}, 8), 16, 10) AS BIGINT) AS th_{w}"
            for w in range(words)
        ],
    )

    # One aggregate expression per signature word holds its 32 ±1 sums
    # and their left fold into the word value; Catalyst collapses 32
    # separate sums plus a folding projection into this same Aggregate.
    def word(w: int) -> str:
        return " + ".join(
            f"CASE WHEN sum(CASE WHEN (shiftright(th_{w}, {i}) & 1) = 1 "
            f"THEN 1 ELSE -1 END) > 0 THEN CAST({2**i} AS BIGINT) "
            "ELSE CAST(0 AS BIGINT) END"
            for i in range(32)
        )

    return toks.groupBy("doc_id").agg(
        *[F.expr(f"{word(w)} AS simhash_w{w}") for w in range(words)]
    )


def simhash_word_cols(sim: DataFrame) -> list[str]:
    """The signature word columns of a simhash() frame, in order."""
    return sorted(
        (c for c in sim.columns if c.startswith("simhash_w")),
        key=lambda c: int(c.removeprefix("simhash_w")),
    )


def simhash_dup_groups(sim: DataFrame) -> DataFrame:
    """Docs sharing an identical simhash → near-dup buckets."""
    return (
        sim.groupBy(*simhash_word_cols(sim))
        .agg(F.count("*").alias("bucket_size"), F.min("doc_id").alias("rep_doc"))
        .filter(F.col("bucket_size") > 1)
    )


def minhash_estimate_pairs(
    signatures: DataFrame, pairs: DataFrame, num_hashes: int = 16
) -> DataFrame:
    """(doc_a, doc_b, sim_est): Jaccard estimate from signature agreement.

    The classic MinHash estimator — fraction of equal signature slots —
    applied only to already-blocked candidate pairs: two narrow
    broadcast-able joins against the signature table, no shingle
    re-scan. k/16-valued doubles are exactly representable, so the
    threshold compare downstream is engine-exact.
    """
    a = signatures.selectExpr(
        "doc_id AS doc_a", *[f"mh_{j} AS a_{j}" for j in range(num_hashes)]
    )
    b = signatures.selectExpr(
        "doc_id AS doc_b", *[f"mh_{j} AS b_{j}" for j in range(num_hashes)]
    )
    matches = " + ".join(
        f"CASE WHEN a_{j} = b_{j} THEN 1 ELSE 0 END" for j in range(num_hashes)
    )
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .selectExpr(
            "doc_a", "doc_b", f"({matches}) / {double_lit(num_hashes)} AS sim_est"
        )
    )


def neardup_clusters(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    min_est: float = 0.5,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """End-to-end near-duplicate clustering: the operation a 100 TB
    training-data pipeline actually runs (pairs alone aren't actionable).

    signatures → LSH candidate pairs → MinHash-estimate confirmation
    (≥ ``min_est``) → connected components over confirmed pairs →
    per-cluster canonical (min doc id). Returns one row per document:
    (doc_id, canonical_id, is_dup 0/1); the keep-list is
    ``is_dup = 0``, and transitive near-dup chains collapse into one
    cluster exactly like entity canonicalization (operators/linking.py)
    collapses coreferent surface forms.
    """
    from kgspark.operators.cc import connected_components_auto

    # Materialize the signature table once: it feeds both sides of the
    # band self-join AND both sides of the estimate join (4 consumers);
    # lazily each would re-run the shingle explode + 16-way min agg. At
    # warehouse scale this is the persisted signature table every LSH
    # dedup pipeline keeps anyway.
    sigs = materialize(minhash_signatures(
        docs, id_col=id_col, text_col=text_col,
        num_hashes=num_hashes, shingle_n=shingle_n,
    ))
    cand = lsh_candidate_pairs(
        sigs, num_hashes=num_hashes, bands=bands, max_bucket=max_bucket
    )
    confirmed = minhash_estimate_pairs(sigs, cand, num_hashes).filter(
        F.col("sim_est") >= min_est
    )
    nodes = docs.select(F.col(id_col).alias("id"))
    edges = confirmed.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    assign = connected_components_auto(nodes, edges, "id")
    return assign.select(
        F.col("id").alias("doc_id"),
        F.col("component").alias("canonical_id"),
        F.when(F.col("id") != F.col("component"), 1).otherwise(0).alias("is_dup"),
    )


def simhash_neardup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """(doc_a, doc_b, hamming): SimHash near-dup pairs, banded scalably.

    Pigeonhole banding over the 64-bit two-word signature: any two
    signatures within Hamming distance ≤ 3 agree exactly on at least
    one of their 8 bytes (8 bands > 3 differing bytes), so candidates
    come from a per-(band, byte) bucket self-join — Σ bucket², never
    n² — then the exact ``bit_count(xor)`` check (summed across words)
    runs only inside buckets. Same candidate-generation shape as
    MinHash-LSH (`lsh_candidate_pairs`) and hyperplane-LSH
    (similarity.py).
    """
    # One materialization of the signature table: the banded frame is
    # consumed on BOTH sides of the self-join, and a union-of-selects
    # banding would recompute the whole 64-sum aggregation per branch
    # per side (measured 8-16× the signature cost at sf0.1). In a
    # production pipeline the signature table is written out once and
    # the join reads the materialized table — localCheckpoint is the
    # in-session stand-in for that boundary. spread() so the byte-band
    # self-join's Σ bucket² probe work runs on every core instead of
    # the persisted aggregate's one coalesced partition.
    sim = materialize(spread(simhash(docs, id_col=id_col, text_col=text_col), "doc_id"))
    wcols = simhash_word_cols(sim)
    n_bands = 4 * len(wcols)
    assert max_hamming < n_bands, "pigeonhole banding needs max_hamming < bands"
    # explode-banding: one (band, byte) struct array per row — a single
    # pass over the signatures instead of n_bands re-reads
    bb = ", ".join(
        f"named_struct('band', {4 * w + b}, 'byte', shiftright({wcol}, {8 * b}) & 255)"
        for w, wcol in enumerate(wcols)
        for b in range(4)
    )
    banded = sim.selectExpr("doc_id", *wcols, f"explode(array({bb})) AS bb").selectExpr(
        "doc_id", *wcols, "bb.band AS band", "bb.byte AS byte"
    )
    left = banded.alias("l")
    right = banded.alias("r")
    hamming = " + ".join(f"bit_count(a_{c} ^ b_{c})" for c in wcols)
    # hamming is computed and thresholded BEFORE the pair dedup, so the
    # Σ bucket² candidate occurrences never reach an exchange — only
    # the ≤max_hamming survivors do. Dedup is groupBy + first(), not
    # distinct(): hamming is a function of the pair (each doc has one
    # signature), so every duplicate occurrence carries the identical
    # row and first() returns exactly the old distinct-then-filter set,
    # while keeping the aggregate keys to two longs.
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.byte") == F.col("r.byte"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .selectExpr(
            "l.doc_id AS doc_a",
            "r.doc_id AS doc_b",
            *[f"l.{c} AS a_{c}" for c in wcols],
            *[f"r.{c} AS b_{c}" for c in wcols],
        )
        .withColumn("hamming", F.expr(hamming))
        .filter(F.col("hamming") <= max_hamming)
        .groupBy("doc_a", "doc_b")
        .agg(F.first("hamming").alias("hamming"))
        .select("doc_a", "doc_b", "hamming")
    )
