"""Text-analysis operators (training-data pipeline).

Language-ID (stopword-hit heuristic), quality scoring, token counting,
and content fingerprinting over a documents table. Every operator is a
pure Column-expression plan (no UDFs) with a term-for-term DuckDB
mirror, so the driver's oracle can verify values exactly.

Plan-build rule: one JVM call per expression family, never per
element — ``language_id`` sends its per-language hit counts and its
argmax as SQL expressions (kgspark/functions/sqltext.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kgspark.runtime import materialize

from kgspark.functions.sqltext import ident, string_lit
from kgspark.operators.fulltext import tokenize_col, tokenize_sql

# Deterministic mini stopword lists (spec'd, not linguistic truth).
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it"],
    "es": ["el", "la", "de", "y", "que", "en", "un", "es"],
    "de": ["der", "die", "das", "und", "zu", "in", "ist", "ein"],
    "fr": ["le", "la", "de", "et", "que", "en", "un", "est"],
    "zh": ["de", "shi", "le", "zai", "he", "you", "wo", "ta"],
}


def token_count_col(text: Column) -> Column:
    return F.size(tokenize_col(text))


def quality_features(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, n_chars, n_tokens, avg_token_len, punct_ratio,
    stopword_ratio, quality_score) — length/punctuation/stopword
    heuristics; score ∈ [0,1], higher = more prose-like."""
    text = F.col(text_col)
    toks = tokenize_col(text)
    n_chars = F.length(text)
    n_tokens = F.size(toks)
    n_punct = n_chars - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    en_stop = LANG_STOPWORDS["en"]
    n_stop = F.size(F.filter(toks, lambda t: t.isin(en_stop)))
    avg_tok = F.when(
        n_tokens > 0,
        F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t)) / n_tokens,
    ).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tokens > 0, n_stop / n_tokens).otherwise(F.lit(0.0))
    length_score = F.least(n_tokens / F.lit(50.0), F.lit(1.0))
    score = F.round(
        0.4 * length_score + 0.3 * (1.0 - punct_ratio) + 0.3 * F.least(stop_ratio * 5.0, F.lit(1.0)),
        6,
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.round(avg_tok, 6).alias("avg_token_len"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        score.alias("quality_score"),
    )


def language_id(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, pred_lang, hits) — argmax stopword-hit count over the
    per-language lists; ties broken by language code ASC ('und' if 0)."""
    toks = tokenize_sql(ident(text_col))
    langs = sorted(LANG_STOPWORDS)
    # one SQL expression per family (module docstring): the per-language
    # hit counts, then max and argmax over them
    scored = docs.select(
        F.col(id_col).alias("doc_id"),
        *[
            F.expr(
                f"size(filter({toks}, t -> t IN "
                f"({', '.join(map(string_lit, LANG_STOPWORDS[lg]))}))) AS hits_{lg}"
            )
            for lg in langs
        ],
    )
    max_hits = f"greatest({', '.join(f'hits_{lg}' for lg in langs)})"
    # CASE evaluates in order → first (ASC) max wins
    pred = " ".join(f"WHEN hits_{lg} = {max_hits} THEN '{lg}'" for lg in langs)
    return scored.selectExpr(
        "doc_id",
        f"CASE WHEN {max_hits} = 0 THEN 'und' {pred} END AS pred_lang",
        f"{max_hits} AS hits",
    )


def fingerprint(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, fingerprint) — md5 of whitespace-normalized lowercase
    text; absent/whitespace-only content gets a per-doc sentinel so
    empty pages never alias each other (dedup.fingerprint_col)."""
    from kgspark.operators.dedup import fingerprint_col

    return docs.select(
        F.col(id_col).alias("doc_id"),
        fingerprint_col(F.col(text_col), F.col(id_col)).alias("fingerprint"),
    )


def corpus_token_stats(
    docs: DataFrame,
    text_col: str = "text",
    quantiles: tuple[float, ...] = (0.5, 0.9),
) -> DataFrame:
    """One-row corpus token statistics: the report a training-data run
    emits before/after filtering (doc count, total/avg tokens, exact
    length quantiles).

    Quantile q is defined index-exactly — the value at position
    ``floor(q·(n-1))`` of the sorted per-doc token counts — an
    interpolation-free definition every engine reproduces bit-for-bit
    (approx_percentile is the looser production alternative; this one
    is oracle-exact).

    Scale shape: one groupBy collapses the corpus to a token-count
    histogram (distinct doc lengths ≪ docs, bounded by max doc size),
    and the cumulative window runs over that histogram — never a global
    sort of the full table.
    """
    from pyspark.sql.window import Window

    tc = docs.select(token_count_col(F.col(text_col)).alias("n_tokens"))
    hist = tc.groupBy("n_tokens").agg(F.count("*").alias("cnt"))
    w = Window.orderBy("n_tokens").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = hist.withColumn("cum", F.sum("cnt").over(w))
    totals = tc.agg(
        F.count("*").alias("n_docs"), F.sum("n_tokens").alias("total_tokens")
    )
    joined = cum.crossJoin(F.broadcast(totals))
    picks = []
    for q in quantiles:
        tgt = F.floor(F.lit(q) * (F.col("n_docs") - 1)) + 1
        picks.append(
            F.min(F.when(F.col("cum") >= tgt, F.col("n_tokens"))).alias(
                f"p{int(q * 100)}_tokens"
            )
        )
    return joined.agg(
        F.max("n_docs").alias("n_docs"),
        F.max("total_tokens").alias("total_tokens"),
        F.round(F.max("total_tokens") / F.max("n_docs"), 6).alias("avg_tokens"),
        F.min("n_tokens").alias("min_tokens"),
        F.max("n_tokens").alias("max_tokens"),
        *picks,
    )


def corpus_filter(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang: str = "en",
    min_tokens: int = 20,
    min_quality: float = 0.5,
    neardup_min_est: float = 0.5,
) -> DataFrame:
    """The composed training-corpus gate: one row per document with
    per-stage flags and the final keep verdict.

    Stages (each an existing operator, flags computed independently so
    the report shows WHY a document dropped — silent drops are
    undebuggable at 100 TB): language-ID, quality/length heuristics,
    exact dedup (content-fingerprint keeper), near-dup clustering
    (MinHash-LSH + CC canonical). ``keep = 1`` iff every gate passes.

    Plan shape: four independent aggregations over the corpus joined on
    doc_id — uniform-key shuffles, no window over the full table; the
    near-dup member is the only multi-stage subplan and is itself
    bucket-joined (dedup.neardup_clusters).
    """
    from kgspark.operators.dedup import neardup_clusters

    qf = quality_features(docs, id_col, text_col).select(
        "doc_id", "n_tokens", "quality_score"
    )
    li = language_id(docs, id_col, text_col).select("doc_id", "pred_lang")
    # one normalize+md5 pass: the keeper table (exact_dedup's own
    # min-id-per-fingerprint agg) derives from fp rather than re-hashing
    # the full corpus a second time; materialized because fp feeds BOTH
    # the keeper aggregation and the probe side of their join — without
    # the checkpoint Catalyst executes the normalize+md5 scan twice
    fp = materialize(fingerprint(docs, id_col, text_col))
    keepers = fp.groupBy("fingerprint").agg(F.min("doc_id").alias("keeper"))
    ex = fp.join(keepers, "fingerprint").select(
        "doc_id",
        F.when(F.col("doc_id") != F.col("keeper"), 1).otherwise(0).alias("is_exact_dup"),
    )
    nd = neardup_clusters(
        docs, id_col=id_col, text_col=text_col, min_est=neardup_min_est
    ).select("doc_id", F.col("is_dup").alias("is_near_dup"))

    lang_ok = F.when(F.col("pred_lang") == lang, 1).otherwise(0)
    quality_ok = F.when(
        (F.col("n_tokens") >= min_tokens)
        & (F.col("quality_score") >= min_quality),
        1,
    ).otherwise(0)
    out = qf.join(li, "doc_id").join(ex, "doc_id").join(nd, "doc_id")
    return out.select(
        "doc_id",
        "pred_lang",
        "n_tokens",
        "quality_score",
        lang_ok.alias("lang_ok"),
        quality_ok.alias("quality_ok"),
        "is_exact_dup",
        "is_near_dup",
        (
            lang_ok.cast("int")
            * quality_ok.cast("int")
            * (1 - F.col("is_exact_dup"))
            * (1 - F.col("is_near_dup"))
        ).alias("keep"),
    )
