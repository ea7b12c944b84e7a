"""Distributed fact-rows → RDF-triples builder (SURVEY.md §2 ops A1, B1-B5, C1-C4, EP1).

Spark-first re-expression of the reference's single-process CSV→RDF pass
(``/root/reference/scripts/build_rdf.py:112-205``). The reference's
``uri_cache`` / ``single_set`` mutable-state semantics become order-free
relational operations:

- entity memoization            → set-dedup of per-mention type triples (C1)
- first-wins name/bio/gender/age → ``min(struct(order, value))`` per
  (entity URI, attribute) — an ordered-first aggregate with map-side
  partial aggregation (C2)
- rdflib Graph set semantics     → the same aggregate, keyed by the whole
  triple (C4)

Plan shape (one pipeline per fact partition): scan → trim/gate → ONE
Python slug call per row (``slugify_arrays_udf`` over the row's
``[Provider, Patient, *specializations, *locations]`` labels) → ONE
``explode`` of every triple candidate the row yields → ONE aggregate,
keyed ``(subj, pred, kobj, obj_kind)``: set triples carry ``kobj = obj``,
first-wins attributes ``kobj = NULL`` so they group per (uri, attr). The
age ``int()`` parse runs after the aggregate, on the reduced rows.

Scale notes (10^12-row target):
- No branch re-reads the fact rows and nothing is cached: the input is
  scanned once and crosses into Python once, whatever the number of
  triple families. A branch per family would pay a read (or a cache
  scan, each its own Spark job under AQE) and an Arrow round trip per
  slug site per partition.
- The aggregate keys on entity URI — Zipf-skewed (hub providers).
  Partial aggregation absorbs head keys map-side; AQE
  partition-coalescing/splitting handles the rest. No salting is
  needed because the aggregate is algebraic.
- The caller provides a stable ``row_idx`` (source order). Never use
  ``monotonically_increasing_id`` across runs — resume would break.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kgspark import golden
from kgspark.constants import (
    BASE,
    FACT_COLUMNS,
    KIND_LITERAL,
    KIND_TO_CLASS,
    KIND_URI,
    P_AGE,
    P_BIO,
    P_CONDITION,
    P_GENDER,
    P_LOCATED_AT,
    P_NAME,
    P_SPECIALIZES_IN,
    P_TREATS,
    RDF_TYPE,
    TRIPLE_COLUMNS,
)
from kgspark.functions.sqltext import string_lit
from kgspark.functions.textfns import (
    age_literal_udf,
    multi_or_raw_col,
    slugify_arrays_udf,
    trim_all,
)

_TRIPLE_SCHEMA = "subj string, pred string, obj string, obj_kind string, obj_dtype string, obj_lang string"

# first-wins attribute name (the incremental attr-state key) ↔ predicate
_ATTR_PRED = {"name": P_NAME, "bio": P_BIO, "gender": P_GENDER, "age": P_AGE}


def _null_str() -> Column:
    return F.lit(None).cast("string")


def _cand(subj: str, pred: str, kobj: str = "NULL", kind: str = KIND_URI,
          o2: str = "NULL", v: str = "NULL") -> str:
    """One triple candidate as SQL text. Set triples pass ``kobj`` (the
    object); first-wins attributes pass their in-row order ``o2`` and
    value ``v`` instead and leave ``kobj`` NULL."""
    return (
        f"named_struct('subj', {subj}, 'pred', {string_lit(pred)},"
        f" 'kobj', CAST({kobj} AS STRING), 'obj_kind', {string_lit(kind)},"
        f" 'o2', CAST({o2} AS INT), 'v', CAST({v} AS STRING))"
    )


def _candidates(
    facts: DataFrame, order_col: str, provenance_col: str | None
) -> DataFrame:
    """Every triple candidate of every gated fact row, one row each:
    ``(subj, pred, kobj, obj_kind, o1, o2, v, p)``.

    A row's mentions are ``labels = [Provider, Patient, *specs, *locs]``;
    index ``i`` in that array is the mention's ``seq``, so ``(row_idx,
    seq)`` orders mentions exactly as the reference's sequential loop
    visits them (build_rdf.py:169-179) and decides the first-wins
    ``name``. All URIs of the row are minted by one slug call.

    ``o1`` is the row order for attribute candidates and NULL for set
    triples; a set triple's ``o2`` is NULL unless its provenance value
    is NULL, so ``min(struct(o1, o2, v, p))`` over a set triple's group
    is its min non-NULL ``p`` (what ``min(p)`` gives).

    The candidate array is one SQL expression (kgspark/functions/
    sqltext.py): through the Column API every literal and alias of it
    is its own py4j round trip.
    """
    if order_col not in facts.columns:
        raise ValueError(f"facts must carry a stable source-order column {order_col!r}")
    prov = F.col(provenance_col) if provenance_col else _null_str()
    attrs = ["Bio", "Patient_Gender", "Patient_Age"]
    rows = (
        trim_all(facts, FACT_COLUMNS)
        .filter((F.col("Provider") != "") & (F.col("Patient") != ""))
        .select(
            F.col(order_col).alias("o1"),
            prov.alias("p"),
            "Provider", "Patient",
            multi_or_raw_col(F.col("Specialization")).alias("specs"),
            multi_or_raw_col(F.col("Location")).alias("locs"),
            multi_or_raw_col(F.col("Patient_Condition")).alias("conds"),
            *attrs,
        )
        .selectExpr(
            "o1", "p", "size(specs) AS nspec",
            "concat(array(Provider, Patient), specs, locs) AS labels",
            "conds", *attrs,
        )
        .withColumn("uris", slugify_arrays_udf("labels"))
        .withColumn("uris", F.expr(f"transform(uris, s -> concat({string_lit(BASE)}, s))"))
    )
    prov_uri, pat_uri = "uris[0]", "uris[1]"
    cls = (
        f"CASE WHEN i = 0 THEN {string_lit(KIND_TO_CLASS['Provider'])}"
        f" WHEN i = 1 THEN {string_lit(KIND_TO_CLASS['Patient'])}"
        f" WHEN i < nspec + 2 THEN {string_lit(KIND_TO_CLASS['Specialization'])}"
        f" ELSE {string_lit(KIND_TO_CLASS['Location'])} END"
    )
    cands = ", ".join([
        f"transform(uris, (u, i) -> {_cand('u', RDF_TYPE, cls)})",
        f"transform(labels, (x, i) -> {_cand('uris[i]', P_NAME, kind=KIND_LITERAL, o2='i', v='x')})",
        f"transform(slice(uris, 3, nspec), u -> {_cand(prov_uri, P_SPECIALIZES_IN, 'u')})",
        f"transform(slice(uris, nspec + 3, size(uris) - nspec - 2),"
        f" u -> {_cand(prov_uri, P_LOCATED_AT, 'u')})",
        f"array({_cand(prov_uri, P_TREATS, pat_uri)})",
        f"transform(conds, c -> {_cand(pat_uri, P_CONDITION, 'c', KIND_LITERAL)})",
        "filter(array("
        + ", ".join(
            _cand(subj, pred, kind=KIND_LITERAL, o2="0", v=col)
            for subj, pred, col in [
                (prov_uri, P_BIO, "Bio"),
                (pat_uri, P_GENDER, "Patient_Gender"),
                (pat_uri, P_AGE, "Patient_Age"),
            ]
        )
        + "), c -> c.v != '')",
    ])
    return rows.selectExpr("o1", "p", f"explode(concat({cands})) AS c").selectExpr(
        "c.subj", "c.pred", "c.kobj", "c.obj_kind",
        "CASE WHEN c.kobj IS NULL THEN o1 END AS o1",
        "coalesce(c.o2, CASE WHEN p IS NULL THEN 1 END) AS o2",
        "c.v", "p",
    )


def _literal(is_age: Column, v: Column) -> Column:
    """Winning attribute value → ``struct(lex, dtype)``: ``int()`` cast
    with raw-string fallback for ages, the value itself otherwise."""
    return F.when(is_age, age_literal_udf(v)).otherwise(
        F.struct(v.alias("lex"), _null_str().alias("dtype"))
    )


def triple_parts(
    facts: DataFrame,
    order_col: str = "row_idx",
    provenance_col: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The mergeable decomposition of ``build_triples``, as two filters
    of its candidate stream.

    Returns ``(set_stream, attr_candidates)``:

    - ``set_stream`` — every set-semantics triple candidate (types,
      SPECIALIZES_IN / LOCATED_AT / TREATS edges, conditions) with a
      trailing ``src_doc`` column; final form is a plain set-dedup.
    - ``attr_candidates`` — first-wins attribute candidates
      ``(uri, attr, o1, o2, v, p)``; final form is
      ``attr_state_to_triples(reduce_attr_state(attr_candidates))``.

    Both halves merge **associatively** across any partitioning of the
    fact rows: ``dedup(A ∪ B) = dedup(dedup(A) ∪ dedup(B))`` and
    ``min-reduce(A ∪ B) = min-reduce(min-reduce(A) ∪ min-reduce(B))``.
    That associativity is what the incremental pipeline stage
    (streaming/incremental.py incremental_link_triples) relies on to
    fold a new micro-batch into persisted state and still produce
    tables bit-identical to a one-shot batch run.
    """
    c = _candidates(facts, order_col, provenance_col)
    set_stream = c.filter(F.col("kobj").isNotNull()).select(
        "subj", "pred", F.col("kobj").alias("obj"), "obj_kind",
        _null_str().alias("obj_dtype"), _null_str().alias("obj_lang"),
        F.col("p").alias("src_doc"),
    )
    pred_attr = F.create_map(*[F.lit(x) for a, p in _ATTR_PRED.items() for x in (p, a)])
    attr_candidates = c.filter(F.col("kobj").isNull()).select(
        F.col("subj").alias("uri"),
        F.element_at(pred_attr, F.col("pred")).alias("attr"),
        "o1", "o2", "v", "p",
    )
    return set_stream, attr_candidates


def reduce_attr_state(attr_candidates: DataFrame) -> DataFrame:
    """Min-reduce first-wins candidates to one winner per (uri, attr).

    Associative: re-reducing a union of already-reduced states gives
    the same winners — the incremental merge operator for attr state.
    """
    return attr_candidates.groupBy("uri", "attr").agg(
        F.min(F.struct("o1", "o2", "v", "p")).alias("w")
    )


def attr_state_to_triples(firsts: DataFrame) -> DataFrame:
    """Reduced attr state → literal triples (+ trailing src_doc)."""
    parsed = firsts.withColumn("parsed", _literal(F.col("attr") == "age", F.col("w.v")))
    attr_pred = F.create_map(*[F.lit(x) for kv in _ATTR_PRED.items() for x in kv])
    return parsed.select(
        F.col("uri").alias("subj"),
        F.element_at(attr_pred, F.col("attr")).alias("pred"),
        F.col("parsed.lex").alias("obj"),
        F.lit(KIND_LITERAL).alias("obj_kind"),
        F.col("parsed.dtype").alias("obj_dtype"),
        _null_str().alias("obj_lang"),
        F.col("w.p").alias("src_doc"),
    )


def build_triples(
    facts: DataFrame,
    order_col: str = "row_idx",
    provenance_col: str | None = None,
) -> DataFrame:
    """Fact rows → deduplicated triples DataFrame (schema: TRIPLE_COLUMNS).

    Set-equal to ``kgspark.golden.fact_rows_to_triples`` on any input
    (asserted by tests/test_golden_rdf.py at P/R = 1.0).

    With ``provenance_col``, each triple also carries a trailing
    ``source_ref`` column — same triple set, plus lineage (the
    reference's ``source_document`` stamping, B9/H2): the min source
    value over a set triple's candidates, and the first-wins row's
    source for an attribute. Pass a COMPACT reference (e.g.
    ``xxhash64(url)``), not the url string: the value rides every
    triple-candidate row through the aggregate's shuffle.
    """
    reduced = (
        _candidates(facts, order_col, provenance_col)
        .groupBy("subj", "pred", "kobj", "obj_kind")
        .agg(F.expr("min(struct(o1, o2, v, p)) AS w"))
        .withColumn("lit", _literal(F.col("pred") == P_AGE, F.col("w.v")))
    )
    out = [
        "subj", "pred", "coalesce(kobj, lit.lex) AS obj", "obj_kind",
        "lit.dtype AS obj_dtype", "CAST(NULL AS STRING) AS obj_lang",
    ]
    if provenance_col:
        out.append("w.p AS source_ref")
    return reduced.selectExpr(*out)


def ontology_df(spark: SparkSession) -> DataFrame:
    """The static RDFS schema graph as a (tiny, broadcastable) DataFrame."""
    rows = sorted(golden.ontology_triples())
    return spark.createDataFrame(rows, schema=_TRIPLE_SCHEMA)
