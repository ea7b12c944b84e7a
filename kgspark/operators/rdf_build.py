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

Three steps, shared by the batch pipeline and the incremental stage:
``triple_state`` — scan → trim/gate → ONE Python slug call per row
(``slugify_arrays_udf`` over the row's ``[Provider, Patient,
*specializations, *locations]`` labels) → ONE ``explode`` of every
triple candidate the row yields → ONE aggregate keyed ``(subj, pred,
kobj, obj_kind)``: set triples carry ``kobj = obj``, first-wins
attributes ``kobj = NULL`` so they group per (uri, attr);
``merge_triple_state`` — the same aggregate over a union of states;
``finalize_triples`` — the age ``int()`` parse on the reduced rows.
``build_triples`` is ``finalize_triples(triple_state(…))``.

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

from functools import reduce

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
)
from kgspark.functions.sqltext import string_lit
from kgspark.functions.textfns import (
    age_literal_udf,
    multi_or_raw_col,
    slugify_arrays_udf,
    trim_all,
)

_TRIPLE_SCHEMA = "subj string, pred string, obj string, obj_kind string, obj_dtype string, obj_lang string"


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
    """Every triple candidate of every gated fact row as a one-row
    triple state: ``(subj, pred, kobj, obj_kind, w = struct(o1, o2, v,
    p))``.

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
        "named_struct('o1', CASE WHEN c.kobj IS NULL THEN o1 END,"
        " 'o2', coalesce(c.o2, CASE WHEN p IS NULL THEN 1 END), 'v', c.v, 'p', p) AS w",
    )


def triple_state(
    facts: DataFrame,
    order_col: str = "row_idx",
    provenance_col: str | None = None,
) -> DataFrame:
    """Fact rows → the reduced triple state ``(subj, pred, kobj,
    obj_kind, w)``: one row per triple key, ``w = min(struct(o1, o2, v,
    p))`` over the key's candidates — for a set triple its min non-NULL
    source, for a first-wins attribute the winning candidate with its
    order keys. Each candidate is a one-row state, so this is their
    ``merge_triple_state``."""
    return merge_triple_state([_candidates(facts, order_col, provenance_col)])


def merge_triple_state(states: list[DataFrame]) -> DataFrame:
    """The triple state of the union of the fact rows behind ``states``:
    ``min(w)`` per ``(subj, pred, kobj, obj_kind)`` over their union.

    ``min`` is associative, commutative and idempotent, so for any split
    of the fact rows into parts, reducing the union of the parts' states
    gives the state of the whole: first-wins still picks the globally
    first candidate (``w`` carries its order keys), a set triple still
    its min non-NULL source, and re-merging a part already merged
    changes nothing. The incremental stage (streaming/incremental.py
    ``incremental_link_triples``) folds each micro-batch into its
    persisted state this way; tests/test_rdf_build.py checks the merge
    against ``build_triples`` over seeded splits of the hostile tables.
    """
    return reduce(DataFrame.unionByName, states).groupBy(
        "subj", "pred", "kobj", "obj_kind"
    ).agg(F.expr("min(w) AS w"))


def finalize_triples(state: DataFrame, provenance: bool = False) -> DataFrame:
    """Triple state → triples (schema: TRIPLE_COLUMNS, plus a trailing
    ``source_ref`` with ``provenance``); the age ``int()`` parse runs
    here, once per winning value."""
    out = [
        "subj", "pred", "coalesce(kobj, lit.lex) AS obj", "obj_kind",
        "lit.dtype AS obj_dtype", "CAST(NULL AS STRING) AS obj_lang",
    ]
    if provenance:
        out.append("w.p AS source_ref")
    # ages get an int() cast with raw-string fallback, other values stay
    v = F.col("w.v")
    lit = F.when(F.col("pred") == P_AGE, age_literal_udf(v)).otherwise(
        F.struct(v.alias("lex"), _null_str().alias("dtype"))
    )
    return state.withColumn("lit", lit).selectExpr(*out)


def build_triples(
    facts: DataFrame,
    order_col: str = "row_idx",
    provenance_col: str | None = None,
) -> DataFrame:
    """Fact rows → deduplicated triples DataFrame (schema: TRIPLE_COLUMNS):
    ``finalize_triples(triple_state(facts))``.

    Set-equal to ``kgspark.golden.fact_rows_to_triples`` on any input:
    asserted hermetically by tests/test_rdf_build.py (60 seeded hostile
    fact tables) and against the reference's own golden Turtle by
    tests/test_golden_rdf.py at P/R = 1.0.

    With ``provenance_col``, each triple also carries a trailing
    ``source_ref`` column — same triple set, plus lineage (the
    reference's ``source_document`` stamping, B9/H2): the min source
    value over a set triple's candidates, and the first-wins row's
    source for an attribute. Pass a COMPACT reference (e.g.
    ``xxhash64(url)``), not the url string: the value rides every
    triple-candidate row through the aggregate's shuffle.
    """
    state = triple_state(facts, order_col, provenance_col)
    return finalize_triples(state, provenance=bool(provenance_col))


def ontology_df(spark: SparkSession) -> DataFrame:
    """The static RDFS schema graph as a (tiny, broadcastable) DataFrame."""
    rows = sorted(golden.ontology_triples())
    return spark.createDataFrame(rows, schema=_TRIPLE_SCHEMA)
