"""The triples stage (operators/rdf_build.py) without the reference data.

- Seeded hostile fact tables: ``build_triples`` equals the golden
  single-process builder on every one, and with ``provenance_col`` it
  keeps the same triple set and stamps each triple with the source a
  pure-Python pass expects.
- The plan stays one pipeline per fact partition: one slug call, one
  ``explode``, one aggregate, no cache, and a pinned Spark-job budget
  for the triples write.
"""

from __future__ import annotations

import os
import random
import re
import sys

import pytest
from pyspark.sql import functions as F

from kgspark import golden
from kgspark.constants import (
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
from kgspark.functions.textfns import slugify_arrays_udf, slugify_udf
from kgspark.operators.rdf_build import build_triples

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.plan_build_cost import spark_jobs  # noqa: E402

_FACT_SCHEMA = (
    ", ".join(f"{c} string" for c in golden.FACT_COLUMNS) + ", row_idx long, src long"
)

# Names that collide on slug ("Ann Lee"/"Ann  Lee"/"Ann_Lee"), that need
# Python's Unicode \w, and that serve as more than one kind of entity.
_NAMES = [
    "Ann Lee", "Ann  Lee", "Ann_Lee", "ann lee", "Dr. Müller-Żółć", "Émile Q.",
    "東京 クリニック", "Bob Stone", "Boston", "Cardiology", "X", "ſ", "Ǆ", "a b",
    "O'Brien", "N/A", "__", "-", "٤٢",
]
# Python str.isspace() characters beyond ASCII space, incl. \x1c-\x1f
_PADS = ["", "", " ", "\t", "\n", "\x1c", "\x1f", "\u00a0", "\u2003", "\u3000"]
_SEPS = ["|", ";", ",", " | ", ";;", ", ,"]
_AGES = ["0042", "1_000", "٤٢", "-7", "NaN", "42", " 7 ", "+3", "1e3", "abc"]
_BLANKS = [None, "", " ", "\x1c\t", ",,", ";|", "|"]


def _pad(rng: random.Random, s: str) -> str:
    return rng.choice(_PADS) + s + rng.choice(_PADS)


def _cell(rng: random.Random, pool: list[str], multi: bool) -> str | None:
    r = rng.random()
    if r < 0.2:
        return rng.choice(_BLANKS)
    if multi and r < 0.5:
        parts = [_pad(rng, rng.choice(pool)) for _ in range(rng.randint(2, 4))]
        out = parts[0]
        for p in parts[1:]:
            out += rng.choice(_SEPS) + p
        return out + rng.choice(["", "", ",", " ;"])
    return _pad(rng, rng.choice(pool))


def _fact_table(seed: int) -> list[dict]:
    rng = random.Random(seed)
    rows: list[dict] = []
    for _ in range(rng.randint(1, 12)):
        if rows and rng.random() < 0.15:
            rows.append(dict(rng.choice(rows)))  # duplicated row
            continue
        rows.append({
            "Provider": _cell(rng, _NAMES, False),
            "Patient": _cell(rng, _NAMES, False),
            "Specialization": _cell(rng, _NAMES, True),
            "Location": _cell(rng, _NAMES, True),
            "Bio": _cell(rng, ["bio one", "bio two", "Bïo"], False),
            "Patient_Age": _cell(rng, _AGES, False),
            "Patient_Gender": _cell(rng, ["M", "F", "x"], False),
            "Patient_Condition": _cell(rng, ["Asthma", "Flu", "Cold", "Ann Lee"], True),
        })
    return rows


def _fact_df(spark, rows: list[dict], seed: int):
    """The table as a DataFrame with source order and a small random
    source id per row, sometimes NULL (ties make the min-source rule
    observable)."""
    rng = random.Random(seed)
    srcs = [rng.choice([None, 0, 1, 2, 3, 4, 5]) for _ in rows]
    df = spark.createDataFrame(
        [
            {**{c: r.get(c) for c in golden.FACT_COLUMNS}, "row_idx": i + 1, "src": s}
            for i, (r, s) in enumerate(zip(rows, srcs))
        ],
        schema=_FACT_SCHEMA,
    )
    return df, srcs


def _expected_sources(rows: list[dict], srcs: list[int]) -> dict:
    """Triple → expected ``source_ref``: the min non-NULL source over
    the rows yielding a set triple (SQL ``min``), the first-wins row's
    source for an attribute (first mention in row order, then array
    order, for ``name``)."""
    set_src: dict = {}
    attr_win: dict = {}
    for row, src in zip(rows, srcs):
        v = {c: (row.get(c) or "").strip() for c in golden.FACT_COLUMNS}
        if not v["Provider"] or not v["Patient"]:
            continue
        specs = golden.multi_or_raw(v["Specialization"])
        locs = golden.multi_or_raw(v["Location"])
        mentions = (
            [("Provider", v["Provider"]), ("Patient", v["Patient"])]
            + [("Specialization", s) for s in specs]
            + [("Location", x) for x in locs]
        )
        uris = [golden.mint_uri(label) for _, label in mentions]
        prov, pat = uris[0], uris[1]
        sets = [(u, RDF_TYPE, KIND_TO_CLASS[k], KIND_URI) for (k, _), u in zip(mentions, uris)]
        sets += [(prov, P_SPECIALIZES_IN, golden.mint_uri(s), KIND_URI) for s in specs]
        sets += [(prov, P_LOCATED_AT, golden.mint_uri(x), KIND_URI) for x in locs]
        sets.append((prov, P_TREATS, pat, KIND_URI))
        sets += [(pat, P_CONDITION, c, KIND_LITERAL) for c in golden.multi_or_raw(v["Patient_Condition"])]
        for t in sets:
            seen = set_src.get(t + (None, None))
            set_src[t + (None, None)] = (
                src if seen is None else seen if src is None else min(seen, src)
            )
        attrs = [((u, P_NAME), label) for (_, label), u in zip(mentions, uris)]
        attrs += [((prov, P_BIO), v["Bio"]), ((pat, P_GENDER), v["Patient_Gender"]),
                  ((pat, P_AGE), v["Patient_Age"])]
        for key, val in attrs:
            if val:
                attr_win.setdefault(key, (val, src))
    out = dict(set_src)
    for (uri, pred), (val, src) in attr_win.items():
        lex, dtype = golden.parse_age_literal(val) if pred == P_AGE else (val, None)
        out[(uri, pred, lex, KIND_LITERAL, dtype, None)] = src
    return out


_N_TABLES = 60


def _covers_hostile_cases(tables: list[list[dict]]) -> None:
    cells = [v for rows in tables for r in rows for v in r.values()]
    assert None in cells and any(v and "\x1c" in v for v in cells)
    assert any(v and v.strip() in (",,", ";|", "|") for v in cells)
    assert {"0042", "1_000", "٤٢", "-7", "NaN"} <= {
        (r["Patient_Age"] or "").strip() for rows in tables for r in rows
    }
    assert any(len(rows) > len({tuple(r.items()) for r in rows}) for rows in tables)
    for rows in tables:  # a slug collision and a label under two kinds
        provs = {(r["Provider"] or "").strip() for r in rows} - {""}
        locs = {(r["Location"] or "").strip() for r in rows} - {""}
        if len({golden.slugify(p) for p in provs}) < len(provs) and provs & locs:
            return
    raise AssertionError("no table has both a slug collision and a shared label")


def test_seeded_hostile_tables_match_golden(spark):
    tables = [_fact_table(seed) for seed in range(_N_TABLES)]
    _covers_hostile_cases(tables)
    mismatched = []
    for seed, rows in enumerate(tables):
        df, _ = _fact_df(spark, rows, seed)
        # one collect: the output is a set (edges_from_triples relies on
        # it to skip a dedup) and equals the golden set
        got = [tuple(r) for r in build_triples(df).collect()]
        assert len(got) == len(set(got)), f"seed {seed}: duplicate triple rows"
        if set(got) != golden.fact_rows_to_triples(rows):
            mismatched.append(seed)
    assert not mismatched, f"seeds whose triples differ from golden: {mismatched}"


@pytest.mark.parametrize("seed", [3, 17, 42, 58])
def test_provenance_keeps_triples_and_stamps_expected_source(spark, seed):
    rows = _fact_table(seed)
    df, srcs = _fact_df(spark, rows, seed)
    want = _expected_sources(rows, srcs)
    assert set(want) == golden.fact_rows_to_triples(rows)
    got = {
        (r.subj, r.pred, r.obj, r.obj_kind, r.obj_dtype, r.obj_lang): r.source_ref
        for r in build_triples(df, provenance_col="src").collect()
    }
    assert got == want


def test_slug_arrays_match_scalar_slugs(spark):
    arrays = [["Ann Lee", "Ann  Lee", "Ann_Lee"], [], ["ſ", " ", "東京 クリニック"], ["-"]]
    df = spark.createDataFrame(list(enumerate(arrays)), "i int, a array<string>")
    got = {r.i: list(r.s) for r in df.select("i", slugify_arrays_udf("a").alias("s")).collect()}
    assert got == {i: [golden.slugify(x) for x in a] for i, a in enumerate(arrays)}
    flat = df.select(F.explode("a").alias("x")).select("x", slugify_udf("x").alias("s"))
    assert all(r.s == golden.slugify(r.x) for r in flat.collect())


def _datagen_facts(spark):
    from kgspark import datagen

    corpus = datagen.generate_corpus(n_pages=80, seed=5)
    return spark.createDataFrame(
        [
            {**{c: r.get(c, "") for c in golden.FACT_COLUMNS}, "row_idx": i + 1, "src": i % 7}
            for i, r in enumerate(corpus.fact_rows)
        ],
        schema=_FACT_SCHEMA,
    )


def _node_names(plan_string: str) -> list[str]:
    """Physical operator names of a plan's tree string, top-down."""
    out = []
    for line in plan_string.splitlines():
        m = re.match(r"^[\s:+\-|]*(\w+)", line)
        if m:
            out.append(m.group(1))
    return out


@pytest.mark.parametrize("provenance", [None, "src"])
def test_plan_is_one_slug_call_one_generate_one_shuffle(spark, provenance):
    qe = build_triples(_datagen_facts(spark), provenance_col=provenance)._jdf.queryExecution()
    nodes = _node_names(qe.executedPlan().toString())
    assert "Exchange" in nodes, nodes
    below = nodes[nodes.index("Exchange"):]
    assert below.count("ArrowEvalPython") == 1, nodes
    assert nodes.count("Generate") == 1, nodes
    assert nodes.count("Exchange") <= 2, nodes
    assert "InMemoryTableScan" not in nodes, nodes
    assert "InMemoryRelation" not in qe.optimizedPlan().toString()


# Spark jobs of run_pipeline's triples write (provenance, salted
# repartition): two shuffle-map stages and the write.
_TRIPLES_WRITE_JOBS = 3


def test_triples_write_job_budget(spark, tmp_path):
    facts = _datagen_facts(spark)
    with spark_jobs(spark) as jobs:
        triples = build_triples(facts, provenance_col="src")
        (
            triples.repartition(F.col("pred"), F.pmod(F.xxhash64("subj"), F.lit(8)))
            .write.mode("overwrite").parquet(str(tmp_path / "triples"))
        )
    assert jobs[0] <= _TRIPLES_WRITE_JOBS, jobs[0]
    assert spark.read.parquet(str(tmp_path / "triples")).count() == triples.count()
