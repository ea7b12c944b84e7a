"""Property-based tests (hypothesis) for the pure-Python golden kernels."""

from __future__ import annotations

import re

from hypothesis import given, settings
from hypothesis import strategies as st

from kgspark import golden
from kgspark.sources.turtle_sink import serialize_turtle_pretty, write_turtle_pretty

text_strategy = st.text(max_size=60)


@given(text_strategy)
@settings(max_examples=300)
def test_slugify_invariants(s):
    slug = golden.slugify(s)
    assert slug  # never empty
    assert re.fullmatch(r"\w+", slug)  # only word chars
    assert "__" not in slug and not slug.startswith("_") and not slug.endswith("_")
    assert golden.slugify(slug) == slug  # idempotent


@given(text_strategy)
@settings(max_examples=300)
def test_split_multi_invariants(s):
    parts = golden.split_multi(s)
    for p in parts:
        assert p == p.strip() and p != ""
        assert not re.search(r"[|;,]", p)
    # reassembling with any separator re-splits to the same parts
    if parts:
        assert golden.split_multi("|".join(parts)) == parts


@given(
    st.text(max_size=40),
    st.sampled_from(["literal", "uri"]),
    st.one_of(st.none(), st.just("http://www.w3.org/2001/XMLSchema#int")),
)
@settings(max_examples=200)
def test_turtle_line_roundtrip(obj, kind, dtype):
    """The Turtle writer's output parses back to the identical triple."""
    if kind == "uri":
        obj = "http://example.org/x#" + golden.slugify(obj)
        dtype = None
    text = serialize_turtle_pretty(
        [("http://example.org/x#S", "http://example.org/x#p", obj, kind, dtype, None)]
    )
    # parse via a temp file API-compatible path
    import tempfile

    with tempfile.NamedTemporaryFile("w", suffix=".ttl", delete=False, encoding="utf-8") as f:
        f.write(text)
        path = f.name
    triples = golden.read_turtle(path)
    assert triples == {
        ("http://example.org/x#S", "http://example.org/x#p", obj, kind, dtype, None)
    }


def test_write_turtle_roundtrip_and_deterministic_truncation(spark, tmp_path):
    """The debug sink writes every triple and parses back to the same
    set; over ``max_rows`` it keeps the first triples in triple order
    whatever the partitioning."""
    s, p = "http://example.org/x#S", "http://example.org/x#p"
    rows = [
        (s, p, 'say "hi"\n\tbye', "literal", None, None),
        (s, p, "http://example.org/x#O", "uri", None, None),
        (s, "http://example.org/x#age", "42", "literal", golden.XSD_INT, None),
        ("http://example.org/x#A", p, "hello", "literal", None, "en"),
    ]
    df = spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_kind string, "
        "obj_dtype string, obj_lang string",
    )
    full = tmp_path / "full.ttl"
    assert write_turtle_pretty(df, str(full)) == len(rows)
    assert golden.read_turtle(str(full)) == set(rows)
    head = tmp_path / "head.ttl"
    assert write_turtle_pretty(df.repartition(3), str(head), max_rows=2) == 2
    kept = sorted(rows)[:2]
    assert head.read_text(encoding="utf-8") == serialize_turtle_pretty(kept)


def test_age_literal_matches_python_int():
    cases = ["42", "066", "-3", "+7", "1_0", "not a number", "4.5", " 9", "٣"]
    for raw in cases:
        lex, dtype = golden.parse_age_literal(raw)
        try:
            expected = str(int(raw))
            assert (lex, dtype) == (expected, golden.XSD_INT)
        except ValueError:
            assert (lex, dtype) == (raw, None)
