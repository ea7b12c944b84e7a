"""Debug Turtle writer (SURVEY.md A2 — non-goal for fidelity, handy for
eyeballing small graphs; the engine's real sink is Parquet+manifests).

:func:`write_turtle_pretty` is byte-compatible with the pretty Turtle
the reference checks in (``data/rdf/healthcare_data.ttl``,
``healthcare_ontology.ttl``, emitted by rdflib's TurtleSerializer via
``scripts/build_rdf.py:49-53,114-118``). This closes the last fidelity
gap between set-equality and file-equality: serializing our pipeline's
triples over the reference CSV reproduces the checked-in .ttl
byte-for-byte (tests/test_turtle_pretty.py).

It round-trips through ``kgspark.golden.read_turtle``. Driver-side by
design — a debugging/export tool for small (bounded-collect) outputs; a
100 TB export writes distributed Parquet, not a single Turtle file.

rdflib-compat rules reproduced by the pretty writer (all derived from
the checked-in files' observable bytes — no rdflib import needed):

- subjects of ``rdfs:Class`` first (sorted by URI), then everything
  else ordered by (times-referenced-as-object, URI);
- within a block: ``a`` first, then ``rdfs:label``, then remaining
  predicates in URI byte order; object lists sorted;
- predicates continue at 4-space indent joined by " ;", extra objects
  at 8-space indent joined by ",";
- ``@prefix`` header lines sorted by prefix, only namespaces actually
  written as qnames count as used (an ``a``-abbreviated rdf:type does
  NOT pull in the rdf prefix — hence healthcare_data.ttl has no
  ``@prefix rdf:`` line while the ontology file does);
- literals: ``"lex"^^xsd:dt`` / ``"lex"@lang``; canonical xsd:integer
  and xsd:boolean lexical forms are written bare (rdflib's use_plain),
  other datatypes (e.g. the data's xsd:int ages) stay typed;
- qname only when the local part is NCName-shaped (letter/underscore
  start — rdflib splits on XML name rules, so digit-start locals fall
  back to ``<absolute-uri>`` form);
- file layout: prefix block, then each subject block preceded by a
  blank line, trailing newline after the final " ." (file ends ".\\n\\n").
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from kgspark.constants import (
    BASE,
    KIND_URI,
    RDF_NS,
    RDFS_CLASS,
    RDFS_LABEL,
    RDFS_NS,
    RDF_TYPE,
    XSD_NS,
)

_LIT_ESCAPES = {"\\": "\\\\", '"': '\\"', "\n": "\\n", "\r": "\\r", "\t": "\\t"}


def _escape(s: str) -> str:
    return "".join(_LIT_ESCAPES.get(ch, ch) for ch in s)


#: the reference graphs' bindings (build_rdf.py:49-53); unused ones are
#: dropped at serialization time, matching rdflib
DEFAULT_PREFIXES = {
    "hc": BASE,
    "rdf": RDF_NS,
    "rdfs": RDFS_NS,
    "xsd": XSD_NS,
}

# NCName-shaped local part (rdflib splits qnames on XML name rules):
# starts with a unicode letter or underscore, continues with word
# chars / dot / hyphen. Anything else → absolute-IRI form.
_NCNAME_RE = re.compile(r"^[^\W\d][\w.\-]*$", re.UNICODE)

# xsd types rdflib writes bare when the lexical form is canonical
_PLAIN_INT = (XSD_NS + "integer", re.compile(r"^[+-]?\d+$"))
_PLAIN_BOOL = (XSD_NS + "boolean", re.compile(r"^(true|false)$"))


class _QNames:
    """Longest-namespace-match qname table that records which prefixes
    were actually emitted (drives the ``@prefix`` header)."""

    def __init__(self, prefixes: dict[str, str]):
        # longest namespace first so e.g. a hypothetical nested ns wins
        self._by_ns = sorted(prefixes.items(), key=lambda kv: -len(kv[1]))
        self.used: set[str] = set()

    def term(self, uri: str) -> str:
        for prefix, ns in self._by_ns:
            if uri.startswith(ns):
                local = uri[len(ns) :]
                if local and _NCNAME_RE.match(local):
                    self.used.add(prefix)
                    return f"{prefix}:{local}"
        return f"<{uri}>"


def _literal(obj: str, dtype: str | None, lang: str | None, qn: _QNames) -> str:
    if dtype:
        for plain_dt, rx in (_PLAIN_INT, _PLAIN_BOOL):
            if dtype == plain_dt and rx.match(obj):
                return obj
        return f'"{_escape(obj)}"^^{qn.term(dtype)}'
    if lang:
        return f'"{_escape(obj)}"@{lang}'
    return f'"{_escape(obj)}"'


def serialize_turtle_pretty(rows, prefixes: dict[str, str] | None = None) -> str:
    """Serialize 6-tuples ``(subj, pred, obj, obj_kind, obj_dtype,
    obj_lang)`` into rdflib-TurtleSerializer-compatible pretty Turtle.

    Pure driver-side function (no Spark) so it is unit-testable against
    the reference's checked-in bytes; :func:`write_turtle_pretty` is the
    DataFrame wrapper.
    """
    prefixes = dict(DEFAULT_PREFIXES if prefixes is None else prefixes)
    qn = _QNames(prefixes)
    triples = {tuple(r) for r in rows}

    by_subj: dict[str, dict[str, list]] = {}
    refs: dict[str, int] = {}
    for s, p, o, kind, dtype, lang in triples:
        by_subj.setdefault(s, {}).setdefault(p, []).append((o, kind, dtype, lang))
        if kind == KIND_URI:
            refs[o] = refs.get(o, 0) + 1

    # subject order: rdfs:Class members first (sorted), then everything
    # else by (reference count, URI) — rdflib orderSubjects()
    classes = sorted(
        s
        for s, preds in by_subj.items()
        if any(o == RDFS_CLASS for o, *_ in preds.get(RDF_TYPE, ()))
    )
    seen = set(classes)
    rest = sorted(
        (refs.get(s, 0), s) for s in by_subj if s not in seen
    )
    ordered = classes + [s for _, s in rest]

    blocks = []
    for s in ordered:
        preds = by_subj[s]
        # predicate order: rdf:type, rdfs:label, then URI byte order
        # (rdflib RecursiveSerializer.predicateOrder)
        plist = [p for p in (RDF_TYPE, RDFS_LABEL) if p in preds]
        plist += sorted(p for p in preds if p not in (RDF_TYPE, RDFS_LABEL))
        lines = []
        for p in plist:
            verb = "a" if p == RDF_TYPE else qn.term(p)
            objs = [
                o_rendered
                for _, o_rendered in sorted(
                    (o, qn.term(o) if kind == KIND_URI else _literal(o, dtype, lang, qn))
                    for o, kind, dtype, lang in preds[p]
                )
            ]
            lines.append(f"{verb} " + ",\n        ".join(objs))
        blocks.append(f"{qn.term(s)} " + " ;\n    ".join(lines))

    header = "".join(
        f"@prefix {p}: <{ns}> .\n"
        for p, ns in sorted(prefixes.items())
        if p in qn.used
    )
    return header + "".join(f"\n{b} .\n" for b in blocks) + ("\n" if blocks else "")


def write_turtle_pretty(
    triples: DataFrame,
    path: str,
    prefixes: dict[str, str] | None = None,
    max_rows: int = 1_000_000,
) -> int:
    """Collect (bounded) and write rdflib-pretty Turtle. Returns the
    triple count written.

    Truncation over ``max_rows`` keeps the lexicographically-first
    triples: a bare limit() would take an arbitrary partition-dependent
    subset, making two writes of the same graph diverge.
    """
    cols = ["subj", "pred", "obj", "obj_kind", "obj_dtype", "obj_lang"]
    rows = [tuple(r) for r in triples.select(*cols).orderBy(*cols).limit(max_rows).collect()]
    text = serialize_turtle_pretty(rows, prefixes)
    with open(path, "w", encoding="utf-8") as f:
        f.write(text)
    return len(set(rows))
