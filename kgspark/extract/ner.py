"""Document → fact-row extraction (SURVEY.md §2 H1 ◆).

The reference turns each document into (nodes, relationships) with one
LLM call per document (kg_rag/utils/graph_utils.py:100-113). Here the
extraction grammar is a deterministic pure-Python kernel,
``extract_fact_rows`` (the spec, used by tests and the golden oracle),
and the distributed path is NATIVE: the only Python executor-side is
the byte-identity html→text decode (decode-only ``mapInArrow``); line
gating, fact parsing, and the bio-attach all run as codegen'd Column
ops + two windows inside one page exchange (``_extract_lines_jvm``),
with equality to the spec pinned in tests/test_extract.py.

Kernel output per page: ordered fact rows in the reference's tabular
schema (FACT_COLUMNS) with the sentence index; a trailing bio sentence
attaches to the immediately-preceding fact row when its provider
mention matches (spec'd deterministic behavior).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

from kgspark.constants import FACT_COLUMNS
from kgspark.extract.html import extract_text

NAME = r"Dr\.(?:\s[A-Z][\w.'-]*)+"
FACT_RE = re.compile(
    rf"^(?P<prov>{NAME}), an? (?P<specs>[A-Za-z ]+?) specialist based in "
    r"(?P<locs>[A-Za-z ]+?), treats (?P<pat>[A-Z][\w'-]*(?: [A-Z][\w'-]*)*) "
    r"\(age (?P<age>\d+), (?P<gender>[A-Za-z]+), (?P<conds>[^)]+)\)\.$"
)
BIO_RE = re.compile(rf"^(?P<prov>{NAME}) is a physician focused on .+\.$")
_AND_SPLIT = re.compile(r"\s+and\s+")


def _multi_join(raw: str) -> str:
    return "|".join(p.strip() for p in _AND_SPLIT.split(raw) if p.strip())


def extract_fact_rows(text: str) -> list[dict]:
    """Pure extraction kernel: page text → ordered fact rows."""
    rows: list[dict] = []
    for sent_idx, line in enumerate(text.split("\n")):
        line = line.strip()
        m = FACT_RE.match(line)
        if m:
            rows.append(
                {
                    "sent_idx": sent_idx,
                    "Provider": m["prov"],
                    "Patient": m["pat"],
                    "Specialization": _multi_join(m["specs"]),
                    "Location": _multi_join(m["locs"]),
                    "Bio": "",
                    "Patient_Age": m["age"],
                    "Patient_Gender": m["gender"],
                    "Patient_Condition": _multi_join(m["conds"]),
                }
            )
            continue
        b = BIO_RE.match(line)
        if b and rows and rows[-1]["Provider"] == b["prov"] and not rows[-1]["Bio"]:
            rows[-1]["Bio"] = line
    return rows


EXTRACT_SCHEMA = (
    "url string, warc_ts timestamp, sent_idx int, "
    + ", ".join(f"{c} string" for c in FACT_COLUMNS)
)

_DECODE_SCHEMA = "url string, warc_ts timestamp, text string"


def _decode_html_batches(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
    """Decode-only Arrow kernel: (url, warc_ts, html) → (url, warc_ts,
    text) via the pure byte-identity extractor. Payloads stay in Arrow
    buffers (mapInPandas would materialize every payload as Python
    bytes up front); rows decode one at a time; NO parsing happens here
    (the JVM line parser handles that for both text and html rows)."""
    import pyarrow as pa

    for rb in batches:
        cols = {name: rb.column(i) for i, name in enumerate(rb.schema.names)}
        html_col = cols["html"]
        # html is a nullable column: a NULL payload is an empty page,
        # not a job-killing TypeError
        texts = [
            extract_text(h) if (h := html_col[i].as_py()) is not None else ""
            for i in range(rb.num_rows)
        ]
        yield pa.RecordBatch.from_pydict(
            {
                "url": cols["url"],
                "warc_ts": cols["warc_ts"],
                "text": pa.array(texts, pa.string()),
            }
        )


# ---------------------------------------------------------------------------
# JVM mirror of the line kernel (zero per-row Python on the text path)
# ---------------------------------------------------------------------------
#
# Java regex translation of FACT_RE/BIO_RE, kept byte-parity with the
# CPython kernel (the spec; tests/test_extract.py asserts equality):
# - (?P<name>) → plain numbered groups ((?P< is a Python-only syntax);
# - \s → an explicit class enumerating CPython's str.isspace() set
#   (Java's (?U)\s is the Unicode White_Space property, which EXCLUDES
#   the 0x1c-0x1f separators Python accepts);
# - everything else in the grammar is ASCII classes with identical
#   semantics in both engines.

def _java_ws_class() -> str:
    from kgspark.functions.textfns import _PY_WS

    return "[" + "".join(
        f"\\x{ord(c):02x}" if ord(c) < 256 else f"\\u{ord(c):04x}" for c in _PY_WS
    ) + "]"


def _java_patterns() -> tuple[str, str, str]:
    ws = _java_ws_class()
    name = rf"Dr\.(?:{ws}[A-Z][\w.'-]*)+"
    # (?U): UNICODE_CHARACTER_CLASS, so Java's \w/\d track CPython's
    # Unicode-aware classes (default Java \w is ASCII-only)
    # (?d): UNIX_LINES, so Java's `.` excludes ONLY \n like CPython's
    # (Java default also excludes U+2028/U+2029/U+0085, which survive
    # mid-line since pages split on \n alone — without it a bio line
    # containing U+2028 matched in Python but not on the JVM)
    fact = (
        rf"(?Ud)^({name}), an? ([A-Za-z ]+?) specialist based in "
        r"([A-Za-z ]+?), treats ([A-Z][\w'-]*(?: [A-Z][\w'-]*)*) "
        r"\(age (\d+), ([A-Za-z]+), ([^)]+)\)\.$"
    )
    bio = rf"(?Ud)^({name}) is a physician focused on .+\.$"
    and_split = rf"{ws}+and{ws}+"
    return fact, bio, and_split


def _multi_join_col(col):
    """JVM twin of _multi_join: split on \\s+and\\s+, strip, drop empties."""
    from pyspark.sql import functions as F

    from kgspark.functions.textfns import py_strip_col

    _, _, and_split = _java_patterns()
    return F.array_join(
        F.filter(
            F.transform(F.split(col, and_split), lambda p: py_strip_col(p)),
            lambda p: p != F.lit(""),
        ),
        "|",
    )


def _extract_lines_jvm(lines):
    """(url, warc_ts, sent_idx, line) candidate lines → fact rows, all
    native Column ops (regexp gate + group extracts + two windows over
    one page exchange for the bio-attach, no join). Exactly
    ``extract_fact_rows``' semantics per page (url, warc_ts): both
    patterns only match lines starting with 'Dr.', which the caller's
    contains('Dr.') gate keeps, and a bio attaches to the page's most
    recent PRECEDING fact row iff the provider matches and no earlier
    bio already attached.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from kgspark.functions.textfns import py_strip_col

    fact_re, bio_re, _ = _java_patterns()
    stripped = lines.withColumn("line", py_strip_col(F.col("line")))

    # Heavy-regex economy: both patterns are ^Dr\.-anchored, so cheap
    # codegen'd string gates (startswith + a distinctive infix) keep the
    # expensive backtracking patterns off noise lines entirely; matching
    # fact lines then run the pattern ONCE — regexp_replace rewrites the
    # line to its 7 groups joined on \x01 and a split recovers them
    # (7 regexp_extract calls would re-execute the pattern per field).
    # The arity guard falls back to per-group extraction in the only
    # corner where \x01 could shift fields (a literal \x01 inside the
    # free-text condition group) — exactness preserved for any input.
    starts = F.col("line").startswith("Dr.")
    is_fact = (
        starts & F.col("line").contains(", treats ") & F.col("line").rlike(fact_re)
    )
    is_bio = (
        starts
        & F.col("line").contains(" is a physician focused on ")
        & F.col("line").rlike(bio_re)
    )
    sep = "\x01"
    packed = F.split(
        F.regexp_replace("line", fact_re, sep.join(f"${g}" for g in range(1, 8))),
        sep,
    )

    # ONE candidate stream, parsed once, then one explicit page
    # exchange. Everything after it (the two windows, the fact filter)
    # runs inside that partitioning as a single branch, so the html
    # decode, line explode and pattern match run once per page. A join
    # of a fact branch with a bio branch would split the plan below the
    # exchange: column pruning drops the window from the fact branch,
    # the two branches then differ, exchange reuse cannot fire, and the
    # whole scan runs twice. The shuffle itself is tiny: only MATCHED
    # lines travel (a handful per page — O(facts), not O(corpus)).
    cand = (
        stripped.filter(is_fact | is_bio)
        .select(
            "url",
            "warc_ts",
            "sent_idx",
            "line",
            is_fact.alias("is_fact"),
            F.when(is_fact, packed).alias("packed"),
            F.when(
                is_fact,
                F.when(F.size(packed) == 7, F.element_at(packed, 1)).otherwise(
                    F.regexp_extract("line", fact_re, 1)
                ),
            ).alias("prov"),
            F.when(is_bio, F.regexp_extract("line", bio_re, 1)).alias("bio_prov"),
        )
        .repartition("url", "warc_ts")
    )

    w = Window.partitionBy("url", "warc_ts").orderBy("sent_idx").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    after = cand.withColumn(
        "prev_fact_idx",
        F.last(F.when(F.col("is_fact"), F.col("sent_idx")), ignorenulls=True).over(w),
    ).withColumn(
        "prev_fact_prov",
        F.last(F.when(F.col("is_fact"), F.col("prov")), ignorenulls=True).over(w),
    )
    # bio attach: a fact row's own prev_fact_idx is its sent_idx, so the
    # (page, prev_fact_idx) partition holds a fact row and the lines up
    # to the next fact; the first bio there naming the fact's provider
    # attaches
    after = after.withColumn(
        "bio",
        F.min(
            F.when(
                (~F.col("is_fact")) & (F.col("prev_fact_prov") == F.col("bio_prov")),
                F.struct("sent_idx", "line"),
            )
        ).over(Window.partitionBy("url", "warc_ts", "prev_fact_idx")),
    )

    def grp(i: int):
        return F.when(
            F.size("packed") == 7, F.element_at("packed", i)
        ).otherwise(F.regexp_extract("line", fact_re, i))

    out = after.filter("is_fact").select(
        "url",
        "warc_ts",
        "sent_idx",
        F.col("prov").alias("Provider"),
        _multi_join_col(grp(2)).alias("Specialization"),
        _multi_join_col(grp(3)).alias("Location"),
        grp(4).alias("Patient"),
        grp(5).alias("Patient_Age"),
        grp(6).alias("Patient_Gender"),
        _multi_join_col(grp(7)).alias("Patient_Condition"),
        F.coalesce("bio.line", F.lit("")).alias("Bio"),
    )
    # EXTRACT_SCHEMA column order
    return out.select("url", "warc_ts", "sent_idx", *FACT_COLUMNS)


def extract_facts(webpages):
    """webpages(url, warc_ts, html, text, lang) → fact rows DataFrame.

    Scale design — the only Python is the byte-identity html→text
    decode (the spec function itself, decode-only, Arrow-batched):

    - the language gate runs JVM-side (pushed into the parquet scan —
      non-English rows never reach the extractor);
    - only rows WITHOUT pre-extracted ``text`` ship their html payload,
      into ``_decode_html_batches``;
    - both streams are line-exploded JVM-side, gated with a codegen'd
      contains('Dr.'), then parsed entirely with native regexp
      gates/extracts + two per-page windows for the bio-attach
      (``_extract_lines_jvm``). Java regex over whole pages measured
      slower than the CPython decode, so the decode seam stays the
      honest Python boundary.
    """
    from pyspark.sql import functions as F

    en = webpages.filter(F.col("lang") == "en")
    has_text = F.col("text").isNotNull() & (F.col("text") != "")
    text_rows = en.filter(has_text).select("url", "warc_ts", "text")
    html_text = (
        en.filter(~has_text)
        .select("url", "warc_ts", "html")
        .mapInArrow(_decode_html_batches, schema=_DECODE_SCHEMA)
    )
    lines = (
        text_rows.unionByName(html_text)
        .select(
            "url",
            "warc_ts",
            F.posexplode(F.split(F.col("text"), "\n")).alias("sent_idx", "line"),
        )
        .filter(F.col("line").contains("Dr."))
    )
    return _extract_lines_jvm(lines)
