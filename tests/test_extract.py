"""Extraction invariants: byte-identical text per url + kernel recall."""

from __future__ import annotations

from kgspark import datagen
from kgspark.constants import FACT_COLUMNS
from kgspark.extract.html import extract_text
from kgspark.extract.ner import extract_fact_rows


def _spec_rows(pages) -> set[tuple]:
    """extract_facts' expected output, built from the pure spec kernel
    over the same webpages rows: English pages only, pre-extracted
    text when present, else the decoded html (NULL html = empty page)."""
    out = set()
    for p in pages.collect():
        if p.lang != "en":
            continue
        text = p.text or (extract_text(p.html) if p.html is not None else "")
        for r in extract_fact_rows(text):
            out.add((p.url, p.warc_ts, r["sent_idx"], *(r[c] for c in FACT_COLUMNS)))
    return out


def _jvm_rows(pages) -> set[tuple]:
    from kgspark.extract.ner import extract_facts

    return {tuple(r) for r in extract_facts(pages).collect()}


def test_extract_text_strips_boilerplate():
    html = b"""<html><head><script>evil()</script><style>a{}</style></head>
    <body><nav>menu</nav><header><h1>T</h1></header>
    <p>Keep me.</p><p>And  me &amp; co.</p>
    <!-- comment --><footer>legal</footer></body></html>"""
    assert extract_text(html) == "Keep me.\nAnd me & co."


def test_extract_text_byte_identity_over_corpus():
    corpus = datagen.generate_corpus(n_pages=60, seed=7)
    for url, _, html, text, _ in corpus.pages:
        extracted = extract_text(html)
        assert extracted == corpus.page_texts[url]
        if text is not None:  # pre-extracted column carries the same bytes
            assert text == extracted


def test_fact_kernel_roundtrip():
    """Every generated fact row is recovered verbatim (modulo linking)."""
    corpus = datagen.generate_corpus(n_pages=80, seed=11)
    alias_map = dict(corpus.aliases)
    recovered = []
    for url, _, html, _, lang in corpus.pages:
        if lang != "en":
            continue
        for row in extract_fact_rows(extract_text(html)):
            row = dict(row)
            row.pop("sent_idx")
            row["Provider"] = alias_map.get(row["Provider"], row["Provider"])
            recovered.append(row)
    expected = [dict(r) for r in corpus.fact_rows]
    assert recovered == expected


def test_fact_kernel_ignores_noise():
    text = "Random line.\nDr. Foo Bar is a physician focused on nothing much.\n"
    assert extract_fact_rows(text) == []


def test_jvm_extractor_matches_spec(spark):
    """The native-Column extractor must produce EXACTLY the pure spec
    kernel's fact rows, over both the pre-extracted-text and the
    html-decode streams — including bio-attach across non-adjacent
    lines and multi-fact pages."""
    corpus = datagen.generate_corpus(n_pages=150, seed=23, facts_range=(1, 9))
    pages, _, _ = datagen.corpus_to_spark(spark, corpus)

    jvm = _jvm_rows(pages)
    assert jvm == _spec_rows(pages)
    assert jvm  # non-vacuous
    # bios actually attach in this corpus
    assert any(r[7] != "" for r in jvm), "fixture must exercise bio-attach"


def test_jvm_extractor_edge_lines(spark):
    """Hand-built page exercising: bio before any fact (dropped), bio
    with non-matching provider (dropped), two bios for one fact (first
    wins), bio after an intervening noise line (still attaches), and a
    unicode-whitespace-padded line (Python strip semantics)."""
    from datetime import datetime, timezone

    fact1 = ("Dr. Ann Lee, a cardiology specialist based in Boston, "
             "treats Bob Stone (age 44, male, flu).")
    fact2 = ("Dr. Ann Lee, a cardiology specialist based in Boston, "
             "treats Eva Moss (age 30, female, asthma and colds).")
    bio_ok = "Dr. Ann Lee is a physician focused on cardiac care."
    bio_other = "Dr. Max Roe is a physician focused on bones."
    bio_second = "Dr. Ann Lee is a physician focused on something else."
    text = "\n".join([
        bio_other,              # before any fact -> dropped
        fact1,
        "Dr. filler noise line that matches contains gate only",
        bio_ok,                 # attaches to fact1 across the noise line
        bio_second,             # second bio for fact1 -> ignored
        "  " + fact2 + "\t",  # unicode-ws padded fact line
        bio_other,              # provider mismatch -> dropped
    ])
    ts = datetime(2025, 1, 1, tzinfo=timezone.utc)
    pages = spark.createDataFrame(
        [("u1", ts, None, text, "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    jvm = _jvm_rows(pages)
    assert jvm == _spec_rows(pages)
    by_patient = {r[4]: r for r in jvm}
    assert by_patient["Bob Stone"][7] == bio_ok
    assert by_patient["Eva Moss"][7] == ""
    assert by_patient["Eva Moss"][10] == "asthma|colds"


def test_recrawled_url_snapshots_stay_independent(spark):
    """Two snapshots of the SAME url (different warc_ts — a recrawl) are
    separate pages: snapshot 2's leading bio must not attach to snapshot
    1's trailing fact, and each snapshot's facts carry its own ts."""
    from datetime import datetime

    from kgspark.extract.ner import extract_facts

    fact = ("Dr. Ann Lee, a cardiology specialist based in Boston, "
            "treats Bob Stone (age 44, male, flu).")
    bio = "Dr. Ann Lee is a physician focused on cardiac care."
    # naive datetimes: session tz is UTC and collect() returns naive
    t1 = datetime(2025, 1, 1)
    t2 = datetime(2025, 6, 1)
    # snapshot 1 ends with a fact; snapshot 2 STARTS with a matching bio
    # — fused pages would attach it across the snapshot boundary
    pages = spark.createDataFrame(
        [
            ("u1", t1, None, fact, "en"),
            ("u1", t2, None, bio + "\n" + fact, "en"),
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    got = extract_facts(pages.coalesce(1)).collect()
    assert {tuple(r) for r in got} == _spec_rows(pages)
    by_ts = {r["warc_ts"]: r for r in got}
    assert len(got) == 2 and set(by_ts) == {t1, t2}
    assert by_ts[t1]["Bio"] == ""  # no cross-snapshot attach
    assert by_ts[t2]["Bio"] == ""  # bio precedes the fact


def test_unicode_line_separator_bio_parity(spark):
    """U+2028 inside a bio line (pages split on \\n only, so it survives
    mid-line): Python's `.` matches it, Java's default `.` does not —
    the (?d) UNIX_LINES flag keeps the JVM path at CPython semantics."""
    from datetime import datetime, timezone

    fact = ("Dr. Ann Lee, a cardiology specialist based in Boston, "
            "treats Bob Stone (age 44, male, flu).")
    bio = "Dr. Ann Lee is a physician focused on hearts\u2028and minds."
    ts = datetime(2025, 1, 1, tzinfo=timezone.utc)
    pages = spark.createDataFrame(
        [("u1", ts, None, fact + "\n" + bio, "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    jvm = _jvm_rows(pages)
    assert jvm == _spec_rows(pages)
    assert next(iter(jvm))[7] == bio  # the bio DID attach, as in the spec


def test_null_html_row_is_empty_page(spark):
    """A NULL html payload (nullable column) must not kill the stage —
    it is an empty page contributing zero fact rows."""
    from datetime import datetime, timezone

    from kgspark.extract.ner import extract_facts

    ts = datetime(2025, 1, 1, tzinfo=timezone.utc)
    fact = ("Dr. Ann Lee, a cardiology specialist based in Boston, "
            "treats Bob Stone (age 44, male, flu).")
    pages = spark.createDataFrame(
        [
            ("u-null", ts, None, None, "en"),  # no text, no html
            ("u-ok", ts, None, fact, "en"),
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    got = extract_facts(pages).collect()
    assert [r["url"] for r in got] == ["u-ok"]
    assert {tuple(r) for r in got} == _spec_rows(pages)


def test_jvm_extractor_fuzz_parity(spark):
    """Seeded fuzzer: pages assembled from shuffled fact/bio/noise/
    padding fragments (including unicode whitespace, multi-valued
    cells, back-to-back bios, bio-before-fact) must parse identically
    through the native-Column path and the pure spec kernel."""
    import random
    from datetime import datetime, timezone

    rng = random.Random(77)
    provs = [f"Dr. {a} {b}" for a in ("Ann", "Max", "Eva") for b in ("Lee", "Roe")]
    pads = ["", " ", "\t", " ", " ", "  \t"]

    def fact(p):
        specs = " and ".join(rng.sample(["cardiology", "oncology", "geriatrics"],
                                        rng.randint(1, 2)))
        locs = " and ".join(rng.sample(["Boston", "New York", "Springfield"],
                                       rng.randint(1, 2)))
        pat = rng.choice(["Bob Stone", "Eva Moss", "Jack O'Neil"])
        conds = " and ".join(rng.sample(["flu", "colds", "asthma"], rng.randint(1, 2)))
        return (f"{p}, a {specs} specialist based in {locs}, treats {pat} "
                f"(age {rng.randint(1, 99)}, "
                f"{rng.choice(['male', 'female'])}, {conds}).")

    def bio(p):
        return f"{p} is a physician focused on {rng.choice(['hearts', 'bones'])}."

    pages = []
    ts = datetime(2025, 1, 1, tzinfo=timezone.utc)
    for i in range(60):
        lines = []
        for _ in range(rng.randint(2, 10)):
            p = rng.choice(provs)
            kind = rng.random()
            if kind < 0.45:
                lines.append(fact(p))
            elif kind < 0.8:
                lines.append(bio(p))
            else:
                lines.append(rng.choice([
                    "Dr. noise line without structure",
                    "plain filler text",
                    f"{p}, a broken specialist based in",  # near-miss
                ]))
        text = "\n".join(rng.choice(pads) + ln + rng.choice(pads) for ln in lines)
        pages.append((f"u{i}", ts, None, text, "en"))
    df = spark.createDataFrame(
        pages,
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    jvm = _jvm_rows(df)
    assert jvm == _spec_rows(df)
    assert jvm, "fuzz fixture must produce facts"
    assert any(r[7] != "" for r in jvm), "fixture must attach some bios"


def test_extraction_decodes_and_parses_each_page_once(spark, tmp_path):
    """The facts plan over a parquet page table holds one html decode
    (``MapInArrow``) and one page exchange on (url, warc_ts): the bio
    attach runs as windows inside that exchange, so no branch of the
    plan re-reads, re-decodes or re-parses the pages."""
    import re

    from kgspark.extract.ner import extract_facts

    corpus = datagen.generate_corpus(n_pages=40, seed=11)
    pages, _, _ = datagen.corpus_to_spark(spark, corpus)
    pages.write.parquet(str(tmp_path / "pages"))
    facts = extract_facts(spark.read.parquet(str(tmp_path / "pages")))
    plan = facts._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1, plan
    assert len(re.findall(r"Exchange hashpartitioning\(url#\d+, warc_ts#\d+", plan)) == 1, plan
    assert "Join" not in plan, plan
    assert {tuple(r) for r in facts.collect()} == _spec_rows(pages)
