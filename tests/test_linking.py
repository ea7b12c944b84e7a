"""Entity-linking tiers: exact, alias, embedding, unresolved."""

from __future__ import annotations

from kgspark.operators.linking import canonicalize_by_components, resolve_mentions


def _run(spark, mentions, aliases, canonicals):
    m = spark.createDataFrame([(x,) for x in mentions], "name string")
    a = spark.createDataFrame(aliases, "alias string, canonical string")
    c = spark.createDataFrame([(x,) for x in canonicals], "canonical string")
    res = resolve_mentions(m, a, c)
    return {r.name: (r.resolved, r.method) for r in res.collect()}, (m, a, c, res)


def test_resolution_tiers(spark):
    canonicals = ["Dr. John Smith", "Dr. Jane Poe"]
    aliases = [("Dr. Smith", "Dr. John Smith"), ("Dr. J. Poe", "Dr. Jane Poe")]
    mentions = [
        "Dr. John Smith",   # exact
        "Dr. Smith",        # alias
        "Dr. Jon Smith",    # typo → embedding
        "Prof. Zig Zag",    # unresolvable → self
    ]
    got, _ = _run(spark, mentions, aliases, canonicals)
    assert got["Dr. John Smith"] == ("Dr. John Smith", "exact")
    assert got["Dr. Smith"] == ("Dr. John Smith", "alias")
    assert got["Dr. Jon Smith"] == ("Dr. John Smith", "embedding")
    assert got["Prof. Zig Zag"] == ("Prof. Zig Zag", None)


def test_component_canonicalization(spark):
    canonicals = ["Dr. John Smith"]
    aliases = [("Dr. Smith", "Dr. John Smith")]
    mentions = ["Dr. Smith", "Dr. Jon Smith", "Dr. John Smith", "Someone Else"]
    _, (m, a, c, res) = _run(spark, mentions, aliases, canonicals)
    mapping = {
        r.name: r.canonical_id for r in canonicalize_by_components(res, c).collect()
    }
    assert mapping["Dr. Smith"] == "Dr. John Smith"
    assert mapping["Dr. Jon Smith"] == "Dr. John Smith"
    assert mapping["Dr. John Smith"] == "Dr. John Smith"
    assert mapping["Someone Else"] == "Someone Else"


def test_local_resolver_matches_distributed(spark):
    """The adaptive driver path must produce the distributed mapping."""
    from kgspark.operators.linking import resolve_mentions_local

    canonicals = ["Dr. John Smith", "Dr. Jane Poe", "Dr. Ann Lee"]
    aliases = [("Dr. Smith", "Dr. John Smith"), ("Dr. J. Poe", "Dr. Jane Poe")]
    mentions = [
        "Dr. John Smith", "Dr. Smith", "Dr. Jon Smith", "Dr. J. Poe",
        "Dr. Jane Poe", "Dr. An Lee", "Prof. Zig Zag", "Dr. Ann Lee",
    ]
    _, (m, a, c, res) = _run(spark, mentions, aliases, canonicals)
    distributed = {
        r.name: r.canonical_id for r in canonicalize_by_components(res, c).collect()
    }
    local = resolve_mentions_local(mentions, dict(aliases), set(canonicals))
    assert local == distributed


def test_local_resolver_target_only_canonical(spark):
    """A canonical that appears only as an alias target (never verbatim
    as a mention) must still anchor its component's representative
    (regression: local union-find groups were built over mention keys
    only, silently dropping the canonicalization)."""
    from kgspark.operators.linking import resolve_mentions_local

    canonicals = ["Dr. John Smith"]
    aliases = [("Jon Smyth", "Dr. John Smith")]
    mentions = ["Jon Smyth", "Someone Else"]

    local = resolve_mentions_local(mentions, dict(aliases), set(canonicals))
    assert local == {
        "Jon Smyth": "Dr. John Smith",
        "Someone Else": "Someone Else",
    }

    # parity with the distributed path, restricted to mention keys (the
    # distributed mapping also carries rows for target-only nodes)
    _, (m, a, c, res) = _run(spark, mentions, aliases, canonicals)
    distributed = {
        r.name: r.canonical_id for r in canonicalize_by_components(res, c).collect()
    }
    assert {k: distributed[k] for k in mentions} == local


def test_ambiguous_alias_resolves_to_min_canonical_on_both_paths(spark, monkeypatch):
    """An alias row mapped to two canonicals must resolve to the
    lexicographically-smallest canonical, identically on the driver and
    distributed paths (and never duplicate the mention row)."""
    from kgspark.operators import linking
    from kgspark.operators.linking import resolve_mapping

    mentions = spark.createDataFrame([("st marys",), ("Hospital A",)], ["name"])
    aliases = spark.createDataFrame(
        [("st marys", "Hospital B"), ("st marys", "Hospital A")],
        ["alias", "canonical"],
    )
    canonicals = spark.createDataFrame(
        [("Hospital A",), ("Hospital B",)], ["canonical"]
    )
    local = {
        (r.name, r.canonical_id)
        for r in resolve_mapping(mentions, aliases, canonicals).collect()
    }
    monkeypatch.setattr(linking, "DRIVER_MAX_MENTIONS", 0)
    dist = {
        (r.name, r.canonical_id)
        for r in resolve_mapping(mentions, aliases, canonicals).collect()
    }
    assert local == dist == {("st marys", "Hospital A"), ("Hospital A", "Hospital A")}


def test_resolve_mapping_paths_emit_mention_keys_only(spark, monkeypatch):
    """The distributed path must not emit rows for canonicals that
    appear only as resolution targets — exactly the driver path's key
    set, so both arms return the same mapping."""
    from kgspark.operators import linking
    from kgspark.operators.linking import resolve_mapping

    mentions = spark.createDataFrame([("Supp 17",), (None,)], ["name"])
    aliases = spark.createDataFrame(
        [("Supp 17", "Supplier#17")], ["alias", "canonical"]
    )
    canonicals = spark.createDataFrame([("Supplier#17",)], ["canonical"])
    for cap in (10, 0):  # driver path, then distributed path
        monkeypatch.setattr(linking, "DRIVER_MAX_MENTIONS", cap)
        rows = resolve_mapping(mentions, aliases, canonicals).collect()
        assert {(r.name, r.canonical_id) for r in rows} == {
            ("Supp 17", "Supplier#17")
        }, cap


def test_oversized_dimension_tables_take_distributed_arm(spark, monkeypatch):
    """A huge (dirty) alias table must push resolve_mapping off the
    collect-everything driver path even when the mention set is tiny —
    and the distributed output must stay bit-identical."""
    from kgspark.operators import linking

    mentions = spark.createDataFrame(
        [("Supp 2",), ("Widget Corp",)], ["name"]
    )
    aliases = spark.createDataFrame(
        [(f"Supp {i}", f"Supplier#{i}") for i in range(300)],
        ["alias", "canonical"],
    )
    canonicals = spark.createDataFrame(
        [(f"Supplier#{i}",) for i in range(300)], ["canonical"]
    )

    expected = {
        (r.name, r.canonical_id)
        for r in linking.resolve_mapping(mentions, aliases, canonicals).collect()
    }

    def boom(*a, **k):  # the driver path must NOT run
        raise AssertionError("driver path collected oversized dimensions")

    monkeypatch.setattr(linking, "resolve_mentions_local", boom)
    monkeypatch.setattr(linking, "DRIVER_MAX_DIMS", 100)
    got = {
        (r.name, r.canonical_id)
        for r in linking.resolve_mapping(mentions, aliases, canonicals).collect()
    }
    assert got == expected
    assert ("Supp 2", "Supplier#2") in got
