"""Entity linking: alias dictionary + embedding-cosine fallback (H5 ◆, D6).

Three-tier resolution of provider mentions, the web-scale analog of the
reference's exact-name ``uri_cache``/Neo4j-MERGE identity
(build_rdf.py:129-136, build_cypher_graph.py:22-27):

1. exact   — mention already a canonical name;
2. alias   — broadcast map-side join against the alias dictionary;
3. embedding — deterministic char-n-gram feature-hash vectors (Arrow
   pandas UDF, md5-based hashing) + cosine top-1 against candidates,
   blocked by shared surname-ish token so no cross join materializes.

Unresolved mentions keep their surface form (they become their own
entity) — recall favoring precision, cosine threshold 0.75.

An alias mapped to multiple canonicals is resolved to the
lexicographically-smallest canonical on BOTH the distributed and the
driver path (deterministic, and identical across the size-adaptive
dispatch); merging the rival canonicals instead would let one dirty
alias row fuse two real entities.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType
from pyspark.sql.window import Window

from kgspark.runtime import materialize

from kgspark.operators.cc import _union_find, connected_components_auto
from kgspark.operators.fulltext import tokenize, tokenize_col
from kgspark.operators.similarity import cosine_col

EMBED_DIM = 64


def _char_ngram_vector(name: str, dim: int = EMBED_DIM, n: int = 3) -> np.ndarray:
    """Raw char-n-gram bucket counts (md5 hashing trick), UNnormalized.

    Cosine is scale-invariant, so counts give the same similarity as
    unit vectors — but integer-valued doubles make every dot product
    exact in float64 regardless of summation order, so Spark
    (sequential fold), numpy (pairwise sum) and the DuckDB oracle
    (unspecified order) produce bit-identical cosines.
    """
    s = f"^{(name or '').lower()}$"
    v = np.zeros(dim, dtype=np.float64)
    for i in range(max(len(s) - n + 1, 0)):
        g = s[i : i + n]
        h = int(hashlib.md5(g.encode("utf-8")).hexdigest()[:8], 16)
        v[h % dim] += 1.0
    return v


@pandas_udf(ArrayType(DoubleType()))
def name_embedding_udf(names: pd.Series) -> pd.Series:
    return names.map(lambda s: _char_ngram_vector(s).tolist())


def _blocking_tokens(name_col) -> "F.Column":
    """Lowercased tokens minus the ubiquitous honorific (hub-token guard:
    blocking on 'dr' would put every provider in one block)."""
    return F.filter(tokenize_col(name_col), lambda t: t != F.lit("dr"))


def blocking_df_cap(n_canonicals: int) -> int:
    """Document-frequency cap for blocking tokens: a token carried by
    more than max(10, 1%) of the canonical inventory is a hub (brand
    words, honorifics, 'supplier', …) — blocking on it degenerates to
    all-pairs. Shared by the distributed, local, and oracle paths."""
    return max(10, n_canonicals // 100)



def resolve_mentions(
    mentions: DataFrame,
    aliases: DataFrame,
    canonicals: DataFrame,
    threshold: float = 0.75,
) -> DataFrame:
    """mentions(name) → (name, resolved, method).

    ``aliases(alias, canonical)`` and ``canonicals(canonical)`` are
    dimension tables — broadcast both.
    """
    m = mentions.select("name").distinct()
    canon = canonicals.select(F.col("canonical")).distinct()

    exact = m.join(
        F.broadcast(canon), m.name == canon.canonical, "left"
    ).select("name", F.col("canonical").alias("r_exact"))

    # min-canonical per alias: keeps the join 1:1 (an ambiguous alias
    # row would otherwise duplicate every matching mention) and matches
    # the driver path's deterministic pick
    al = aliases.groupBy("alias").agg(F.min("canonical").alias("r_alias"))
    step2 = exact.join(F.broadcast(al), exact.name == al["alias"], "left").select(
        "name", "r_exact", "r_alias"
    )

    # tier 3: embedding cosine, token-blocked with a DF cap (hub tokens
    # like 'supplier' put the whole inventory in one block — measured
    # 200k scored pairs for 664 mentions at sf0.1 without the cap)
    unresolved = step2.filter(
        F.col("r_exact").isNull() & F.col("r_alias").isNull()
    ).select("name")
    cap = blocking_df_cap(canon.count())
    # array_distinct: df counts DISTINCT canonicals per token, matching
    # the local resolver's token sets and the DuckDB oracle's SELECT
    # DISTINCT — a repeated token inside one canonical must count once
    allowed = (
        canon.select(
            F.explode(F.array_distinct(_blocking_tokens(F.col("canonical")))).alias(
                "block"
            )
        )
        .groupBy("block")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= cap)
        .select("block")
    )
    cand = canon.select(
        F.col("canonical"),
        name_embedding_udf(F.col("canonical")).alias("c_vec"),
        F.explode(F.array_distinct(_blocking_tokens(F.col("canonical")))).alias(
            "block"
        ),
    ).join(F.broadcast(allowed), "block")
    men = unresolved.select(
        "name",
        name_embedding_udf(F.col("name")).alias("m_vec"),
        F.explode(F.array_distinct(_blocking_tokens(F.col("name")))).alias("block"),
    )
    scored = (
        men.join(F.broadcast(cand), "block")
        .withColumn("cos", cosine_col(F.col("m_vec"), F.col("c_vec")))
        .filter(F.col("cos") >= threshold)
    )
    w = Window.partitionBy("name").orderBy(F.desc("cos"), F.asc("canonical"))
    embedded = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("name", F.col("canonical").alias("r_embed"))
    )
    # Single left join instead of union(resolved, embedded, leftovers):
    # the union form re-executes step2 per branch and the UDF-scored
    # subtree twice (once for embedded, once for the anti-join); this
    # shape keeps the expensive tier-3 subtree in the plan exactly once.
    return step2.join(embedded, "name", "left").select(
        "name",
        F.coalesce("r_exact", "r_alias", "r_embed", "name").alias("resolved"),
        F.when(F.col("r_exact").isNotNull(), "exact")
        .when(F.col("r_alias").isNotNull(), "alias")
        .when(F.col("r_embed").isNotNull(), "embedding")
        .otherwise(F.lit(None).cast("string"))
        .alias("method"),
    )


def sameas_edges(resolution: DataFrame) -> DataFrame:
    """(src, dst) same-as pairs from a resolution table (mention↔canonical)."""
    return resolution.filter(F.col("name") != F.col("resolved")).select(
        F.col("name").alias("src"), F.col("resolved").alias("dst")
    )


def canonicalize_by_components(
    resolution: DataFrame, canonicals: DataFrame
) -> DataFrame:
    """G3 ◆: connected-components canonicalization over same-as edges.

    Merges coreferent surface forms into one canonical node: CC over the
    same-as graph, representative = the component's (unique) member that
    is a known canonical name, else the min member. Returns
    (name, canonical_id).
    """
    # The resolution frame feeds the CC edge list, the CC node list, and
    # the final representative join — three consumers of a plan whose hot
    # tier is a pandas-UDF cosine. Materialize once at this reuse
    # boundary (in production this is the linked-facts table written
    # between the link and canonicalize stages) instead of re-executing
    # the resolve per consumer.
    resolution = materialize(resolution)
    edges = sameas_edges(resolution)
    nodes = resolution.select(F.col("name").alias("id"))
    assign = connected_components_auto(nodes, edges, "id")

    canon = canonicals.select(F.col("canonical")).distinct()
    rep = (
        assign.join(canon, assign.id == canon.canonical, "left")
        .groupBy("component")
        .agg(
            F.min("canonical").alias("canon_rep"),
            F.min("id").alias("min_rep"),
        )
        .select(
            "component", F.coalesce("canon_rep", "min_rep").alias("canonical_id")
        )
    )
    return assign.join(rep, "component").select(
        F.col("id").alias("name"), "canonical_id"
    )


def resolve_mentions_local(
    mentions: list[str],
    alias_map: dict[str, str],
    canonical_set: set[str],
    threshold: float = 0.75,
) -> dict[str, str]:
    """Driver-side twin of resolve_mentions + canonicalize_by_components.

    Same three tiers and tie-breaks ((cos desc, canonical asc)); same
    union-find canonicalization. Used by the adaptive path when the
    distinct-mention set is small enough to collect — the common case
    even at web scale after the distinct (surface forms are bounded by
    the entity inventory, not the corpus size).
    """
    import numpy as np

    resolved: dict[str, str] = {}
    todo: list[str] = []
    for m in mentions:
        if m in canonical_set:
            resolved[m] = m
        elif m in alias_map:
            resolved[m] = alias_map[m]
        else:
            todo.append(m)

    if todo:
        cands = sorted(canonical_set)
        cand_vecs = np.stack([_char_ngram_vector(c) for c in cands]) if cands else None
        cand_aa = (cand_vecs * cand_vecs).sum(axis=1) if cands else None
        cand_tokens_raw = [
            {t for t in tokenize(c) if t != "dr"} for c in cands
        ]
        # same DF-capped blocking as the distributed path
        df: dict[str, int] = {}
        for toks in cand_tokens_raw:
            for t in toks:
                df[t] = df.get(t, 0) + 1
        cap = blocking_df_cap(len(cands))
        cand_tokens = [
            {t for t in toks if df[t] <= cap} for toks in cand_tokens_raw
        ]
        for m in todo:
            blocks = {t for t in tokenize(m) if t != "dr"}
            best = None
            if cand_vecs is not None and blocks:
                mv = _char_ngram_vector(m)
                m_aa = float(mv @ mv)
                for i, c in enumerate(cands):
                    if not (blocks & cand_tokens[i]):
                        continue
                    # denom mirrors cosine_col term-for-term:
                    # sqrt(dot(a,a) * dot(b,b)) on exact integer dots
                    denom = float(np.sqrt(m_aa * float(cand_aa[i])))
                    cos = float(mv @ cand_vecs[i]) / denom if denom else 0.0
                    if cos >= threshold and (best is None or cos > best[0] or (cos == best[0] and c < best[1])):
                        best = (cos, c)
            resolved[m] = best[1] if best else m

    # Union-find canonicalization over same-as pairs. Groups must span
    # ALL union-find members — mentions AND resolution targets. A
    # canonical that appears only as a target (never verbatim as a
    # mention) still anchors its component's representative; restrict
    # the returned mapping to mention keys afterwards.
    rep_of: dict[str, str] = {}
    for members in _union_find(resolved, resolved.items()).values():
        canon_members = sorted(x for x in members if x in canonical_set)
        rep = canon_members[0] if canon_members else min(members)
        for m in members:
            rep_of[m] = rep
    return {m: rep_of[m] for m in resolved}


# resolve_mapping's driver-arm caps, read at call time: distinct
# mentions, and alias + canonical rows. A cap of 0 forces the
# distributed tiers; outputs are bit-identical either way
# (tests/test_linking.py).
DRIVER_MAX_MENTIONS = 200_000
DRIVER_MAX_DIMS = 1_000_000


def link_facts(
    facts: DataFrame,
    aliases: DataFrame,
    canonicals: DataFrame,
    name_col: str = "Provider",
) -> DataFrame:
    """Replace ``facts[name_col]`` with its canonical form (CC-based).

    ``canonicals(canonical)`` is the full entity inventory: the alias
    table alone under-covers entities that have no alias forms (they
    would then be embedding-matched against *other* entities).
    """
    distinct_mentions = facts.select(F.col(name_col).alias("name")).distinct()
    mapping = resolve_mapping(distinct_mentions, aliases, canonicals)
    # broadcast left join; unmapped names pass through unchanged
    return (
        facts.join(
            F.broadcast(mapping), facts[name_col] == mapping.name, "left"
        )
        .withColumn(name_col, F.coalesce("canonical_id", name_col))
        .drop("name", "canonical_id")
    )


def resolve_mapping(
    distinct_mentions: DataFrame,
    aliases: DataFrame,
    canonicals: DataFrame,
) -> DataFrame:
    """``(name) → (name, canonical_id)`` via the size-adaptive resolver.

    Resolution is **per-mention independent** given (aliases,
    canonicals): exact and alias tiers are lookups, the embedding tier
    scores each mention against the canonical inventory alone, and
    every same-as component is a star around one canonical — so the
    mapping for a union of mention sets equals the union of mappings:
    a mention's canonical does not depend on which other mentions share
    the call.
    """
    spark = distinct_mentions.sparkSession
    # null surface forms resolve to nothing: drop them here so the
    # driver path's string ops never see None and link_facts' left
    # join passes the null through unchanged on both paths
    distinct_mentions = distinct_mentions.na.drop(subset=["name"])
    # Bounded collects decide the arm: the driver path runs only when
    # everything it collects fits — the mentions AND both dimension
    # tables (a dirty 50M-row alias table with 10k mentions must take
    # the distributed tiers, not OOM the driver; symmetric with
    # connected_components_auto's node/edge guard, cc.py). Each collect
    # is limit(cap + 1): one row too many means distributed, no table is
    # scanned past cap + 1 rows, and a side that fits is already on the
    # driver — no count probe ahead of the transfer.
    sample = distinct_mentions.limit(DRIVER_MAX_MENTIONS + 1).collect()
    dims_fit = False
    if len(sample) <= DRIVER_MAX_MENTIONS:
        alias_rows = aliases.limit(DRIVER_MAX_DIMS + 1).collect()
        canon_rows = canonicals.limit(DRIVER_MAX_DIMS + 1).collect()
        dims_fit = len(alias_rows) + len(canon_rows) <= DRIVER_MAX_DIMS
    if dims_fit:
        # adaptive driver path: the distinct surface-form set is bounded
        # by the entity inventory, so even a 10^12-doc corpus usually
        # lands here; saves ~15 Spark jobs of fixed latency
        alias_map: dict[str, str] = {}
        for r in alias_rows:
            # min-canonical per alias — deterministic and identical to
            # the distributed path's groupBy(alias).min(canonical)
            prev = alias_map.get(r.alias)
            if prev is None or r.canonical < prev:
                alias_map[r.alias] = r.canonical
        canon_set = {r.canonical for r in canon_rows}
        mapping_dict = resolve_mentions_local(
            [r.name for r in sample], alias_map, canon_set
        )
        # from pandas (Arrow), as connected_components_auto's driver arm
        # does: a non-empty mapping plans as a LocalRelation, not an RDD
        # scan
        return spark.createDataFrame(
            pd.DataFrame(sorted(mapping_dict.items()), columns=["name", "canonical_id"]),
            schema="name string, canonical_id string",
        )
    resolution = resolve_mentions(distinct_mentions, aliases, canonicals)
    mapping = canonicalize_by_components(resolution, canonicals)
    # Restrict to the input mentions: canonicalize_by_components emits a
    # row for every CC node including canonicals that appear only as
    # resolution TARGETS; the driver path emits mention keys only. The
    # extra identity rows rewrite no fact row, but they break the paths'
    # bit-identity.
    return mapping.join(distinct_mentions, "name", "left_semi")
