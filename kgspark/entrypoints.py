"""Driver-contract query registry: Spark implementations + DuckDB oracles.

Every operator from SURVEY.md §2 marked ★ gets a named entry here:
``QUERIES[name]`` is a ``(spark, sf_dir) -> DataFrame`` callable and
``ORACLES[name]`` the ANSI-SQL equivalent DuckDB runs on the same
parquet tables. Column names/types are aligned pairwise because the
driver's comparison hashes values under sorted column names.

Conventions that keep the value-hash stable across engines:
- money aggregates go through DECIMAL(18,2) then round(...,1)::double;
- computed doubles are rounded to 6 dp on both sides;
- every LIMIT sits on a total deterministic ORDER BY;
- all hashing is md5-based hex (Spark's xxhash64 and DuckDB's hash()
  disagree) on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgspark.constants import BASE, RDF_TYPE
from kgspark.functions.textfns import mint_uri_col, multi_or_raw_col, slugify_udf
from kgspark.operators import dedup, relational_kg, similarity, textops
from kgspark.operators.bfs import k_hop_nodes
from kgspark.operators.cc import connected_components_auto
from kgspark.operators.fulltext import (
    build_inverted_index,
    entity_top1,
    fulltext_top1,
    tokenize,
    tokens_sql,
)
from kgspark.operators.graph_build import graph_schema_summary
from kgspark.operators.nl_router import execute_shape
from kgspark.operators.relational_kg import (
    CLS_CUSTOMER,
    CLS_NATION,
    CLS_REGION,
    CLS_SUPPLIER,
    P_ACCTBAL,
    P_LOCATED_IN,
    P_NAME_R,
    P_PART_OF,
    P_SEGMENT,
    build_geo_triples,
    geo_edges,
)
from kgspark.runtime import materialize

QueryFn = Callable[[SparkSession, str], DataFrame]
QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# Tables whose queries are compute-heavy per row (tokenize/regex/md5 /
# 64-dim dots) but whose parquet layout is a single small row group —
# an unsplittable scan, so every downstream map stage would run in ONE
# task (guide §2.5 "input skew: one huge unsplittable file... otherwise
# repartition immediately after the read"). One tiny shuffle of the raw
# rows (≤ a few MB) buys full-width parallelism for the expensive scan
# stage; key columns are the high-cardinality primary ids. Wide tables
# whose first operation is a cheap projection into an aggregation
# (lineitem, orders) are NOT listed: their map work is light and the
# repartition would shuffle hundreds of MB for nothing.
_SPREAD_ON_READ = {"documents": "doc_id", "embeddings": "vec_id"}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    key = _SPREAD_ON_READ.get(name)
    if key is not None:
        from kgspark.runtime import spread

        df = spread(df, key)
    return df


# --------------------------------------------------------------------------
# SQL fragment helpers (DuckDB mirrors of functions/textfns.py)
# --------------------------------------------------------------------------

def slug_sql(expr: str) -> str:
    # [^\p{L}\p{N}_] (RE2 Unicode letter/number classes), not ASCII
    # [^0-9A-Za-z_]: the Spark side (slugify_udf) uses Python's
    # Unicode-aware \w, so an ASCII oracle class would silently diverge
    # on any non-ASCII entity name ('Café' → 'Café' vs 'Caf_'). The
    # driver tables are ASCII today — this keeps the mirror honest if
    # they ever aren't.
    inner = (
        "trim(regexp_replace(regexp_replace(regexp_replace("
        f"trim({expr}), '\\s+', '_', 'g'), '[^\\p{{L}}\\p{{N}}_]', '_', 'g'),"
        " '_+', '_', 'g'), '_')"
    )
    return f"coalesce(nullif({inner}, ''), 'unnamed')"


def uri_sql(expr: str) -> str:
    return f"'{BASE}' || {slug_sql(expr)}"


NULLCOLS = "CAST(NULL AS VARCHAR) AS obj_dtype, CAST(NULL AS VARCHAR) AS obj_lang"


def _geo_triples_sql() -> str:
    def ent(table: str, name: str, cls: str) -> str:
        return (
            f"SELECT {uri_sql(name)} AS subj, '{RDF_TYPE}' AS pred, '{cls}' AS obj,"
            f" 'uri' AS obj_kind, {NULLCOLS} FROM {table}"
            f" UNION ALL SELECT {uri_sql(name)}, '{P_NAME_R}', trim({name}),"
            f" 'literal', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM {table}"
        )

    return f"""
SELECT DISTINCT subj, pred, obj, obj_kind, obj_dtype, obj_lang FROM (
  {ent('customer', 'c_name', CLS_CUSTOMER)}
  UNION ALL {ent('supplier', 's_name', CLS_SUPPLIER)}
  UNION ALL {ent('nation', 'n_name', CLS_NATION)}
  UNION ALL {ent('region', 'r_name', CLS_REGION)}
  UNION ALL SELECT {uri_sql('c_name')}, '{P_LOCATED_IN}', {uri_sql('n_name')}, 'uri', {NULLCOLS}
    FROM customer JOIN nation ON c_nationkey = n_nationkey
  UNION ALL SELECT {uri_sql('s_name')}, '{P_LOCATED_IN}', {uri_sql('n_name')}, 'uri', {NULLCOLS}
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
  UNION ALL SELECT {uri_sql('n_name')}, '{P_PART_OF}', {uri_sql('r_name')}, 'uri', {NULLCOLS}
    FROM nation JOIN region ON n_regionkey = r_regionkey
  UNION ALL SELECT {uri_sql('c_name')}, '{P_ACCTBAL}', printf('%.2f', c_acctbal), 'literal', {NULLCOLS}
    FROM customer
  UNION ALL SELECT {uri_sql('c_name')}, '{P_SEGMENT}', c_mktsegment, 'literal', {NULLCOLS}
    FROM customer
)"""


GEO_EDGES_SQL = """
SELECT 's' || s_suppkey::VARCHAR AS src, 'LOCATED_IN' AS rel, 'n' || s_nationkey::VARCHAR AS dst FROM supplier
UNION ALL
SELECT 'n' || n_nationkey::VARCHAR, 'PART_OF', 'r' || n_regionkey::VARCHAR FROM nation
"""

CC_REACH_SQL = f"""
WITH RECURSIVE
  e AS ({GEO_EDGES_SQL}),
  ud AS (SELECT src AS a, dst AS b FROM e UNION SELECT dst, src FROM e),
  nodes AS (SELECT DISTINCT a AS id FROM ud),
  reach(id, lbl) AS (
    SELECT id, id FROM nodes
    UNION
    SELECT ud.b, reach.lbl FROM reach JOIN ud ON ud.a = reach.id
  )
"""


# --------------------------------------------------------------------------
# A/B-group: scans, scalar transforms
# --------------------------------------------------------------------------

@register(
    "kg_triples_geo",
    _geo_triples_sql(),
)
def kg_triples_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY.md EP1/A1/B1/B5/C1/C4 on the driver's relational tables."""
    return build_geo_triples(spark, sf_dir)


@register(
    "slugify_uri",
    f"SELECT p_partkey AS id, p_name AS name, {slug_sql('p_name')} AS slug,"
    f" {uri_sql('p_name')} AS uri FROM part",
)
def slugify_uri(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1 slugify + B5 URI minting."""
    part = _t(spark, sf_dir, "part")
    return part.select(
        F.col("p_partkey").alias("id"),
        F.col("p_name").alias("name"),
        slugify_udf(F.col("p_name")).alias("slug"),
        mint_uri_col(F.col("p_name")).alias("uri"),
    )


@register(
    "split_explode",
    """
WITH cells AS (
  SELECT p_partkey AS id, p_brand || '|' || p_type || ';' || p_name AS cell FROM part
)
SELECT id, unnest(list_filter(list_transform(string_split_regex(cell, '[|;,]'),
       t -> trim(t)), t -> t != '')) AS part
FROM cells
""",
)
def split_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2 multi-value split + explode."""
    part = _t(spark, sf_dir, "part")
    cell = F.concat(F.col("p_brand"), F.lit("|"), F.col("p_type"), F.lit(";"), F.col("p_name"))
    return part.select(
        F.col("p_partkey").alias("id"),
        F.explode(multi_or_raw_col(cell)).alias("part"),
    )


@register(
    "int_cast_fallback",
    """
SELECT p_partkey,
       try_cast(split_part(p_brand, '#', 2) AS INTEGER) AS brand_num,
       coalesce(CAST(try_cast(split_part(p_type, ' ', 1) AS INTEGER) AS VARCHAR),
                split_part(p_type, ' ', 1)) AS type_lex
FROM part
""",
)
def int_cast_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4 int cast with raw-string fallback."""
    part = _t(spark, sf_dir, "part")
    brand_num = F.split(F.col("p_brand"), "#").getItem(1).try_cast("int")
    type_head = F.split(F.col("p_type"), " ").getItem(0)
    return part.select(
        "p_partkey",
        brand_num.alias("brand_num"),
        F.coalesce(type_head.try_cast("int").cast("string"), type_head).alias("type_lex"),
    )


@register(
    "scalar_filters",
    """
SELECT 'required' AS filter_kind, o_orderkey AS key, o_custkey::VARCHAR AS val
FROM orders WHERE trim(o_orderpriority) != '' AND o_orderstatus = 'O'
UNION ALL
SELECT 'lower', c_custkey, c_name
FROM customer WHERE lower(c_mktsegment) = 'machinery'
UNION ALL
SELECT 'range', c_custkey, printf('%.2f', c_acctbal)
FROM customer WHERE c_acctbal >= 9000
""",
)
def scalar_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3/B7/B8 scalar row gates in one tagged union: required-field
    (Provider∧Patient-style non-empty gate), lowercase compare, and
    numeric range — each arm filter-pushed to its parquet scan."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    required = o.filter(
        (F.trim(F.col("o_orderpriority")) != "") & (F.col("o_orderstatus") == "O")
    ).select(
        F.lit("required").alias("filter_kind"),
        F.col("o_orderkey").alias("key"),
        F.col("o_custkey").cast("string").alias("val"),
    )
    lower = c.filter(F.lower(F.col("c_mktsegment")) == "machinery").select(
        F.lit("lower").alias("filter_kind"),
        F.col("c_custkey").alias("key"),
        F.col("c_name").alias("val"),
    )
    rng = c.filter(F.col("c_acctbal") >= 9000).select(
        F.lit("range").alias("filter_kind"),
        F.col("c_custkey").alias("key"),
        F.format_string("%.2f", F.col("c_acctbal")).alias("val"),
    )
    return required.unionByName(lower).unionByName(rng)


@register(
    "fulltext_top1",
    f"""
WITH inv AS (
  SELECT c_custkey AS id, c_name AS name,
         unnest(list_distinct({tokens_sql('c_name')})) AS token
  FROM customer
)
SELECT id, name, score FROM (
  SELECT id, name, count(DISTINCT token) AS score
  FROM inv WHERE token IN ('customer', '000000042') GROUP BY id, name
) ORDER BY score DESC, name ASC, id ASC LIMIT 1
""",
)
def fulltext_top1_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B6/F1 full-text entity lookup, top-1 with deterministic tie-break."""
    c = _t(spark, sf_dir, "customer")
    inv = build_inverted_index(c, "c_custkey", "c_name")
    return fulltext_top1(inv, "Customer 000000042")


# --------------------------------------------------------------------------
# C-group: dedup / first-wins / last-wins
# --------------------------------------------------------------------------

@register(
    "first_wins",
    """
SELECT o_custkey, o_orderpriority AS first_priority FROM (
  SELECT o_custkey, o_orderpriority,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
) WHERE rn = 1
""",
)
def first_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 ordered-first aggregate (min(struct)), no window shuffle."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.min(F.struct("o_orderdate", "o_orderkey", "o_orderpriority")).alias("w"))
        .select("o_custkey", F.col("w.o_orderpriority").alias("first_priority"))
    )


@register(
    "dedup_exact",
    """
SELECT min(doc_id) AS doc_id,
       coalesce(md5(nullif(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '')), 'doc#' || doc_id::VARCHAR) AS fingerprint,
       count(*) AS dup_count
FROM documents GROUP BY 2
""",
)
def dedup_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1/C4 exact dedup by content fingerprint."""
    return dedup.exact_dedup(_t(spark, sf_dir, "documents"))


@register(
    "edge_dedup",
    "SELECT DISTINCT l_suppkey AS src, 'SUPPLIES' AS rel, l_partkey AS dst FROM lineitem",
)
def edge_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 edge MERGE (at most one edge per (src, rel, dst))."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_suppkey").alias("src"),
        F.lit("SUPPLIES").alias("rel"),
        F.col("l_partkey").alias("dst"),
    ).dropDuplicates(["src", "rel", "dst"])


# --------------------------------------------------------------------------
# D-group: joins / traversals (anchor → broadcast join)
# --------------------------------------------------------------------------

_NATION7_ANCHOR_SQL = f"""
  SELECT id FROM (
    SELECT id, count(DISTINCT token) AS score, name
    FROM (SELECT n_nationkey AS id, n_name AS name,
                 unnest(list_distinct({tokens_sql('n_name')})) AS token FROM nation)
    WHERE token IN ('nation', '7') GROUP BY id, name
  ) ORDER BY score DESC, name ASC, id ASC LIMIT 1
"""


def _nation_anchor(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    n = _t(spark, sf_dir, "nation")
    top = entity_top1(n, query, "n_nationkey", "n_name")
    return top.select(F.col("id").alias("anchor_key"))


@register(
    "traverse_1hop",
    f"""
SELECT 'out' AS direction, c_name AS val FROM customer
WHERE c_nationkey = ({_NATION7_ANCHOR_SQL})
UNION ALL
SELECT DISTINCT 'in', c_mktsegment FROM customer
WHERE c_nationkey = ({_NATION7_ANCHOR_SQL})
""",
)
def traverse_1hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1/D2: full-text anchor top-1 → forward 1-hop traversal
    (broadcast join, 'out' rows) plus the reverse traversal with a
    DISTINCT projection ('in' rows). One tagged union; the anchor is
    resolved once and broadcast to both arms."""
    anchor = _nation_anchor(spark, sf_dir, "NATION 7")
    c = _t(spark, sf_dir, "customer")
    hop = c.join(F.broadcast(anchor), c.c_nationkey == anchor.anchor_key)
    fwd = hop.select(
        F.lit("out").alias("direction"), F.col("c_name").alias("val")
    )
    rev = (
        hop.select(F.col("c_mktsegment").alias("val"))
        .distinct()
        .select(F.lit("in").alias("direction"), "val")
    )
    return fwd.unionByName(rev)


@register(
    "attr_pivot",
    f"""
WITH t AS ({_geo_triples_sql()})
SELECT subj AS id,
  min(CASE WHEN pred = '{RDF_TYPE}' THEN obj END) AS type,
  min(CASE WHEN pred = '{P_NAME_R}' THEN obj END) AS name,
  min(CASE WHEN pred = '{P_ACCTBAL}' THEN obj END) AS acctbal,
  min(CASE WHEN pred = '{P_SEGMENT}' THEN obj END) AS mktsegment
FROM t GROUP BY subj
""",
)
def attr_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5: attribute pivot — triples → wide node table."""
    t = build_geo_triples(spark, sf_dir)

    def grab(pred: str):
        return F.min(F.when(F.col("pred") == pred, F.col("obj")))

    return t.groupBy(F.col("subj").alias("id")).agg(
        grab(RDF_TYPE).alias("type"),
        grab(P_NAME_R).alias("name"),
        grab(P_ACCTBAL).alias("acctbal"),
        grab(P_SEGMENT).alias("mktsegment"),
    )


# --------------------------------------------------------------------------
# E/F-group: aggregations, sorts, top-k
# --------------------------------------------------------------------------

@register(
    "agg_count_avg",
    """
SELECT n_name, count(DISTINCT c_custkey) AS total_customers,
       CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2))) / count(*), 1) AS DOUBLE) AS avg_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
""",
)
def agg_count_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1: count(DISTINCT) + round(avg, 1) — exact decimal arithmetic."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.countDistinct("c_custkey").alias("total_customers"),
            F.round(
                F.sum(F.col("c_acctbal").cast("decimal(18,2)")) / F.count("*"), 1
            ).cast("double").alias("avg_acctbal"),
        )
    )


@register(
    "count_distinct_sample",
    """
SELECT b.brand, t.total_brands
FROM (SELECT DISTINCT p_brand AS brand FROM part ORDER BY brand LIMIT 5) b
CROSS JOIN (SELECT count(DISTINCT p_brand) AS total_brands FROM part) t
""",
)
def count_distinct_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5: count-unique + deterministic k-sample."""
    p = _t(spark, sf_dir, "part")
    sample = p.select(F.col("p_brand").alias("brand")).distinct().orderBy("brand").limit(5)
    total = p.agg(F.countDistinct("p_brand").alias("total_brands"))
    return sample.crossJoin(F.broadcast(total))


@register(
    "window_latest_event",
    """
SELECT user_id, event_id, event_type, value FROM (
  SELECT user_id, event_id, event_type, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
""",
)
def window_latest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3/F1: per-key last-wins (latest event per user).

    Subsumes the former ``last_wins`` entry (same semantics, fewer
    columns). Implemented as one ``max(struct(...))`` aggregate rather
    than a row_number window: identical result because ``event_id`` is
    unique within a key, but the aggregate gets a map-side partial
    combine and never sorts whole partitions — the shape that survives
    a 100× scale-up. The oracle keeps the window formulation as an
    independent derivation.
    """
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .agg(F.max(F.struct("ts", "event_id", "event_type", "value")).alias("w"))
        .select(
            "user_id",
            F.col("w.event_id").alias("event_id"),
            F.col("w.event_type").alias("event_type"),
            F.col("w.value").alias("value"),
        )
    )


@register(
    "windowed_event_counts",
    """
SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S')
         AS win_start,
       event_type,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 1) AS sum_value
FROM events
GROUP BY 1, 2
""",
)
def windowed_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling-window agg (streaming/incremental.py
    windowed_counts run in batch mode, where the watermark is a no-op).
    Hour buckets are epoch-aligned on both engines, so Spark's
    ``F.window`` start equals DuckDB's ``time_bucket``."""
    from kgspark.streaming.incremental import windowed_counts

    e = _t(spark, sf_dir, "events")
    agg = windowed_counts(
        e,
        "ts",
        "event_type",
        "1 hour",
        extra_aggs=[
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 1
            ).alias("sum_value")
        ],
    )
    return agg.select(
        F.date_format("win_start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
        "event_type",
        "n_events",
        "sum_value",
    )


# --------------------------------------------------------------------------
# G-group: graph operators
# --------------------------------------------------------------------------

@register(
    "connected_components",
    CC_REACH_SQL
    + """,
assign AS MATERIALIZED (SELECT id, min(lbl) AS component FROM reach GROUP BY id),
sizes AS (SELECT component, count(*) AS component_size FROM assign GROUP BY component)
SELECT id, component, component_size FROM assign JOIN sizes USING (component)
""",
)
def connected_components_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2/G4/E6 ◆: CC (``connected_components_auto``) on the
    supplier-nation-region forest, with per-component sizes attached
    (subsumes the former ``component_stats`` entry — component count
    and largest-component size are direct aggregates of this surface)."""
    edges = geo_edges(spark, sf_dir)
    nodes = edges.select(F.col("src").alias("id"))
    assign = connected_components_auto(nodes, edges, "id")
    sizes = assign.groupBy("component").agg(F.count("*").alias("component_size"))
    return assign.join(sizes, "component").select("id", "component", "component_size")


@register(
    "bfs_khop",
    f"""
WITH RECURSIVE
  e AS ({GEO_EDGES_SQL}),
  ud AS (SELECT src AS a, dst AS b FROM e UNION SELECT dst, src FROM e),
  walk_u(node, depth) AS (
    SELECT 'r0', 0
    UNION
    SELECT ud.b, walk_u.depth + 1 FROM walk_u JOIN ud ON ud.a = walk_u.node
    WHERE walk_u.depth < 2
  ),
  walk_d(node, depth) AS (
    SELECT 's1', 0
    UNION
    SELECT e.dst, walk_d.depth + 1 FROM walk_d JOIN e ON e.src = walk_d.node
    WHERE walk_d.depth < 2
  )
SELECT * FROM (
  SELECT 'undirected' AS mode, node, depth
  FROM (SELECT node, min(depth) AS depth FROM walk_u GROUP BY node)
  ORDER BY depth, node LIMIT 50
)
UNION ALL
SELECT * FROM (
  SELECT 'directed', node, depth
  FROM (SELECT node, min(depth) AS depth FROM walk_d GROUP BY node)
  ORDER BY depth, node LIMIT 50
)
""",
)
def bfs_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5 ◆: k-hop BFS subgraph, deterministic (depth, node) cap —
    the undirected 2-hop frontier from region r0 plus the directed
    variant from supplier s1 (formerly the separate
    ``bfs_khop_directed`` entry), tagged by ``mode``."""
    edges = geo_edges(spark, sf_dir)
    und = k_hop_nodes(edges, "r0", max_depth=2, max_nodes=50, directed=False).select(
        F.lit("undirected").alias("mode"), "node", "depth"
    )
    dir_ = k_hop_nodes(edges, "s1", max_depth=2, max_nodes=50, directed=True).select(
        F.lit("directed").alias("mode"), "node", "depth"
    )
    return und.unionByName(dir_)


@register(
    "graph_schema",
    """
WITH nodes AS (
  SELECT 's' || s_suppkey::VARCHAR AS id, 'Supplier' AS type FROM supplier
  UNION ALL SELECT 'n' || n_nationkey::VARCHAR, 'Nation' FROM nation
  UNION ALL SELECT 'r' || r_regionkey::VARCHAR, 'Region' FROM region
),
e AS (""" + GEO_EDGES_SQL + """)
SELECT DISTINCT ns.type AS src_type, e.rel, nd.type AS dst_type
FROM e JOIN nodes ns ON e.src = ns.id JOIN nodes nd ON e.dst = nd.id
""",
)
def graph_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I1: schema introspection — distinct (src_type, rel, dst_type)."""
    s = _t(spark, sf_dir, "supplier").select(
        F.concat(F.lit("s"), F.col("s_suppkey")).alias("id"), F.lit("Supplier").alias("type")
    )
    n = _t(spark, sf_dir, "nation").select(
        F.concat(F.lit("n"), F.col("n_nationkey")).alias("id"), F.lit("Nation").alias("type")
    )
    r = _t(spark, sf_dir, "region").select(
        F.concat(F.lit("r"), F.col("r_regionkey")).alias("id"), F.lit("Region").alias("type")
    )
    nodes = s.unionByName(n).unionByName(r)
    return graph_schema_summary(nodes, geo_edges(spark, sf_dir))


@register(
    "graph_stats",
    """
WITH e AS (""" + GEO_EDGES_SQL + """),
pairs AS (SELECT DISTINCT src, dst FROM e),
nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
bip AS (SELECT DISTINCT 's' || l_suppkey::VARCHAR AS a, 'p' || l_partkey::VARCHAR AS b FROM lineitem),
deg AS (
  SELECT node, count(*) AS degree FROM (
    SELECT a AS node FROM bip UNION ALL SELECT b FROM bip
  ) GROUP BY node
)
SELECT (SELECT count(*) FROM nodes) AS node_count,
       (SELECT count(*) FROM pairs) AS edge_count,
       (SELECT count(DISTINCT rel) FROM e) AS relation_type_count,
       (SELECT round(avg(degree), 6) FROM deg) AS avg_degree,
       (SELECT max(degree) FROM deg) AS max_degree,
       (SELECT count(*) FROM deg) AS degree_node_count
""",
)
def graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2/E3/E4: one-row graph stats report — node/edge counts and
    distinct relation types over the geo edges, plus avg/max total
    degree over the supplier→part bipartite edge list (subsumes the
    former ``graph_stats_basic`` and ``degree_stats`` entries; every
    scalar is an independent partial aggregate, combined by cross-join
    of broadcast 1-row frames)."""
    e = geo_edges(spark, sf_dir)
    nodes = e.select(F.col("src").alias("id")).unionByName(
        e.select(F.col("dst").alias("id"))
    ).distinct()
    pairs = e.select("src", "dst").distinct()
    li = _t(spark, sf_dir, "lineitem")
    # The degree report never surfaces node ids — only avg/max/count of
    # the degree values — and the 's'/'p' prefixes make the supplier
    # and part namespaces disjoint, so the bipartite degree table
    # decomposes exactly into per-supplier distinct-part counts plus
    # per-part distinct-supplier counts. Computing it that way keeps
    # every shuffle on the narrow numeric lineitem keys (guide §2.3
    # "narrower types"); the old plan shuffled 2·|distinct pairs|
    # concat-string rows through a single groupBy. The distinct pair
    # set is materialized once for its two group-bys.
    pairs_d = materialize(li.select("l_suppkey", "l_partkey").distinct())
    deg = (
        pairs_d.groupBy("l_suppkey").agg(F.count("*").alias("degree"))
        .select("degree")
        .unionByName(
            pairs_d.groupBy("l_partkey").agg(F.count("*").alias("degree"))
            .select("degree")
        )
    )
    return (
        nodes.agg(F.count("*").alias("node_count"))
        .crossJoin(pairs.agg(F.count("*").alias("edge_count")))
        .crossJoin(e.agg(F.countDistinct("rel").alias("relation_type_count")))
        .crossJoin(
            deg.agg(
                F.round(F.avg("degree"), 6).alias("avg_degree"),
                F.max("degree").alias("max_degree"),
                F.count("*").alias("degree_node_count"),
            )
        )
    )


# --------------------------------------------------------------------------
# Training-data ops: dedup / similarity / text analysis
# --------------------------------------------------------------------------

def _minhash_word_sql(j: int) -> str:
    # mirror of dedup.minhash_signatures' block/word scheme, kept in the
    # min-over-hex-substring form (conversion runs once per GROUP, not
    # per shingle — fixed-width hex min == numeric min)
    block, word = divmod(j, 4)
    return (
        f"('0x' || min(substr(md5('{block}|' || shingle), {1 + 8 * word}, 8)))::BIGINT"
        f" AS mh_{j}"
    )

_MINHASH_K = 16
_LSH_BANDS = 4
_SHINGLE_N = 3

_MINHASH_SQL_BASE = f"""
WITH toks AS (SELECT doc_id, {tokens_sql('text')} AS t FROM documents),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(t) - 1),
                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
  FROM toks WHERE len(t) >= 3
),
sigs AS (
  SELECT doc_id,
         {', '.join(_minhash_word_sql(j) for j in range(_MINHASH_K))}
  FROM sh GROUP BY doc_id
)
"""


def _lsh_bands_sql() -> str:
    rows = _MINHASH_K // _LSH_BANDS
    branches = []
    for b in range(_LSH_BANDS):
        sig = " || '_' || ".join(
            f"mh_{b * rows + r}::VARCHAR" for r in range(rows)
        )
        branches.append(f"SELECT doc_id, {b} AS band, {sig} AS band_sig FROM sigs")
    return " UNION ALL ".join(branches)


_LSH_MAX_BUCKET = 10_000

@register(
    "minhash_lsh_pairs",
    _MINHASH_SQL_BASE
    + f""",
bands AS ({_lsh_bands_sql()}),
kept AS (SELECT band, band_sig FROM bands
         GROUP BY band, band_sig HAVING count(*) <= {_LSH_MAX_BUCKET}),
bands_k AS (SELECT b.* FROM bands b JOIN kept USING (band, band_sig))
SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
FROM bands_k l JOIN bands_k r
  ON l.band = r.band AND l.band_sig = r.band_sig AND l.doc_id < r.doc_id
""",
)
def minhash_lsh_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs (4 bands × 4 rows), with
    the degenerate-bucket cap mirrored in the oracle."""
    sigs = dedup.minhash_signatures(
        _t(spark, sf_dir, "documents"), num_hashes=_MINHASH_K, shingle_n=_SHINGLE_N
    )
    return dedup.lsh_candidate_pairs(
        sigs, num_hashes=_MINHASH_K, bands=_LSH_BANDS, max_bucket=_LSH_MAX_BUCKET
    )


_NEARDUP_MIN_EST = 0.5

_NEARDUP_CLUSTERS_SQL = (
    _MINHASH_SQL_BASE.replace("WITH ", "WITH RECURSIVE ", 1)
    + f""",
bands AS ({_lsh_bands_sql()}),
kept AS (SELECT band, band_sig FROM bands
         GROUP BY band, band_sig HAVING count(*) <= {_LSH_MAX_BUCKET}),
bands_k AS (SELECT b.* FROM bands b JOIN kept USING (band, band_sig)),
cand AS MATERIALIZED (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM bands_k l JOIN bands_k r
    ON l.band = r.band AND l.band_sig = r.band_sig AND l.doc_id < r.doc_id
),
est AS (
  SELECT c.doc_a, c.doc_b,
         ({' + '.join(f'CASE WHEN a.mh_{j} = b.mh_{j} THEN 1 ELSE 0 END'
                      for j in range(_MINHASH_K))}) / {float(_MINHASH_K)} AS sim_est
  FROM cand c JOIN sigs a ON a.doc_id = c.doc_a JOIN sigs b ON b.doc_id = c.doc_b
),
kp AS (SELECT doc_a, doc_b FROM est WHERE sim_est >= {_NEARDUP_MIN_EST}),
ud AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM kp UNION SELECT doc_b, doc_a FROM kp),
reach(id, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT ud.b, reach.lbl FROM reach JOIN ud ON ud.a = reach.id
)
SELECT id AS doc_id, min(lbl) AS canonical_id,
       CASE WHEN id <> min(lbl) THEN 1 ELSE 0 END AS is_dup
FROM reach GROUP BY id
"""
)


@register("neardup_clusters", _NEARDUP_CLUSTERS_SQL)
def neardup_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup dedup: LSH candidates → MinHash-estimate
    confirm → CC clustering → canonical keep-list (one row per doc)."""
    return dedup.neardup_clusters(
        _t(spark, sf_dir, "documents"),
        num_hashes=_MINHASH_K,
        bands=_LSH_BANDS,
        shingle_n=_SHINGLE_N,
        min_est=_NEARDUP_MIN_EST,
        max_bucket=_LSH_MAX_BUCKET,
    )


_NGRAM_MAX_DF = 1000

@register(
    "ngram_jaccard_pairs",
    f"""
WITH toks AS (SELECT doc_id, {tokens_sql('text')} AS t FROM documents),
sh0 AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(t) - 1),
                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
  FROM toks WHERE len(t) >= 3
),
-- hub-shingle DF cap (dedup.ngram_jaccard_pairs max_doc_freq): the
-- capped vocabulary is the operator's declared universe
kept AS (SELECT shingle FROM sh0 GROUP BY shingle
         HAVING count(*) <= {_NGRAM_MAX_DF}),
sh AS (SELECT sh0.* FROM sh0 JOIN kept USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, jaccard FROM (
  SELECT doc_a, doc_b,
         round(inter / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
  FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
) WHERE jaccard >= 0.5
""",
)
def ngram_jaccard_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (the LSH ground truth), over
    the DF-capped shingle vocabulary (hub-shingle guard, cap mirrored
    in the oracle)."""
    return dedup.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"),
        threshold=0.5,
        shingle_n=_SHINGLE_N,
        max_doc_freq=_NGRAM_MAX_DF,
    )


_SIMHASH_WORDS = 2  # 64-bit signature as two 32-bit words (dedup.simhash)


def _simhash_ctes(words: int = _SIMHASH_WORDS) -> str:
    """CTE block ending in ``sim(doc_id, simhash_w0, ...)`` — the
    DuckDB mirror of operators/dedup.simhash (word w = md5 hex chars
    [8w+1, 8w+8], 32 algebraic ±1 sums per word)."""
    ths = ", ".join(
        f"('0x' || substr(h, {1 + 8 * w}, 8))::BIGINT AS th_{w}"
        for w in range(words)
    )
    sums = ", ".join(
        f"sum(CASE WHEN (th_{w} >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS s_{w}_{i}"
        for w in range(words)
        for i in range(32)
    )
    recompose = ", ".join(
        " + ".join(
            f"(CASE WHEN s_{w}_{i} > 0 THEN {1 << i}::BIGINT ELSE 0::BIGINT END)"
            for i in range(32)
        )
        + f" AS simhash_w{w}"
        for w in range(words)
    )
    return f"""
tok AS (
  SELECT doc_id, md5(unnest({tokens_sql('text')})) AS h FROM documents
),
th AS (SELECT doc_id, {ths} FROM tok),
sums AS (SELECT doc_id, {sums} FROM th GROUP BY doc_id),
sim AS (SELECT doc_id, {recompose} FROM sums)"""


def _simhash_neardup_sql(max_hamming: int = 3, words: int = _SIMHASH_WORDS) -> str:
    wlist = ", ".join(f"simhash_w{w}" for w in range(words))
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {wlist}, {4 * w + b} AS band,"
        f" (simhash_w{w} >> {8 * b}) & 255 AS byte FROM sim"
        for w in range(words)
        for b in range(4)
    )
    pair_words = ", ".join(
        f"l.simhash_w{w} AS a_w{w}, r.simhash_w{w} AS b_w{w}" for w in range(words)
    )
    ham = " + ".join(f"bit_count(xor(a_w{w}, b_w{w}))" for w in range(words))
    return f"""
WITH {_simhash_ctes(words)},
banded AS ({bands}),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b, {pair_words}
  FROM banded l JOIN banded r
    ON l.band = r.band AND l.byte = r.byte AND l.doc_id < r.doc_id
)
SELECT doc_a, doc_b, {ham} AS hamming
FROM cand WHERE {ham} <= {max_hamming}
"""


@register("simhash_neardup_pairs", _simhash_neardup_sql())
def simhash_neardup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming ≤ 3) via pigeonhole byte-banding."""
    return dedup.simhash_neardup_pairs(_t(spark, sf_dir, "documents"))


_COS_SQL = (
    "list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])"
    " / sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])"
    " * list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))"
)


@register(
    "ann_cosine_topk",
    f"""
SELECT query_id, neighbor_id, round(cos, 6) AS cos, rank FROM (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, {_COS_SQL} AS cos,
         row_number() OVER (PARTITION BY a.vec_id ORDER BY {_COS_SQL} DESC, b.vec_id ASC) AS rank
  FROM embeddings a JOIN embeddings b ON a.vec_id < 5 AND b.vec_id != a.vec_id
) WHERE rank <= 10
""",
)
def ann_cosine_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for the first 5 query vectors."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.cosine_topk(emb, queries, k=10)


def _hyperplane_lsh_sql(
    threshold: float, n_planes: int = 16, bands: int = 4, dim: int = 64
) -> str:
    """DuckDB mirror of similarity.cosine_neardup_pairs_lsh: the ±1
    hyperplane constants are generated by the same md5 seeding and
    embedded literally, so both engines bucket identically."""
    planes = similarity.hyperplane_weights(n_planes, dim)
    rows = n_planes // bands

    def bit(p: int) -> str:
        lit = "[" + ", ".join(str(w) for w in planes[p]) + "]"
        return f"(CASE WHEN list_dot_product(v, {lit}) >= 0 THEN '1' ELSE '0' END)"

    band_rows = "\n  UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, "
        + " || ".join(bit(b * rows + r) for r in range(rows))
        + " AS band_sig FROM v"
        for b in range(bands)
    )
    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
banded AS ({band_rows}),
cand AS (
  SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
  FROM banded l JOIN banded r
    ON l.band = r.band AND l.band_sig = r.band_sig AND l.vec_id < r.vec_id
)
SELECT id_a, id_b, cos FROM (
  SELECT id_a, id_b, round({_COS_SQL}, 6) AS cos
  FROM cand JOIN embeddings a ON a.vec_id = id_a
            JOIN embeddings b ON b.vec_id = id_b
) WHERE cos >= {threshold}
"""


@register("ann_neardup_pairs", _hyperplane_lsh_sql(threshold=0.35))
def ann_neardup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via hyperplane-LSH
    bucketing (the scale path — no all-pairs join; exact cosine runs
    only inside signature buckets)."""
    return similarity.cosine_neardup_pairs_lsh(
        _t(spark, sf_dir, "embeddings"), threshold=0.35, dim=64
    )


@register(
    "ann_ivf_multiprobe",
    f"""
WITH c AS (SELECT vec_id AS centroid_id, embedding FROM embeddings WHERE vec_id % 100 = 0),
scored AS (
  SELECT a.vec_id, b.centroid_id, {_COS_SQL} AS cos,
         row_number() OVER (PARTITION BY a.vec_id ORDER BY {_COS_SQL} DESC, b.centroid_id ASC) AS rn
  FROM embeddings a JOIN c b ON true
),
asg AS (SELECT vec_id, centroid_id FROM scored WHERE rn = 1),
q AS (SELECT a.vec_id AS query_id, s.centroid_id, a.embedding
      FROM embeddings a JOIN scored s ON s.vec_id = a.vec_id
      WHERE a.vec_id < 5 AND s.rn <= 3),
v AS (SELECT a.vec_id AS neighbor_id, asg.centroid_id, a.embedding
      FROM embeddings a JOIN asg ON asg.vec_id = a.vec_id)
SELECT query_id, neighbor_id, cos, rank FROM (
  SELECT a.query_id, b.neighbor_id, round({_COS_SQL}, 6) AS cos,
         row_number() OVER (PARTITION BY a.query_id ORDER BY {_COS_SQL} DESC, b.neighbor_id ASC) AS rank
  FROM q a JOIN v b ON a.centroid_id = b.centroid_id AND b.neighbor_id != a.query_id
) WHERE rank <= 10
""",
)
def ann_ivf_multiprobe_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-10 probing the 3 nearest centroid buckets — the
    recall knob for queries near Voronoi boundaries; same global
    per-query top-k, 3× the candidate set."""
    emb = _t(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.ivf_topk(emb, queries, centroids, k=10, nprobe=3)


_EN_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in textops.LANG_STOPWORDS["en"]) + "]"


_QUALITY_SQL = f"""
WITH base AS (
  SELECT doc_id, text, {tokens_sql('text')} AS toks,
         length(text) AS n_chars,
         length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct
  FROM documents
),
feat AS (
  SELECT doc_id, n_chars, len(toks) AS n_tokens,
    CASE WHEN len(toks) > 0
         THEN list_sum(list_transform(toks, x -> length(x)))::BIGINT / len(toks)
         ELSE 0.0 END AS avg_tok,
    CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END AS punct_ratio,
    CASE WHEN len(toks) > 0
         THEN len(list_filter(toks, t -> list_contains({_EN_STOP_SQL}, t))) / len(toks)
         ELSE 0.0 END AS stop_ratio,
    least(len(toks) / 50.0, 1.0) AS length_score
  FROM base
)
SELECT doc_id, n_chars, n_tokens,
       round(avg_tok, 6) AS avg_token_len,
       round(punct_ratio, 6) AS punct_ratio,
       round(stop_ratio, 6) AS stopword_ratio,
       round(0.4 * length_score + 0.3 * (1.0 - punct_ratio)
             + 0.3 * least(stop_ratio * 5.0, 1.0), 6) AS quality_score
FROM feat
"""


@register("quality_features", _QUALITY_SQL)
def quality_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text quality scoring (length/punct/stopword heuristics)."""
    return textops.quality_features(_t(spark, sf_dir, "documents"))


def _lang_id_sql() -> str:
    langs = sorted(textops.LANG_STOPWORDS)
    hits = ", ".join(
        "len(list_filter(toks, t -> list_contains(["
        + ", ".join(f"'{w}'" for w in textops.LANG_STOPWORDS[lg])
        + f"], t))) AS hits_{lg}"
        for lg in langs
    )
    greatest = "greatest(" + ", ".join(f"hits_{lg}" for lg in langs) + ")"
    case = "CASE WHEN mx = 0 THEN 'und' " + " ".join(
        f"WHEN hits_{lg} = mx THEN '{lg}'" for lg in langs
    ) + " END"
    return f"""
WITH toks AS (SELECT doc_id, {tokens_sql('text')} AS toks FROM documents),
h AS (SELECT doc_id, {hits} FROM toks),
m AS (SELECT *, {greatest} AS mx FROM h)
SELECT doc_id, {case} AS pred_lang, mx AS hits FROM m
"""


@register("lang_id", _lang_id_sql())
def lang_id_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-heuristic language identification."""
    return textops.language_id(_t(spark, sf_dir, "documents"))


@register(
    "doc_fingerprint",
    "SELECT doc_id, coalesce(md5(nullif(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '')), 'doc#' || doc_id::VARCHAR) AS fingerprint"
    " FROM documents",
)
def doc_fingerprint_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprinting (md5 of normalized text)."""
    return textops.fingerprint(_t(spark, sf_dir, "documents"))


@register(
    "token_counts",
    f"""
WITH t AS (SELECT doc_id, text, {tokens_sql('text')} AS toks FROM documents)
SELECT doc_id,
       len(toks) AS n_tokens,
       len(list_filter(string_split_regex(text, '\\s+'), t -> t != '')) AS n_ws_tokens,
       CASE WHEN toks IS NULL THEN NULL
            ELSE coalesce(list_sum(list_transform(toks, x -> (length(x) + 3) // 4))::BIGINT, 0)
       END AS n_subwords_est
FROM t
""",
)
def token_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, all three estimators in one pass over the text:
    regex tokens, whitespace tokens, and the BPE-ish subword estimate
    (ceil(len/4) units per token — the usual ~4-chars-per-token
    heuristic). Subsumes the former ``token_count`` and
    ``token_count_bpe`` entries."""
    from kgspark.operators.fulltext import tokenize_col

    docs = _t(spark, sf_dir, "documents")
    ws = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != F.lit(""))
    toks = tokenize_col(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(ws).alias("n_ws_tokens"),
        F.aggregate(
            toks,
            F.lit(0).cast("long"),
            lambda acc, x: acc + F.floor((F.length(x) + 3) / 4).cast("long"),
        ).alias("n_subwords_est"),
    )


@register(
    "corpus_token_stats",
    f"""
WITH tc AS (SELECT len({tokens_sql('text')}) AS n_tokens FROM documents),
hist AS (SELECT n_tokens, count(*) AS cnt FROM tc GROUP BY n_tokens),
cum AS (SELECT n_tokens, sum(cnt) OVER (ORDER BY n_tokens) AS cum FROM hist),
tot AS (SELECT count(*) AS n_docs, sum(n_tokens)::BIGINT AS total_tokens FROM tc)
SELECT t.n_docs, t.total_tokens,
       round(t.total_tokens / t.n_docs, 6) AS avg_tokens,
       min(c.n_tokens) AS min_tokens,
       max(c.n_tokens) AS max_tokens,
       min(CASE WHEN c.cum >= floor(0.5 * (t.n_docs - 1)) + 1 THEN c.n_tokens END) AS p50_tokens,
       min(CASE WHEN c.cum >= floor(0.9 * (t.n_docs - 1)) + 1 THEN c.n_tokens END) AS p90_tokens
FROM cum c, tot t
GROUP BY t.n_docs, t.total_tokens
""",
)
def corpus_token_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token-length report (exact index quantiles over the
    token-count histogram — never a global sort)."""
    return textops.corpus_token_stats(_t(spark, sf_dir, "documents"))


def _corpus_filter_sql(
    lang: str = "en", min_tokens: int = 20, min_quality: float = 0.5
) -> str:
    keep_cond = (
        f"li.pred_lang = '{lang}' AND qf.n_tokens >= {min_tokens} "
        f"AND qf.quality_score >= {min_quality} "
        "AND ex.is_exact_dup = 0 AND nd.is_dup = 0"
    )
    return f"""
WITH qf AS ({_QUALITY_SQL}),
li AS ({_lang_id_sql()}),
fp AS (SELECT doc_id,
              coalesce(md5(nullif(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '')), 'doc#' || doc_id::VARCHAR) AS fingerprint
       FROM documents),
ex0 AS (SELECT fingerprint, min(doc_id) AS keeper FROM fp GROUP BY fingerprint),
ex AS (SELECT fp.doc_id,
              CASE WHEN fp.doc_id <> ex0.keeper THEN 1 ELSE 0 END AS is_exact_dup
       FROM fp JOIN ex0 USING (fingerprint)),
nd AS ({_NEARDUP_CLUSTERS_SQL})
SELECT qf.doc_id, li.pred_lang, qf.n_tokens, qf.quality_score,
       CASE WHEN li.pred_lang = '{lang}' THEN 1 ELSE 0 END AS lang_ok,
       CASE WHEN qf.n_tokens >= {min_tokens}
                 AND qf.quality_score >= {min_quality} THEN 1 ELSE 0 END AS quality_ok,
       ex.is_exact_dup, nd.is_dup AS is_near_dup,
       CASE WHEN {keep_cond} THEN 1 ELSE 0 END AS keep
FROM qf
JOIN li USING (doc_id) JOIN ex USING (doc_id) JOIN nd USING (doc_id)
"""


@register("corpus_filter", _corpus_filter_sql())
def corpus_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed training-corpus gate: lang + quality + exact-dup +
    near-dup flags and the final keep verdict, one row per doc."""
    return textops.corpus_filter(_t(spark, sf_dir, "documents"))


_GAZETTEER = ["customer", "order", "part", "supplier", "join", "filter", "window", "stream"]


@register(
    "gazetteer_mentions",
    f"""
SELECT doc_id, token AS term, count(*) AS n_mentions
FROM (SELECT doc_id, unnest({tokens_sql('text')}) AS token FROM documents)
WHERE token IN ({', '.join(f"'{t}'" for t in _GAZETTEER)})
GROUP BY doc_id, token
""",
)
def gazetteer_mentions_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H1-lite: gazetteer NER mention counting over the documents table."""
    from kgspark.operators.fulltext import tokenize_col

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.explode(tokenize_col(F.col("text"))).alias("term"))
        .filter(F.col("term").isin(_GAZETTEER))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("n_mentions"))
    )


# --------------------------------------------------------------------------
# Enrichment ops (B9/B10/B11/H2/H3)
# --------------------------------------------------------------------------

@register(
    "doc_enrich",
    """
SELECT doc_id AS original_id,
       doc_id::VARCHAR || '_' || coalesce(source, 'unknown') AS id,
       source AS source_document,
       coalesce(nullif(trim(regexp_extract(trunc, '^((?:[^.!?]*[.!?]+\\s*){1,2})', 1)), ''), trunc) AS summary
FROM (
  SELECT doc_id, source,
         CASE WHEN length(text) > 1500 THEN substr(text, 1, 1500) || '...' ELSE text END AS trunc
  FROM documents
)
""",
)
def doc_enrich_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B9/B10/H2/H3: metadata + summary enhancement in one projection —
    provenance id suffixing plus the 1500-char truncation and
    extractive two-sentence summary (subsumes the former
    ``id_suffixing`` and ``doc_summary`` entries; all pure column
    expressions, no join, no shuffle)."""
    from kgspark.extract.enrich import extractive_summary_col, suffix_ids

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"), F.col("source").alias("source_document"), "text"
    )
    return suffix_ids(docs).select(
        "original_id", "id", "source_document",
        extractive_summary_col(F.col("text")).alias("summary"),
    )


@register(
    "answer_extract",
    r"""
SELECT event_id,
       nullif(regexp_extract(props, '(-?\d+(?:\.\d+)?)', 1), '') AS answer
FROM events
""",
)
def answer_extract_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B11: answer-extraction regex cascade (numeric fallback tier)."""
    events = _t(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.nullif(
            F.regexp_extract(F.col("props"), r"(-?\d+(?:\.\d+)?)", 1), F.lit("")
        ).alias("answer"),
    )


# --------------------------------------------------------------------------
# Skew-safe holistic aggregation + BPE-ish token estimate
# --------------------------------------------------------------------------

@register(
    "skew_safe_collect",
    """
SELECT o_custkey,
       array_to_string(list_sort(list_distinct(array_agg(o_orderpriority))), '|')
         AS priorities
FROM orders GROUP BY o_custkey
""",
)
def skew_safe_collect_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted collect_set == direct distinct-set aggregate.

    The set rides as a '|'-joined string at the query surface (the
    driver's canonicalizer can't hash array cells); the array form
    stays internal to salted_collect_set."""
    from kgspark.operators.skew import salted_collect_set

    orders = _t(spark, sf_dir, "orders")
    sets = salted_collect_set(
        orders, "o_custkey", "o_orderpriority", out_col="priorities"
    )
    return sets.select(
        "o_custkey", F.concat_ws("|", "priorities").alias("priorities")
    )


# --------------------------------------------------------------------------
# Healthcare-CSV oracle SQL (DuckDB mirrors of build_triples semantics on
# the reference's own data/healthcare.csv, via read_csv)
# --------------------------------------------------------------------------

_HC_CSV = "/root/reference/data/healthcare.csv"


def _parts_sql(expr: str) -> str:
    """DuckDB mirror of ``multi_or_raw_col`` (textfns.py): split on
    ``[|;,]``, trim, drop empties; non-empty cell whose parts all trim
    away keeps the raw cell."""
    p = (
        f"list_filter(list_transform(string_split_regex({expr}, '[|;,]'),"
        " t -> trim(t)), t -> t != '')"
    )
    return (
        f"CASE WHEN {expr} = '' THEN []::VARCHAR[]"
        f" WHEN len({p}) > 0 THEN {p} ELSE [{expr}] END"
    )


def _healthcare_ctes() -> str:
    """Shared CTE block: gated/trimmed rows, the ordered mention stream
    (provider, patient, specializations, locations — build_rdf.py:169-179),
    first-wins names, and the deduplicated TREATS/LOCATED_AT edges."""
    from kgspark.constants import (
        CLS_LOCATION,
        CLS_PATIENT,
        CLS_PROVIDER,
        CLS_SPECIALIZATION,
    )

    trim_cols = ", ".join(
        f"trim(coalesce({c}, '')) AS {c}"
        for c in [
            "Provider", "Patient", "Specialization", "Location",
            "Bio", "Patient_Age", "Patient_Gender", "Patient_Condition",
        ]
    )
    return f"""
raw AS (
  SELECT *, row_number() OVER () AS row_idx
  FROM read_csv('{_HC_CSV}', header=true, all_varchar=true)
),
ok AS MATERIALIZED (
  SELECT row_idx, {trim_cols}
  FROM raw
  WHERE trim(coalesce(Provider, '')) != '' AND trim(coalesce(Patient, '')) != ''
),
specs AS (
  SELECT row_idx, unnest({_parts_sql('Specialization')}) AS part,
         generate_subscripts({_parts_sql('Specialization')}, 1) AS pos
  FROM ok
),
hc_locs AS (
  SELECT row_idx, len({_parts_sql('Specialization')}) AS nspec,
         unnest({_parts_sql('Location')}) AS part,
         generate_subscripts({_parts_sql('Location')}, 1) AS pos
  FROM ok
),
hc_mentions AS (
  SELECT row_idx, 0 AS seq, Provider AS label, {uri_sql('Provider')} AS uri,
         '{CLS_PROVIDER}' AS cls FROM ok
  UNION ALL SELECT row_idx, 1, Patient, {uri_sql('Patient')}, '{CLS_PATIENT}' FROM ok
  UNION ALL SELECT row_idx, 1 + pos, part, {uri_sql('part')},
         '{CLS_SPECIALIZATION}' FROM specs
  UNION ALL SELECT row_idx, 1 + nspec + pos, part, {uri_sql('part')},
         '{CLS_LOCATION}' FROM hc_locs
),
hc_names AS (
  SELECT uri, label AS name FROM (
    SELECT uri, label,
           row_number() OVER (PARTITION BY uri ORDER BY row_idx, seq) AS rn
    FROM hc_mentions) WHERE rn = 1
),
hc_treats AS (
  SELECT DISTINCT {uri_sql('Provider')} AS src, {uri_sql('Patient')} AS dst FROM ok
),
hc_located AS (
  SELECT DISTINCT {uri_sql('Provider')} AS src, {uri_sql('part')} AS dst
  FROM (SELECT Provider, unnest({_parts_sql('Location')}) AS part FROM ok)
)"""


def _hc_sparql_q1_sql(provider_slug: str = "Dr_Jessica_Lee") -> str:
    return f"""
WITH {_healthcare_ctes()},
conds AS (
  SELECT DISTINCT {uri_sql('Patient')} AS p, part AS cond
  FROM (SELECT Patient, unnest({_parts_sql('Patient_Condition')}) AS part FROM ok)
)
SELECT n.name AS "patientName", c.cond AS cond
FROM hc_treats t
JOIN hc_names n ON n.uri = t.dst
JOIN conds c ON c.p = t.dst
WHERE t.src = '{BASE}{provider_slug}'
"""


def _fulltext_anchor_ctes(alias: str, cls: str, tokens: list[str]) -> str:
    """DuckDB mirror of operators/fulltext.py scoring: distinct query
    tokens present in the candidate name, top-1 by (score DESC,
    name ASC, id ASC)."""
    toks = ", ".join(f"'{t}'" for t in tokens)
    return f"""
{alias}_toks AS (
  SELECT DISTINCT id, name, tok FROM (
    SELECT t.id, n.name,
           unnest(list_filter(string_split_regex(lower(n.name), '[^a-z0-9]+'),
                  x -> x != '')) AS tok
    FROM hc_types t JOIN hc_names n ON n.uri = t.id
    WHERE t.type = '{cls}')
  WHERE tok IN ({toks})
),
{alias}_anchor AS (
  SELECT id AS anchor_id, name AS anchor_name, score AS anchor_score
  FROM (SELECT id, name, count(*) AS score FROM {alias}_toks GROUP BY id, name)
  ORDER BY score DESC, name ASC, id ASC LIMIT 1
)"""


def _hc_shape5_sql(
    provider_query: str = "Dr. John Smith", location_query: str = "Los Angeles"
) -> str:
    from kgspark.constants import CLS_LOCATION, CLS_PROVIDER

    return f"""
WITH {_healthcare_ctes()},
hc_types AS (SELECT uri AS id, min(cls) AS type FROM hc_mentions GROUP BY uri),
{_fulltext_anchor_ctes("prov", CLS_PROVIDER, tokenize(provider_query))},
{_fulltext_anchor_ctes("loc", CLS_LOCATION, tokenize(location_query))},
hc_ages AS (
  SELECT uri AS id,
         CASE WHEN try_cast(v AS BIGINT) IS NOT NULL
              THEN CAST(try_cast(v AS BIGINT) AS VARCHAR) ELSE v END AS age
  FROM (SELECT {uri_sql('Patient')} AS uri, Patient_Age AS v,
               row_number() OVER (PARTITION BY {uri_sql('Patient')}
                                  ORDER BY row_idx) AS rn
        FROM ok WHERE Patient_Age != '') WHERE rn = 1
),
hp AS (
  SELECT p.anchor_id, p.anchor_name, l.anchor_name AS matched_location
  FROM hc_located e
  JOIN prov_anchor p ON e.src = p.anchor_id
  JOIN loc_anchor l ON e.dst = l.anchor_id
)
SELECT hp.anchor_name AS matched_provider, hp.matched_location,
       count(DISTINCT t.dst) AS total_patients,
       round(avg(try_cast(g.age AS DOUBLE)), 1) AS avg_age
FROM hc_treats t
JOIN hp ON t.src = hp.anchor_id
LEFT JOIN hc_ages g ON g.id = t.dst
GROUP BY hp.anchor_name, hp.matched_location
"""


def _ontology_values_sql() -> str:
    from kgspark import golden

    def q(v: str | None) -> str:
        return "NULL" if v is None else "'" + v.replace("'", "''") + "'"

    rows = sorted(golden.ontology_triples())
    vals = ",\n".join(
        f"({q(s)}, {q(p)}, {q(o)}, {q(k)}, {q(dt)}, {q(lg)})"
        for (s, p, o, k, dt, lg) in rows
    )
    # Explicit VARCHAR casts: obj_dtype is NULL on every ontology row,
    # and an all-NULL VALUES column reaches pandas as float64 NaN
    # (≠ None) under the driver's fetchdf path.
    return (
        "SELECT subj, pred, obj, obj_kind,"
        " CAST(obj_dtype AS VARCHAR) AS obj_dtype,"
        " CAST(obj_lang AS VARCHAR) AS obj_lang FROM (VALUES\n" + vals +
        "\n) AS t(subj, pred, obj, obj_kind, obj_dtype, obj_lang)"
    )


# --------------------------------------------------------------------------
# Entity-linking + canonicalization oracles (D6/H5/G3) over the driver's
# tables: suppliers are the canonical inventory, alias/typo/noise mention
# forms are derived deterministically from supplier/customer names.
# --------------------------------------------------------------------------

_LINK_FIXTURE_SQL = """
link_canon AS (SELECT DISTINCT s_name AS canonical FROM supplier),
link_aliases AS (
  SELECT replace(s_name, 'Supplier#', 'Supp ') AS alias, s_name AS canonical
  FROM supplier WHERE s_suppkey % 2 = 0
),
link_mentions AS (
  SELECT DISTINCT name FROM (
    SELECT s_name AS name FROM supplier WHERE s_suppkey % 3 = 0
    UNION ALL
    SELECT replace(s_name, 'Supplier#', 'Supp ') FROM supplier WHERE s_suppkey % 4 = 0
    UNION ALL
    SELECT replace(s_name, '#', ' no ') FROM supplier WHERE s_suppkey % 5 = 0
    UNION ALL
    SELECT c_name FROM customer WHERE c_custkey <= 15 OR c_custkey BETWEEN 200 AND 215
  )
)"""

# md5 char-3-gram hashed bucket counts over '^'||lower(name)||'$' —
# the DuckDB mirror of linking._char_ngram_vector (EMBED_DIM=64).
def _ngram_vec_sql(src_cte: str, key: str) -> str:
    s = f"'^' || lower({key}) || '$'"
    return f"""(
  SELECT {key} AS name, bucket, count(*)::DOUBLE AS w FROM (
    SELECT {key}, ('0x' || substr(md5(g), 1, 8))::BIGINT % 64 AS bucket FROM (
      SELECT {key}, unnest(list_transform(generate_series(1, length({s}) - 2),
             i -> substr({s}, i, 3))) AS g
      FROM {src_cte}))
  GROUP BY {key}, bucket
)"""


def _resolution_ctes(
    threshold: float = 0.75, fixture_sql: str | None = None
) -> str:
    """CTE block ending in ``resolution(name, resolved, method)`` — the
    DuckDB mirror of operators/linking.resolve_mentions (3 tiers).

    ``fixture_sql`` supplies the ``link_mentions`` / ``link_aliases`` /
    ``link_canon`` CTEs (defaults to the supplier-derived driver
    fixture; the pipeline oracle passes its parquet-backed block)."""
    return f"""
{fixture_sql if fixture_sql is not None else _LINK_FIXTURE_SQL},
t12 AS MATERIALIZED (
  SELECT m.name, c.canonical AS r_exact, a.canonical AS r_alias
  FROM link_mentions m
  LEFT JOIN link_canon c ON m.name = c.canonical
  LEFT JOIN link_aliases a ON m.name = a.alias
),
resolved_now AS MATERIALIZED (
  SELECT name, coalesce(r_exact, r_alias) AS resolved,
         CASE WHEN r_exact IS NOT NULL THEN 'exact' ELSE 'alias' END AS method
  FROM t12 WHERE r_exact IS NOT NULL OR r_alias IS NOT NULL
),
unres AS MATERIALIZED (SELECT name FROM t12 WHERE r_exact IS NULL AND r_alias IS NULL),
u_vec AS MATERIALIZED {_ngram_vec_sql('unres', 'name')},
c_vec AS MATERIALIZED {_ngram_vec_sql('link_canon', 'canonical')},
u_aa AS MATERIALIZED (SELECT name, sum(w * w) AS aa FROM u_vec GROUP BY name),
c_aa AS MATERIALIZED (SELECT name AS canonical, sum(w * w) AS aa FROM c_vec GROUP BY name),
u_tok AS MATERIALIZED (
  SELECT DISTINCT name, tok FROM (
    SELECT name, unnest(list_filter(string_split_regex(lower(name), '[^a-z0-9]+'),
           x -> x != '')) AS tok FROM unres) WHERE tok != 'dr'
),
c_tok_d AS MATERIALIZED (
  SELECT DISTINCT canonical, tok FROM (
    SELECT canonical, unnest(list_filter(string_split_regex(lower(canonical), '[^a-z0-9]+'),
           x -> x != '')) AS tok FROM link_canon) WHERE tok != 'dr'
),
-- DF-capped blocking (linking.blocking_df_cap): hub tokens carried by
-- more than max(10, 1%) of canonicals are not blocking keys
blk_cap AS (SELECT greatest(10, count(*) // 100) AS cap FROM link_canon),
tok_df AS MATERIALIZED (SELECT tok, count(*) AS df FROM c_tok_d GROUP BY tok),
c_tok AS MATERIALIZED (
  SELECT c.canonical, c.tok FROM c_tok_d c
  JOIN tok_df USING (tok), blk_cap WHERE tok_df.df <= blk_cap.cap
),
blocked_pairs AS MATERIALIZED (
  SELECT DISTINCT u.name, c.canonical
  FROM u_tok u JOIN c_tok c ON u.tok = c.tok
),
pair_cos AS MATERIALIZED (
  SELECT p.name, p.canonical,
         d.dot / sqrt(ua.aa * ca.aa) AS cos
  FROM blocked_pairs p
  JOIN (SELECT uv.name, cv.name AS canonical, sum(uv.w * cv.w) AS dot
        FROM u_vec uv JOIN c_vec cv ON uv.bucket = cv.bucket
        GROUP BY uv.name, cv.name) d
    ON d.name = p.name AND d.canonical = p.canonical
  JOIN u_aa ua ON ua.name = p.name
  JOIN c_aa ca ON ca.canonical = p.canonical
),
embedded AS MATERIALIZED (
  SELECT name, canonical AS resolved, 'embedding' AS method FROM (
    SELECT name, canonical,
           row_number() OVER (PARTITION BY name ORDER BY cos DESC, canonical ASC) AS rn
    FROM pair_cos WHERE cos >= {threshold}) WHERE rn = 1
),
leftovers AS MATERIALIZED (
  SELECT name, name AS resolved, CAST(NULL AS VARCHAR) AS method
  FROM unres WHERE name NOT IN (SELECT name FROM embedded)
),
resolution AS MATERIALIZED (
  SELECT * FROM resolved_now
  UNION ALL SELECT * FROM embedded
  UNION ALL SELECT * FROM leftovers
)"""


_LINK_MENTIONS_SQL = f"""
WITH {_resolution_ctes()}
SELECT name, resolved, method FROM resolution
"""

def _canonicalize_ctes() -> str:
    """CTE block (consumes ``resolution`` and ``link_canon``) ending in
    ``cc_map(name, canonical_id)`` — the DuckDB mirror of
    operators/linking.canonicalize_by_components (recursive CC over
    same-as edges, representative = canonical member else min)."""
    return """
sa AS MATERIALIZED (SELECT name AS a, resolved AS b FROM resolution WHERE name != resolved),
ud AS (SELECT a, b FROM sa UNION SELECT b, a FROM sa),
cc_nodes AS MATERIALIZED (SELECT name AS id FROM resolution UNION SELECT a FROM ud),
reach(id, lbl) AS (
  SELECT id, id FROM cc_nodes
  UNION
  SELECT ud.b, reach.lbl FROM reach JOIN ud ON ud.a = reach.id
),
assign AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id),
rep AS MATERIALIZED (
  SELECT a.component,
         coalesce(min(CASE WHEN c.canonical IS NOT NULL THEN a.id END), min(a.id))
           AS canonical_id
  FROM assign a LEFT JOIN link_canon c ON a.id = c.canonical
  GROUP BY a.component
),
cc_map AS MATERIALIZED (
  SELECT a.id AS name, r.canonical_id
  FROM assign a JOIN rep r ON a.component = r.component
)"""


_CANONICALIZE_CC_SQL = f"""
WITH RECURSIVE {_resolution_ctes()},
{_canonicalize_ctes()}
SELECT name, canonical_id FROM cc_map
"""


def _link_fixture(spark: SparkSession, sf_dir: str):
    """Spark twin of _LINK_FIXTURE_SQL: (mentions, aliases, canonicals)."""
    sup = _t(spark, sf_dir, "supplier")
    cus = _t(spark, sf_dir, "customer")
    canonicals = sup.select(F.col("s_name").alias("canonical")).distinct()
    alias_form = F.regexp_replace(F.col("s_name"), "Supplier#", "Supp ")
    typo_form = F.regexp_replace(F.col("s_name"), "#", " no ")
    aliases = sup.filter(F.col("s_suppkey") % 2 == 0).select(
        alias_form.alias("alias"), F.col("s_name").alias("canonical")
    )
    mentions = (
        sup.filter(F.col("s_suppkey") % 3 == 0).select(F.col("s_name").alias("name"))
        .unionByName(sup.filter(F.col("s_suppkey") % 4 == 0).select(alias_form.alias("name")))
        .unionByName(sup.filter(F.col("s_suppkey") % 5 == 0).select(typo_form.alias("name")))
        .unionByName(
            cus.filter(
                (F.col("c_custkey") <= 15) | F.col("c_custkey").between(200, 215)
            ).select(F.col("c_name").alias("name"))
        )
        .distinct()
    )
    return mentions, aliases, canonicals


@register("link_mentions", _LINK_MENTIONS_SQL)
def link_mentions_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6/H5: 3-tier entity linking (exact, alias-broadcast, blocked
    md5-n-gram embedding cosine) — reference identity semantics
    build_rdf.py:129-136 / build_cypher_graph.py:22-27."""
    from kgspark.operators.linking import resolve_mentions

    mentions, aliases, canonicals = _link_fixture(spark, sf_dir)
    return resolve_mentions(mentions, aliases, canonicals)


@register("canonicalize_cc", _CANONICALIZE_CC_SQL)
def canonicalize_cc_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3 ◆: connected-components canonicalization over same-as edges
    (component rep = canonical member if any, else min member)."""
    from kgspark.operators.linking import canonicalize_by_components, resolve_mentions

    mentions, aliases, canonicals = _link_fixture(spark, sf_dir)
    res = resolve_mentions(mentions, aliases, canonicals)
    return canonicalize_by_components(res, canonicals)


@register("kg_ontology", _ontology_values_sql())
def kg_ontology_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The static RDFS schema graph (build_rdf.py:47-109,
    healthcare_ontology.ttl) as a queryable triples DataFrame."""
    from kgspark.operators.rdf_build import ontology_df

    return ontology_df(spark)


# --------------------------------------------------------------------------
# Rows-only entries (no SQL-expressible oracle; the driver records a
# weaker rows-only check — each is pinned exactly by pytest instead)
# --------------------------------------------------------------------------

_HC_GRAPH_CACHE: dict[str, tuple] = {}


def _healthcare_graph(spark: SparkSession):
    """Build the healthcare KG once per session and materialize it at the
    stage boundary.

    ``build_triples`` ends in a Python UDF stage and a shuffle, and
    nodes/edges each add more; each Cypher/SPARQL query branches off
    nodes/edges several times, and re-optimizing (and re-executing) that
    lineage per branch dominated runtime. In production the pipeline
    writes triples/nodes/edges to tables between construction and query
    (plans/pipeline.py); ``localCheckpoint(eager)`` mirrors that
    materialize boundary, so the read side plans over a short-lineage
    cached scan — the same shape a real deployment gets from reading the
    materialized table.
    """
    from kgspark.operators.graph_build import edges_from_triples, nodes_from_triples
    from kgspark.operators.rdf_build import build_triples
    from kgspark.sources.csv_source import read_fact_csv

    key = spark.sparkContext.applicationId
    hit = _HC_GRAPH_CACHE.get(key)
    if hit is not None:
        return hit
    triples = build_triples(
        read_fact_csv(spark, "/root/reference/data/healthcare.csv")
    ).localCheckpoint(eager=True)
    nodes = nodes_from_triples(triples).localCheckpoint(eager=True)
    edges = edges_from_triples(triples).localCheckpoint(eager=True)
    _HC_GRAPH_CACHE.clear()
    _HC_GRAPH_CACHE[key] = (triples, nodes, edges)
    return triples, nodes, edges


def _kg_pipeline_sql() -> str:
    """DuckDB mirror of the full pipeline slice over the oracle-visible
    parquet fixture (kgspark/fixtures.py): pages → line-kernel fact
    extraction (ner.FACT_RE/BIO_RE, RE2 on both engines for this ASCII
    corpus) → 3-tier linking + CC canonicalization (shared CTE builders)
    → build_triples semantics with (warc_ts, url, sent_idx, seq)
    first-wins ordering. The html-decode half of the invariant enters
    through page_texts.parquet — the single-process spec extractor's
    output per url (BASELINE.json's byte-identity rule in table form);
    a distributed-decode divergence would hash-mismatch here."""
    from kgspark.constants import (
        CLS_LOCATION,
        CLS_PATIENT,
        CLS_PROVIDER,
        CLS_SPECIALIZATION,
        P_AGE,
        P_BIO,
        P_CONDITION,
        P_GENDER,
        P_LOCATED_AT,
        P_NAME,
        P_SPECIALIZES_IN,
        P_TREATS,
        XSD_INT,
    )
    from kgspark.extract import ner
    from kgspark.fixtures import ensure_pipeline_fixture

    fix = ensure_pipeline_fixture()
    fact_re = ner.FACT_RE.pattern.replace("'", "''")
    bio_re = ner.BIO_RE.pattern.replace("'", "''")

    def mj(expr: str) -> str:
        # mirror of ner._multi_join: split on \s+and\s+, trim, drop
        # empties, join '|'
        return (
            "array_to_string(list_filter(list_transform("
            f"string_split_regex({expr}, '\\s+and\\s+'), t -> trim(t)),"
            " t -> t != ''), '|')"
        )

    def grp(i: int) -> str:
        return f"regexp_extract(line, '{fact_re}', {i})"

    fixture_block = f"""
link_canon AS (SELECT DISTINCT canonical
               FROM read_parquet('{fix}/canonicals.parquet')),
link_aliases AS (SELECT alias, canonical
                 FROM read_parquet('{fix}/aliases.parquet')),
link_mentions AS MATERIALIZED (SELECT DISTINCT Provider AS name FROM pl_facts)"""

    ordcols = "warc_ts, url, sent_idx"
    return f"""
WITH RECURSIVE
pages AS MATERIALIZED (
  SELECT w.url, w.warc_ts, g.text
  FROM read_parquet('{fix}/webpages.parquet') w
  JOIN read_parquet('{fix}/page_texts.parquet') g USING (url)
  WHERE w.lang = 'en'
),
pl_lines AS MATERIALIZED (
  SELECT url, warc_ts,
         generate_subscripts(string_split(text, chr(10)), 1) - 1 AS sent_idx,
         unnest(string_split(text, chr(10))) AS line
  FROM pages
),
cand AS (
  SELECT url, warc_ts, sent_idx, trim(line) AS line,
         regexp_matches(trim(line), '{fact_re}') AS is_fact
  FROM pl_lines
  WHERE regexp_matches(trim(line), '{fact_re}')
     OR regexp_matches(trim(line), '{bio_re}')
),
pf AS MATERIALIZED (
  SELECT *, max(CASE WHEN is_fact THEN sent_idx END)
              OVER (PARTITION BY url, warc_ts ORDER BY sent_idx)
            AS prev_fact_idx
  FROM cand
),
fact_rows AS MATERIALIZED (
  SELECT url, warc_ts, sent_idx,
         {grp(1)} AS Provider, {grp(4)} AS Patient,
         {mj(grp(2))} AS Specialization, {mj(grp(3))} AS Location,
         {grp(5)} AS Patient_Age, {grp(6)} AS Patient_Gender,
         {mj(grp(7))} AS Patient_Condition
  FROM pf WHERE is_fact
),
bio_attach AS MATERIALIZED (
  SELECT b.url, b.warc_ts, b.prev_fact_idx AS sent_idx,
         arg_min(b.line, b.sent_idx) AS bio
  FROM pf b
  JOIN fact_rows f ON f.url = b.url AND f.warc_ts = b.warc_ts
                  AND f.sent_idx = b.prev_fact_idx
  WHERE NOT b.is_fact
    AND regexp_extract(b.line, '{bio_re}', 1) = f.Provider
  GROUP BY 1, 2, 3
),
pl_facts AS MATERIALIZED (
  SELECT f.url, f.warc_ts, f.sent_idx, f.Provider, f.Patient,
         f.Specialization, f.Location, coalesce(b.bio, '') AS Bio,
         f.Patient_Age, f.Patient_Gender, f.Patient_Condition
  FROM fact_rows f
  LEFT JOIN bio_attach b ON b.url = f.url AND b.warc_ts = f.warc_ts
                        AND b.sent_idx = f.sent_idx
),
{_resolution_ctes(fixture_sql=fixture_block)},
{_canonicalize_ctes()},
mapping AS (SELECT c.name, c.canonical_id
            FROM cc_map c JOIN link_mentions USING (name)),
ok AS (
  SELECT p.warc_ts, p.url, p.sent_idx,
         coalesce(m.canonical_id, p.Provider) AS Provider,
         p.Patient, p.Specialization, p.Location, p.Bio,
         p.Patient_Age, p.Patient_Gender, p.Patient_Condition
  FROM pl_facts p LEFT JOIN mapping m ON p.Provider = m.name
  WHERE trim(p.Provider) != '' AND trim(p.Patient) != ''
),
pl_specs AS MATERIALIZED (
  SELECT {ordcols}, Provider, unnest({_parts_sql('Specialization')}) AS part,
         generate_subscripts({_parts_sql('Specialization')}, 1) AS pos
  FROM ok
),
pl_locs AS MATERIALIZED (
  SELECT {ordcols}, Provider, len({_parts_sql('Specialization')}) AS nspec,
         unnest({_parts_sql('Location')}) AS part,
         generate_subscripts({_parts_sql('Location')}, 1) AS pos
  FROM ok
),
pl_conds AS MATERIALIZED (
  SELECT {ordcols}, Patient, unnest({_parts_sql('Patient_Condition')}) AS part
  FROM ok
),
pl_mentions AS MATERIALIZED (
  SELECT {ordcols}, 0 AS seq, Provider AS label, {uri_sql('Provider')} AS uri,
         '{CLS_PROVIDER}' AS cls FROM ok
  UNION ALL SELECT {ordcols}, 1, Patient, {uri_sql('Patient')},
         '{CLS_PATIENT}' FROM ok
  UNION ALL SELECT {ordcols}, 1 + pos, part, {uri_sql('part')},
         '{CLS_SPECIALIZATION}' FROM pl_specs
  UNION ALL SELECT {ordcols}, 1 + nspec + pos, part, {uri_sql('part')},
         '{CLS_LOCATION}' FROM pl_locs
),
pl_names AS MATERIALIZED (
  SELECT uri, label FROM (
    SELECT uri, label,
           row_number() OVER (PARTITION BY uri
                              ORDER BY {ordcols}, seq) AS rn
    FROM pl_mentions) WHERE rn = 1
),
pl_bios AS MATERIALIZED (
  SELECT uri, v FROM (
    SELECT {uri_sql('Provider')} AS uri, Bio AS v,
           row_number() OVER (PARTITION BY {uri_sql('Provider')}
                              ORDER BY {ordcols}) AS rn
    FROM ok WHERE Bio != '') WHERE rn = 1
),
pl_genders AS MATERIALIZED (
  SELECT uri, v FROM (
    SELECT {uri_sql('Patient')} AS uri, Patient_Gender AS v,
           row_number() OVER (PARTITION BY {uri_sql('Patient')}
                              ORDER BY {ordcols}) AS rn
    FROM ok WHERE Patient_Gender != '') WHERE rn = 1
),
pl_ages AS MATERIALIZED (
  SELECT uri,
         CASE WHEN try_cast(v AS BIGINT) IS NOT NULL
              THEN CAST(try_cast(v AS BIGINT) AS VARCHAR) ELSE v END AS lex,
         CASE WHEN try_cast(v AS BIGINT) IS NOT NULL
              THEN '{XSD_INT}' ELSE CAST(NULL AS VARCHAR) END AS dtype
  FROM (
    SELECT {uri_sql('Patient')} AS uri, Patient_Age AS v,
           row_number() OVER (PARTITION BY {uri_sql('Patient')}
                              ORDER BY {ordcols}) AS rn
    FROM ok WHERE Patient_Age != '') WHERE rn = 1
),
pl_triples AS (
  SELECT uri AS subj, '{RDF_TYPE}' AS pred, cls AS obj,
         'uri' AS obj_kind, {NULLCOLS}
  FROM pl_mentions
  UNION ALL SELECT {uri_sql('Provider')}, '{P_SPECIALIZES_IN}',
         {uri_sql('part')}, 'uri', NULL, NULL FROM pl_specs
  UNION ALL SELECT {uri_sql('Provider')}, '{P_LOCATED_AT}',
         {uri_sql('part')}, 'uri', NULL, NULL FROM pl_locs
  UNION ALL SELECT {uri_sql('Provider')}, '{P_TREATS}',
         {uri_sql('Patient')}, 'uri', NULL, NULL FROM ok
  UNION ALL SELECT {uri_sql('Patient')}, '{P_CONDITION}', part,
         'literal', NULL, NULL FROM pl_conds
  UNION ALL SELECT uri, '{P_NAME}', label, 'literal', NULL, NULL FROM pl_names
  UNION ALL SELECT uri, '{P_BIO}', v, 'literal', NULL, NULL FROM pl_bios
  UNION ALL SELECT uri, '{P_GENDER}', v, 'literal', NULL, NULL FROM pl_genders
  UNION ALL SELECT uri, '{P_AGE}', lex, 'literal', dtype, NULL FROM pl_ages
)
SELECT DISTINCT subj, pred, obj, obj_kind, obj_dtype, obj_lang FROM pl_triples
"""


@register("kg_pipeline_triples", _kg_pipeline_sql())
def kg_pipeline_triples_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pipeline slice over the oracle-visible parquet corpus:
    web pages → mapInArrow html decode + JVM line-kernel extraction →
    3-tier linking + CC canonicalization → triples. Exactness is pinned
    twice: tests/test_pipeline.py against the golden Python oracle, and
    the driver's DuckDB mirror (_kg_pipeline_sql) over the same
    parquet."""
    from kgspark.extract.ner import extract_facts
    from kgspark.fixtures import ensure_pipeline_fixture
    from kgspark.operators.linking import link_facts
    from kgspark.operators.rdf_build import build_triples

    fix = ensure_pipeline_fixture()
    pages = spark.read.parquet(f"{fix}/webpages.parquet")
    aliases = spark.read.parquet(f"{fix}/aliases.parquet")
    canonicals = spark.read.parquet(f"{fix}/canonicals.parquet")
    facts = extract_facts(pages)
    linked = link_facts(facts, aliases, canonicals)
    ordered = linked.withColumn("row_idx", F.struct("warc_ts", "url", "sent_idx"))
    return build_triples(ordered, order_col="row_idx")


def _hc_shape1_sql(provider_query: str = "Dr. Jessica Lee", limit: int = 100) -> str:
    from kgspark.constants import CLS_PROVIDER

    return f"""
WITH {_healthcare_ctes()},
hc_types AS (SELECT uri AS id, min(cls) AS type FROM hc_mentions GROUP BY uri),
{_fulltext_anchor_ctes("prov", CLS_PROVIDER, tokenize(provider_query))}
SELECT n.uri AS patient_id, n.name AS patient_name,
       a.anchor_name AS matched_provider, a.anchor_score AS provider_score
FROM hc_treats t
JOIN prov_anchor a ON t.src = a.anchor_id
JOIN hc_names n ON n.uri = t.dst
ORDER BY provider_score DESC, patient_name ASC, patient_id ASC LIMIT {limit}
"""


def _hc_shape2_sql(provider_query: str = "Dr. Michael Brown", limit: int = 5) -> str:
    from kgspark.constants import CLS_PROVIDER, P_SPECIALIZES_IN  # noqa: F401

    return f"""
WITH {_healthcare_ctes()},
hc_types AS (SELECT uri AS id, min(cls) AS type FROM hc_mentions GROUP BY uri),
{_fulltext_anchor_ctes("prov", CLS_PROVIDER, tokenize(provider_query))},
hc_specs AS (
  SELECT DISTINCT {uri_sql('Provider')} AS src, {uri_sql('part')} AS dst
  FROM (SELECT Provider, unnest({_parts_sql('Specialization')}) AS part FROM ok)
)
SELECT n.uri AS specialization_id, n.name AS specialization,
       a.anchor_name AS matched_provider, a.anchor_score AS provider_score
FROM hc_specs e
JOIN prov_anchor a ON e.src = a.anchor_id
JOIN hc_names n ON n.uri = e.dst
ORDER BY provider_score DESC, specialization ASC LIMIT {limit}
"""


def _hc_shape3_sql(location_query: str = "New York", limit: int = 25) -> str:
    from kgspark.constants import CLS_LOCATION

    return f"""
WITH {_healthcare_ctes()},
hc_types AS (SELECT uri AS id, min(cls) AS type FROM hc_mentions GROUP BY uri),
{_fulltext_anchor_ctes("loc", CLS_LOCATION, tokenize(location_query))}
SELECT DISTINCT n.uri AS provider_id, n.name AS provider_name,
       a.anchor_name AS matched_location
FROM hc_located e
JOIN loc_anchor a ON e.dst = a.anchor_id
JOIN hc_names n ON n.uri = e.src
ORDER BY provider_name ASC, provider_id ASC LIMIT {limit}
"""


def _hc_shape4_sql(
    provider_query: str = "Dr. John Smith",
    location_query: str = "Los Angeles",
    limit: int = 25,
) -> str:
    from kgspark.constants import CLS_LOCATION, CLS_PROVIDER

    return f"""
WITH {_healthcare_ctes()},
hc_types AS (SELECT uri AS id, min(cls) AS type FROM hc_mentions GROUP BY uri),
{_fulltext_anchor_ctes("prov", CLS_PROVIDER, tokenize(provider_query))},
{_fulltext_anchor_ctes("loc", CLS_LOCATION, tokenize(location_query))},
hp AS (
  SELECT p.anchor_id, p.anchor_name, p.anchor_score,
         l.anchor_name AS matched_location
  FROM hc_located e
  JOIN prov_anchor p ON e.src = p.anchor_id
  JOIN loc_anchor l ON e.dst = l.anchor_id
)
SELECT n.uri AS patient_id, n.name AS patient_name,
       hp.anchor_name AS matched_provider, hp.matched_location,
       hp.anchor_score AS provider_score
FROM hc_treats t
JOIN hp ON t.src = hp.anchor_id
JOIN hc_names n ON n.uri = t.dst
ORDER BY provider_score DESC, patient_name ASC LIMIT {limit}
"""


@register("kg_cypher_shape1", _hc_shape1_sql())
def kg_cypher_shape1_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cypher example 1 (cypher_generator.py:25-36): anchored provider →
    TREATS patients, ordered + capped."""
    _, nodes, edges = _healthcare_graph(spark)
    return execute_shape(nodes, edges, "shape1", "Dr. Jessica Lee", None)


@register("kg_cypher_shape2", _hc_shape2_sql())
def kg_cypher_shape2_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cypher example 2 (cypher_generator.py:38-49): anchored provider's
    specializations."""
    _, nodes, edges = _healthcare_graph(spark)
    return execute_shape(nodes, edges, "shape2", "Dr. Michael Brown", None)


@register("kg_cypher_shape3", _hc_shape3_sql())
def kg_cypher_shape3_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cypher example 3 (cypher_generator.py:51-62): reverse traversal,
    DISTINCT providers at the anchored location."""
    _, nodes, edges = _healthcare_graph(spark)
    return execute_shape(nodes, edges, "shape3", None, "New York")


@register("kg_cypher_shape4", _hc_shape4_sql())
def kg_cypher_shape4_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cypher example 4 (cypher_generator.py:64-81): two anchors +
    conjunctive 2-hop match."""
    _, nodes, edges = _healthcare_graph(spark)
    return execute_shape(nodes, edges, "shape4", "Dr. John Smith", "Los Angeles")


@register("kg_sparql_q1", _hc_sparql_q1_sql())
def kg_sparql_q1_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL golden Q1 on the graph built from the reference's own CSV
    (oracle: read_csv + build_triples semantics mirrored in DuckDB)."""
    from kgspark.operators.kg_queries import sparql_q1

    triples, _, _ = _healthcare_graph(spark)
    return sparql_q1(triples)


def _hc_sparql_q2_sql(location_slug: str = "Los_Angeles") -> str:
    return f"""
WITH {_healthcare_ctes()},
hc_specs AS (
  SELECT DISTINCT {uri_sql('Provider')} AS src, {uri_sql('part')} AS dst
  FROM (SELECT Provider, unnest({_parts_sql('Specialization')}) AS part FROM ok)
)
SELECT s.src AS doc, n.name AS "specName"
FROM hc_located la
JOIN hc_specs s ON s.src = la.src
JOIN hc_names n ON n.uri = s.dst
WHERE la.dst = '{BASE}{location_slug}'
"""


def _hc_sparql_q3_sql(min_age: int = 65, condition: str = "asthma") -> str:
    from kgspark.constants import CLS_PATIENT

    return f"""
WITH {_healthcare_ctes()},
hc_ages AS (
  SELECT uri AS p,
         CASE WHEN try_cast(v AS BIGINT) IS NOT NULL
              THEN CAST(try_cast(v AS BIGINT) AS VARCHAR) ELSE v END AS age
  FROM (SELECT {uri_sql('Patient')} AS uri, Patient_Age AS v,
               row_number() OVER (PARTITION BY {uri_sql('Patient')}
                                  ORDER BY row_idx) AS rn
        FROM ok WHERE Patient_Age != '') WHERE rn = 1
),
hc_conds AS (
  SELECT DISTINCT {uri_sql('Patient')} AS p, part AS c
  FROM (SELECT Patient, unnest({_parts_sql('Patient_Condition')}) AS part FROM ok)
),
patients AS (SELECT DISTINCT uri AS p FROM hc_mentions WHERE cls = '{CLS_PATIENT}')
SELECT n.name AS "pName", g.age AS age, c.c AS c
FROM patients
JOIN hc_names n ON n.uri = patients.p
JOIN hc_ages g ON g.p = patients.p
JOIN hc_conds c ON c.p = patients.p
WHERE try_cast(g.age AS INTEGER) >= {min_age} AND lower(c.c) = '{condition}'
"""


@register("kg_sparql_q2", _hc_sparql_q2_sql())
def kg_sparql_q2_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL golden Q2 (same-subject star join) on the reference CSV."""
    from kgspark.operators.kg_queries import sparql_q2

    triples, _, _ = _healthcare_graph(spark)
    return sparql_q2(triples)


@register("kg_sparql_q3", _hc_sparql_q3_sql())
def kg_sparql_q3_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL golden Q3 (typed age/condition filter) on the reference CSV."""
    from kgspark.operators.kg_queries import sparql_q3

    triples, _, _ = _healthcare_graph(spark)
    return sparql_q3(triples)


@register("kg_cypher_shape5", _hc_shape5_sql())
def kg_cypher_shape5_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cypher example 5 (anchored count-distinct + avg age) on the
    reference-CSV graph."""
    _, nodes, edges = _healthcare_graph(spark)
    return execute_shape(nodes, edges, "shape5", "Dr. John Smith", "Los Angeles")


def _multimodal_decode_sql(n: int = 60) -> str:
    """DuckDB mirror of the REAL decode statistics: every synthetic
    payload's decoded unit stream (BMP pixel bytes / WAV samples+128 /
    KGSM stub body) is the pure function u(id, i) = (id·31 + i·7) mod
    256 of media_id (multimodal.synthesize_media_bytes), so the decoded
    dimensions, durations, and 8-bucket feature ratios are re-derivable
    in SQL — unit stream via generate_series, bucket sums, one exact
    double division per bucket. The Spark side actually parses the BMP
    header + padded BGR rows and the RIFF/WAV frames (media_codecs.py);
    a decode bug there hash-mismatches here."""
    f_cols = ", ".join(
        f"coalesce(max(CASE WHEN j = {j} THEN f END) / total, 0.0) AS f{j}"
        for j in range(8)
    )
    return f"""
WITH meta AS (
  SELECT i::BIGINT AS media_id,
         CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         (i * 2654435761) % 4096 + 128 AS stub_len,
         CASE WHEN i % 3 = 2 THEN 16 + (i % 8) * 8
              ELSE 64 + (i % 8) * 32 END AS dim_w,
         CASE WHEN i % 3 = 2 THEN 12 + (i % 5) * 8
              ELSE 48 + (i % 5) * 32 END AS dim_h
  FROM range({n}) t(i)
),
dims AS (
  SELECT media_id, kind,
         CASE WHEN kind = 'audio' THEN 0 ELSE dim_w END::INT AS decoded_width,
         CASE WHEN kind = 'audio' THEN 0 ELSE dim_h END::INT AS decoded_height,
         CASE kind WHEN 'image' THEN 0
                   WHEN 'audio' THEN stub_len * 1000 // 8000
                   ELSE 1000 + media_id * 250 END::INT AS decoded_duration_ms,
         CASE kind WHEN 'image' THEN dim_w * dim_h * 3
              -- video: C444 Y4M, (dur/250) frames of 3·w·h plane bytes
              WHEN 'video' THEN dim_w * dim_h * 3 * (4 + media_id)
              ELSE stub_len END AS n_units
  FROM meta
),
body AS (
  SELECT d.media_id, u.i % 8 AS j, (d.media_id * 31 + u.i * 7) % 256 AS b
  FROM dims d, unnest(generate_series(0, d.n_units - 1)) AS u(i)
),
feats AS (SELECT media_id, j, sum(b)::DOUBLE AS f FROM body GROUP BY media_id, j),
tot AS (SELECT media_id, sum(f) AS total FROM feats GROUP BY media_id)
SELECT d.media_id, d.kind, d.decoded_width, d.decoded_height, d.decoded_duration_ms,
       {f_cols}
FROM feats fe JOIN tot USING (media_id) JOIN dims d USING (media_id)
GROUP BY d.media_id, d.kind, d.decoded_width, d.decoded_height, d.decoded_duration_ms, total
"""


@register("multimodal_decode", _multimodal_decode_sql())
def multimodal_decode_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media decode+featurize: REAL stdlib codecs for all three
    modalities — BMP images, PCM WAV audio, Y4M (C444) video
    (operators/media_codecs.py). Determinism pinned by
    tests/test_multimodal.py and the generate_series DuckDB oracle (the
    synthetic payloads' decoded unit streams are pure functions of
    media_id, so the decoded-pixel/sample statistics are
    SQL-reproducible — a decoder bug hash-mismatches here)."""
    from kgspark.operators import multimodal as mm

    media = mm.synthesize_media(spark, n=60)
    decoded = mm.decode_and_featurize(media)
    # Driver surface: scalar double columns (the canonicalizer can't
    # hash array cells); the array form stays internal. batch_rows is
    # config-dependent (Arrow batch sizing) so it stays off this surface.
    return decoded.select(
        "media_id",
        "kind",
        "decoded_width",
        "decoded_height",
        "decoded_duration_ms",
        *[F.col("features")[j].alias(f"f{j}") for j in range(8)],
    )


def _video_frame_sample_sql(n: int = 60, every_ms: int = 1000) -> str:
    """DuckDB mirror of the REAL per-frame statistic: a Y4M video's
    frame ``idx`` occupies bytes [idx·3wh, (idx+1)·3wh) of the unit
    stream u(id, i), so each sampled frame's mean byte value is an
    exact integer-sum / count double division re-derivable in SQL.
    The Spark side actually parses the YUV4MPEG2 stream and plane data
    (media_codecs.decode_y4m); a frame-boundary bug hash-mismatches
    here."""
    return f"""
WITH meta AS (
  SELECT i::BIGINT AS media_id,
         16 + (i % 8) * 8 AS w, 12 + (i % 5) * 8 AS h,
         1000 + i * 250 AS dur
  FROM range({n}) t(i) WHERE i % 3 = 2
),
fr AS (
  SELECT media_id, w * h * 3 AS fs, ts.g AS frame_ts_ms,
         (ts.g // 250) AS frame_idx
  FROM meta, unnest(generate_series(0, dur - 1, {every_ms})) ts(g)
),
px AS (
  SELECT f.media_id, f.frame_idx, f.frame_ts_ms,
         sum((f.media_id * 31 + u.i * 7) % 256)::DOUBLE / f.fs AS frame_mean
  FROM fr f,
       unnest(generate_series(f.frame_idx * f.fs, (f.frame_idx + 1) * f.fs - 1)) u(i)
  GROUP BY f.media_id, f.frame_idx, f.frame_ts_ms, f.fs
)
SELECT media_id, frame_idx::INT AS frame_idx, frame_ts_ms::INT AS frame_ts_ms,
       frame_mean
FROM px
"""


@register("video_frame_sample", _video_frame_sample_sql())
def video_frame_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real video frame sampling: every synthetic Y4M payload decoded
    (media_codecs.decode_y4m), one frame per second sampled, per-frame
    mean plane byte value as the statistic
    (multimodal.frame_sample_features). The per-frame slice boundaries
    and the exact-division arithmetic are value-checked against the
    generate_series oracle."""
    from kgspark.operators import multimodal as mm

    media = mm.synthesize_media(spark, n=60)
    return mm.frame_sample_features(media, every_ms=1000)


# --------------------------------------------------------------------------
# NL→shape router (I2-lite) — the LLM-free counterpart of the reference's
# generate_cypher (cypher_generator.py:179-204); see operators/nl_router.py
# --------------------------------------------------------------------------

# Shape id → (Spark executor name, oracle SQL builder, anchor arity).
# The execute arm of nl_route reduces each shape's result to
# (exec_rows, exec_digest): row strings are the columns SORTED BY NAME,
# NULLs as a \x00NULL sentinel, joined on \x01; the digest is md5 over
# the sorted row strings joined on \n — identical arithmetic on both
# engines, empty results hashing md5('').

_SHAPE_EXEC_COLS = {
    "shape1": ["patient_id", "patient_name", "matched_provider", "provider_score"],
    "shape2": ["specialization_id", "specialization", "matched_provider", "provider_score"],
    "shape3": ["provider_id", "provider_name", "matched_location"],
    "shape4": ["patient_id", "patient_name", "matched_provider", "matched_location", "provider_score"],
    "shape5": ["matched_provider", "matched_location", "total_patients", "avg_age"],
}


def _shape_oracle_stmt(shape: str, prov: str | None, loc: str | None) -> str:
    if shape == "shape1":
        return _hc_shape1_sql(provider_query=prov)
    if shape == "shape2":
        return _hc_shape2_sql(provider_query=prov)
    if shape == "shape3":
        return _hc_shape3_sql(location_query=loc)
    if shape == "shape4":
        return _hc_shape4_sql(provider_query=prov, location_query=loc)
    if shape == "shape5":
        return _hc_shape5_sql(provider_query=prov, location_query=loc)
    raise ValueError(shape)


def _nl_route_sql() -> str:
    from kgspark.operators import nl_router

    def q_lit(q: str) -> str:
        return "'" + q.replace("'", "''") + "'"

    vals = ",\n  ".join(f"({q_lit(q)})" for q in nl_router.CANONICAL_QUESTIONS)
    digests = []
    for q in nl_router.CANONICAL_QUESTIONS:
        shape, prov, loc = nl_router.route_local(q)
        stmt = _shape_oracle_stmt(shape, prov, loc)
        rs = " || chr(1) || ".join(
            f"coalesce(CAST({c} AS VARCHAR), chr(0) || 'NULL')"
            for c in sorted(_SHAPE_EXEC_COLS[shape])
        )
        digests.append(f"""
SELECT {q_lit(q)} AS question, count(*) AS exec_rows,
       md5(coalesce(string_agg(rs, chr(10) ORDER BY rs), '')) AS exec_digest
FROM (SELECT {rs} AS rs FROM ({stmt}) shape_res)""")
    exec_union = "\nUNION ALL".join(digests)
    return f"""
SELECT r.question, {nl_router.oracle_case_sql('r.question')},
       e.exec_rows, e.exec_digest
FROM (VALUES
  {vals}
) AS r(question)
JOIN ({exec_union}) e ON e.question = r.question
"""


@register("nl_route", _nl_route_sql())
def nl_route_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I2: deterministic NL-question → query-shape routing over the
    reference's five canonical few-shot questions
    (cypher_generator.py:23-98), PLUS the execute arm — each question
    is dispatched through ``route_and_execute`` against the healthcare
    graph (the reference's EP2 ask-a-question loop, kg_rag.py:90-146,
    minus the LLM) and the routed shape's result is reduced to
    (exec_rows, exec_digest), value-checked against the shape's own
    parameterized SQL mirror. Routing itself is pure column expressions
    (rlike + regexp_extract): a table of millions of questions routes
    with zero Python in the loop."""
    from kgspark.operators import nl_router
    from kgspark.operators.nl_batch import execute_routed_grouped

    routed = nl_router.route_questions(
        spark.createDataFrame(
            [(q,) for q in nl_router.CANONICAL_QUESTIONS], ["question"]
        )
    )
    # Fully distributed route→execute: the routed table dispatches
    # GROUPED BY SHAPE (operators/nl_batch.py) — one plan per shape for
    # any number of questions, every anchor resolved in one shared,
    # materialized anchor table (freed by the caller's
    # release_materialized()), zero driver-side per-question loop. The
    # per-shape frames reduce to the same (exec_rows, exec_digest) the
    # oracle computes per question.
    _, nodes, edges = _healthcare_graph(spark)
    grouped = execute_routed_grouped(nodes, edges, routed)
    per_shape = []
    for shape, df in grouped.items():
        cols = sorted(c for c in df.columns if c != "question")
        rs = F.concat_ws(
            "\x01",
            *[
                F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL"))
                for c in cols
            ],
        )
        per_shape.append(
            df.select("question", rs.alias("rs"))
            .groupBy("question")
            .agg(
                F.count("*").alias("exec_rows"),
                F.md5(
                    F.concat_ws("\n", F.array_sort(F.collect_list("rs")))
                ).alias("exec_digest"),
            )
        )
    exec_df = per_shape[0]
    for d in per_shape[1:]:
        exec_df = exec_df.unionByName(d)
    # A question whose shape executed to ZERO rows has no group above;
    # it must still report (0, md5('')) exactly as the oracle's global
    # aggregate does.
    return routed.join(exec_df, "question", "left").select(
        routed["*"],
        F.coalesce(F.col("exec_rows"), F.lit(0).cast("long")).alias("exec_rows"),
        F.coalesce(F.col("exec_digest"), F.md5(F.lit(""))).alias("exec_digest"),
    )


# --------------------------------------------------------------------------
# Registry finalization: the driver's correctness gate evaluates queries
# in registration order with a bounded window, so the order below is the
# contract — reference-fidelity KG queries and the LLM-data-pipeline ops
# first, relational micro-ops last. The list must match the registered
# set exactly (asserted) so a stale entry can never silently drop a
# query out of evaluation.
# --------------------------------------------------------------------------

_REGISTRY_ORDER = [
    # reference-fidelity KG surface
    "kg_pipeline_triples",
    "kg_triples_geo",
    "link_mentions",
    "canonicalize_cc",
    "kg_ontology",
    "kg_cypher_shape1",
    "kg_cypher_shape2",
    "kg_cypher_shape3",
    "kg_cypher_shape4",
    "kg_cypher_shape5",
    "kg_sparql_q1",
    "kg_sparql_q2",
    "kg_sparql_q3",
    "nl_route",
    "multimodal_decode",
    "video_frame_sample",
    "gazetteer_mentions",
    # graph operators
    "connected_components",
    "bfs_khop",
    "graph_schema",
    "graph_stats",
    "fulltext_top1",
    # LLM-training-data pipeline: dedup / similarity / text analysis
    "dedup_exact",
    "minhash_lsh_pairs",
    "neardup_clusters",
    "ngram_jaccard_pairs",
    "simhash_neardup_pairs",
    "ann_cosine_topk",
    "ann_neardup_pairs",
    "ann_ivf_multiprobe",
    "quality_features",
    "lang_id",
    "doc_fingerprint",
    "token_counts",
    "corpus_token_stats",
    "corpus_filter",
    "skew_safe_collect",
    # relational / scalar micro-ops
    "slugify_uri",
    "split_explode",
    "scalar_filters",
    "int_cast_fallback",
    "first_wins",
    "window_latest_event",
    "edge_dedup",
    "traverse_1hop",
    "attr_pivot",
    "agg_count_avg",
    "count_distinct_sample",
    "answer_extract",
    "doc_enrich",
    "windowed_event_counts",
]


def _finalize_registry() -> None:
    missing = [n for n in _REGISTRY_ORDER if n not in QUERIES]
    extra = [n for n in QUERIES if n not in _REGISTRY_ORDER]
    if missing or extra:
        raise RuntimeError(
            f"registry order out of sync: missing={missing} extra={extra}"
        )
    ordered_q = {n: QUERIES[n] for n in _REGISTRY_ORDER}
    ordered_o = {n: ORACLES[n] for n in _REGISTRY_ORDER if n in ORACLES}
    QUERIES.clear()
    QUERIES.update(ordered_q)
    ORACLES.clear()
    ORACLES.update(ordered_o)


_finalize_registry()
