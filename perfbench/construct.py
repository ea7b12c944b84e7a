"""construct workload: build the KG with run_pipeline, then query it.

One pass = a cold ``run_pipeline`` (fresh out_dir and snapshot) over the
seeded web-page table, its gates, and the read path over the graph it
just wrote: ``kg_queries.sparql_q1..q3``, the whole question table
through ``route_questions`` + ``nl_batch.execute_routed_grouped``, and
one NL question per shape through ``nl_router.route_and_execute``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from pyspark.sql import functions as F

from kgspark.constants import CLS_PROVIDER
from kgspark.operators import kg_queries, nl_batch, nl_router
from kgspark.plans.pipeline import run_pipeline

from perfbench import gates, inputs

SPARQL = ("sparql_q1", "sparql_q2", "sparql_q3")


class Construct:
    layers = {
        "extract", "linking", "cc", "rdf_build", "graph_build", "sources", "pipeline",
        "fulltext", "kg_queries", "nl_router", "nl_batch",
    }

    def __init__(self, spark, work_dir: str, seed: int, nproc: int, sizes: inputs.Sizes):
        self.spark = spark
        self.sizes = sizes
        self.work_dir = work_dir
        self.seed = seed
        self.nproc = nproc
        self.passes = 0
        self.context: dict = {}

    def setup(self) -> None:
        """Generate the inputs and write the web-page table to parquet."""
        self.inp = inputs.kg_inputs(self.seed, self.sizes)
        pages, self.aliases, self.canonicals = inputs.webpages_frame(
            self.spark, self.inp.corpus, self.sizes.replicas
        )
        self.src = os.path.join(self.work_dir, "webpages")
        pages.repartition(self.nproc).write.mode("overwrite").parquet(self.src)
        self.pages = self.spark.read.parquet(self.src)
        self.n_docs = self.sizes.pages * self.sizes.replicas
        self.qdf = self.spark.createDataFrame(
            [(q.text,) for q in self.inp.questions], ["question"]
        )

    def out_dir(self, i: int) -> str:
        return os.path.join(self.work_dir, f"kg-{i}")

    def run_pass(self, r, keep: bool = False) -> None:
        i = self.passes
        self.passes += 1
        out = self.out_dir(i)
        try:
            self._pass(r, out, f"bench-{self.seed}-{i}")
        finally:
            if not keep:
                shutil.rmtree(out, ignore_errors=True)

    def _pass(self, r, out: str, snapshot: str) -> None:
        spark = self.spark
        op, metrics, dt = r.call("pipeline", "run_pipeline", lambda: run_pipeline(
            spark, self.pages, self.aliases, out, snapshot,
            canonicals=self.canonicals, n_buckets=self.nproc,
        ))
        if metrics is None:
            return
        r.sample("pipeline_s", dt)
        self.last_metrics = metrics
        nodes = spark.read.parquet(f"{out}/nodes")
        edges = spark.read.parquet(f"{out}/edges")
        triples = spark.read.parquet(f"{out}/triples")
        problems, self.context["golden_pr"] = gates.golden_triples(triples, self.inp.golden)
        r.gate(op, problems + gates.dangling_endpoints(nodes, edges))

        for name in SPARQL:
            args = self.inp.sparql_args[name]
            op, rows, dt = r.call("kg_queries", name, lambda name=name, args=args: getattr(
                kg_queries, name)(triples, **args).collect())
            if rows is None:
                continue
            r.sample(f"{name}_ms", dt * 1000.0)
            r.sample("read_ms", dt * 1000.0)
            r.sample("sparql_rows", len(rows))
            want = gates.sparql_expected(name, self.inp.golden, args)
            if gates.rows_key(rows) != want:
                r.fail(op, f"{name}{args} differs from the golden evaluation")

        # The batch goes first on the new graph, so it, not a single
        # question, pays for the graph's first reads and cold plans.
        def batch():
            routed = nl_router.route_questions(self.qdf)
            grouped = nl_batch.execute_routed_grouped(nodes, edges, routed)
            return {shape: df.collect() for shape, df in grouped.items()}

        batch_op, grouped, dt = r.call("nl_batch", "execute_routed_grouped", batch)
        if grouped is not None:
            r.sample("batch_s", dt)
            r.sample("batch_rows", sum(len(v) for v in grouped.values()))

        for q in self.inp.single:
            op, rows, dt = r.call("kg_queries", q.shape, lambda q=q: nl_router.route_and_execute(
                nodes, edges, q.text).collect())
            if rows is None:
                continue
            r.sample("read_ms", dt * 1000.0)
            r.sample(f"{q.shape}_ms", dt * 1000.0)
            r.sample("question_rows", len(rows))
            if not rows:
                r.fail(op, f"empty answer to {q.text!r}")
            if grouped is None:
                continue
            got = [x for x in grouped[q.shape] if x["question"] == q.text]
            cols = [c for c in rows[0].asDict()] if rows else []
            if gates.rows_key(rows) != gates.rows_key(got, cols):
                r.fail(batch_op, f"batch answer differs from per-question answer for {q.text!r}")

    def e2e(self, r) -> dict:
        return {
            "docs_per_s": self.n_docs / r.median("pipeline_s"),
            "call_geomean_ms": statistics.geometric_mean(r.samples["read_ms"]),
            "items_per_s": len(self.inp.questions) / r.median("batch_s"),
        }

    # ------------------------------------------------------------------
    # traced run: attribute the pass's work to layers
    # ------------------------------------------------------------------

    def attribute(self, r) -> dict:
        """Replay run_pipeline's four stage functions in its order, each
        in its own span and forced by the same parquet write, then time
        the sources, fulltext and router layers on their own. Row counts
        are taken outside the spans."""
        from kgspark.extract.ner import EXTRACT_SCHEMA, extract_facts
        from kgspark.operators.cc import connected_components_auto
        from kgspark.operators.fulltext import build_inverted_index, fulltext_top1
        from kgspark.operators.graph_build import edges_from_triples, nodes_from_triples
        from kgspark.operators.linking import link_facts, resolve_mentions, sameas_edges
        from kgspark.operators.rdf_build import build_triples
        from kgspark.plans.pipeline import bucket_col
        from kgspark.runtime import materialize

        spark, nb = self.spark, self.nproc
        rd = os.path.join(self.work_dir, "replay")
        m: dict = {}
        corpus = self.inp.corpus
        en = [p for p in corpus.pages if p[4] == "en"]
        m["extract.pages_in"] = self.n_docs
        m["extract.html_fallback_frac"] = sum(1 for p in en if not p[3]) / len(en)

        def extract():
            src = self.pages.withColumn("bucket", bucket_col(F.col("url"), nb))
            facts = extract_facts(src.select("url", "warc_ts", "html", "text", "lang"))
            facts = facts.withColumn("bucket", bucket_col(F.col("url"), nb))
            (facts.repartition(nb, "bucket").write.mode("overwrite")
             .partitionBy("bucket").parquet(f"{rd}/facts"))

        replay_s = r.call("extract", "extract_facts", extract)[2] or 0.0
        facts = spark.read.schema(EXTRACT_SCHEMA + ", bucket int").parquet(f"{rd}/facts")
        m["extract.facts_out"] = facts.count()

        replay_s += r.call("linking", "link_facts", lambda: link_facts(
            facts, self.aliases, self.canonicals, "Provider"
        ).write.mode("overwrite").parquet(f"{rd}/linked"))[2] or 0.0
        mentions = facts.select(F.col("Provider").alias("name")).distinct()
        m["linking.mentions_distinct"] = mentions.count()

        def resolve():
            res = materialize(resolve_mentions(mentions, self.aliases, self.canonicals))
            by_method = {row["method"]: row["count"] for row in res.groupBy("method").count().collect()}
            nodes = res.select(F.col("name").alias("id"))
            sameas = sameas_edges(res)
            _, cc_rows, _ = r.call("cc", "connected_components_auto", lambda: (
                sameas.count(), connected_components_auto(nodes, sameas, "id").collect()))
            return by_method, (cc_rows[0] if cc_rows else 0)

        _, out, _ = r.call("linking", "resolve_mentions", resolve)
        by_method, edges_in = out if out else ({}, 0)
        for k in ("exact", "alias", "embedding"):
            m[f"linking.resolved_{k}"] = by_method.get(k, 0)
        m["linking.unresolved"] = by_method.get(None, 0)
        m["cc.edges_in"] = edges_in

        linked = spark.read.parquet(f"{rd}/linked")
        m["rdf_build.rows_in"] = linked.count()

        def triples_stage():
            ordered = linked.withColumn(
                "row_idx", F.struct("warc_ts", "url", "sent_idx")
            ).withColumn("src_ref", F.xxhash64("url"))
            t = build_triples(ordered, order_col="row_idx", provenance_col="src_ref")
            (t.repartition(F.col("pred"), F.pmod(F.xxhash64("subj"), F.lit(8)))
             .write.mode("overwrite").parquet(f"{rd}/triples"))

        replay_s += r.call("rdf_build", "build_triples", triples_stage)[2] or 0.0
        triples = spark.read.parquet(f"{rd}/triples")
        m["rdf_build.triples_out"] = triples.count()
        m["rdf_build.dedup_ratio"] = m["rdf_build.triples_out"] / max(m["rdf_build.rows_in"], 1)

        def graph_stage():
            nodes_from_triples(triples).write.mode("overwrite").parquet(f"{rd}/nodes")
            (edges_from_triples(triples).write.mode("overwrite")
             .partitionBy("rel").parquet(f"{rd}/edges"))

        replay_s += r.call("graph_build", "nodes_edges_from_triples", graph_stage)[2] or 0.0
        nodes = spark.read.parquet(f"{rd}/nodes")
        m["graph_build.nodes_out"] = nodes.count()
        m["graph_build.edges_out"] = spark.read.parquet(f"{rd}/edges").count()
        # What run_pipeline spends beyond its four stage functions
        # (manifests, snapshot checks, read-back counts): a second, equally
        # warm run_pipeline call minus the replayed stages. Timed without a
        # span so the pipeline layer keeps the measured pass's figures.
        t0 = time.perf_counter()
        run_pipeline(spark, self.pages, self.aliases, f"{rd}/kg", "overhead",
                     canonicals=self.canonicals, n_buckets=nb)
        m["pipeline.overhead_s"] = time.perf_counter() - t0 - replay_s

        # sources: what the measured pass committed, and a resume no-op
        out = self.out_dir(0)
        files = [os.path.join(d, f) for d, _, fs in os.walk(out) for f in fs]
        m["sources.files_written"] = len(files)
        m["sources.bytes_written"] = sum(os.path.getsize(f) for f in files)
        src_bytes = sum(
            os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(self.src) for f in fs
        )
        m["sources.bytes_per_input_byte"] = m["sources.bytes_written"] / src_bytes
        op, _, dt = r.call("sources", "resume_noop", lambda: run_pipeline(
            spark, self.pages, self.aliases, out, f"bench-{self.seed}-0",
            canonicals=self.canonicals, n_buckets=nb,
        ))
        sp = dict(r.spans)[op]
        m["sources.resume_noop_s"] = sp.wall
        m["sources.resume_noop_jobs"] = sp.jobs

        provs = nodes.filter(F.col("type") == CLS_PROVIDER).select("id", "name")
        _, inv_rows, dt = r.call("fulltext", "build_inverted_index", lambda: build_inverted_index(provs).collect())
        m["fulltext.index_s"] = dt
        inv = spark.createDataFrame(inv_rows, "id string, name string, token string")
        anchor = self.inp.single[0].text
        op, _, _ = r.call("fulltext", "fulltext_top1", lambda: fulltext_top1(inv, anchor).collect())
        m["fulltext.jobs_per_anchor"] = dict(r.spans)[op].jobs

        op, _, dt = r.call("nl_router", "route_questions", lambda: nl_router.route_questions(self.qdf).collect())
        m["nl_router.route_ms"] = dt * 1000.0
        shutil.rmtree(rd, ignore_errors=True)
        return m

    def pass_metrics(self, r) -> dict:
        """Layer figures taken from the measured pass's own spans."""
        m: dict = {}
        spans = [sp for _, sp in r.spans]
        stage = self.last_metrics
        for k in ("extract", "link", "triples", "graph"):
            m[f"pipeline.stage_s.{k}"] = stage[k]["sec"]
        for k in ("shape1", "shape2", "shape3", "shape4", "shape5", *SPARQL):
            m[f"kg_queries.{k}_ms"] = r.median(f"{k}_ms")
        qspans = [sp for sp in spans if sp.layer == "kg_queries" and sp.name.startswith("shape")]
        m["kg_queries.jobs_per_question"] = sum(sp.jobs for sp in qspans) / len(qspans)
        m["kg_queries.rows_out"] = sum(r.samples["question_rows"]) + sum(r.samples["sparql_rows"])
        m["nl_batch.rows_out"] = sum(r.samples["batch_rows"])
        return m
