"""dedup workload: the training-data operators over seeded tables.

One pass = six calls, each forced by ``collect()``:
``textops.corpus_filter``, ``dedup.simhash_neardup_pairs`` and
``dedup.ngram_jaccard_pairs`` over ``documents``;
``similarity.cosine_neardup_pairs_lsh`` at t = 0.35 (direct scorer) and
t = 0.95 (cascade) over 64-dim ``embeddings``, and at t = 0.95 over a
384-dim table. The first four are the query registry's own calls, so
their DuckDB oracles (``ORACLES``) check them.
"""

from __future__ import annotations

import os
import statistics

import numpy as np

from kgspark.entrypoints import ORACLES, QUERIES
from kgspark.operators import similarity
from kgspark.runtime import spread

from perfbench import gates, inputs

# (layer, call name, registry query or None, table, threshold, dim)
CALLS = [
    ("textops", "corpus_filter", "corpus_filter", "documents", None, None),
    ("dedup", "simhash_neardup_pairs", "simhash_neardup_pairs", "documents", None, None),
    ("dedup", "ngram_jaccard_pairs", "ngram_jaccard_pairs", "documents", None, None),
    ("similarity", "t035_d64", "ann_neardup_pairs", "embeddings", 0.35, 64),
    ("similarity", "t095_d64", None, "embeddings", 0.95, 64),
    ("similarity", "t095_d384", None, "embeddings384", 0.95, 384),
]
TEXT_CALLS = ("corpus_filter", "simhash_neardup_pairs", "ngram_jaccard_pairs")
VEC_CALLS = ("t035_d64", "t095_d64", "t095_d384")


class Dedup:
    layers = {"dedup", "textops", "similarity", "cc"}

    def __init__(self, spark, work_dir: str, seed: int, nproc: int, sizes: inputs.Sizes):
        self.spark = spark
        self.sizes = sizes
        self.work_dir = work_dir
        self.seed = seed
        self.nproc = nproc
        self.rows: dict[str, list] = {}
        self.checked: set[str] = set()
        self.context: dict = {}

    def setup(self) -> None:
        """Generate the tables and write them as single parquet files,
        the layout the registry's queries read."""
        self.data = os.path.join(self.work_dir, "data")
        os.makedirs(self.data, exist_ok=True)
        docs = inputs.documents(self.seed, self.sizes.docs)
        e64 = inputs.embeddings(self.seed, self.sizes.vecs_64, 64)
        e384 = inputs.embeddings(self.seed, self.sizes.vecs_384, 384)
        docs.to_parquet(f"{self.data}/documents.parquet", index=False)
        e64.to_parquet(f"{self.data}/embeddings.parquet", index=False)
        e384.to_parquet(f"{self.data}/embeddings384.parquet", index=False)
        self.vecs = {
            "embeddings": np.stack(e64["embedding"].to_numpy()),
            "embeddings384": np.stack(e384["embedding"].to_numpy()),
        }
        self.n_docs = len(docs)

    def table(self, name: str):
        key = "vec_id" if name.startswith("embeddings") else "doc_id"
        return spread(self.spark.read.parquet(f"{self.data}/{name}.parquet"), key)

    def _fn(self, query, table, threshold, dim):
        if query is not None:
            return lambda: QUERIES[query](self.spark, self.data)
        return lambda: similarity.cosine_neardup_pairs_lsh(
            self.table(table), threshold=threshold, dim=dim
        )

    def run_pass(self, r, keep: bool = False) -> None:
        for layer, name, query, table, threshold, dim in CALLS:
            fn = self._fn(query, table, threshold, dim)

            def run(fn=fn):
                df = fn()
                return df.columns, df.collect()

            op, out, dt = r.call(layer, name, run)
            if out is None:
                continue
            r.sample(f"{name}_s", dt)
            cols, rows = out
            self.rows[name] = rows
            self._check(r, op, name, query, table, threshold, cols, rows)

    def _check(self, r, op, name, query, table, threshold, cols, rows) -> None:
        """Untimed gates; the DuckDB oracle runs once per seed."""
        tuples = [tuple(x) for x in rows]
        if query is not None:
            if name not in self.checked:
                self.checked.add(name)
                r.gate(op, [f"{name}: {p}" for p in gates.oracle_match(
                    self._duck(), ORACLES[query], cols, tuples)])
            return
        problems, found, brute = gates.lsh_pairs_exact(self.vecs[table], tuples, threshold)
        r.gate(op, [f"{name}: {p}" for p in problems])
        self.context[f"{name}.bruteforce_pairs"] = brute
        self.context[f"{name}.found_of_bruteforce"] = found

    def _duck(self):
        if not hasattr(self, "con"):
            import duckdb

            self.con = duckdb.connect()
            for t in ("documents", "embeddings"):
                self.con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data}/{t}.parquet')"
                )
        return self.con

    def e2e(self, r) -> dict:
        text_s = sum(r.median(f"{c}_s") for c in TEXT_CALLS)
        vec_s = sum(r.median(f"{c}_s") for c in VEC_CALLS)
        n_vecs = 2 * self.sizes.vecs_64 + self.sizes.vecs_384
        return {
            "docs_per_s": self.n_docs / text_s,
            "call_geomean_ms": 1000.0 * statistics.geometric_mean(
                [r.median(f"{c}_s") for c in TEXT_CALLS + VEC_CALLS]
            ),
            "items_per_s": n_vecs / vec_s,
        }

    # ------------------------------------------------------------------
    # traced run
    # ------------------------------------------------------------------

    def pass_metrics(self, r) -> dict:
        m: dict = {}
        rows = self.rows
        m["dedup.simhash_pairs"] = len(rows.get("simhash_neardup_pairs", []))
        m["dedup.ngram_pairs"] = len(rows.get("ngram_jaccard_pairs", []))
        cf = rows.get("corpus_filter", [])
        m["textops.kept_frac"] = sum(x["keep"] for x in cf) / max(len(cf), 1)
        for name in VEC_CALLS:
            m[f"similarity.{name}.pairs_out"] = len(rows.get(name, []))
        return m

    def attribute(self, r) -> dict:
        """MinHash-LSH funnel and its CC (what corpus_filter runs for its
        near-dup flag), and the hyperplane band-candidate counts behind
        each similarity call. Counts are taken outside the spans."""
        from pyspark.sql import functions as F

        from kgspark.operators.cc import connected_components_auto
        from kgspark.operators.dedup import (
            lsh_candidate_pairs,
            minhash_estimate_pairs,
            minhash_signatures,
        )
        from kgspark.runtime import materialize

        m: dict = {}
        docs = self.table("documents")

        def funnel():
            sigs = materialize(minhash_signatures(docs))
            cand = lsh_candidate_pairs(sigs).collect()
            cdf = self.spark.createDataFrame(cand, "doc_a long, doc_b long")
            conf = minhash_estimate_pairs(sigs, cdf).filter(F.col("sim_est") >= 0.5).collect()
            return len(cand), conf

        _, out, _ = r.call("dedup", "minhash_lsh", funnel)
        n_cand, conf = out if out else (0, [])
        m["dedup.lsh_candidates"] = n_cand
        m["dedup.lsh_confirmed"] = len(conf)
        m["dedup.lsh_yield"] = len(conf) / max(n_cand, 1)
        edges = self.spark.createDataFrame(
            [(x["doc_a"], x["doc_b"]) for x in conf], "src long, dst long"
        )
        nodes = docs.select(F.col("doc_id").alias("id"))
        r.call("cc", "connected_components_auto",
               lambda: connected_components_auto(nodes, edges, "id").collect())
        m["cc.edges_in"] = len(conf)

        for _, name, _, table, _, dim in CALLS[3:]:
            banded = similarity.hyperplane_signature_bands(self.table(table), dim)
            n = (
                banded.alias("l").join(
                    banded.alias("r"),
                    (F.col("l.band") == F.col("r.band"))
                    & (F.col("l.band_sig") == F.col("r.band_sig"))
                    & (F.col("l.id") < F.col("r.id")),
                ).select("l.id", "r.id").distinct().count()
            )
            m[f"similarity.{name}.band_candidates"] = n
            m[f"similarity.{name}.yield"] = len(self.rows.get(name, [])) / max(n, 1)
        return m
