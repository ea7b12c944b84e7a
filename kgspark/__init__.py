"""kgspark — a from-scratch PySpark-native knowledge-graph construction engine.

Re-expresses the capabilities of the reference repo
``stephen-do/knowledge-graph-with-rag`` (see SURVEY.md) as idiomatic
PySpark: DataFrame/SQL plans optimized by Catalyst, Arrow-batched
Python only at a few seams (html decode, slugify/age literals, linking
embeddings), iterative DataFrame jobs for graph algorithms, and a
manifest layer for idempotent resume.

Layout
------
- ``session``    SparkSession factory (AQE, Arrow, shuffle sizing)
- ``constants``  shared URI namespaces / predicate vocabulary
- ``golden``     pure-Python single-process oracle (triple builder,
                 HTML text extractor, mini-Turtle reader) — the
                 fidelity reference every distributed path must match
- ``datagen``    deterministic synthetic web-page corpus (input_hint shape)
- ``functions``  scalar column helpers (slugify, splitting, scoring)
- ``sources``    scans + the manifest/snapshot layer
- ``operators``  relational/graph operators (rdf_build, cc, linking,
                 dedup, fulltext, similarity, bfs, textops, ...)
- ``extract``    html→text + fact extraction (native Column parser
                 behind one decode-only mapInArrow seam)
- ``plans``      end-to-end pipeline assembly with resume and
                 append snapshots
- ``streaming``  watermarked event-time window aggregation
"""

__version__ = "0.1.0"
