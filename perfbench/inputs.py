"""Seeded inputs for the benchmark workloads.

Every input is a pure function of the seed: the same seed gives the
same web pages, questions, documents and vectors. The program under
test only ever sees the generated tables.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

import numpy as np

from kgspark import datagen, golden


@dataclass(frozen=True)
class Sizes:
    """Input sizes. The per-run time budget (README.md) bounds them: on a
    4-vCPU box a cold pass is dominated by the per-Spark-job floor, not
    by row counts, so larger tables buy little steadiness."""

    pages: int = 300  # web pages, each replicated ``replicas`` times
    replicas: int = 2
    questions: int = 200  # rows of the batched NL question table
    docs: int = 500
    vecs_64: int = 500
    vecs_384: int = 200


FULL = Sizes()
SMOKE = Sizes(pages=40, replicas=1, questions=20, docs=200, vecs_64=200, vecs_384=100)


# --------------------------------------------------------------------------
# construct: web pages, golden triples, questions
# --------------------------------------------------------------------------

@dataclass
class Question:
    text: str
    shape: str


@dataclass
class KgInputs:
    corpus: datagen.Corpus
    golden: set  # golden.Triple set
    questions: list[Question]  # the batch table
    single: list[Question]  # per-question sample, one per shape
    sparql_args: dict  # sparql_qN -> kwargs


def _fact_index(corpus: datagen.Corpus):
    """(providers, locations, provider->locations) present in the facts."""
    provs: set[str] = set()
    locs: set[str] = set()
    at: dict[str, set[str]] = {}
    for row in corpus.fact_rows:
        p = row["Provider"]
        provs.add(p)
        for loc in golden.multi_or_raw(row["Location"]):
            locs.add(loc)
            at.setdefault(p, set()).add(loc)
    return sorted(provs), sorted(locs), {p: sorted(v) for p, v in at.items()}


def _question(shape: str, prov: str, loc: str) -> Question:
    text = {
        "shape1": f"Which patients are treated by {prov}?",
        "shape2": f"What specialization does {prov} have?",
        "shape3": f"Which healthcare providers are located in {loc}?",
        "shape4": f"Which patients are treated by {prov} located in {loc}?",
        "shape5": (
            f"For {prov} in {loc}, what is the total number of patients "
            "they treat and what is their average age?"
        ),
    }[shape]
    return Question(text, shape)


def kg_inputs(seed: int, sizes: Sizes) -> KgInputs:
    corpus = datagen.generate_corpus(n_pages=sizes.pages, seed=seed)
    gold = golden.fact_rows_to_triples(corpus.fact_rows)
    provs, locs, at = _fact_index(corpus)
    rng = random.Random(seed)
    # datagen makes the first three providers the hubs
    hubs = [p for p in corpus.providers[:3] if p in at]
    tails = [p for p in provs if p not in hubs]
    shapes = ["shape1", "shape2", "shape3", "shape4", "shape5"]

    def pick(i: int) -> Question:
        shape = shapes[i % 5]
        # alternate hub and tail anchors; the location is one the
        # provider is really LOCATED_AT, so no question is an empty join
        prov = rng.choice(hubs if (i // 5) % 2 == 0 else tails)
        loc = rng.choice(at[prov])
        if shape == "shape3":
            loc = locs[(i // 5) % len(locs)]  # every location in turn
        return _question(shape, prov, loc)

    questions = [pick(i) for i in range(sizes.questions)]
    single = questions[:5]
    cond_names = sorted({
        c for r in corpus.fact_rows for c in golden.multi_or_raw(r["Patient_Condition"])
    })
    sparql_args = {
        "sparql_q1": {"provider_slug": golden.slugify(rng.choice(hubs))},
        "sparql_q2": {"location_slug": golden.slugify(rng.choice(locs))},
        "sparql_q3": {"min_age": 65, "condition": rng.choice(cond_names).lower()},
    }
    return KgInputs(corpus, gold, questions, single, sparql_args)


def webpages_frame(spark, corpus: datagen.Corpus, replicas: int):
    """Pages × replicas with distinct urls (bench.py's replication)."""
    from pyspark.sql import functions as F

    pages, aliases, canonicals = datagen.corpus_to_spark(spark, corpus)
    reps = spark.range(replicas).select(F.col("id").alias("rep"))
    pages = (
        pages.crossJoin(reps)
        .withColumn("url", F.concat(F.col("url"), F.lit("?rep="), F.col("rep")))
        .drop("rep")
    )
    return pages, aliases, canonicals


# --------------------------------------------------------------------------
# dedup: documents and embeddings with planted duplicates
# --------------------------------------------------------------------------

_WORDS = (
    "key agg row scan slow fast table value part hash merge batch spark line "
    "sort window data query column order join small big stream filter group "
    "customer vector index shard page cache plan"
).split()
_STOP = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it"],
    "es": ["el", "la", "de", "y", "que", "en", "un", "es"],
    "de": ["der", "die", "das", "und", "zu", "ist", "ein"],
    "zh": ["shi", "le", "zai", "he", "you", "wo", "ta"],
}
_LANGS = ["en"] * 7 + ["es", "de", "zh"]


def _doc_text(rng: np.random.Generator, lang: str) -> str:
    n = int(rng.integers(8, 90))  # some docs fall under the 20-token gate
    stop = _STOP[lang]
    words = [
        stop[int(rng.integers(len(stop)))] if rng.random() < 0.25
        else _WORDS[int(rng.integers(len(_WORDS)))]
        for _ in range(n)
    ]
    return " ".join(words)


def documents(seed: int, n: int):
    """documents(doc_id, text, lang, source, n_chars) as a pandas frame.
    About 5% are exact copies (case and spacing changed) and 12% are
    near copies with 1-3 words replaced."""
    import pandas as pd

    rng = np.random.default_rng([seed, 1])
    texts: list[str] = []
    langs: list[str] = []
    for i in range(n):
        r = rng.random()
        if i >= 20 and r < 0.05:
            j = int(rng.integers(i))
            texts.append("  " + texts[j].upper().replace(" ", "  "))
            langs.append(langs[j])
        elif i >= 20 and r < 0.17:
            j = int(rng.integers(i))
            toks = texts[j].split()
            for _ in range(int(rng.integers(1, 4))):
                toks[int(rng.integers(len(toks)))] = _WORDS[int(rng.integers(len(_WORDS)))]
            texts.append(" ".join(toks))
            langs.append(langs[j])
        else:
            lang = _LANGS[int(rng.integers(len(_LANGS)))]
            texts.append(_doc_text(rng, lang))
            langs.append(lang)
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 7}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(seed: int, n: int, dim: int):
    """embeddings(vec_id, embedding float32[dim], label) as a pandas
    frame of unit vectors. 8 loose clusters give the t = 0.35 scorer
    real work; 10% of rows are planted near copies of an earlier row at
    cosine ~0.93-0.995, so t = 0.95 has pairs on both sides of the cut."""
    import pandas as pd

    rng = np.random.default_rng([seed, dim])
    centers = rng.normal(size=(8, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 8, size=n)
    v = rng.normal(size=(n, dim)) / np.sqrt(dim) + 0.35 * centers[labels]
    for i in range(20, n):
        if rng.random() < 0.10:
            j = int(rng.integers(i))
            noise = rng.normal(size=dim)
            noise *= rng.uniform(0.1, 0.4) * np.linalg.norm(v[j]) / np.linalg.norm(noise)
            v[i] = v[j] + noise
            labels[i] = labels[j]
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    v = v.astype(np.float32)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(v),
        "label": labels.astype(np.int32),
    })
