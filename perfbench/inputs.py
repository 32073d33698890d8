"""Seeded benchmark inputs.

Every input the program receives is generated here from the workload
seed, so the same seed gives byte-identical inputs; `content_hash`
fingerprints each one and the run prints the hashes with its metrics.

- documents corpus (doc_id, text, lang, source, n_chars), shaped like
  the repo's testdata: a ~25-token entity vocabulary drawn with a Zipf
  skew (a few object IDs are very hot), short stop words that mention
  detection drops, and some non-ASCII tokens.
- alias dictionary and sameAs edges over the entity IRIs the corpus
  actually emits: ambiguous aliases (several candidate entities, some
  with tied priors), unlinked tokens, one large component plus pairs;
  roles go by vocabulary rank so the workload's size barely moves
  with the seed.
- crawled pages from the program's own seeded `generate_pages`, split
  by url into a base and disjoint batches; each part keeps the in-part
  recrawls the generator emits.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

BASE = "http://example.org/"
ENT = BASE + "ent/"

ENTITY_TOKENS = [
    "spark", "shuffle", "partition", "dictionary", "triple", "subject",
    "predicate", "object", "graph", "entity", "mention", "crawl", "index",
    "merge", "encode", "bitmap", "section", "prefix", "scan", "join",
    "skew", "lineage", "resume", "汉字测试", "ünïcode",
]
STOP_WORDS = ["the", "a", "of", "to", "汉字"]
LANGS = ["en", "de", "fr", "es", "zh"]


def content_hash(df: pd.DataFrame) -> str:
    """Order-independent content fingerprint of a frame."""
    rows = pd.util.hash_pandas_object(df, index=False).to_numpy()
    return hashlib.sha256(np.sort(rows).tobytes()).hexdigest()[:16]


def documents(seed: int, n_docs: int) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 1])
    weights = 1.0 / np.arange(1, len(ENTITY_TOKENS) + 1) ** 1.1
    weights /= weights.sum()
    vocab = np.array(ENTITY_TOKENS + STOP_WORDS, dtype=object)
    probs = np.concatenate([weights * 0.8, np.full(len(STOP_WORDS), 0.2 / len(STOP_WORDS))])
    lengths = rng.integers(5, 60, n_docs)
    words = rng.choice(vocab, size=int(lengths.sum()), p=probs)
    cuts = np.cumsum(lengths)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    return pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype="int64"),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
            "source": [f"src{i}" for i in rng.zipf(1.5, n_docs) % 50],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


def emitted_entities(docs: pd.DataFrame) -> list[str]:
    """Entity IRIs the extraction rules emit for this corpus (tokens of
    at least four characters), sorted."""
    toks = {t for text in docs["text"] for t in text.split(" ") if len(t) >= 4}
    return sorted(ENT + t for t in toks)


def _by_rank(entities: list[str]) -> list[str]:
    """Emitted entities in vocabulary order, i.e. hottest first. Roles
    below are assigned by rank so that every seed links, merges and
    collapses a similar share of the mentions; the seed picks the
    candidates, priors and edge order."""
    emitted = set(entities)
    return [ENT + t for t in ENTITY_TOKENS if ENT + t in emitted]


def alias_dict(seed: int, entities: list[str]) -> pd.DataFrame:
    """(alias, entity_iri, prior): every alias names its own entity;
    every other rank is ambiguous with 1-2 extra candidates (half of
    them tying on prior, which the linker breaks on entity_iri); every
    sixth rank has no entry at all and stays unlinked."""
    rng = np.random.default_rng([seed, 2])
    rows = []
    for rank, iri in enumerate(_by_rank(entities)):
        if rank % 6 == 5:
            continue
        alias = iri[len(ENT):]
        prior = round(float(rng.uniform(0.3, 0.9)), 2)
        rows.append((alias, iri, prior))
        if rank % 2 == 0:
            others = [e for e in entities if e != iri]
            for other in rng.choice(others, size=int(rng.integers(1, 3)), replace=False):
                tie = rng.random() < 0.5
                rows.append((alias, str(other), prior if tie else round(float(rng.uniform(0.1, 0.9)), 2)))
    return pd.DataFrame(rows, columns=["alias", "entity_iri", "prior"])


def sameas(seed: int, entities: list[str]) -> pd.DataFrame:
    """(iri_a, iri_b): one large component (every third rank, a third of
    the entities, chained in seed order so that connected components
    needs several rounds) and pairs of adjacent ranks among the rest."""
    rng = np.random.default_rng([seed, 3])
    ranked = _by_rank(entities)
    big = [ranked[i] for i in rng.permutation(range(1, len(ranked), 3))]
    rest = [e for e in ranked if e not in big]
    edges = list(zip(big[:-1], big[1:]))
    edges += [(rest[i], rest[i + 1]) for i in range(2, min(len(rest) - 1, 10), 2)]
    return pd.DataFrame(edges, columns=["iri_a", "iri_b"])


def canonical_map(edges: pd.DataFrame) -> dict[str, str]:
    """node -> component minimum (binary order), by union-find — the
    reference the benchmark checks canonicalization against."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(edges["iri_a"], edges["iri_b"]):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def page_id(url):
    """Spark column: the integer id the generator put in a page url."""
    from pyspark.sql import functions as F

    return F.substring_index(url, "/", -1).cast("long")
