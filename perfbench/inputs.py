"""Seeded inputs: corpus, queries, request schedule, deletes.

Everything the program receives is generated here from ``--seed``; the
same seed gives the same inputs. The corpus is written to parquet during
set-up, so its generation is never inside a timed span.
"""

from __future__ import annotations

import re
from collections import Counter
from dataclasses import dataclass
from urllib.parse import urlencode

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from mini_distributed_search_engine_spark.functions.analyzer import STOP_WORDS
from mini_distributed_search_engine_spark.query.bm25 import Query
from mini_distributed_search_engine_spark.sources.transcripts import (
    synthesize_transcripts_pdf)

_TOKEN = re.compile(r"[a-z0-9]+")
ABSENT_SHARE = 0.05     # query terms that occur in no document
BIG_K_SHARE = 0.05      # queries asking for k=500 instead of k=10


def corpus(seed: int, n_convs: int) -> pd.DataFrame:
    """The synthesizer's transcript table; doc_id == row order."""
    return synthesize_transcripts_pdf(n_convs, seed=seed)


def write_parquet(pdf: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path,
                   coerce_timestamps="us", allow_truncated_timestamps=True)


def text_bytes(pdf: pd.DataFrame) -> int:
    return int(pdf["text"].str.encode("utf-8").str.len().sum())


def raw_tokens(text: str) -> list[str]:
    return _TOKEN.findall(text.lower())


def vocab_by_rank(pdf: pd.DataFrame) -> list[str]:
    """Query-able corpus words, most frequent first (ties by word)."""
    counts = Counter()
    for text in pdf["text"]:
        counts.update(raw_tokens(text))
    words = [w for w in counts if w not in STOP_WORDS
             and not any(c.isdigit() for c in w) and len(w) <= 20]
    return sorted(words, key=lambda w: (-counts[w], w))


class QueryGen:
    """Zipf-by-rank query terms over the corpus vocabulary: hot, mid and
    rare words in Zipf proportion, plus a small share of absent terms."""

    def __init__(self, rng: np.random.Generator, vocab: list[str],
                 texts: list[str]):
        self.rng = rng
        self.vocab = vocab
        self.texts = texts
        w = 1.0 / np.arange(1, len(vocab) + 1)
        self.p = w / w.sum()

    def term(self) -> str:
        if self.rng.random() < ABSENT_SHARE:
            return "qzx" + "".join(self.rng.choice(list("bcdfghjk"), 5))
        return self.vocab[int(self.rng.choice(len(self.vocab), p=self.p))]

    def terms(self, lo: int = 1, hi: int = 4) -> str:
        return " ".join(self.term() for _ in range(int(self.rng.integers(lo, hi + 1))))

    def k(self) -> int:
        return 500 if self.rng.random() < BIG_K_SHARE else 10

    def query(self, qid: str) -> Query:
        return Query(qid, self.terms(), k=self.k())

    def check_query(self, qid: str) -> Query:
        """Two corpus words at k=10: a query that has results, so deletes
        taken from its top-k can be checked."""
        words = self.rng.choice(len(self.vocab), size=2, p=self.p)
        return Query(qid, " ".join(self.vocab[int(i)] for i in words), k=10)

    def phrase(self) -> str:
        """Two adjacent words of a random document, so phrases do occur."""
        while True:
            toks = [t for t in raw_tokens(self.texts[int(self.rng.integers(len(self.texts)))])
                    if t not in STOP_WORDS and not any(c.isdigit() for c in t)]
            if len(toks) >= 2:
                i = int(self.rng.integers(len(toks) - 1))
                return f"{toks[i]} {toks[i + 1]}"

    def prefix(self) -> str:
        t = self.vocab[int(self.rng.choice(len(self.vocab), p=self.p))]
        return t[:int(self.rng.integers(1, 3))]


def batch_queries(gen: QueryGen, n: int, tag: str) -> tuple[Query, ...]:
    return tuple(gen.query(f"{tag}{i:04d}") for i in range(n))


# -- serve: open-loop request schedule ----------------------------------------

# route mix of the open loop; /search is the majority so each run collects
# enough of it for a stable median
SERVE_MIX = (
    ("search_or", 0.43),
    ("search_and", 0.15),
    ("search_role", 0.10),
    ("phrase", 0.05),
    ("proximity", 0.05),
    ("near", 0.05),
    ("words", 0.04),
    ("delete", 0.10),
    ("checkpoint", 0.03),
)
# two /delete requests of 150 ids tombstone 5% of the 6k-doc index during a
# run: enough masked ids that the cost of masking shows in the reads
DELETES_PER_REQUEST = 150
ROLES = ("user", "assistant", "system", "tool")


@dataclass(frozen=True)
class Planned:
    rid: int
    due: float          # seconds after the schedule starts
    kind: str           # a SERVE_MIX name
    method: str
    path: str           # URL path + query string
    query: str          # query text for oracle checks ("" for writes)
    delete_ids: tuple[int, ...] = ()


def mix_counts(n: int) -> dict[str, int]:
    """Requests of each kind among ``n``: every kind at least once, the
    first (most common) kind absorbing the rounding."""
    counts = {k: max(1, round(n * share)) for k, share in SERVE_MIX}
    first = SERVE_MIX[0][0]
    counts[first] += n - sum(counts.values())
    return counts


def serve_schedule(gen: QueryGen, rate: float, seconds: float,
                   n_docs: int, pinned=()) -> list[Planned]:
    """Open-loop schedule: ``rate * seconds`` arrivals placed as a Poisson
    process conditioned on its count (sorted uniform times), with a fixed
    number of requests of each kind in seeded order. Fixing the count and
    the mix keeps one run's work comparable to another's. The first
    /delete request tombstones the ``pinned`` ids, the rest seeded ones."""
    rng = gen.rng
    n = max(len(SERVE_MIX), round(rate * seconds))
    kinds = [k for k, c in mix_counts(n).items() for _ in range(c)]
    kinds = [kinds[i] for i in rng.permutation(len(kinds))]
    dues = np.sort(rng.uniform(0.0, seconds, size=n))
    pinned = [int(d) for d in pinned]
    skip = set(pinned)
    delete_pool = iter(pinned + [d for d in rng.permutation(n_docs).tolist()
                                 if d not in skip])
    out: list[Planned] = []
    for rid, (t, kind) in enumerate(zip(dues, kinds)):
        q, ids, method = "", (), "GET"
        if kind.startswith("search"):
            q = gen.terms()
            params = {"q": q, "k": 10,
                      "mode": "and" if kind == "search_and" else "or"}
            if kind == "search_role":
                params["role"] = ROLES[int(rng.integers(len(ROLES)))]
            path = "/search?" + urlencode(params)
        elif kind == "phrase":
            q = gen.phrase()
            path = "/phrase?" + urlencode({"q": q, "k": 10})
        elif kind == "proximity":
            q = gen.terms(2, 3)
            path = "/proximity?" + urlencode({"q": q, "k": 10})
        elif kind == "near":
            q = gen.terms(2, 2)
            path = "/near?" + urlencode({"q": q, "k": 10, "window": 8})
        elif kind == "words":
            q = gen.prefix()
            path = "/words?" + urlencode({"prefix": q, "n": 10})
        elif kind == "delete":
            ids = tuple(next(delete_pool) for _ in range(DELETES_PER_REQUEST))
            method = "POST"
            path = "/delete?" + urlencode({"ids": ",".join(map(str, ids))})
        else:
            method, path = "POST", "/checkpoint?"
        path += f"&rid={rid}"
        out.append(Planned(rid, float(t), kind, method, path, q, ids))
    return out
