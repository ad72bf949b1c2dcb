"""Result checks against the DuckDB oracle SQL of the program's package.

The oracle runs over a ``documents(doc_id, text)`` view of the generated
corpus; `derive_sql` applies the synthesizer's conv/turn/role/tool rules,
so the view reproduces the indexed transcripts. The oracle's stem
dictionary covers the sf documents vocabulary, so it is extended with the
corpus words (values from the same Porter stemmer, as for the sf words).
"""

from __future__ import annotations

import re
from unittest import mock

import duckdb
import numpy as np
import pandas as pd

from mini_distributed_search_engine_spark import oracle
from mini_distributed_search_engine_spark.query.bm25 import Query

from .inputs import raw_tokens

SCORE_DIGITS = 4
# CTEs the oracle SQL references several times; DuckDB recomputes an
# unmaterialized CTE per reference (same result, about 7x the time)
_MATERIALIZE = re.compile(r"\b(docs|sel|tf|dl) AS \(")


def _materialized(sql: str) -> str:
    seen: set[str] = set()

    def once(m: re.Match) -> str:
        if m.group(1) in seen:
            return m.group(0)
        seen.add(m.group(1))
        return f"{m.group(1)} AS MATERIALIZED ("
    return _MATERIALIZE.sub(once, sql)


class Oracle:
    def __init__(self, corpus: pd.DataFrame):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.execute("SET memory_limit = '1GB'")
        self.con.register("documents_all", pd.DataFrame({
            "doc_id": np.arange(len(corpus), dtype=np.int64),
            "text": corpus["text"].to_numpy()}))
        words = set()
        for t in corpus["text"]:
            words.update(raw_tokens(t))
        self.vocab = tuple(oracle.DOCUMENTS_VOCAB) + tuple(sorted(words))
        self.n_all = len(corpus)

    def _run(self, build, n_docs: int | None, **kw) -> pd.DataFrame:
        self.con.execute(
            "CREATE OR REPLACE VIEW documents AS SELECT * FROM documents_all"
            f" WHERE doc_id < {int(n_docs if n_docs is not None else self.n_all)}")
        with mock.patch.object(oracle, "DOCUMENTS_VOCAB", self.vocab):
            sql = build(**kw)
        return self.con.execute(_materialized(sql)).fetchdf()

    def topk(self, queries: tuple[Query, ...], mode: str = "or",
             role: str | None = None, blocked=(), purged=(),
             n_docs: int | None = None) -> dict[str, list[tuple]]:
        """Expected (rank, doc_id, score) per query id.

        ``blocked``: query-time tombstones (corpus statistics stay global,
        the docs only leave the ranking). ``purged``: docs compacted out
        of the corpus (statistics over the survivors)."""
        blocked = set(int(b) for b in blocked)
        wide = tuple(Query(q.query_id, q.text, k=q.k + len(blocked))
                     for q in queries)
        if mode == "and":
            df = self._run(oracle.sql_bm25_topk_conjunctive, n_docs,
                           queries=wide)
        else:
            df = self._run(
                oracle.sql_bm25_topk, n_docs, queries=wide,
                doc_filter_sql=f"fd.role = '{role}'" if role else None,
                purge_where=(f"doc_id NOT IN ({','.join(map(str, sorted(purged)))})"
                             if purged else None))
        return _rerank(df, queries, blocked, "score")

    def phrase(self, queries: tuple[Query, ...], blocked=(),
               n_docs: int | None = None) -> dict[str, list[tuple]]:
        blocked = set(int(b) for b in blocked)
        wide = tuple(Query(q.query_id, q.text, k=q.k + len(blocked))
                     for q in queries)
        df = self._run(oracle.sql_phrase_match, n_docs, queries=wide)
        return _rerank(df, queries, blocked, "n_occ")


def _rerank(df: pd.DataFrame, queries, blocked: set,
            value_col: str) -> dict[str, list[tuple]]:
    out = {}
    for q in queries:
        sub = df[df["query_id"] == q.query_id].sort_values("rank")
        keep = [(int(d), float(v)) for d, v in zip(sub["doc_id"], sub[value_col])
                if int(d) not in blocked][:q.k]
        out[q.query_id] = [(i + 1, d, v) for i, (d, v) in enumerate(keep)]
    return out


def compare(label: str, got: list[tuple], want: list[tuple]) -> str | None:
    """None when ``got`` equals ``want`` on (rank, doc_id, rounded value);
    otherwise a one-line description of the first difference."""
    def norm(rows):
        return [(int(r), int(d), round(float(v), SCORE_DIGITS)) for r, d, v in rows]
    g, w = norm(got), norm(want)
    if g == w:
        return None
    for i, (a, b) in enumerate(zip(g, w)):
        if a != b:
            return f"{label}: row {i} got {a} want {b}"
    return f"{label}: {len(g)} rows, oracle has {len(w)}"
