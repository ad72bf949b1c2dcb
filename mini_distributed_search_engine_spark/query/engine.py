"""SearchEngine — the user-facing query API.

Replaces the reference's Searcher HTTP endpoint (`jobs/Searcher.java:128-317`:
per-request KVS point lookups + driver-side heap). Construction warms the
session the way Searcher's startup warmed its IDF cache
(Searcher.java:64-81,126): the packed index and stats are cached once; each
`search()` is then a small Spark job. There is one serving path: every
query runs a packed kernel (WAND/MaxScore, phrase, span or proximity) per
doc-range shard, and ranked queries are merged into the global top-k on
the driver from one Arrow collect of the per-shard candidates.

    eng = SearchEngine(spark, index_root)           # from a StagedIndexBuild
    eng.search("spark shuffle", k=10)               # -> list of result rows
    eng.search("spark shuffle", mode="and")         # conjunctive (AND)
    eng.search_phrase("sort merge", k=10)           # exact phrase
    eng.search_batch([...Query...])                 # -> DataFrame
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..index.packed import serving_layout
from ..plans.pipeline import StagedIndexBuild
from .bm25 import Query
from .phrase import phrase_match_packed
from .wand import compute_shard_bounds, wand_topk


class SearchEngine:
    def __init__(self, spark: SparkSession, index_root: str):
        self.spark = spark
        # stage reads take their schema from the commit markers: no job
        root = StagedIndexBuild(spark, index_root)
        self.doc_stats = root.read("stats", "doc_stats")
        self._stats_row = self.doc_stats.collect()[0]  # warm once
        self._corpus_stats = (int(self._stats_row["n_docs"]),
                              float(self._stats_row["avgdl"]))
        # Cache hash-partitioned on shard_id (`packed.serving_layout`,
        # the layout a streaming root serves too): a warm query is one
        # shuffle-free scan stage whose candidates the driver merges.
        self.packed = serving_layout(root.read("merged", "data"))
        self.packed.count()
        # per-shard doc lower bounds: computed LAZILY on the first
        # role-filtered query and memoized (wand.compute_shard_bounds note)
        # — unfiltered engines never pay the bounds aggregation at all,
        # filtered ones pay one metadata-scale collect total
        self._shard_bounds: list | None = None
        self.docs = root.read("docs", "data")
        self._root = root
        self._positions_packed: DataFrame | None = None
        # checkpointed deletes of an earlier engine on this root stay
        # masked; with no `_tombstones/` directory this runs no job
        self._tombstones: set[int] = set(root.pending_tombstones())
        self._checkpointed = frozenset(self._tombstones)
        import threading
        self._tombstones_lock = threading.Lock()
        self._checkpoint_lock = threading.Lock()

    def _ensure_term_stats(self) -> DataFrame:
        if not hasattr(self, "term_stats"):
            self.term_stats = self._root.read("stats", "term_stats").cache()
            self.term_stats.count()
        return self.term_stats

    def delete_docs(self, doc_ids) -> int:
        """Record query-time tombstones: the given doc_ids stop appearing
        in every subsequent search (masked inside the packed kernels)
        WITHOUT touching the at-rest index — a delete is O(1) metadata,
        the LSM write discipline. Fold the accumulated set into the index
        with `packed.purge_docs` (and `positions.purge_positions` for the
        positional side) at compaction time, then start a fresh engine
        on the purged index. Returns the total live tombstone count.

        Rebinds the set instead of mutating in place so concurrent
        search threads (`sorted(self._tombstones)`) always iterate a
        complete set — CPython raises on a set that changes size
        mid-iteration; the lock serializes WRITERS with each other
        (two concurrent /delete requests would otherwise each union
        against the same old set and the later rebind would drop the
        earlier one's ids)."""
        with self._tombstones_lock:
            self._tombstones = self._tombstones | {int(d) for d in doc_ids}
            return len(self._tombstones)

    def checkpoint_tombstones(self) -> int:
        """Persist the live query-time tombstones not yet on disk beside
        the index root (`StagedIndexBuild.record_tombstones` — O(deletes)
        metadata, no index byte touched), so deletes survive an engine
        restart (a new engine starts from the root's pending set) and the
        next compaction (`StagedIndexBuild.purge()`) folds them into every
        at-rest stage. Returns the count written this call."""
        with self._checkpoint_lock:
            new = self._tombstones - self._checkpointed
            if not new:
                return 0
            self._root.record_tombstones(new)
            self._checkpointed = self._checkpointed | new
            return len(new)

    def _tomb(self) -> list[int] | None:
        """Sorted tombstone snapshot for the query paths (None when
        empty). Reads the rebound set once — safe against a concurrent
        delete_docs (see its docstring)."""
        t = self._tombstones
        return sorted(t) if t else None

    def search_batch(self, queries: tuple[Query, ...],
                     hydrate: bool = False, mode: str = "or",
                     role: str | None = None) -> DataFrame:
        """Rank a batch of queries with one packed-kernel job whose
        per-shard top-k the driver merges (`wand.rank_candidates`). Eager:
        the job runs at call time and the result is a driver-local frame
        (joined to the doc store when ``hydrate``)."""
        if mode not in ("or", "and", "proximity"):
            raise ValueError(
                f"mode must be 'or', 'and' or 'proximity', got {mode!r}")
        tomb = self._tomb()
        if mode == "proximity":
            if role is not None:
                raise ValueError("mode='proximity' does not compose with "
                                 "role= yet; filter the results instead")
            from .proximity import wand_topk_proximity
            out = wand_topk_proximity(
                self.spark, self.packed, self._packed_positions_df(),
                self.doc_stats, queries=queries,
                corpus_stats=self._corpus_stats, blocked_ids=tomb)
        else:
            allowed = None
            if role is not None:
                # metadata-filtered retrieval: the allowed doc_ids are
                # sharded alongside the packed segments (wand.wand_topk
                # allowed_docs — cogrouped per doc-range shard, masked
                # before scoring), so a role= query serves from the SAME
                # compressed index as every other query
                from pyspark.sql import functions as F
                allowed = self.docs.where(F.col("role") == role) \
                    .select("doc_id")
                if self._shard_bounds is None:
                    self._shard_bounds = compute_shard_bounds(self.packed)
            out = wand_topk(self.spark, self.packed, self.doc_stats,
                            queries=queries,
                            corpus_stats=self._corpus_stats,
                            conjunctive=mode == "and",
                            allowed_docs=allowed,
                            shard_bounds=self._shard_bounds,
                            blocked_ids=tomb)
        return self._hydrate(out, "score") if hydrate else out

    def _hydrate(self, out: DataFrame, score_col: str) -> DataFrame:
        """Attach display metadata to a rank list. LEFT join: every ranked
        doc_id has a doc row, so left == inner; should the doc store ever
        drift from the index, a null-snippet row keeps the inconsistency
        visible instead of silently dropping a rank."""
        from pyspark.sql import functions as F
        meta = self.docs.select("doc_id", "conv_id", "turn_idx", "role",
                                F.substring("text", 1, 80).alias("snippet"))
        return out.join(meta, "doc_id", "left").select(
            "query_id", "rank", "doc_id", score_col,
            "conv_id", "turn_idx", "role", "snippet")

    def search(self, text: str, k: int = 10, hydrate: bool = True,
               mode: str = "or", role: str | None = None) -> list:
        df = self.search_batch((Query("q", text, k=k),), hydrate=hydrate,
                               mode=mode, role=role)
        # client-side sort of <= k rows: an orderBy would plan a sort job
        # even over the driver merge's LocalRelation
        return sorted(df.collect(), key=lambda r: r["rank"])

    def _packed_positions_df(self) -> DataFrame:
        """Packed positional segments in the serving layout
        (`packed.serving_layout`, like the TF cache): the pipeline's
        committed 'positions_packed' stage (co-sharded with the merged TF
        layout by construction), else packed once from the doc store,
        CO-SHARDED with the live packed TF index via its shard bounds (the
        alignment contract `wand_topk_proximity` requires). Both caches
        are hash-partitioned on shard_id, so a warm phrase, near or
        proximity query is one exchange-free job."""
        if self._positions_packed is None:
            if (self._root.root / "positions_packed" / "data").is_dir():
                pos = self._root.read("positions_packed", "data")
            else:
                from ..functions.analyzer import term_positions_pandas
                from ..index.positions import build_packed_positions
                if self._shard_bounds is None:
                    self._shard_bounds = compute_shard_bounds(self.packed)
                pos = build_packed_positions(
                    term_positions_pandas(self.docs, "text"),
                    shard_bounds=self._shard_bounds)
            self._positions_packed = serving_layout(pos)
            self._positions_packed.count()
        return self._positions_packed

    def search_phrase(self, text: str, k: int = 10) -> list:
        """Exact phrase search; rows (rank, doc_id, n_occ), served from
        the packed positional segments (per-shard anchor-intersection
        kernel, tombstones masked in-kernel, driver merge)."""
        df = phrase_match_packed(self.spark, self._packed_positions_df(),
                                 (Query("q", text, k=k),),
                                 blocked_ids=self._tomb())
        return sorted(df.collect(), key=lambda r: r["rank"])

    def search_near(self, text: str, k: int = 10, window: int = 8) -> list:
        """Span/near search: docs where EVERY query term occurs within a
        ``window``-token range, tightest span first; rows
        (rank, doc_id, min_span). Served from the packed positional
        segments with tombstones masked in-kernel."""
        from .span import span_near_match
        df = span_near_match(self.spark, self._packed_positions_df(),
                             (Query("q", text, k=k),), window=window,
                             blocked_ids=self._tomb())
        return sorted(df.collect(), key=lambda r: r["rank"])

    def search_proximity(self, text: str, k: int = 10,
                         hydrate: bool = True) -> list:
        """Proximity-boosted search (BM25 + pairwise min-distance bonus):
        docs whose query terms sit near each other outrank scattered
        matches, served by `proximity.wand_topk_proximity`."""
        df = self.search_batch((Query("q", text, k=k),), hydrate=hydrate,
                               mode="proximity")
        return sorted(df.collect(), key=lambda r: r["rank"])

    def suggest(self, prefix: str, n: int = 10) -> list[str]:
        """Autocomplete: index terms under a prefix by descending document
        frequency (Searcher.java:319-337 '/words' + the frontend's prefix
        filter, server-side instead of shipping the whole vocabulary)."""
        from pyspark.sql import functions as F
        rows = (self._ensure_term_stats()
                .where(F.col("term").startswith(prefix.lower()))
                .orderBy(F.col("df").desc(), F.col("term").asc())
                .limit(n).collect())
        return [r["term"] for r in rows]
