"""Inverted-index build: stable docIDs, per-doc TF, stats, posting lists.

Replaces the reference pipeline `Integration/src/cis5550/jobs/Indexer.java`
(per-doc HashMap TF at :171-213, posting read-modify-write at :309-415) with
declarative DataFrame stages. The reference's lossy posting caps
(Indexer.java:22-23,320-400 — 95% replace-last / 5% top-15000 heap) were a
skew workaround; we keep postings EXACT and handle skew with salting + AQE.

Scale notes (the 100 TB story):
* docID assignment is range-partition + per-partition offsets — no global
  single-partition window, no driver-resident data beyond one row per
  partition (a few thousand longs at 10^12 turns).
* TF aggregation is a map-side-combinable groupBy (partial HashAggregate
  before the exchange).
* dl is denormalized into the posting rows (Lucene-style norms-with-postings)
  so query-time scoring never joins the full docs table.
"""

from __future__ import annotations

import re as _re
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.analyzer import term_doc_tf_pandas, term_tokens_df


def with_stable_doc_ids(transcripts: DataFrame,
                        num_partitions: int | None = None) -> DataFrame:
    """Assign dense docIDs 0..N-1 by (conv_id ASC, turn_idx ASC).

    AT MOST one exchange, usually zero: if a cheap two-column verification
    pass shows the source is already clustered (sorted within partitions,
    disjoint ascending ranges across them — the synthesizer, or any
    conv/time-ordered table written in order), docIDs are assigned with NO
    exchange at all; otherwise one range repartition + local sort. Either
    way the id itself is ``offset[pid] + record_index_within_partition`` —
    the record index read from `monotonically_increasing_id`'s documented
    layout (partition id in the upper bits, record number in the lower 33),
    per-partition offsets attached via broadcast join. Both are NARROW, so
    unlike a ``row_number() OVER (PARTITION BY pid)`` window (which inserts
    a hash-on-pid exchange that also scrambles the range partitioning), the
    output stays DOC-RANGE PARTITIONED — the invariant the shuffle-free
    fused TF pass and partition-local segment encode build on. (Lower 33
    bits cap a partition at 2^33 rows — far beyond any sane partition
    size.)
    """
    spark = transcripts.sparkSession
    num_partitions = num_partitions or spark.sparkContext.defaultParallelism
    # Persist the input first: both the pre-clustered check below and (on
    # the slow path) repartitionByRange's bound-sampling rescan the source —
    # expensive when it is a Python synthesizer or a remote scan.
    src = transcripts.persist(StorageLevel.MEMORY_AND_DISK)

    # PRE-CLUSTERED FAST PATH: if the source partitions are already sorted
    # by (conv_id, turn_idx) WITHIN each partition and their key ranges are
    # disjoint and ascending ACROSS partitions (true for the deterministic
    # synthesizer and for any time/conv-ordered table written in order),
    # the range exchange is a no-op — skip it entirely. One narrow
    # two-column pass verifies the property; the range shuffle of the full
    # corpus (text included) was the single most memory-bandwidth-bound
    # stage of the build, and the one that scaled worst with cores.
    keyed = src.select(
        F.spark_partition_id().alias("_pid"),
        F.struct("conv_id", "turn_idx").alias("_k"))
    stats = (keyed.groupBy("_pid")
             .agg(F.min("_k").alias("lo"), F.max("_k").alias("hi"),
                  F.count(F.lit(1)).alias("cnt")).collect())
    stats.sort(key=lambda r: (r["lo"]["conv_id"], r["lo"]["turn_idx"]))
    disjoint = all(
        (p["hi"]["conv_id"], p["hi"]["turn_idx"])
        < (r["lo"]["conv_id"], r["lo"]["turn_idx"])
        for p, r in zip(stats, stats[1:]))
    pre_clustered = False
    if disjoint and stats:
        # verify within-partition sortedness (narrow, two columns)
        def sorted_check(batches):
            import pandas as pd
            prev = None
            ok = True
            for pdf in batches:
                keys = list(zip(pdf["conv_id"], pdf["turn_idx"]))
                if keys:
                    if prev is not None and keys[0] < prev:
                        ok = False
                    if any(b < a for a, b in zip(keys, keys[1:])):
                        ok = False
                    prev = keys[-1]
            yield pd.DataFrame({"ok": [ok]})
        oks = (src.select("conv_id", "turn_idx")
               .mapInPandas(sorted_check, "ok boolean").collect())
        pre_clustered = all(r["ok"] for r in oks)

    if pre_clustered:
        base = src
        counts = {r["_pid"]: r["cnt"] for r in stats}
        order = [r["_pid"] for r in stats]  # pids in KEY order, not pid order
    else:
        base = (
            src.repartitionByRange(num_partitions, "conv_id", "turn_idx")
            .sortWithinPartitions("conv_id", "turn_idx")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        counts = {r["_pid"]: r["cnt"] for r in
                  base.groupBy(F.spark_partition_id().alias("_pid"))
                  .agg(F.count("*").alias("cnt")).collect()}
        order = sorted(counts)  # range partitions: pid order == key order
    offsets, acc = {}, 0
    for pid in order:
        offsets[pid] = acc
        acc += counts[pid]
    offsets_df = spark.createDataFrame(
        [(pid, off) for pid, off in offsets.items()], "_pid int, _offset long")
    local = F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1))
    out = (
        base.withColumn("_pid", F.spark_partition_id())
        .withColumn("_local", local)
        .join(F.broadcast(offsets_df), "_pid")
        .withColumn("doc_id", (F.col("_offset") + F.col("_local")).cast("long"))
        .drop("_pid", "_local", "_offset")
    )
    return out


@dataclass(frozen=True)
class IndexTables:
    """The built index: all DataFrames, lazily computable or persisted."""
    docs: DataFrame        # doc_id, conv_id, turn_idx, role, text, tool, ts, dl
    term_doc_tf: DataFrame  # term, doc_id, tf, dl   (dl denormalized for scoring)
    term_stats: DataFrame   # term, df
    doc_stats: DataFrame    # n_docs, avgdl
    postings: DataFrame     # term, df, postings array<struct<doc_id,tf,dl>> sorted
    tf_root: DataFrame      # the persisted (term, doc_id, tf) root — unpersist() via this

    def unpersist(self) -> None:
        self.tf_root.unpersist()


def build_index(transcripts: DataFrame, stem: bool = True,
                persist: bool = True, arrow_tf: bool = True) -> IndexTables:
    docs_base = with_stable_doc_ids(transcripts)
    if arrow_tf:
        # Fused Arrow/pandas tokenize+count WITH in-pass doc lengths: each
        # doc is one row, so TF and dl aggregate partition-locally with
        # ZERO shuffle (analyzer.py term_doc_tf_pandas). Sentinel rows
        # (term NULL) carry each doc's dl, so the dl table and the
        # dl-denormalized postings are both narrow filters over ONE
        # persisted pass — no dl groupBy, no postings-vs-dl join. The JVM
        # alternative below hash-exchanges O(token occurrences) rows; that
        # wide shuffle is what scales worst with parallelism on shared
        # memory bandwidth.
        root = term_doc_tf_pandas(docs_base, "text", stem=stem, with_dl=True)
        if persist:
            root = root.persist(StorageLevel.MEMORY_AND_DISK)
        tf_dl = root.where(F.col("term").isNotNull())
        dl = root.where(F.col("term").isNull()).select("doc_id", "dl")
    else:
        # Occurrence rows -> ONE wide shuffle (groupBy term,doc_id with
        # map-side partial agg). Kept as the all-JVM reference plan; the
        # stem-dictionary branch re-runs the narrow explode+filter scan,
        # which measures cheaper than pre-aggregating (doc_id, tok) counts
        # to share the scan (that shape needs a second wide exchange).
        terms = term_tokens_df(docs_base, "text", keep_cols=("doc_id",),
                               stem=stem)
        root = (terms.groupBy("term", "doc_id")
                .agg(F.count(F.lit(1)).cast("long").alias("tf")))
        if persist:
            root = root.persist(StorageLevel.MEMORY_AND_DISK)
        dl = root.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
        tf_dl = root.join(dl, "doc_id")
    docs = (docs_base.join(dl, "doc_id", "left")
            .na.fill({"dl": 0})
            .withColumn("dl", F.col("dl").cast("long")))
    term_stats = tf_dl.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"))
    # n_docs/avgdl from the dl table + a count of the (cached) doc source —
    # no full docs-with-text join in the stats path
    doc_stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl")) if arrow_tf else \
        docs.agg(F.count("*").cast("long").alias("n_docs"),
                 F.avg("dl").alias("avgdl"))
    postings = (
        tf_dl.groupBy("term")
        .agg(F.count("*").cast("long").alias("df"),
             F.sort_array(F.collect_list(F.struct("doc_id", "tf", "dl"))).alias("postings"))
    )
    return IndexTables(docs=docs, term_doc_tf=tf_dl, term_stats=term_stats,
                       doc_stats=doc_stats, postings=postings, tf_root=root)


def write_index_bucketed(term_doc_tf: DataFrame, term_stats: DataFrame,
                         table_prefix: str, path: str,
                         buckets: int = 32,
                         with_doc_bucketed: bool = False) -> tuple[str, ...]:
    """Materialize term_doc_tf and term_stats as TERM-BUCKETED catalog
    tables (external, rooted at ``path``) and return their names. Takes
    the two frames directly so an already-materialized staged build can
    be re-registered without recomputing anything.

    Bucketing is the cluster-scale co-location contract the plain parquet
    layout can't express: both tables hash-partitioned into the same
    ``buckets`` on ``term`` AT WRITE TIME, so every subsequent
    term-equality join between them (the IDF-attach join in scoring, df
    lookups, posting-vs-stats audits) runs with ZERO shuffle on either
    side — the exchange that normally moves O(postings) rows disappears
    from the plan (pytest asserts it). On a 1000-executor cluster this is
    the difference between a per-query full-index shuffle and a purely
    local join; bucket count plays the role of the fixed reducer
    partitioning the reference's range-partitioned KVS gave for free.
    ``sortBy(term)`` inside buckets keeps row-group term ranges tight, so
    the literal IN-list row-group pruning of the query path still applies.

    ``with_doc_bucketed=True`` additionally writes term_doc_tf bucketed by
    DOC_ID (``{prefix}_term_doc_tf_by_doc``): the per-doc analytics family
    (doc_keywords' top-n window, related_terms' groupBys)
    then plans with ZERO doc_id exchange — the O(postings) re-shuffle that
    otherwise sits in front of every per-doc window (VERDICT r3 finding;
    mapInPandas output partitioning is opaque to Catalyst, so only an
    at-rest bucket spec can carry the clustering across sessions).
    """
    if not _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", table_prefix):
        raise ValueError(f"table_prefix must be a SQL identifier: "
                         f"{table_prefix!r}")
    tf_tbl = f"{table_prefix}_term_doc_tf"
    ts_tbl = f"{table_prefix}_term_stats"
    specs = [
        (term_doc_tf, tf_tbl, ["term"], ["term", "doc_id"]),
        (term_stats, ts_tbl, ["term"], ["term"]),
    ]
    if with_doc_bucketed:
        specs.append((term_doc_tf, f"{table_prefix}_term_doc_tf_by_doc",
                      ["doc_id"], ["doc_id", "term"]))
    for df, name, cluster_by, sort_by in specs:
        _write_bucketed_table(df, name, path, buckets, cluster_by, sort_by)
    _merge_descriptor(term_doc_tf.sparkSession, path, buckets,
                      [s[1:] for s in specs])
    return tuple(name for _, name, _, _ in specs)


def _write_bucketed_table(df: DataFrame, name: str, path: str, buckets: int,
                          cluster_by: list[str],
                          sort_by: list[str]) -> None:
    """One bucketed external table. Repartition to the bucket count first:
    without it every input task opens a writer per bucket it touches (up
    to tasks x buckets small files); with it each bucket is one file."""
    if not _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
        raise ValueError(f"table name must be a SQL identifier: {name!r}")
    (df.repartition(buckets, *[F.col(c) for c in cluster_by])
     .write.mode("overwrite")
     .option("path", f"{path}/{name}")
     .bucketBy(buckets, *cluster_by).sortBy(*sort_by)
     .saveAsTable(name))


def _merge_descriptor(spark, path: str, buckets: int,
                      specs: list[tuple]) -> None:
    """Merge table entries into ``path``/_bucketed.json (read-modify-write,
    NOT overwrite: several layouts — term-bucketed, doc-bucketed,
    shard-bucketed packed — may share one root, and clobbering the
    descriptor would silently unregister the others). The descriptor is
    what lets `register_bucketed` rebuild catalog entries in a later
    session (the session catalog is in-memory; without a persistent
    metastore the bucket spec dies with the writer's session). Bucket
    count is recorded PER TABLE (register_bucketed falls back to the
    legacy top-level count for old descriptors)."""
    import json
    from pathlib import Path
    p = Path(path) / "_bucketed.json"
    desc = json.loads(p.read_text()) if p.exists() else {"tables": {}}
    desc.setdefault("buckets", buckets)   # legacy top-level fallback
    for name, cluster_by, sort_by in specs:
        desc["tables"][name] = {
            "location": f"{path}/{name}",
            "schema": [(f.name, f.dataType.simpleString())
                       for f in spark.table(name).schema.fields],
            "clustered_by": list(cluster_by),
            "sorted_by": list(sort_by),
            "buckets": buckets,
        }
    Path(path).mkdir(parents=True, exist_ok=True)
    # atomic replace: a crash mid-write must never leave a truncated
    # descriptor that register_bucketed can no longer parse, and two
    # writer jobs sharing the root each publish a complete file (the
    # last full merge wins — same discipline as a parquet _SUCCESS
    # commit, without inventing a lock protocol for a JSON sidecar)
    import os
    import tempfile
    fd, tmp = tempfile.mkstemp(dir=path, prefix="_bucketed.", suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            f.write(json.dumps(desc, indent=1))
        # mkstemp creates 0600; descriptors are shared metadata (another
        # account may register_bucketed from the same root) — restore the
        # umask-governed mode write_text used to produce
        um = os.umask(0)
        os.umask(um)
        os.chmod(tmp, 0o666 & ~um)
        os.replace(tmp, p)
    except BaseException:
        try:
            os.unlink(tmp)
        except OSError:
            pass
        raise


def write_tf_doc_bucketed(term_doc_tf: DataFrame, table_prefix: str,
                          path: str, buckets: int = 32) -> str:
    """ONLY the doc_id-bucketed TF table (no term-bucketed copies) — for
    consumers that want the zero-exchange per-doc window layout without
    paying the O(postings) term-bucketed write (e.g. the
    doc_keywords_bucketed gate entry)."""
    if not _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", table_prefix):
        raise ValueError(f"table_prefix must be a SQL identifier: "
                         f"{table_prefix!r}")
    name = f"{table_prefix}_term_doc_tf_by_doc"
    _write_bucketed_table(term_doc_tf, name, path, buckets,
                          ["doc_id"], ["doc_id", "term"])
    _merge_descriptor(term_doc_tf.sparkSession, path, buckets,
                      [(name, ["doc_id"], ["doc_id", "term"])])
    return name


def write_packed_bucketed(packed: DataFrame, path: str,
                          buckets: int = 32,
                          table_name: str = "mdse_packed") -> str:
    """Materialize the MERGED packed segments as a SHARD_ID-bucketed
    catalog table (own ``_bucketed.json`` under ``path``, re-registered by
    :func:`register_bucketed`). Why: `SearchEngine` warms the packed index
    with `repartition(n, "shard_id").cache()` — a one-time O(index)
    shuffle per engine start, real money at 100 TB. A shard-bucketed
    at-rest layout carries that clustering through BOTH the file scan and
    the InMemoryRelation (probe-verified: cached bucketed scans keep their
    output partitioning), so the per-query `groupBy(shard_id)` WAND stage
    is exchange-free with NO warmup shuffle at all — the engine just
    caches the bucketed scan as-is."""
    _write_bucketed_table(packed, table_name, path, buckets,
                          ["shard_id"], ["shard_id", "term"])
    _merge_descriptor(packed.sparkSession, path, buckets,
                      [(table_name, ["shard_id"], ["shard_id", "term"])])
    return table_name


def register_bucketed(spark, path: str) -> list[str]:
    """Re-register the bucketed tables written by
    :func:`write_index_bucketed` in THIS session's catalog (the writer's
    catalog is in-memory, so a new session sees only files; the
    ``_bucketed.json`` descriptor carries the bucket spec a persistent
    metastore would have held). Returns the table names. Idempotent."""
    import json

    import re as _re
    from pathlib import Path as _Path
    desc = json.loads((_Path(path) / "_bucketed.json").read_text())
    # Everything interpolated into the DDL below is validated: a tampered
    # or corrupted descriptor must fail loudly, not inject SQL into the
    # session catalog. Identifiers: [A-Za-z_][A-Za-z0-9_]*; types: Spark
    # simpleString grammar (nested array/struct types allowed, but only
    # from the type alphabet); location: no quotes/backslashes.
    _ident = _re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
    _type = _re.compile(r"[a-z0-9_<>,(): ]+")   # ':' for struct<a:int> simpleStrings
    names = []
    for name, t in desc["tables"].items():
        if not _ident.fullmatch(name):
            raise ValueError(f"unsafe table name in descriptor: {name!r}")
        buckets = t.get("buckets", desc.get("buckets"))  # legacy top-level
        if not isinstance(buckets, int) or buckets <= 0:
            raise ValueError(f"unsafe bucket count for {name}: {buckets!r}")
        for c, dt in t["schema"]:
            if not _ident.fullmatch(c):
                raise ValueError(f"unsafe column name in {name}: {c!r}")
            if not _type.fullmatch(dt):
                raise ValueError(f"unsafe column type in {name}: {dt!r}")
        cluster_cols = t.get("clustered_by", ["term"])  # legacy descriptors
        for c in list(t["sorted_by"]) + list(cluster_cols):
            if not _ident.fullmatch(c):
                raise ValueError(f"unsafe sort/cluster column in {name}: "
                                 f"{c!r}")
        if any(ch in t["location"] for ch in "'\"\\"):
            raise ValueError(f"unsafe location in {name}: {t['location']!r}")
        cols = ", ".join(f"{c} {dt}" for c, dt in t["schema"])
        sort = ", ".join(t["sorted_by"])
        cluster = ", ".join(cluster_cols)
        if spark.catalog.tableExists(name):
            # Reuse a live entry instead of DROP+CREATE (dropping cascades
            # an uncache through Spark, silently de-warming any OTHER
            # engine's cache built on this table in the same session) —
            # but ONLY if the catalog entry matches the descriptor
            # exactly: resolved absolute location (no suffix matching — a
            # backup copy at /backup/<same tail> must NOT be reused),
            # bucket count, and bucket columns. Anything else: recreate.
            import os
            fmt = {r["col_name"]: (r["data_type"] or "").strip() for r in
                   spark.sql(f"DESCRIBE FORMATTED {name}").collect()}
            cat_loc = fmt.get("Location", "")
            if cat_loc.startswith("file:"):
                cat_loc = cat_loc.split(":", 1)[1]
            want_loc = os.path.abspath(t["location"])
            cat_buckets = fmt.get("Num Buckets", "")
            cat_cluster = fmt.get("Bucket Columns", "")
            want_cluster = "[" + ", ".join(
                f"`{c}`" for c in cluster_cols) + "]"
            if (os.path.abspath(cat_loc.rstrip("/")) == want_loc
                    and cat_buckets == str(buckets)
                    and cat_cluster == want_cluster):
                names.append(name)
                continue
            spark.sql(f"DROP TABLE IF EXISTS {name}")
        spark.sql(
            f"CREATE TABLE {name} ({cols}) USING parquet "
            f"CLUSTERED BY ({cluster}) SORTED BY ({sort}) "
            f"INTO {buckets} BUCKETS "
            f"LOCATION '{t['location']}'")
        names.append(name)
    return names


def write_index(idx: IndexTables, path: str,
                term_partitions: int | None = None) -> None:
    """Materialize the index term-range-clustered.

    `repartitionByRange(term) + sortWithinPartitions(term, doc_id)` gives
    every parquet file a tight term min/max, so query-time term IN-list
    predicates prune to the few row groups actually holding those terms —
    the columnar analogue of the reference's per-term KVS row
    (`pt-index`, Indexer.java:309). doc_id-sorted within term = posting
    lists land pre-sorted for merge/compression.
    """
    spark = idx.term_doc_tf.sparkSession
    term_partitions = term_partitions or spark.sparkContext.defaultParallelism
    (idx.term_doc_tf
     .repartitionByRange(term_partitions, "term", "doc_id")
     .sortWithinPartitions("term", "doc_id")
     .write.mode("overwrite").parquet(f"{path}/term_doc_tf"))
    (idx.term_stats.repartitionByRange(max(1, term_partitions // 8), "term")
     .sortWithinPartitions("term")
     .write.mode("overwrite").parquet(f"{path}/term_stats"))
    idx.doc_stats.write.mode("overwrite").parquet(f"{path}/doc_stats")
