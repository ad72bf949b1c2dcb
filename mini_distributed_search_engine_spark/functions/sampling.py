"""Deterministic sampling primitives over a document frame.

Downsampling over-represented strata (a crawl source, a language, a
host) to a target mix is a common step before indexing or evaluation. Doing
that with `df.sample()` is non-reproducible across runs and cluster
layouts; the scale-correct primitive is a HASH GATE — keep a row iff a
stable hash of its key falls under the stratum's rate. That is a pure
narrow filter: no shuffle, no state, resumable, and the same rows
survive on any cluster size or partitioning (the property the
reference's seeded `sample(p)` lacks, flame/FlameRDD.java:70 — sampling
there depends on RNG stream order per worker).

The hash is the first 32 bits of md5 over the key rendered as a string,
which both Spark and DuckDB can compute byte-identically — so a gate
query can be checked against plain SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hash32(key: Column) -> Column:
    """First 32 md5 bits of the stringified key as a long — THE hash every
    sampling primitive (and any SQL mirroring one) must use;
    DuckDB twin: ('0x' || substr(md5(CAST(key AS VARCHAR)), 1, 8))::BIGINT."""
    return F.conv(F.substring(F.md5(key.cast("string")), 1, 8),
                  16, 10).cast("long")


def hash_gate(key: Column, pct: Column) -> Column:
    """True iff hash32(key) % 100 < pct. Stable across runs/partitioning."""
    return (hash32(key) % 100) < pct


def stratified_sample(df: DataFrame, strat_col: str, rates: dict[str, int],
                      default_pct: int, key_col: str) -> DataFrame:
    """Keep each stratum at its percentage rate, deterministically by
    ``key_col`` hash. ``rates`` maps stratum value -> pct (0..100); strata
    absent from the map keep ``default_pct``. One narrow filter over the
    scan — predicate-pushdown-friendly, zero shuffle at any scale."""
    pct = F.lit(default_pct)
    for value, p in sorted(rates.items()):
        pct = F.when(F.col(strat_col) == value, p).otherwise(pct)
    return df.where(hash_gate(F.col(key_col), pct))


def topk_per_stratum(df: DataFrame, strat_col: str, k: int,
                     key_col: str) -> DataFrame:
    """EXACT-k deterministic sample per stratum: rank rows inside each
    stratum by (hash32(key), key) and keep the first k — the fixed-BUDGET
    companion to the rate-based gate above (the hash makes the choice
    uniform and reproducible, the key tiebreak makes it total). One
    shuffle on the stratum key; rank<=k lets Spark's WindowGroupLimit
    push the limit below the sort, so each partition keeps a bounded
    top-k heap rather than sorting whole strata."""
    from pyspark.sql import Window
    w = Window.partitionBy(strat_col).orderBy(hash32(F.col(key_col)).asc(),
                                              F.col(key_col).asc())
    return (df.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") <= k).drop("_rk"))
