"""Connected components by iterative min-label propagation — the
transitive closure of an edge list (link-graph edges, or any id pairs)
into groups labeled by their minimum node id.

Algorithm: every node starts labeled with its own id; each round a node
takes the min of its label and its neighbors' labels; converged when no
label changes. Rounds needed = graph diameter (shallow clusters take a
handful of rounds). Each round is one join + one groupBy
(map-side partial min), then `localCheckpoint` — which, unlike persist,
TRUNCATES the lineage, so plan depth and analysis cost stay constant no
matter how many rounds run, and there is no unpersist bookkeeping (the
checkpoint blocks free when the frame is garbage-collected). The
previous round's label rides along in the same frame, so convergence is
one filter+count on checkpointed data — no extra join. The driver only
ever sees one integer per round (the changed-label count).

Round count = graph DIAMETER, which is fine for shallow clusters; for
deep graphs `connected_components_star` below implements the
small-star/large-star algorithm (Kiveris et al., "Connected
Components in MapReduce and Beyond") whose round count is O(log^2 n)
independent of diameter — pytest proves both agree on a 60-node path
graph the propagation version needs 59 rounds for, and both match a
union-find ground truth on random graphs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(nodes: DataFrame, edges: DataFrame,
                         id_col: str = "id", a_col: str = "a",
                         b_col: str = "b", max_iters: int = 25) -> DataFrame:
    """(node, component): component = min node id reachable via edges.
    Isolated nodes are their own component. Raises if the propagation has
    not converged after max_iters rounds (diameter larger than expected —
    switch to small-star/large-star before raising the cap)."""
    labels = nodes.select(F.col(id_col).alias("node"),
                          F.col(id_col).alias("label"))
    sym = (edges.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
           .unionByName(
               edges.select(F.col(b_col).alias("src"),
                            F.col(a_col).alias("dst")))
           .persist())
    try:
        for _ in range(max_iters):
            neigh = (sym.join(labels, sym["src"] == labels["node"])
                     .groupBy("dst").agg(F.min("label").alias("nmin")))
            nxt = (labels.join(neigh, labels["node"] == neigh["dst"], "left")
                   .select("node", F.col("label").alias("old"),
                           F.least("label", F.coalesce("nmin", "label"))
                           .alias("label"))
                   .localCheckpoint())   # truncate lineage, no unpersist debt
            changed = nxt.where(F.col("old") != F.col("label")).count()
            labels = nxt.select("node", "label")
            if changed == 0:
                return labels.select("node", F.col("label").alias("component"))
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds; "
            "graph diameter exceeds expectations for shallow clusters"
            " — use connected_components_star for deep graphs")
    finally:
        sym.unpersist()


# ---------------------------------------------------------------------------
# small-star / large-star: the deep-diameter scale path
# ---------------------------------------------------------------------------

def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round: every node u links each STRICTLY LARGER
    neighbor to min(N(u) ∪ {u}) — long chains contract toward their
    minimum from both ends at once."""
    sym = (edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))))
    m = (sym.groupBy("u").agg(F.min("v").alias("mn"))
         .select("u", F.least("mn", F.col("u")).alias("m")))
    return (sym.join(m, "u").where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v")).distinct())


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: orient each edge large→small, then every node
    links its smaller neighbors (and itself) to its minimum neighbor."""
    e = (edges.select(F.greatest("u", "v").alias("u"),
                      F.least("u", "v").alias("v"))
         .where(F.col("u") != F.col("v")).distinct())
    m = e.groupBy("u").agg(F.min("v").alias("m"))
    return (e.join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(m.select("u", F.col("m").alias("v")))
            .where(F.col("u") != F.col("v")).distinct())


def derived_path_edges(ids: DataFrame, id_col: str = "vec_id",
                       chain: int = 128) -> DataFrame:
    """Deterministic deep-diameter fixture: chains of ``chain`` consecutive
    ids (edge i -> i+1 unless i+1 starts a new chain), diameter chain-1.
    Min-label propagation needs diameter rounds (its guard raises at 25);
    small-star/large-star contracts the same chains in O(log^2 n) rounds —
    this edge set makes that advantage a checkable fact. The +1 self-join is an equi-join (one shuffle on the id),
    never an all-pairs product."""
    a = ids.select(F.col(id_col).alias("va"))
    b = ids.select(F.col(id_col).alias("vb"))
    return (a.where((F.col("va") + 1) % chain != 0)
            .join(b, F.col("vb") == F.col("va") + 1)
            .select("va", "vb"))


def connected_components_star(nodes: DataFrame, edges: DataFrame,
                              id_col: str = "id", a_col: str = "a",
                              b_col: str = "b",
                              max_iters: int = 25) -> DataFrame:
    """(node, component) via alternating large-star/small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14): O(log^2 n) rounds regardless of graph DIAMETER, vs the
    min-label propagation above whose round count IS the diameter. Same
    output contract as :func:`connected_components`; each round is two
    groupBy-min + join passes over the edge list, localCheckpoint-ed so
    plan depth stays constant. Converged when a small-star round is a
    no-op (edge set already star-shaped: every edge points directly at its
    component minimum)."""
    e = (edges.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
         .where(F.col("u") != F.col("v")).distinct()
         .localCheckpoint())
    for _ in range(max_iters):
        nxt = _small_star(_large_star(e)).localCheckpoint()
        # star-fixpoint test: same canonical edge set as last round
        prev_c = e.select(F.greatest("u", "v").alias("u"),
                          F.least("u", "v").alias("v")).distinct()
        if nxt.exceptAll(prev_c).isEmpty() and \
                prev_c.exceptAll(nxt).isEmpty():
            roots = nxt  # every edge now points (non-root -> component min)
            labels = (nodes.select(F.col(id_col).alias("node"))
                      .join(roots.select(F.col("u").alias("node"),
                                         F.col("v").alias("component")),
                            "node", "left")
                      .select("node",
                              F.coalesce("component", "node")
                              .alias("component")))
            return labels
        e = nxt
    raise RuntimeError(
        f"connected_components_star did not converge in {max_iters} rounds")
