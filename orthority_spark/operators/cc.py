"""Distributed connected components over an edge list (DataFrame-only).

Why it exists: the dedup keep-rule in this repo (corpus_clean's text
path) is PAIR-based — drop the higher id of every
detected near-dup pair. That rule is not transitive: with detected pairs
(1,3) and (2,3) it keeps BOTH 1 and 2 even though they are connected
through 3. A training pipeline that wants one canonical document per
duplicate CLUSTER needs the transitive closure — i.e. connected
components over the near-dup pair graph, with the component minimum as
the canonical id.

Algorithm: min-label propagation accelerated with pointer jumping
(the alternating-star family of Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC 2014 — public literature). Each iteration is

    c(n) <- min(c(n), min over neighbours m of c(m))   (one equi-join + agg)
    c(n) <- c(c(n))                                    (pointer jump: self-join)

Invariants (each step preserves both, so the fixpoint is the component
minimum — proof sketch in test_cc.py): c(n) <= n, and c(n) is always the
id of a node in n's component. Pointer jumping halves the distance to
the component root each round, so convergence is O(log diameter)
iterations, NOT O(diameter) — the property that makes this viable on a
web-scale dup graph where chains of near-identical documents are long.

Scale notes: every step is an equi-join / aggregation (shuffle on node
id, AQE-splittable); there is no all-pairs stage and nothing is
collected to the driver except the per-iteration convergence count (one
long). Lineage is truncated with an eager ``localCheckpoint`` per
iteration — without it the pointer-jump self-join doubles the logical
plan every round and the analyzer, not the data, becomes the bottleneck.
On a long-lived cluster job prefer a reliable ``checkpoint`` directory
(localCheckpoint does not survive executor loss); a gate query run is
short-lived, so the local variant is the right default here.

No registry gate calls it: the two cluster gates built on it were
twins of the pair gates and are gone. ``tests/test_cc.py`` builds the
same plans over the `embedding_neardups_bucketed` and
`jaccard_neardups_lsh` pair graphs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _persistent_rdd_ids(spark) -> set[int]:
    """Ids of currently persisted RDDs (localCheckpoint persists its RDD
    under the hood; DataFrame.unpersist cannot release it, so superseded
    checkpoints are freed by id via the JavaSparkContext map)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(i) for i in jmap.keySet().toArray()}


def _unpersist_rdd_ids(spark, ids: set[int]) -> None:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for i in ids:
        rdd = jmap.get(i)
        if rdd is not None:
            rdd.unpersist(False)


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    node: str = "node",
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 64,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Label every node with the MINIMUM node id reachable from it.

    ``nodes``: one column ``node`` (every vertex, including isolated
    ones — they come back labelled with themselves; ``nodes`` is the
    vertex universe, so an edge endpoint missing from it is silently
    ignored — callers must derive edges from the same corpus scan as
    the nodes, which guarantees containment). ``edges``: columns
    ``src``/``dst``, undirected (direction and duplicates don't matter).
    Returns (node, comp) with comp = min id of the node's component —
    deterministic, so oracle-checkable exactly.

    Raises RuntimeError if not converged after ``max_iter`` pointer-jump
    iterations (2^max_iter diameter budget — never binds in practice).

    r6 (VERDICT r5 #4): superseded per-iteration checkpoints are
    UNPERSISTED — the r5 loop left every iteration's label RDD pinned in
    executor storage (~20 copies on a web-scale graph). Checkpoint ids
    are tracked via the persistent-RDD map, which assumes no concurrent
    job persists RDDs between two statements of this loop (true for the
    short test/query callers; a busy shared session at worst skips a free).
    ``checkpoint_dir``: when set, uses RELIABLE checkpoints there
    instead of localCheckpoint (survives executor loss — the right mode
    for long cluster jobs; files are left for the caller/cluster GC).
    """
    spark = nodes.sparkSession

    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

        def _ckpt(df: DataFrame) -> DataFrame:
            return df.checkpoint(eager=True)

    else:

        def _ckpt(df: DataFrame) -> DataFrame:
            return df.localCheckpoint(eager=True)

    fwd = edges.select(F.col(src).alias("n"), F.col(dst).alias("m"))
    rev = edges.select(F.col(dst).alias("n"), F.col(src).alias("m"))
    base_ids = _persistent_rdd_ids(spark)
    # materialize the adjacency ONCE: the edge plan (often an expensive
    # LSH pair detection) must not be recomputed every iteration
    adj = _ckpt(fwd.union(rev))
    adj_ids = _persistent_rdd_ids(spark) - base_ids
    labels = _ckpt(nodes.select(F.col(node).alias("n"), F.col(node).alias("c")))
    label_ids = _persistent_rdd_ids(spark) - base_ids - adj_ids

    def _finish(out: DataFrame) -> DataFrame:
        _unpersist_rdd_ids(spark, adj_ids)
        return out

    for _ in range(max_iter):
        nbr_min = (
            adj.alias("e")
            .join(labels.alias("l"), F.col("e.m") == F.col("l.n"))
            .groupBy(F.col("e.n").alias("n"))
            .agg(F.min("l.c").alias("nc"))
        )
        prop = labels.join(nbr_min, "n", "left").select(
            "n",
            F.least(F.col("c"), F.coalesce(F.col("nc"), F.col("c"))).alias("c"),
        )
        jump_tbl = prop.select(F.col("n").alias("c"), F.col("c").alias("cc"))
        pre_ids = _persistent_rdd_ids(spark)
        new = _ckpt(
            prop.alias("x")
            .join(jump_tbl.alias("y"), "c", "left")
            .select("n", F.coalesce(F.col("y.cc"), F.col("c")).alias("c"))
        )
        new_ids = _persistent_rdd_ids(spark) - pre_ids
        changed = (
            new.alias("a")
            .join(labels.alias("b"), "n")
            .where(F.col("a.c") != F.col("b.c"))
            .count()
        )
        # the previous labels checkpoint is now superseded — release it
        _unpersist_rdd_ids(spark, label_ids)
        labels, label_ids = new, new_ids
        if changed == 0:
            return _finish(
                labels.select(F.col("n").alias(node), F.col("c").alias("comp"))
            )
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} iterations"
    )
