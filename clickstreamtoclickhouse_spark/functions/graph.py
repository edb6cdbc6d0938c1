"""Graph operators for dedup pipelines: connected components over
near-duplicate PAIR edges — the pairs -> clusters step every
large-scale dedup pipeline needs after jaccard/minhash/simhash/LSH
emit candidate pairs (no reference equivalent; SURVEY.md §2.11
extension tier).

Algorithm: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", ACM SoCC 2014 — a
public algorithm). Each round is two shuffles (one window partition
per star) and the edge set converges to stars rooted at each
component's minimum node id in O(log n) rounds — unlike naive label
propagation, whose round count is the graph DIAMETER (a 1M-node
chain would need 1M rounds).

Scale design (100 TB stance):
- No crossJoin, no driver-side graph: each star op is a
  window-min over the neighbor list partitioned by node — a single
  hash shuffle on node id per star.
- Iterative DataFrame loops grow lineage exponentially;
  ``localCheckpoint(eager=True)`` truncates it every round so round
  N's plan does not replay rounds 1..N-1. (On a real cluster with a
  checkpoint dir configured, ``checkpoint()`` gives the same with
  HDFS durability; localCheckpoint keeps this container-runnable.)
- Convergence test is an aggregate signature (count + order-
  insensitive hash-sum of edges) — two scalars to the driver per
  round, never the edge set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _symmetrize(e: DataFrame) -> DataFrame:
    """Both orientations of each edge, self-loops dropped. No
    distinct(): the loop feeds this an already-distinct oriented edge
    set (small-star ends with one), u != v rows can't collide with
    their own flips, and the window-min each star takes is duplicate-
    insensitive — a distinct here would be one extra full shuffle per
    round for nothing."""
    e = e.filter(F.col("u") != F.col("v"))
    return e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))


def _large_star(e_sym: DataFrame) -> DataFrame:
    """large-star(E): for each node u with neighborhood N(u), connect
    every LARGER neighbor to m = min(N(u) ∪ {u}). Output edges are
    oriented (bigger -> smaller)."""
    w = Window.partitionBy("u")
    return (
        e_sym.withColumn("m", F.least(F.col("u"), F.min("v").over(w)))
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(e_down: DataFrame) -> DataFrame:
    """small-star(E): input oriented (u -> v, v < u); for each u,
    connect every neighbor (and u itself) to m = min(N(u) ∪ {u}).
    Output stays oriented (bigger -> smaller)."""
    w = Window.partitionBy("u")
    n = e_down.withColumn("m", F.least(F.col("u"), F.min("v").over(w)))
    nbrs = n.filter(F.col("v") != F.col("m")).select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    self_edge = (
        n.select("u", "m")
        .distinct()
        .filter(F.col("u") != F.col("m"))
        .select("u", F.col("m").alias("v"))
    )
    return nbrs.union(self_edge).distinct()


def _unpersist_checkpoint(df: DataFrame) -> None:
    """Free a localCheckpoint's persisted RDD. ``Dataset.unpersist``
    only consults the cacheManager (a no-op for checkpoints), so reach
    through the LogicalRDD to the materialized RDD. Best-effort: if
    the plan shape ever changes, the ContextCleaner still reclaims the
    blocks once the JVM-side reference is garbage-collected."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) for every node appearing in `edges`, where
    component = the minimum node id reachable from it (undirected).

    Deterministic; raises RuntimeError if not converged within
    `max_iter` alternation rounds (each round doubles star depth, so
    25 covers graphs astronomically larger than any real corpus)."""
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    # Round 1 runs at the session's shuffle width; rounds 2+ size
    # their parallelism from the convergence signature (free — no
    # extra action). A previous revision also count()+coalesced the
    # initial edge set, but interleaved min-of-5 measurement at sf0.1
    # showed that extra action is a net LOSS (~5%) and it narrowed
    # round 1 to one task on small graphs; big graphs keep full width
    # either way.
    prev_sig = None
    # the checkpoint itself, not a coalesce over it: only the checkpoint's
    # plan reaches the persisted RDD that _unpersist_checkpoint frees
    ckpt = e
    for _ in range(max_iter):
        prev = ckpt
        # LAZY checkpoint + signature aggregate: one action per round
        # instead of two (the eager materialization job and the
        # signature job) — the aggregate computes every partition, so
        # the checkpoint blocks persist as a side effect of the same
        # job (r15; the k_core convergence-count fold, applied here).
        e = _small_star(_large_star(_symmetrize(e)))
        e = ckpt = e.localCheckpoint(eager=False)  # truncate iterative lineage
        row = e.agg(
            F.count("*").alias("n"),
            # decimal(38,0) sum: a long sum of 64-bit hashes would
            # overflow under ANSI mode
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).first()
        # The new round's edges are materialized by the aggregate; the
        # previous round's checkpoint blocks are dead weight now — drop
        # them instead of accumulating O(log n) edge sets. (Must happen
        # AFTER the aggregate: the new round's lineage reads them.)
        _unpersist_checkpoint(prev)
        sig = (row["n"], row["h"])
        if sig == prev_sig:
            break
        prev_sig = sig
        # edge counts shrink toward star forests; size the next
        # round's parallelism to the data (the signature gives n for
        # free) — tens of near-empty shuffle tasks per round otherwise
        # dominate small/late iterations. Big graphs keep full width.
        target = max(1, min(int(row["n"] // 500_000) + 1, 200))
        if target < e.rdd.getNumPartitions():
            e = e.coalesce(target)
    else:
        raise RuntimeError(f"connected_components: no convergence in {max_iter} rounds")
    # converged edge set is a star forest: u -> component root
    return (
        e.select(F.col("u").alias("node"), F.col("v").alias("component"))
        .union(e.select(F.col("v").alias("node"), F.col("v").alias("component")))
        .groupBy("node")
        .agg(F.min("component").alias("component"))
    )


def cluster_assignments(
    items: DataFrame,
    pairs: DataFrame,
    id_col: str,
    pair_a: str,
    pair_b: str,
    max_iter: int = 25,
) -> DataFrame:
    """Total clustering over `items`: connected components of the
    pair graph, items with no pairs kept as singleton clusters
    (component = own id). Output: (id_col, component, cluster_size)."""
    comp = connected_components(pairs, pair_a, pair_b, max_iter=max_iter)
    assigned = (
        items.select(id_col)
        .join(comp.withColumnRenamed("node", id_col), id_col, "left")
        .withColumn("component", F.coalesce("component", F.col(id_col)))
        # r14: assigned feeds the size aggregate AND the output join —
        # unpinned, every caller paid the items scan + component join
        # twice (guide §3.3). One execution.
        .localCheckpoint(eager=False)
    )
    sizes = assigned.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return assigned.join(sizes, "component").select(
        id_col, "component", "cluster_size"
    )


def k_core(
    edges: DataFrame,
    k: int,
    a: str = "a",
    b: str = "b",
    max_rounds: int = 20,
    symmetrized: bool = False,
) -> DataFrame:
    """k-core of an undirected graph by synchronous peeling (Seidman
    1983, public method): repeatedly drop every node whose degree
    within the surviving subgraph is < k, for `max_rounds` rounds or
    until the node set stops shrinking. Returns (node, core_degree)
    for the surviving core, where core_degree is the node's degree
    WITHIN the final core.

    Distributed shape: the directed (symmetrized) edge list is
    checkpointed once; each round is two semi-joins of edges against
    the (node-bounded, broadcastable) surviving set plus one keyed
    count — the standard bulk-synchronous peel, O(rounds * |E|) work,
    no all-pairs anywhere. Early exit on a driver-side count compare
    (one bounded scalar per round, same stance as connected
    components' convergence check)."""
    # `symmetrized=True`: the caller already built (and typically
    # checkpointed) the directed both-ways edge list — skip the
    # union+distinct+checkpoint pass, which would double the rows only
    # to dedup them back and re-materialize the largest intermediate.
    if symmetrized:
        und = edges.select(F.col(a).alias("s"), F.col(b).alias("d"))
    else:
        und = (
            edges.select(F.col(a).alias("s"), F.col(b).alias("d"))
            .unionByName(
                edges.select(F.col(b).alias("s"), F.col(a).alias("d"))
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
    from ..util import conf_broadcast

    # The survivor set is node-volume and checkpointed, so the planner
    # sees no stats and falls back to TWO SortMergeJoins per round —
    # shuffling + sorting the full edge list twice per peel round
    # (measured: 4 Exchanges/round at sf0.1). A broadcast hint turns
    # both semi-joins into map-side filters, leaving one Exchange per
    # round (the degree groupBy). Conf-gated (shuffle fallback) for
    # graphs whose node set outgrows the broadcast limit at scale.
    def _core_b(col: str) -> DataFrame:
        return conf_broadcast(
            core.withColumnRenamed("node", col),
            key="spark.clickstreamtoclickhouse.graphNodeJoin",
        )

    core = und.select(F.col("s").alias("node")).distinct().localCheckpoint(
        eager=False
    )
    n_prev = core.count()  # one action: materializes the blocks AND counts
    for _ in range(max_rounds):
        prev_core = core
        # LAZY checkpoint + count folds the r14 two-driver-round-trips
        # (eager materialization job, then a count job) into ONE action:
        # count() computes every partition, persisting the checkpoint
        # blocks as a side effect of the same job.
        survivors = (
            und.join(_core_b("s"), "s", "left_semi")
            .join(_core_b("d"), "d", "left_semi")
            .groupBy("s")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= k)
            .select(F.col("s").alias("node"))
            .localCheckpoint(eager=False)
        )
        n_now = survivors.count()
        core = survivors
        # the new survivor set is materialized; the previous round's
        # blocks are dead weight now (the connected_components stance)
        _unpersist_checkpoint(prev_core)
        if n_now == n_prev:
            break
        n_prev = n_now
    return (
        und.join(_core_b("s"), "s", "left_semi")
        .join(_core_b("d"), "d", "left_semi")
        .groupBy("s")
        .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
        .select(F.col("s").alias("node"), "core_degree")
    )


def label_propagation(
    edges: DataFrame,
    a: str = "u",
    b: str = "v",
    rounds: int = 4,
) -> DataFrame:
    """Synchronous label propagation communities (Raghavan, Albert &
    Kumara 2007, public method) with fully DETERMINISTIC updates:
    every node starts labeled with its own id, and each round every
    node adopts its neighbors' most frequent label, ties broken by
    the SMALLEST label — so the result is a pure function of the edge
    set, reproducible across engines and retries (the original's
    random tie-breaks and scan order are the classic
    nondeterminism complaints against LPA).

    Fixed `rounds` (no convergence test): synchronous LPA can
    oscillate on bipartite-ish structures, so a fixpoint check may
    never fire; a fixed small round count is both the standard remedy
    and what makes cross-engine parity exact. Communities after r
    rounds reflect density within radius ~r — the complement of
    connected_components (pure reachability) and k_core (degree
    threshold) in the family.

    Distributed shape: each round is one join of the symmetrized edge
    list against the (node, label) table on the neighbor key, a
    (node, label) count aggregate, and a per-node argmax window over
    the label-bounded vote table — O(rounds * |E|) keyed work, no
    all-pairs; lineage is truncated per round with localCheckpoint
    (the connected_components stance)."""
    und = (
        edges.select(F.col(a).alias("s"), F.col(b).alias("d"))
        .unionByName(edges.select(F.col(b).alias("s"), F.col(a).alias("d")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        und.select(F.col("s").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint(eager=True)
    )
    from ..util import conf_broadcast

    for _ in range(rounds):
        prev_labels = labels
        # r15: the label table is node-volume and checkpointed (no
        # stats), so the per-round join planned as a SortMergeJoin —
        # shuffling the full symmetrized edge list EVERY round. The
        # k_core/HITS broadcast treatment, same conf gate
        # (graphNodeJoin=shuffle drops the hint for graphs whose node
        # set outgrows the broadcast limit).
        votes = (
            und.join(
                conf_broadcast(
                    labels.withColumnRenamed("node", "d"),
                    key="spark.clickstreamtoclickhouse.graphNodeJoin",
                ),
                "d",
            )
            .groupBy(F.col("s").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        # r14: per-node argmax as min(struct(-n, label)) instead of a
        # row_number window — a map-side-combinable hash aggregate
        # (partial agg collapses each node's label votes before the
        # shuffle; no per-partition sort), with the struct's
        # lexicographic order giving the identical (count DESC, label
        # ASC) winner the oracle's argmax computes. The
        # graph_random_walks next-hop trick, applied per round (guide
        # §2.3 aggregate-before-shuffle).
        labels = (
            votes.groupBy("node")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("n")).alias("neg_n"),
                        F.col("label").alias("label"),
                    )
                )["label"].alias("label")
            )
            .localCheckpoint(eager=True)
        )
        # the new round's labels are materialized; drop the previous
        # round's blocks (the connected_components stance)
        _unpersist_checkpoint(prev_labels)
    # the returned labels are a materialized checkpoint, so the edge
    # table this function built is dead weight from here on
    _unpersist_checkpoint(und)
    return labels
