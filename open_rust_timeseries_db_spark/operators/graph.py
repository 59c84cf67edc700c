"""Iterative graph operators: connected components for dedup clustering.

The last step of every near-dup pipeline: candidate pairs form an
undirected graph; each connected component is one duplicate cluster, and
the member with the smallest id is the canonical survivor. The reference
has no graph step at all (it has no dedup, SURVEY.md §2.4); this is part
of the driver-mandated training-pipeline extension.

Two physical strategies behind one contract (see DRIVER_CC_MAX_EDGES):
a driver-side union-find when the edge list is provably small — the
common case after LSH pruning — and distributed min-label propagation
beyond. Both yield label = min node id per component, and the test
suite runs every graph shape through both.

Propagation algorithm: min-label to a fixpoint — each round, every node
takes the minimum label among itself and its neighbors. Converges in
O(component diameter) rounds; near-dup clusters are dense (everything
within a few edits of a template), so diameters are tiny. Spark-specific
mechanics that matter:

- ``localCheckpoint(eager=True)`` after every round truncates lineage —
  without it the plan tree doubles per iteration and planning time
  explodes by round ~8 (the classic iterative-Spark failure mode).
- The adjacency list is checkpointed ONCE, before round 1: it is the
  output of the whole upstream candidate-pair pipeline, and every round
  joins against it — uncheckpointed, each round would re-run that pipeline.
- Convergence is detected by the label sum (labels only ever decrease,
  so the sum strictly decreases until the fixpoint), read back as ONE
  scalar per round — no per-node driver traffic.

At 100 TB: rounds are plain shuffled join+agg jobs, so each round scales
like any other aggregation; for graphs with genuinely large diameters
(chains, not dedup clusters) switch to the large-star/small-star
alternation (Kiveris et al., "Connected Components in MapReduce"), which
converges in O(log^2 n) rounds with the same join+agg building blocks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Near-dup edge sets are orders of magnitude smaller than the corpus
# (that is the point of LSH/banding): up to this many directed edge
# rows (~80 MB of id pairs), union-find on the driver beats the
# iterative path outright — one collect + O(E α(E)) pointer chasing vs
# several join+agg rounds that each pay full job scheduling. Beyond it
# (or with a huge isolated-node set to label), the distributed
# propagation below is the only shape that survives. The cutover is
# one collect of at most cap + 1 edges, which the driver path then uses.
DRIVER_CC_MAX_EDGES = 5_000_000


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "node",
    a_col: str = "a",
    b_col: str = "b",
    max_iter: int = 50,
    with_sizes: bool = False,
) -> DataFrame:
    """(node, label): label = min node id in the connected component.

    ``nodes`` must contain every vertex (isolated vertices become their
    own singleton component); ``edges`` is undirected (each row one
    pair, either orientation). Edge endpoints MUST be a subset of
    ``nodes``: a phantom endpoint would be silently dropped from the
    output either way (both paths attach labels by joining onto
    ``nodes``), but under ``with_sizes`` the two paths would disagree
    on its component's size — the driver union-find counts labels over
    edge endpoints (the collect it already holds), while the
    propagation path counts the label table built from ``nodes``. All
    in-repo callers derive edges from the node set itself.

    ``with_sizes`` adds a ``cluster_size`` column (component member
    count, singletons = 1). On the driver union-find path the sizes
    are a free driver-side Counter over labels the collect already
    holds — consumers skip the groupBy(label) + re-join exchange they
    would otherwise pay; on the propagation path it is one bounded
    label-table aggregation + same-keyed join.
    """
    # Both directions expand from ONE pass over the edge pipeline: the
    # union-of-two-selects form planned the (possibly expensive)
    # upstream pair pipeline TWICE inside the checkpoint job — explode
    # of a 2-struct array emits (a,b) and (b,a) per input row with the
    # pipeline evaluated once (measured: the adjacency checkpoint job
    # of the 258k-edge dedup-cluster graph drops ~2x).
    adj = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
                    ),
                    F.struct(
                        F.col(b_col).alias("src"), F.col(a_col).alias("dst")
                    ),
                )
            ).alias("__e")
        )
        .select("__e.src", "__e.dst")
    )
    # ONE collect decides the cutover and feeds the driver path: at most
    # cap + 1 rows come back, so an over-cap list costs a bounded
    # collect before it is checkpointed for propagation.
    pdf = adj.limit(DRIVER_CC_MAX_EDGES + 1).toPandas()
    if len(pdf) <= DRIVER_CC_MAX_EDGES:
        return _driver_union_find(nodes, pdf, node_col, with_sizes)
    adj = adj.localCheckpoint(eager=True)
    n_edges = adj.count()
    labels = nodes.select(
        F.col(node_col).alias("node"), F.col(node_col).alias("label")
    ).localCheckpoint(eager=True)

    # Right-size the iteration's shuffle partitioning ONCE from the
    # (checkpointed, so cheaply countable) state size instead of
    # letting every round re-derive it: each round is several tiny
    # shuffles, and at default partition counts the per-round cost is
    # dominated by scheduling empty tasks + AQE replanning (~2x the
    # round time at small graph sizes). ~500k rows per partition keeps
    # a partition's join state comfortably in memory at any scale; the
    # cluster-configured ceiling is respected so a 100 TB graph still
    # fans out fully. The count is applied with EXPLICIT .repartition
    # on the iterated DataFrames — never by mutating the session-global
    # spark.sql.shuffle.partitions, which would silently re-plan any
    # concurrent query on the shared SparkSession.
    spark = nodes.sparkSession
    state_rows = max(n_edges, labels.count())
    conf_parts = spark.conf.get("spark.sql.shuffle.partitions", "200")
    try:
        ceiling = int(conf_parts)
    except ValueError:  # e.g. "auto" on some builds
        ceiling = 200
    iter_parts = max(1, min(ceiling, state_rows // 500_000 + 1))
    # Pre-partition the loop-invariant adjacency on its join key once,
    # so every round's neighbor join reads it co-partitioned.
    adj = adj.repartition(iter_parts, "src").localCheckpoint(eager=True)
    labels = _propagate_to_fixpoint(adj, labels, max_iter, iter_parts)
    if not with_sizes:
        return labels
    sizes = labels.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    # Same key as the propagation's final groupBy("node")? No — keyed
    # by label, one bounded exchange over the label table only.
    return labels.join(sizes, "label").select(
        "node", "label", "cluster_size"
    )


def _driver_union_find(
    nodes: DataFrame, pdf, node_col: str, with_sizes: bool = False
) -> DataFrame:
    """Small-graph fast path: union-find over the collected edge list,
    labels shipped back as a broadcast map onto the (distributed) node
    set.

    Only nodes that TOUCH an edge ever reach the driver — the node set
    itself stays distributed, and untouched nodes become singleton
    components via the coalesce. Labels are the component-min node id,
    identical to the propagation fixpoint.

    ``pdf`` is the edge list (src, dst) collected through Arrow
    (``toPandas``), not a row iterator: at the 5M-edge cutover cap the
    frame is ~80 MB of id pairs — the same budget the cutover already
    assumes — while the Row-object path paid ~8 µs of py4j/Row overhead
    PER EDGE (measured 2.3 s of the cluster query's 4.3 s warm at 258k
    edges; the Arrow transfer + plain-int loop is ~0.25 s).
    """
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            # Union by MIN root so the representative is already the
            # smallest id — no second pass needed.
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo

    import pandas as _pd

    nodes_arr = list(parent)
    labs_arr = [find(n) for n in nodes_arr]
    spark = nodes.sparkSession
    if not with_sizes:
        # pandas frame -> Arrow batch createDataFrame (the session
        # enables arrow.pyspark); a list-of-tuples frame would pickle
        # row by row.
        lab_df = spark.createDataFrame(
            _pd.DataFrame(
                {"node": _pd.Series(nodes_arr, dtype="int64"),
                 "_lab": _pd.Series(labs_arr, dtype="int64")}
            ),
            schema="node bigint, _lab bigint",
        )
        return (
            nodes.select(F.col(node_col).alias("node"))
            .join(F.broadcast(lab_df), "node", "left")
            .select("node", F.coalesce("_lab", F.col("node")).alias("label"))
        )
    # Component sizes are already on the driver: a Counter over the
    # final labels. Shipping (node, label, size) rows makes the whole
    # consumer plan ONE broadcast join — no groupBy(label) exchange, no
    # label-keyed re-join. Singletons (nodes touching no edge) take the
    # coalesce defaults: label = node, size = 1.
    from collections import Counter

    label_counts = Counter(labs_arr)
    lab_df = spark.createDataFrame(
        _pd.DataFrame(
            {
                "node": _pd.Series(nodes_arr, dtype="int64"),
                "_lab": _pd.Series(labs_arr, dtype="int64"),
                "_sz": _pd.Series(
                    [label_counts[lab] for lab in labs_arr], dtype="int64"
                ),
            }
        ),
        schema="node bigint, _lab bigint, _sz bigint",
    )
    return (
        nodes.select(F.col(node_col).alias("node"))
        .join(F.broadcast(lab_df), "node", "left")
        .select(
            "node",
            F.coalesce("_lab", F.col("node")).alias("label"),
            F.coalesce("_sz", F.lit(1)).cast("bigint").alias("cluster_size"),
        )
    )


def _propagate_to_fixpoint(
    adj: DataFrame, labels: DataFrame, max_iter: int, iter_parts: int
) -> DataFrame:
    prev_sum = None
    for _ in range(max_iter):
        # Explicit hash-repartition on the join/agg key sizes every
        # shuffle in the round to iter_parts without touching session
        # conf; downstream groupBy("node") and the src==node join are
        # satisfied by this partitioning, so no further exchange.
        lab = labels.repartition(iter_parts, "node")
        neighbor_labels = adj.join(
            lab, adj["src"] == lab["node"]
        ).select(F.col("dst").alias("node"), "label")
        # Referenced twice by the self-join below, but NOT checkpointed:
        # both sides hang off the same shuffle, which Catalyst plans as
        # one exchange + a ReusedExchange — deduped within the round's
        # single job. An eager checkpoint here would add a whole extra
        # job per round (schedule + materialize) to save work the
        # engine already shares; lineage is still truncated once per
        # round by the new_labels checkpoint.
        propagated = (
            lab.union(neighbor_labels)
            .repartition(iter_parts, "node")
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        # Pointer jumping (path halving): follow one level of label
        # indirection — label <- label(label). Neighbor-min alone needs
        # O(diameter) rounds; compressing paths each round brings chains
        # down in O(log diameter). The left join keeps roots (label not
        # present as a node never happens — labels are node ids — but
        # the root maps to itself, a plain inner self-join).
        lhs = propagated.repartition(iter_parts, "label").alias("l")
        rhs = propagated.alias("r")
        jumped = lhs.join(rhs, F.col("l.label") == F.col("r.node")).select(
            F.col("l.node").alias("node"), F.col("r.label").alias("label")
        )
        # Lazy checkpoint: the convergence aggregate below is the job
        # that materializes it — one Spark job per round, not two.
        new_labels = jumped.localCheckpoint(eager=False)
        # One scalar back to the driver per round; decimal so the
        # convergence test is overflow-proof at any node count.
        label_sum = new_labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]
        labels = new_labels
        if prev_sum is not None and label_sum == prev_sum:
            break
        prev_sum = label_sum
    return labels
