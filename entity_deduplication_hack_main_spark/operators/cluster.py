"""Union-find connected components as iterative DataFrame self-joins.

The reference leaves duplicate *resolution* as future work (README.md:7 —
matches stay pairwise); the north_rule requires transitive clustering. We
use min-label propagation with pointer jumping (a DataFrame rendering of
hash-to-min, cf. Kiveris et al. "Connected Components in MapReduce and
Beyond" and PAPERS.md "BTS: Load-Balanced Distributed Union-Find",
ICDE 2024): each iteration every node adopts the min label in its
neighborhood, then labels are compressed by one pointer-jump
(label ← label(label)) — convergence in O(log diameter) rounds.

Scale design: each iteration is two shuffles (groupBy min + join); the
frontier DataFrame is checkpointed every round to cut lineage (the
north_rule's "checkpointed frontiers"), convergence is detected by an
order-insensitive label-set checksum, and an iteration cap guards
pathological inputs.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entity_deduplication_hack_main_spark.config import DedupConfig


def _checksum(labels: DataFrame) -> int:
    row = labels.select(
        F.sum(F.xxhash64("node", "label").cast("decimal(38,0)")).alias("c"),
        F.count("*").alias("n"),
    ).collect()[0]
    return hash((str(row["c"]), row["n"]))


def _local_union_find(edge_rows) -> tuple[list, list]:
    """Driver-side union-find with path compression over EDGE ENDPOINTS
    ONLY; returns the (nodes, labels) columns, label = min member.
    Identical labels to the distributed loop for every edge-touched node —
    isolated vertices never reach the driver (they are attached
    distributedly as singletons by the caller)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            nxt = parent[x]
            parent[x] = root
            x = nxt
        return root

    def union(x, y):
        rx, ry = find(x), find(y)
        if rx != ry:
            # union by min keeps the final relabel trivial
            lo, hi = (rx, ry) if rx < ry else (ry, rx)
            parent[hi] = lo

    nodes = set()
    for r in edge_rows:
        union(r[0], r[1])
        nodes.add(r[0])
        nodes.add(r[1])
    nodes = list(nodes)
    return nodes, [find(n) for n in nodes]


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    config: DedupConfig | None = None,
    local_threshold: int = 2_000_000,
) -> DataFrame:
    """(node, cluster_id): cluster_id = min node id in the component.

    edges: (id1, id2) distinct undirected pairs. vertices: optional (id)
    universe — isolated vertices become singleton clusters.
    Works for any orderable id type (string urls or bigint doc ids).

    Hybrid execution: if the edge count is under ``local_threshold`` the
    edge-touched components are solved with a driver-side union-find
    (milliseconds, exact same labels) and the vertex universe NEVER leaves
    the cluster — singletons are attached by a distributed left join with
    ``coalesce(label, node)``. This is the common case after verification
    (dup edges ≪ docs): a 10^12-doc corpus with 1M dup edges collects 1M
    rows, not 10^12. The gate is a cheap ``limit(threshold+1).count()``
    probe first — edges only reach the driver once the count is KNOWN to
    fit, so an over-threshold input never materializes 2M+ Row objects in
    Python heap just to discard them (round-2 advice). Edges are persisted
    across the probe + collect (and the distributed loop's iterations) so
    the two actions don't recompute the upstream verify lineage.
    Above the threshold the iterative distributed loop runs.
    Set ``local_threshold=0`` to force the distributed path.
    """
    config = config or DedupConfig()
    head = None
    pinned = None
    if local_threshold:
        pinned = edges.select("id1", "id2").persist()
        edges = pinned
        if pinned.limit(local_threshold + 1).count() <= local_threshold:
            head = pinned.collect()
    try:
        return _connected_components_impl(
            edges, head, vertices, config, local_threshold
        )
    finally:
        if pinned is not None:
            pinned.unpersist()


def _connected_components_impl(
    edges: DataFrame,
    head,
    vertices: DataFrame | None,
    config: DedupConfig,
    local_threshold: int,
) -> DataFrame:
    if head is not None and len(head) <= local_threshold:
        spark = edges.sparkSession
        t = edges.schema["id1"].dataType.simpleString()
        nodes, roots = _local_union_find(head)
        # Arrow columns, not pickled rows: the JVM reads the batches
        # directly, no Python-worker job (empty columns cast to `t` too)
        labels = spark.createDataFrame(
            pa.table({"node": nodes, "cluster_id": roots}),
            f"node {t}, cluster_id {t}",
        )
        if vertices is None:
            return labels
        universe = (
            vertices.toDF("node")
            .select("node")
            .unionByName(labels.select("node"))
            .distinct()
        )
        lbl = labels.withColumnRenamed("cluster_id", "_lbl")
        return universe.join(F.broadcast(lbl), "node", "left").select(
            "node", F.coalesce("_lbl", "node").alias("cluster_id")
        )
    sym = (
        edges.select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
        .unionByName(
            edges.select(F.col("id2").alias("src"), F.col("id1").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = sym.select(F.col("src").alias("node")).distinct()
    if vertices is not None:
        nodes = nodes.unionByName(
            vertices.toDF("node").select("node")
        ).distinct()
    labels = nodes.select("node", F.col("node").alias("label"))

    labels = labels.localCheckpoint(eager=True)
    prev = _checksum(labels)
    for _ in range(config.max_cc_iterations):
        # 1. min label among neighbors
        neigh = (
            sym.join(labels, sym["src"] == labels["node"])
            .groupBy("dst")
            .agg(F.min("label").alias("nlabel"))
            .withColumnRenamed("dst", "node")
        )
        merged = (
            labels.join(neigh, "node", "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("nlabel", "label")).alias("label"),
            )
        )
        # 2. pointer jump: label ← label(label)
        parent = merged.select(
            F.col("node").alias("p_node"), F.col("label").alias("p_label")
        )
        jumped = (
            merged.join(parent, merged["label"] == parent["p_node"], "left")
            .select(
                "node", F.coalesce("p_label", "label").alias("label")
            )
        )
        labels = jumped.localCheckpoint(eager=True)
        cur = _checksum(labels)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components did not converge in "
            f"{config.max_cc_iterations} iterations"
        )
    return labels.select("node", F.col("label").alias("cluster_id"))


def cluster_sizes(assignments: DataFrame) -> DataFrame:
    return assignments.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))


def cluster_sample_weights(assignments: DataFrame) -> DataFrame:
    """Soft deduplication: instead of DROPPING duplicates, emit a per-doc
    training sampling weight w = 1 / cluster_size, so every distinct
    content cluster contributes exactly one unit of training mass however
    many copies the crawl holds (the reweight-don't-delete alternative in
    the dedup literature, e.g. SoftDedup). Unique docs keep w = 1.

    Output: (doc_id, cluster_id, cluster_size, weight) — one row per doc;
    sum(weight) == number of clusters.

    Scale: one partial-aggregating groupBy(cluster_id) count, then a
    shuffle join back on cluster_id — the count side is one row per
    cluster, broadcastable downstream; no windows, so a boilerplate
    mega-cluster costs its combiners one row per map task.
    """
    sizes = cluster_sizes(assignments)
    return assignments.join(sizes, "cluster_id").select(
        F.col("node").alias("doc_id"),
        "cluster_id",
        "cluster_size",
        (F.lit(1.0) / F.col("cluster_size").cast("double")).alias("weight"),
    )


def cluster_representatives(
    assignments: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    order_col: str = "n_chars",
) -> DataFrame:
    """One representative per cluster — the dedup OUTPUT a training
    pipeline keeps: the doc with the highest ``order_col`` (longest text
    wins, the usual curation rule), lowest id on ties.

    Output: (doc_id, cluster_id, n_members), one row per cluster;
    sum(n_members) == corpus size.

    Scale: a single partial-aggregating ``groupBy(cluster_id)`` carrying
    max(struct(order, -id)) + count — combiners reduce a boilerplate
    mega-cluster to one struct per map task, unlike a row_number window
    which would sort every member of the hottest cluster on one reducer.
    """
    j = assignments.join(
        docs.select(F.col(id_col).alias("_rid"), F.col(order_col).alias("_ord")),
        assignments["node"] == F.col("_rid"),
    )
    # id-type-agnostic tie-break (r05 advice): the order column is always
    # numeric, so negate IT and take min(struct) — highest _ord wins,
    # lowest id on ties — instead of negating the id, which crashed under
    # ANSI for string ids (streaming uses URLs as ids; run_dedup exposes
    # --id-col). Identical pick to the previous max(struct(ord, -id)).
    # The leading isNull flag makes a NULL order value lose (min puts NULL
    # first), as in the oracle's ORDER BY n_chars DESC (NULLS LAST);
    # pii_redact orders by length(text), NULL for NULL text.
    grp = j.groupBy("cluster_id").agg(
        F.min(
            F.struct(
                F.col("_ord").isNull().alias("_null"),
                (-F.col("_ord")).alias("_no"),
                F.col("_rid").alias("_rid"),
            )
        ).alias("_best"),
        F.count("*").alias("n_members"),
    )
    return grp.select(
        F.col("_best._rid").alias(id_col), "cluster_id", "n_members"
    )


# --- DuckDB oracle (recursive CTE transitive closure — fine at test scale,
# never used at scale) -----------------------------------------------------


def sql_connected_components(edges_cte: str, vertices_cte: str) -> str:
    """DuckDB SELECT (node, cluster_id) given CTE SQL for edges (id1, id2)
    and vertices (id)."""
    return f"""
WITH _e AS ({edges_cte}),
_v AS ({vertices_cte}),
_sym AS (
  SELECT id1 AS src, id2 AS dst FROM _e
  UNION SELECT id2, id1 FROM _e
  UNION SELECT id, id FROM _v
),
_reach AS (
  WITH RECURSIVE r(node, lbl) AS (
    SELECT src, dst FROM _sym
    UNION
    SELECT r.node, s.dst FROM r JOIN _sym s ON r.lbl = s.src
  )
  SELECT * FROM r
)
SELECT node, min(lbl) AS cluster_id FROM _reach GROUP BY node
"""
