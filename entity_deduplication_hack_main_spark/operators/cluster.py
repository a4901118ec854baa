"""Union-find connected components: vectorized on the driver when the
edges fit, iterative DataFrame self-joins when they do not.

The reference leaves duplicate *resolution* as future work (README.md:7 —
matches stay pairwise); the north_rule requires transitive clustering.
Both paths label every node with the minimum id of its component.

Local path (edge count <= ``local_threshold``, the common case after
verification: dup edges << docs): the edges reach the driver as ONE
guarded Arrow collect, ids are mapped to dense ints with ``pyarrow.compute``
(any orderable type, string urls included), and a numpy union-find hooks
each larger root under the smaller one (``np.minimum.at``) and pointer-jumps
to a fixpoint — no per-row Python. The vertex universe never leaves the
cluster: singletons are attached by a distributed left join.

Distributed path: min-label propagation with pointer jumping (a DataFrame
rendering of hash-to-min, cf. Kiveris et al. "Connected Components in
MapReduce and Beyond" and PAPERS.md "BTS: Load-Balanced Distributed
Union-Find", ICDE 2024): each round every node adopts the min label in its
neighborhood, then labels are compressed by one pointer jump
(label <- label(label)). That takes O(log diameter) rounds when ids ascend
along paths but up to diameter rounds on adversarial id orders (label 0
moves one hop per round along the path 0, n-1, n-2, ..., 1). Each round
is checkpointed (the north_rule's "checkpointed frontiers"); an
``Observation`` on that checkpoint counts the nodes whose label changed,
and the loop converges when the count is 0 — no separate convergence job.
A round's checkpoint is released once the next one is materialized, and
the symmetric edge table once the loop ends, so only the returned labels'
checkpoint outlives the call. Each round plans over the previous
checkpoint without the size estimate it carried (``pins.unsized``), so
planning stays flat up to the iteration cap that guards pathological
inputs.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from entity_deduplication_hack_main_spark.config import DedupConfig
from entity_deduplication_hack_main_spark.plans.pins import Pins, unsized


def _min_labels(head: pa.Table) -> pa.Table:
    """(node, cluster_id) over the endpoints of the ``(id1, id2)`` edge
    table ``head``; cluster_id = min member id."""
    m = head.num_rows
    ends = pa.concat_arrays(
        [head["id1"].combine_chunks(), head["id2"].combine_chunks()]
    )
    nodes = pc.unique(ends)
    # sorted dense ids: the min dense id of a component is its min id
    nodes = nodes.take(pc.array_sort_indices(nodes))
    dense = pc.index_in(ends, value_set=nodes).to_numpy()
    u, v = dense[:m], dense[m:]
    parent = np.arange(len(nodes))
    while True:
        ru, rv = parent[u], parent[v]
        cross = ru != rv
        if not cross.any():
            break
        # an edge inside one component stays inside it: drop it
        u, v, ru, rv = u[cross], v[cross], ru[cross], rv[cross]
        # hook each larger root under the smallest root it touches
        np.minimum.at(parent, np.maximum(ru, rv), np.minimum(ru, rv))
        # parent[x] <= x, so jumping reaches each node's root
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped
    return pa.table({"node": nodes, "cluster_id": nodes.take(parent)})


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

    Hybrid execution: the edges are collected with one guarded
    ``limit(local_threshold + 1).toArrow()`` job — at most threshold+1
    rows ever reach the driver. If they fit, the edge-touched components
    are labelled on the driver (module docstring) and the vertex universe
    NEVER leaves the cluster: singletons are attached by a distributed
    left join with ``coalesce(label, node)``. A 10^12-doc corpus with 1M
    dup edges collects 1M edges, not 10^12 docs. Above the threshold the
    iterative distributed loop runs. Set ``local_threshold=0`` to force
    the distributed path.
    """
    config = config or DedupConfig()
    if local_threshold:
        head = edges.select("id1", "id2").limit(local_threshold + 1).toArrow()
        if head.num_rows <= local_threshold:
            t = edges.schema["id1"].dataType.simpleString()
            # Arrow columns: the JVM reads the batches directly, no
            # Python-worker job (empty columns cast to `t` too)
            labels = edges.sparkSession.createDataFrame(
                _min_labels(head), f"node {t}, cluster_id {t}"
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
    pins = Pins()
    try:
        sym = pins.checkpoint(
            edges.select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
            .unionByName(
                edges.select(
                    F.col("id2").alias("src"), F.col("id1").alias("dst")
                )
            )
            .distinct()
        )
        nodes = sym.select(F.col("src").alias("node")).distinct()
        if vertices is not None:
            nodes = nodes.unionByName(
                vertices.toDF("node").select("node")
            ).distinct()
        labels = pins.checkpoint(
            nodes.select("node", F.col("node").alias("label"))
        )
        for _ in range(config.max_cc_iterations):
            cur = unsized(labels)
            # 1. min label among neighbors
            neigh = (
                sym.join(cur, sym["src"] == cur["node"])
                .groupBy("dst")
                .agg(F.min("label").alias("nlabel"))
                .withColumnRenamed("dst", "node")
            )
            merged = cur.join(neigh, "node", "left").select(
                "node",
                F.col("label").alias("old"),
                F.least("label", F.coalesce("nlabel", "label")).alias("label"),
            )
            # 2. pointer jump: label <- label(label)
            parent = merged.select(
                F.col("node").alias("p_node"), F.col("label").alias("p_label")
            )
            jumped = merged.join(
                parent, merged["label"] == parent["p_node"], "left"
            ).select(
                "node", "old", F.coalesce("p_label", "label").alias("label")
            )
            changed = Observation()
            new = pins.checkpoint(
                jumped.observe(
                    changed,
                    F.count_if(F.col("label") != F.col("old")).alias("n"),
                ).select("node", "label")
            )
            pins.release(labels)
            labels = new
            if changed.get["n"] == 0:
                break
        else:
            raise RuntimeError(
                f"connected_components did not converge in "
                f"{config.max_cc_iterations} iterations"
            )
        pins.release(sym)
    except BaseException:
        pins.release()
        raise
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
