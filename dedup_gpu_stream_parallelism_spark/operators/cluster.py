"""Connected components over confirmed duplicate pairs → cluster ids.

The reference links every duplicate chunk to its representative through the
shared hash-table entry (src/dedupdef.h:170, src/encoder.cpp:516) — a
one-hop star graph because equality is transitive.  Near-duplicate
similarity is NOT transitive, so the graft's analog is true connected
components: ``cluster_id = min(doc_id)`` over the component of confirmed
pairs (SURVEY.md §7.1).

Implementation: iterative DataFrame min-label propagation with pointer
jumping, ``localCheckpoint()`` per frontier to cut lineage (the north rule's
checkpointed frontier).  Neighbor propagation alone converges in O(diameter)
rounds; the pointer-jumping join (label := label-of-label) squares progress
each round, giving O(log diameter) — the alternating-algorithm trick from
Kiveris et al., "Connected Components in MapReduce and Beyond" (SoCC'14).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dedup_gpu_stream_parallelism_spark.session import local_frame


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 20,
) -> DataFrame:
    """(doc_id, cluster_id) for every vertex; singletons cluster to themselves.

    ``vertices``: one column ``id_col``.  ``edges``: (a_id, b_id).
    """
    spark = vertices.sparkSession
    labels = vertices.select(
        F.col(id_col).alias("v"), F.col(id_col).alias("lab")
    ).localCheckpoint()
    sym = (
        edges.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
        .unionByName(
            edges.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst"))
        )
        .distinct()
        .localCheckpoint()
    )

    for _ in range(max_iterations):
        # neighbor-min: every vertex receives its neighbors' current labels.
        # The vertex's own row is tagged with its previous label so the
        # convergence check rides along in the SAME aggregation — no second
        # join-with-old-labels pass.
        msgs = sym.join(labels, sym.src == labels.v).select(
            F.col("dst").alias("v"), F.col("lab"),
            F.lit(None).cast("bigint").alias("_old"),
        )
        merged = (
            msgs.unionByName(
                labels.select("v", "lab", F.col("lab").alias("_old"))
            )
            .groupBy("v")
            .agg(F.min("lab").alias("lab"), F.max("_old").alias("old_lab"))
        )
        # pointer jumping: lab := lab(lab)
        l2 = merged.select(F.col("v").alias("p"), F.col("lab").alias("plab"))
        jumped = F.coalesce("plab", "lab")
        new_labels = (
            merged.join(l2, merged.lab == l2.p, "left")
            .select(
                "v",
                jumped.alias("lab"),
                (jumped != F.col("old_lab")).cast("int").alias("chg"),
            )
            # LAZY checkpoint: the aggregation below is the round's ONE
            # action — it materializes the checkpoint (cutting lineage, as
            # before) and returns the changed count in the same job.
            .localCheckpoint(eager=False)
        )
        changed = new_labels.agg(F.sum("chg")).first()[0]
        labels = new_labels.select("v", "lab")
        if not changed:
            break

    return labels.select(F.col("v").alias(id_col), F.col("lab").alias("cluster_id"))


def _driver_union_find(edge_rows) -> list[tuple[int, int]]:
    """In-memory union-find over collected edges (small-graph fast path)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return [(v, find(v)) for v in list(parent)]


def clusters_from_pairs(
    docs: DataFrame,
    confirmed_pairs: DataFrame,
    id_col: str = "doc_id",
    driver_max_edges: int = 1_000_000,
) -> DataFrame:
    """Every doc in exactly one cluster (round-trip invariant, FIXTURES.md §5).

    The duplicate graph is SPARSE (most docs are singletons), so the
    iterative CC runs only over edge-touched vertices and singletons join
    back with cluster_id = their own id — at corpus scale this shrinks
    every CC shuffle from |corpus| to |dup subgraph| rows.

    Adaptive strategy (the same runtime-stats trick AQE uses for join
    selection): when the edge set fits comfortably on the driver
    (< ``driver_max_edges``), a collected union-find replaces 3-4 rounds of
    distributed label propagation — each round costs several scheduled jobs,
    which dominates wall time on small dup graphs.  Past the threshold the
    checkpointed iterative path (``connected_components``) runs unchanged;
    that is the 10^12-file path.
    """
    spark = docs.sparkSession
    edges = confirmed_pairs.select("a_id", "b_id").localCheckpoint()
    n_edges = edges.count()

    if n_edges <= driver_max_edges:
        labels = _driver_union_find(
            [(r[0], r[1]) for r in edges.collect()]
        )
        cc = local_frame(spark, labels, f"{id_col} long, cluster_id long")
    else:
        touched = (
            edges.select(F.col("a_id").alias(id_col))
            .unionByName(edges.select(F.col("b_id").alias(id_col)))
            .distinct()
        )
        cc = connected_components(touched, edges, id_col=id_col)

    # ``docs`` ids are unique by contract (run_pipeline requires a unique
    # integer id; the embedding index likewise) — a defensive distinct()
    # here would cost a full id exchange + aggregation per call at ANY
    # corpus size for inputs that are already keys.
    return (
        docs.select(F.col(id_col))
        .join(F.broadcast(cc) if n_edges <= driver_max_edges else cc, id_col, "left")
        .select(
            id_col, F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id")
        )
    )
