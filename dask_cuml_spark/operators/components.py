"""Distributed connected components over an edge DataFrame.

Extracted from dbscan.py (r11) so the same staged strategy serves both
DBSCAN clustering and near-dup cluster canonicalization (q135 — the
SlimPajama/The Pile posture: near-dup PAIRS under-delete A-B, B-C
chains; components pick one canonical doc per duplicate cluster).

Strategy ladder (same measurements as dbscan's r2/r7/r8 history):

1. |E| <= union_find_max_edges → driver union-find. O(model-state)
   collect, like a rank-0 solve; min-root union makes the component
   label the min member id.
2. larger → partition-local union-find PRE-CONTRACTION (Kiveris et al.
   2014 "Connected Components in MapReduce and Beyond"): each partition
   contracts its own edges to (id → local min-root); the contracted
   graph's edges are the cross-partition root links. Contraction
   preserves components, and because union keeps the MIN id as root and
   every root is a member, final labels are bit-identical regardless of
   edge partitioning. The contracted remainder is solved by the gated
   driver union-find if it now fits, else by pointer-jumping label
   propagation (label <- label(label) doubles the horizon per round:
   O(log diameter) rounds, per-round localCheckpoint so lineage never
   recompiles — untruncated lineage measured 105 s on a 16k-edge graph).

Labels: every id that appears in ``edges`` gets (id, label) with label
= min member id of its component. Vertices with no edges are the
CALLER's to union in as singletons (they vastly outnumber edges in
sparse graphs and need no graph work).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dask_cuml_spark.functions.vector import rows_lit


def connected_components(
    edges: DataFrame,
    union_find_max_edges: int = 100_000,
    max_rounds: int = 20,
) -> DataFrame:
    """(id, label) for every id appearing in edges' (id_a, id_b).

    ``edges`` is treated as undirected; duplicates and self-loops are
    harmless. label = min member id of the component (deterministic).
    """
    from dask_cuml_spark.plans.cost import persist_for_reuse

    spark = edges.sparkSession
    id_t = dict(edges.dtypes)["id_a"]
    # Persist the caller's edge pipeline before the strategy-count: the
    # previous count()-then-collect() (and, on the distributed path,
    # count → local_map → all_roots) evaluated it up to three times —
    # for q135 that pipeline is the whole uncached LSH verify stage
    # (r16; guide §7.2 duplicated subtrees / §5 reuse). A first cut used
    # limit(max+1).collect() to decide-and-feed in one pass, but
    # CollectLimitExec's incremental partition scale-up re-ran the
    # upstream joins per attempt — measured q120 4.3 s → 19.8 s. The
    # persisted count is one full evaluation; everything after is a
    # block read. (Edges are 2 ids/row — narrow — and the distributed
    # path previously re-derived them from lineage per consumer anyway.)
    edges = persist_for_reuse(edges)
    n_edges = edges.count()
    if n_edges == 0:
        edges.unpersist()
        return rows_lit(spark, [], f"id {id_t}, label {id_t}")
    if n_edges <= union_find_max_edges:
        parent: dict = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        probe = edges.collect()
        edges.unpersist()
        for r in probe:
            ra, rb = find(r["id_a"]), find(r["id_b"])
            if ra != rb:
                # min-root union → component id = min member id
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        # only ids that APPEAR in edges live in `parent` — the driver
        # never materializes the caller's full vertex set
        label_rows = [(i, find(i)) for i in list(parent)]
        return rows_lit(spark, label_rows, f"id {id_t}, label {id_t}")

    # Partition-local union-find PRE-CONTRACTION (r8, dbscan verdict
    # item 3: the pointer-jump loop was 31 s of q120's 38 s at 100×
    # because every round joins the FULL edge set).
    import pandas as pd

    def uf_kernel(it):
        parent: dict = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for pdf in it:
            for a, b in zip(pdf["id_a"], pdf["id_b"]):
                ra, rb = find(a), find(b)
                if ra != rb:
                    lo, hi = (ra, rb) if ra < rb else (rb, ra)
                    parent[hi] = lo
        if parent:
            ids = list(parent)
            yield pd.DataFrame(
                {"id": ids, "root": [find(x) for x in ids]}
            )

    # (id, root) per partition — an id split across partitions yields
    # one row per partition it appears in
    local_map = edges.mapInPandas(uf_kernel, f"id {id_t}, root {id_t}")
    id_roots = (
        local_map.groupBy("id")
        .agg(
            F.min("root").alias("mroot"),
            F.collect_set("root").alias("_roots"),
        )
        .localCheckpoint()
    )
    cedges = (
        id_roots.select(
            F.col("mroot").alias("id_a"),
            F.explode("_roots").alias("id_b"),
        )
        .filter(F.col("id_a") != F.col("id_b"))
        .distinct()
    )
    cedges = cedges.unionByName(
        cedges.select(
            F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b")
        )
    ).localCheckpoint()
    # id_roots is checkpointed; every edge consumer below derives from
    # it, so the persisted edge blocks can go now. all_roots reads the
    # checkpoint too (every local root appears in some _roots set) —
    # previously it re-evaluated local_map per consumer (r16).
    edges.unpersist()
    all_roots = id_roots.select(
        F.explode("_roots").alias("root")
    ).distinct()
    n_c = cedges.count() // 2  # symmetrized above
    if n_c <= union_find_max_edges:
        parent: dict = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in cedges.filter(F.col("id_a") < F.col("id_b")).collect():
            ra, rb = find(r["id_a"]), find(r["id_b"])
            if ra != rb:
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        cc_rows = [(i, find(i)) for i in list(parent)]
        linked = rows_lit(spark, cc_rows, f"root {id_t}, label {id_t}")
        root_labels = linked.unionByName(
            all_roots.join(
                linked.select("root"), "root", "left_anti"
            ).withColumn("label", F.col("root"))
        )
    else:
        root_labels = all_roots.select(
            F.col("root").alias("id")
        ).withColumn("label", F.col("id"))
        for _ in range(max_rounds):
            neighbor_min = (
                cedges.join(
                    root_labels.select(
                        F.col("id").alias("id_b"),
                        F.col("label").alias("nl"),
                    ),
                    "id_b",
                )
                .groupBy("id_a")
                .agg(F.min("nl").alias("min_nl"))
            )
            stepped = root_labels.join(
                neighbor_min,
                root_labels.id == neighbor_min.id_a,
                "left",
            ).select(
                "id",
                F.least(
                    F.col("label"),
                    F.coalesce("min_nl", F.col("label")),
                ).alias("label"),
            )
            # pointer-jumping shortcut (r7): label ← label(label).
            # Labels only ever decrease and label(u) ≤ u, so the
            # composition is monotone and safe; it doubles the
            # propagation horizon per round — O(log diameter) rounds
            # total instead of O(diameter).
            ptr = stepped.select(
                F.col("id").alias("_pid"),
                F.col("label").alias("_plab"),
            )
            new_labels = (
                stepped.join(ptr, stepped.label == ptr._pid, "left")
                .select(
                    "id",
                    F.coalesce("_plab", "label").alias("label"),
                )
                .localCheckpoint()
            )
            changed = (
                new_labels.alias("n")
                .join(root_labels.alias("o"), "id")
                .filter(F.col("n.label") != F.col("o.label"))
                .count()
            )
            root_labels = new_labels
            if changed == 0:
                break
        root_labels = root_labels.select(
            F.col("id").alias("root"), "label"
        )
    return id_roots.join(
        root_labels, id_roots.mroot == root_labels.root
    ).select("id", "label")
