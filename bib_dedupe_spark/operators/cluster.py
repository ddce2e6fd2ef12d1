"""Clustering stage: hybrid connected components on the edge list.

Behavioral spec: /root/reference/bib_dedupe/cluster.py:78-120 (recursive
DFS over a driver-local adjacency dict, with a same-search_set expansion
constraint at :56-64). The DFS neither distributes nor survives deep
chains. Here a large edge set runs the large-star/small-star algorithm
(Kiveris et al., "Connected Components in MapReduce and Beyond") as an
iterative DataFrame job: O(log² n) rounds, each a pair of groupBy
shuffles, with per-round ``localCheckpoint`` (or persisted parquet
checkpoints for resumability) to truncate lineage. Each round costs
several Spark jobs whatever the graph's size, so once the edge set is at
or under ``LOCAL_CC_MAX_EDGES`` (checked before the first round and after
each round's checkpoint, from a count taken inside the checkpoint job)
the rest runs in ONE task: a vectorized numpy union-find over the whole
edge set (``coalesce(1).mapInPandas``, no exchange). Small graphs skip the
rounds entirely; large ones keep them until they shrink under the bound.

Output: ``DataFrame[ID, component]`` where component = min node id of the
component — matching the reference's sorted-first-ID cluster identity.

Same-search_set constraint: the reference excludes a node from a component
when its non-empty search_set is already present, in DFS visit order
(cluster.py:56-64) — an evicted node stays unvisited and later anchors a
new component that absorbs its not-yet-visited neighbors. We run
unconstrained CC first (fast path: the constraint binds only on rare
transitive same-set chains, since direct same-set pairs were already
pruned at blocking, block.py:127-149), then re-run the reference's exact
DFS — over edges in canonical ``(src, dst)``-sorted order — on ONLY the
conflicted components, each as one ``applyInPandas`` group. Parity claim:
output is identical to the reference when the reference receives its
matched pairs sorted by (ID_1, ID_2); for other row orders the reference
itself is input-order-dependent (dict/DFS insertion order).
"""
from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from bib_dedupe_spark import constants as C


def _symmetrize(edges: DataFrame) -> DataFrame:
    fwd = edges.select(F.col("src"), F.col("dst"))
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return fwd.unionByName(rev)


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every larger neighbor of u to u's minimum neighborhood node.

    Join-based (no collect_set): hub nodes with huge neighborhoods stream
    through the join instead of materializing one giant array per node.
    The join/aggregation shapes are left for AQE to pick the physical
    strategy: at small per-iteration sizes it broadcasts ``mins`` (no
    exchange on the edge side at all); pinning a shared partitioning
    statically was measured SLOWER here (1.33 → 1.76 s on the headline
    CC query) because it forces the shuffle that AQE's broadcast avoids.
    """
    nbrs = _symmetrize(edges)
    mins = nbrs.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("m")
    )
    return (
        nbrs.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Within each node's smaller-neighbor star, link all to the minimum."""
    oriented = _symmetrize(edges).filter(F.col("dst") < F.col("src"))
    mins = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    relink = (
        oriented.join(mins, "src")
        .filter(F.col("dst") != F.col("m"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    self_link = mins.select("src", F.col("m").alias("dst"))
    return relink.unionByName(self_link).distinct()


# At or under this many edges, connected components finishes in one task
# (see module docstring). Measured at the bound on a 4-core host with 2M
# random edges over 1M ids: the task's Python worker peaks at 595 MB RSS
# with 11-character string ids (the pipeline's ID type) and 348 MB with
# bigint ids, and the whole call takes 8.3 s / 3.8 s against 47 s / 31 s
# for the star rounds alone.
LOCAL_CC_MAX_EDGES = 2_000_000


def _min_label_components(
    src: np.ndarray, dst: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Union-find over an edge list → (node ids, min member id per node).

    Ids are factorized in sorted order, so the smallest code of a
    component is its smallest id. Each pass hooks the larger root of
    every still-split edge to the smaller one (``parent[x] <= x`` always
    holds, so no cycles), then pointer-jumps until every node points at
    its root.
    """
    codes, ids = pd.factorize(np.concatenate([src, dst]), sort=True)
    a, b = codes[: len(src)], codes[len(src) :]
    parent = np.arange(len(ids))
    while True:
        ra, rb = parent[a], parent[b]
        split = ra != rb
        if not split.any():
            return ids, ids[parent]
        a, b, ra, rb = a[split], b[split], ra[split], rb[split]
        np.minimum.at(parent, np.maximum(ra, rb), np.minimum(ra, rb))
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped


def _union_find_batches(batches):
    """mapInPandas body: all (src, dst) batches of the one partition →
    [ID, component]."""
    frames = list(batches)
    if not frames:
        return
    pdf = pd.concat(frames, ignore_index=True)
    ids, comp = _min_label_components(
        pdf["src"].to_numpy(), pdf["dst"].to_numpy()
    )
    yield pd.DataFrame({C.ID: ids, C.COMPONENT: comp})


def _checkpoint_counted(
    df: DataFrame, path: str | None
) -> tuple[DataFrame, int]:
    """Materialize ``df`` (parquet at ``path``, else localCheckpoint) and
    return it with its row count, observed inside the same job."""
    seen = Observation()
    df = df.observe(seen, F.count(F.lit(1)).alias("n"))
    if path is None:
        df = df.localCheckpoint()
    else:
        df.write.mode("overwrite").parquet(path)
        df = df.sparkSession.read.parquet(path)
    return df, seen.get["n"]


def _finish_locally(edges: DataFrame, checkpoint_dir: str | None) -> DataFrame:
    """Components of a small edge set in one task, keeping the id type."""
    id_type = edges.schema["src"].dataType
    schema = StructType(
        [StructField(C.ID, id_type), StructField(C.COMPONENT, id_type)]
    )
    components = edges.coalesce(1).mapInPandas(_union_find_batches, schema)
    if checkpoint_dir is None:
        return components
    path = f"{checkpoint_dir}/cc_local"
    components.write.mode("overwrite").parquet(path)
    return edges.sparkSession.read.parquet(path)


def connected_components(
    edges: DataFrame,
    max_iterations: int = 50,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Edge list (src, dst) → DataFrame[ID, component] (min-id labeling).

    Star rounds while the edge set is above ``LOCAL_CC_MAX_EDGES``, then
    one local union-find task; ids keep their type. ``checkpoint_dir``
    switches per-iteration lineage truncation from localCheckpoint to
    resumable parquet checkpoints (see lineage.py), and writes the local
    result there too.
    """
    current, n_edges = _checkpoint_counted(
        edges.select("src", "dst").filter(F.col("src") != F.col("dst")), None
    )

    for iteration in range(max_iterations):
        if n_edges <= LOCAL_CC_MAX_EDGES:
            return _finish_locally(current, checkpoint_dir)
        # converged when large-star adds nothing new: after a small-star
        # pass the graph is an out-degree≤1 forest, where this implies the
        # star fixpoint (any chain still produces a new shortcut edge).
        # The novelty flag is computed INSIDE the same job that
        # materializes the checkpoint (left join against the previous
        # edge set), so the convergence check is a scan of the
        # checkpointed partitions instead of a second join pass over
        # grown per iteration.
        if iteration > 0:
            flagged = (
                _large_star(current)
                .join(
                    current.withColumn("_old", F.lit(1)),
                    ["src", "dst"],
                    "left",
                )
                .localCheckpoint()
            )
            changed = (
                flagged.filter(F.col("_old").isNull()).limit(1).count()
            )
            if changed == 0:
                break
            grown = flagged.drop("_old")
        else:
            # iteration 0: grown has exactly ONE consumer (the small-star
            # below) and no convergence check reads it — skip the
            # checkpoint job; the small-star checkpoint materializes the
            # two-star chain in one pass with lineage depth 2
            grown = _large_star(current)
        current, n_edges = _checkpoint_counted(
            _small_star(grown),
            None
            if checkpoint_dir is None
            else f"{checkpoint_dir}/cc_iter_{iteration}",
        )

    membership = _symmetrize(current).groupBy("src").agg(
        F.min("dst").alias("root")
    )
    return membership.select(
        F.col("src").alias(C.ID),
        F.least(F.col("src"), F.col("root")).alias(C.COMPONENT),
    )


# one conflicted component is resolved inside one task; a component this
# large means the matching rules glued a giant blob together (data-quality
# failure) — fail loudly instead of grinding one executor for hours
MAX_CONFLICTED_COMPONENT_EDGES = 5_000_000


def _constrained_split_pdf(
    pdf: pd.DataFrame, max_edges: int = MAX_CONFLICTED_COMPONENT_EDGES
) -> pd.DataFrame:
    """Reference-faithful constrained DFS over one conflicted component.

    Re-implements /root/reference/bib_dedupe/cluster.py:13-64 semantics
    (recursive pre-order DFS; a node whose non-empty search_set is already
    in the component is rejected — left unvisited — and later anchors a
    fresh component) as an explicit stack, over edges in canonical
    (src, dst)-sorted order. Components are labeled by min member ID.
    """
    if len(pdf) > max_edges:
        raise ValueError(
            f"conflicted component with {len(pdf)} edges exceeds "
            f"MAX_CONFLICTED_COMPONENT_EDGES={max_edges}; "
            "a same-search_set conflict inside a component this size means "
            "the match rules over-merged — inspect it with "
            "debug.component_summaries / blocking_key_stats before raising "
            "the limit"
        )
    pdf = pdf.sort_values(["src", "dst"], kind="mergesort")
    adj: dict[str, list[str]] = {}
    eset: dict[str, str] = {}
    for src, dst, s1, s2 in zip(
        pdf["src"], pdf["dst"], pdf["sset_src"], pdf["sset_dst"]
    ):
        # adjacency in edge order, both directions (cluster.py:24-32)
        adj.setdefault(src, []).append(dst)
        adj.setdefault(dst, []).append(src)
        # last row wins, as in the reference's iterrows map (:104-106);
        # None/NaN normalized to "" (unconstrained, like falsy sets :62)
        eset[src] = s1 if isinstance(s1, str) else ""
        eset[dst] = s2 if isinstance(s2, str) else ""

    visited: set[str] = set()
    out_ids: list[str] = []
    out_comp: list[str] = []
    for start in adj:  # insertion order = first appearance in edge order
        if start in visited:
            continue
        component: list[str] = []
        comp_sets: set[str] = set()
        stack = [start]
        while stack:
            node = stack.pop()
            if node in visited:
                continue
            node_set = eset[node]
            if node_set and node_set in comp_sets:
                continue  # rejected, stays unvisited (cluster.py:58-59)
            visited.add(node)
            component.append(node)
            if node_set:
                comp_sets.add(node_set)
            # reversed push = recursive pre-order neighbor traversal
            for nb in reversed(adj[node]):
                if nb not in visited:
                    stack.append(nb)
        comp_id = min(component)
        out_ids.extend(component)
        out_comp.extend([comp_id] * len(component))
    return pd.DataFrame({C.ID: out_ids, C.COMPONENT: out_comp})


def cluster(
    matched_df: DataFrame,
    label: str = C.DUPLICATE,
    enforce_search_sets: bool = True,
    checkpoint_dir: str | None = None,
    max_conflicted_edges: int = MAX_CONFLICTED_COMPONENT_EDGES,
) -> DataFrame:
    """Labeled edge list → DataFrame[ID, component].

    Only edges carrying ``label`` participate (cluster.py:98). Components
    are identified by their minimum member ID. The same-search_set
    constraint follows the reference DFS exactly (see module docstring):
    distributed CC first, then per-component DFS resolution restricted to
    the (rare) components that actually contain a same-set conflict.
    """
    edges_full = matched_df.filter(F.col(C.DUPLICATE_LABEL) == label).select(
        F.col("ID_1").alias("src"),
        F.col("ID_2").alias("dst"),
        F.coalesce(F.col("search_set_1"), F.lit("")).alias("sset_src"),
        F.coalesce(F.col("search_set_2"), F.lit("")).alias("sset_dst"),
    )
    edges = edges_full.select("src", "dst")

    components = connected_components(edges, checkpoint_dir=checkpoint_dir)

    if not enforce_search_sets:
        return components

    # cheapest gate first: with no non-empty search_set anywhere on the
    # edges, the constraint cannot bind — skip the whole resolution plan
    if (
        edges_full.filter(
            (F.col("sset_src") != "") | (F.col("sset_dst") != "")
        )
        .limit(1)
        .count()
        == 0
    ):
        return components

    # per-node search_set from the edge endpoints (cluster.py:102-106)
    sets_df = (
        edges_full.select(F.col("src").alias(C.ID), F.col("sset_src").alias("sset"))
        .unionByName(
            edges_full.select(
                F.col("dst").alias(C.ID), F.col("sset_dst").alias("sset")
            )
        )
        .groupBy(C.ID)
        .agg(F.max("sset").alias("sset"))
    )

    labeled = components.join(sets_df, C.ID, "left").fillna({"sset": ""})
    # components where the constraint actually binds: >1 member of one set
    conflicted = (
        labeled.filter(F.col("sset") != "")
        .groupBy(C.COMPONENT, "sset")
        .count()
        .filter(F.col("count") > 1)
        .select(C.COMPONENT)
        .distinct()
        .persist()
    )

    # the common case is NO conflict at all (direct same-set pairs were
    # pruned at blocking): skip the anti-join + DFS plan entirely then
    if conflicted.limit(1).count() == 0:
        conflicted.unpersist()
        return components

    # fast path: untouched components pass through with no extra shuffle
    clean = components.join(
        F.broadcast(conflicted), C.COMPONENT, "left_anti"
    ).select(C.ID, C.COMPONENT)

    # conflicted components: ship each component's edges to one pandas
    # group and run the reference DFS (conflicts are rare by construction
    # — direct same-set pairs were pruned at blocking — so this arm sees
    # a tiny fraction of the graph; a pathologically giant conflicted
    # component is a data-quality signal either way)
    comp_of_src = components.select(
        F.col(C.ID).alias("src"), F.col(C.COMPONENT).alias("_comp")
    )
    conflicted_edges = edges_full.join(comp_of_src, "src").join(
        F.broadcast(conflicted.withColumnRenamed(C.COMPONENT, "_comp")),
        "_comp",
        "semi",
    )
    resolved = conflicted_edges.groupBy("_comp").applyInPandas(
        lambda pdf: _constrained_split_pdf(pdf, max_conflicted_edges),
        schema=f"{C.ID} string, {C.COMPONENT} string",
    )
    return clean.unionByName(resolved)
