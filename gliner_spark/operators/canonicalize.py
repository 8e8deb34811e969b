"""Canonicalization: connected components over link edges → entity ids.

No reference counterpart; mandated by the north rule (GraphFrames is the
suggestion there but is not installed in this sandbox, so the
implementation is native DataFrame code — SURVEY.md §2.3).

One operator, ``connected_components``, with one selection rule: the
graphs this pipeline canonicalizes are vocabulary-bounded (distinct-
surface link pairs, near-dup doc pairs), so up to ``DRIVER_EDGES`` edges
it labels components with a driver union-find over one collected pass
of the edge list. Above that it runs ``star_components``, the
large-star/small-star iteration (Kiveris et al.), whose round count
grows with log of component size, not with diameter. Self-loops are
dropped on both paths, so the node universe does not depend on the
graph's size.

At 100 TB the edge set after linking is ≪ input size (distinct surface
pairs over threshold), so per-round shuffles are cheap relative to the
NER scan; AQE coalesces the small shuffles.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# edges collected for the driver union-find: bounded, model-sized
# driver state, the same argument as the IVF centroid collect
# (operators/similarity.py)
DRIVER_EDGES = 1_000_000


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 20,
) -> DataFrame:
    """edges(src, dst) undirected → (node, component) with component =
    min node id in the component; self-loops are dropped.

    The edge set is pinned and probed with ``limit(DRIVER_EDGES + 1)``,
    so the probe never materializes an oversized graph on the driver.
    Up to ``DRIVER_EDGES`` edges the labeling is a driver union-find,
    which skips the ~1.5 s per-round fixed cost of the iteration; past
    it ``star_components`` reads the pin, so the upstream edge plan
    runs once either way."""
    pinned = edges.where(F.col(src) != F.col(dst)).persist()
    try:
        rows = pinned.select(
            F.col(src).alias("a"), F.col(dst).alias("b")
        ).limit(DRIVER_EDGES + 1).collect()
        if len(rows) > DRIVER_EDGES:
            # its entry localCheckpoint copies the pin; safe to release
            return star_components(pinned, src, dst, max_iters)
        return _union_find_df(pinned, src, rows)
    finally:
        pinned.unpersist()


# the name perfbench/workloads.py imports
connected_components_auto = connected_components


def _union_find_df(edges: DataFrame, src: str, rows) -> DataFrame:
    """Driver path-compressed union-find over a collected edge list →
    (node, component) DataFrame with component = min member. The caller
    bounds ``rows``."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        ra, rb = find(r.a), find(r.b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = {v for r in rows for v in (r.a, r.b)}
    labels = [(n, find(n)) for n in sorted(nodes)]
    spark = edges.sparkSession
    node_type = edges.schema[src].dataType.simpleString()
    return spark.createDataFrame(
        labels, f"node {node_type}, component {node_type}"
    )


def canonical_entities(
    surfaces: DataFrame, links: DataFrame, max_iters: int = 20,
) -> DataFrame:
    """surfaces(sid, label, surface, n_mentions) × links(src, dst, sim)
    → (sid, entity_id, canonical, label, n_mentions).

    entity_id = min sid in the component; singleton surfaces (no link)
    are their own entity. canonical = the entity_id's surface string.
    """
    comp = connected_components(links, "src", "dst", max_iters)
    mapped = (
        surfaces.join(comp, surfaces.sid == comp.node, "left")
        .select(
            "sid",
            "label",
            "surface",
            "n_mentions",
            F.coalesce("component", "sid").alias("entity_id"),
        )
        # materialized ONCE (guide §2.4): ``mapped`` feeds both the
        # canonical-surface derivation and the final join — without
        # pinning, each branch re-runs the surfaces aggregation (a full
        # pass over mentions) and the component join. Surface-universe-
        # sized (vocabulary-bounded), so the pin is tiny at any corpus
        # scale.
        .localCheckpoint()
    )
    canon = mapped.where(F.col("sid") == F.col("entity_id")).select(
        F.col("entity_id").alias("ce_id"),
        F.col("surface").alias("canonical"),
    )
    return mapped.join(canon, mapped.entity_id == canon.ce_id).drop("ce_id")


def nodes_table(entities: DataFrame) -> DataFrame:
    """Aggregate per-entity node rows (FIXTURES.md §4 nodes schema)."""
    return entities.groupBy("entity_id", "canonical", "label").agg(
        F.sum("n_mentions").alias("n_mentions"),
        F.count(F.lit(1)).alias("n_surfaces"),
    )


def _symmetric(edges: DataFrame, src: str, dst: str) -> DataFrame:
    return (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    # neighborhoods are over the UNDIRECTED graph: symmetrize first (the
    # previous small-star emits directed edges), then connect every
    # strictly-larger neighbor to the neighborhood minimum
    sym = (
        edges.select("u", "v")
        .union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    m = sym.groupBy("u").agg(F.min("v").alias("mn"))
    m = m.select("u", F.least("mn", F.col("u")).alias("m"))
    return (
        sym.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    # orient small→large, then connect each ≤-neighbor to the minimum
    e = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).distinct()
    m = e.groupBy("u").agg(F.min("v").alias("mn"))
    m = m.select("u", F.least("mn", F.col("u")).alias("m"))
    j = e.join(m, "u")
    out = j.select(F.col("v").alias("u"), F.col("m").alias("v")).union(
        j.select(F.col("u"), F.col("m").alias("v"))
    )
    return out.where(F.col("u") != F.col("v")).distinct()


def star_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 20,
) -> DataFrame:
    """Large-star/small-star connected components (the O(log n)-round
    map-reduce CC of Kiveris et al., re-expressed as DataFrame joins):
    the distributed path of ``connected_components``, for graphs past
    ``DRIVER_EDGES``. Each round costs ~10 small shuffle stages plus a
    localCheckpoint. If ``max_iters`` rounds pass without reaching the
    fixpoint a ``RuntimeWarning`` is emitted: unconverged labels can
    split one component into several.

    Returns (node, component) with component = min node id; self-loops
    are dropped.
    """
    def _sig(df: DataFrame) -> tuple:
        # one cheap aggregation job over the just-checkpointed
        # partitions: (count, order-insensitive xxhash64 content sum)
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal accumulator: ANSI mode errors on long overflow
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).first()
        return r.n, r.h

    entry = _symmetric(edges, src, dst).localCheckpoint()  # eager
    e = entry
    sig = _sig(e)
    for _ in range(max_iters):
        e2 = _small_star(_large_star(e)).localCheckpoint()
        sig2 = _sig(e2)
        # fixpoint check, cheapest-first: the per-round probe is ONE
        # no-shuffle aggregation — equal multisets have equal (count,
        # hash-sum), so a signature change proves progress without any
        # join. Only a signature MATCH runs the exact exceptAll
        # confirmation (for equal sizes e2 ⊆ e implies e ⊆ e2, one
        # direction suffices), i.e. the heavy join executes once per
        # call, at the true fixpoint. A hash-sum collision merely costs
        # that one extra exceptAll; it cannot terminate the loop early.
        if sig2 == sig and e2.exceptAll(e).limit(1).count() == 0:
            e = e2
            break
        e, sig = e2, sig2
    else:
        warnings.warn(
            f"star_components: not converged after {max_iters} rounds; "
            "labels may split one component into several. Raise "
            "max_iters.",
            RuntimeWarning,
            stacklevel=2,
        )
    # e is now (almost-)star-shaped: node → its component min, plus the
    # roots themselves; resolve one more min per node for safety
    comp = e.groupBy("u").agg(F.min("v").alias("component"))
    # node universe from the ENTRY checkpoint — re-symmetrizing
    # ``edges`` here would re-run the whole upstream pair join
    nodes = entry.select(F.col("u")).distinct()
    return (
        nodes.join(comp, "u", "left")
        .select(
            F.col("u").alias("node"),
            F.least(F.coalesce("component", "u"), F.col("u")).alias(
                "component"
            ),
        )
    )
