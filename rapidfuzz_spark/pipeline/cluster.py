"""Transitive clustering: connected components via alternating
large-star / small-star (Kiveris et al., "Connected Components in
MapReduce and Beyond") expressed as DataFrame groupBy/join rounds.

Deterministic: ties break on lexicographic min doc_id, so entity ids are
stable across runs and parallelism levels. Each round is two shuffles;
lineage is cut with localCheckpoint per iteration (driver loop, bounded by
``max_iter`` — converges in O(log^2 n) rounds in theory, single digits in
practice). Convergence is detected by the star-forest fixpoint test (no
dst also appears as a src — a semi-join + isEmpty, not a DataFrame
diff; scales to 10^12 edges and needs no redundant confirmation round).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: m = min(neighbors+self); connect strictly larger
    neighbors to m."""
    sym = edges.select(F.col("src").alias("u"), F.col("dst").alias("v")).unionAll(
        edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    )
    m = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    # no trailing .distinct(): the only consumer is _small_star, whose
    # collect_set hash-aggregate collapses duplicates map-side in its
    # partial aggregate, so a distinct here is redundant. (Catalyst's
    # redundant-aggregate elimination already removed it — executed plans
    # verified identical — but the plan shouldn't depend on that rule.)
    return (
        sym.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges to (larger -> smaller); for each node u: connect all
    smaller neighbors and u to the minimum."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
    )
    grouped = oriented.groupBy("u").agg(F.collect_set("v").alias("vs"))
    m = grouped.select(
        "u", F.array_min("vs").alias("m"), F.explode(
            F.array_union("vs", F.array("u"))
        ).alias("n")
    )
    return (
        m.where(F.col("n") != F.col("m"))
        .select(F.col("n").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _is_star_forest(edges: DataFrame) -> bool:
    """True iff no dst also appears as a src — i.e. the edge set is a
    union of stars (every node points directly at its component root).
    Star forests are fixpoints of large-star/small-star, so this detects
    convergence one full round earlier than comparing two consecutive
    rounds' signatures (the previous scheme needed a redundant
    confirmation round of 5+ shuffles just to observe 'nothing
    changed'). One semi-join + isEmpty over the current (checkpointed)
    edges — cheap at any scale, and it shrinks the serial round count
    that Amdahl-bounds pipeline scaling."""
    return (
        edges.select("dst")
        .join(edges.select(F.col("src").alias("dst")), "dst", "semi")
        .isEmpty()
    )


def connected_components(
    edges: DataFrame, max_iter: int = 20
) -> DataFrame:
    """edges(doc_id_1, doc_id_2[, ...]) -> (doc_id, entity_id) where
    entity_id = min doc_id of the component. Raises RuntimeError when
    ``max_iter`` rounds leave a non-star forest: returning it would
    silently split components into partial clusters."""
    cur = edges.select(
        F.col("doc_id_1").alias("src"), F.col("doc_id_2").alias("dst")
    ).distinct()
    cur = cur.localCheckpoint(eager=True)
    for _ in range(max_iter):
        cur = _small_star(_large_star(cur)).localCheckpoint(eager=True)
        if _is_star_forest(cur):
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in max_iter={max_iter} "
            "rounds; raise max_iter"
        )
    # converged: edges form stars (node -> component min)
    roots = cur.select(F.col("src").alias("doc_id"), F.col("dst").alias("entity_id"))
    selfs = (
        cur.select(F.col("dst").alias("doc_id"))
        .distinct()
        .withColumn("entity_id", F.col("doc_id"))
    )
    return roots.unionByName(selfs).groupBy("doc_id").agg(
        F.min("entity_id").alias("entity_id")
    )


def assign_entities(docs: DataFrame, components: DataFrame) -> DataFrame:
    """Every doc gets an entity id; singletons are their own entity."""
    return docs.join(components, "doc_id", "left").withColumn(
        "entity_id", F.coalesce("entity_id", "doc_id")
    )


def golden_records(
    assigned: DataFrame,
    fields: list[str],
    rep_len_col: str = "text",
) -> DataFrame:
    """Per-entity golden record: deterministic survivorship over a
    clustered corpus (the canonicalization step every production MDM /
    record-linkage pipeline runs after clustering — pick one surviving
    value per attribute and a representative source row per entity).

    ``assigned``: (doc_id, entity_id, <fields...>, rep_len_col) — e.g.
    ``assign_entities`` output joined back to the source attributes.

    Rules (all deterministic, total orders — resume-safe and
    engine-replayable):
    - representative row: the member with the LONGEST ``rep_len_col``
      (most-complete-record heuristic), ties to the smallest doc_id;
    - per-field survivor: the most frequent non-NULL value in the
      cluster (mode), ties to the lexicographically smallest value;
      all-NULL fields survive as NULL.

    Scale shape: the representative is ONE max_by aggregate over a
    (length, doc_id) struct — partial-agg map-side, no window, no sort
    (a row_number window would shuffle doc-level rows into per-entity
    sorted groups; max_by ships one struct per entity per map task).
    Each field's mode is a groupBy(entity, value) count (cells, not
    docs) followed by the same max_by on (count, reversed-value) — so
    doc-level rows cross the wire once per field at cell granularity.
    All aggregates hash-partition on entity_id; with bounded cluster
    sizes nothing here skews.
    """
    # max_by over a struct orders lexicographically: (len DESC, doc_id
    # ASC) becomes max of (len, -doc_id)... doc_id may be a string, so
    # instead: max of (len, MAX) then min doc_id among members at that
    # len — two aggregates, still no window.
    base = assigned.select(
        "entity_id",
        F.col("doc_id"),
        F.length(F.col(rep_len_col)).alias("_rep_len"),
        *fields,
    )
    best_len = base.groupBy("entity_id").agg(
        F.max("_rep_len").alias("_best_len"),
        F.count("*").alias("n_members"),
    )
    rep = (
        base.join(best_len, "entity_id")
        .where(F.col("_rep_len") == F.col("_best_len"))
        .groupBy("entity_id")
        .agg(
            F.min("doc_id").alias("rep_doc_id"),
            # constant within the entity after the join; min (not first)
            # keeps the aggregate formally deterministic
            F.min("n_members").alias("n_members"),
        )
    )
    out = rep
    for f in fields:
        cells = (
            base.where(F.col(f).isNotNull())
            .groupBy("entity_id", f)
            .agg(F.count("*").alias("_cnt"))
        )
        # mode with min-value tie-break, windowless: keep cells at the
        # per-entity max count, then take the min value among them
        top = cells.groupBy("entity_id").agg(F.max("_cnt").alias("_best"))
        survivor = (
            cells.join(top, "entity_id")
            .where(F.col("_cnt") == F.col("_best"))
            .groupBy("entity_id")
            .agg(F.min(f).alias(f))
        )
        out = out.join(survivor, "entity_id", "left")
    return out.select("entity_id", "rep_doc_id", "n_members", *fields)


def cluster_stats(
    edges: DataFrame, components: DataFrame, score_col: str | None = "score"
) -> DataFrame:
    """Per-entity cluster diagnostics (the Splink-style post-clustering
    QA step): member count, internal edge count, graph density
    2E/(n(n-1)), and the min/max internal match score. Low-density
    multi-member clusters are transitive CHAINS — the over-merge
    signature reviewers triage first (A~B~C where A~C was never
    scored), while density 1.0 means every pair was independently
    confirmed.

    ``edges``: scored match edges (doc_id_1, doc_id_2[, score]) — the
    same frame CC consumed, so both endpoints share an entity by
    construction. ``components``: (doc_id, entity_id); docs without a
    component row are singletons (entity = own id) and surface with
    n_edges 0 and NULL density/scores (density of a 1-node graph is
    undefined, not 1.0).

    Scale shape: ONE broadcast-eligible hash join of edges to the
    component map (on doc_id_1 only — CC already guarantees endpoint
    agreement, re-checking doc_id_2 would be a second join for a
    tautology), then two partial-agg'd groupBys on entity_id joined at
    entity granularity. Density is one exact-integer division rounded
    to 6 dp; min/max are order statistics — everything is
    partition-order-free and engine-replayable.
    """
    docs = components.select("doc_id", "entity_id")
    score_aggs = (
        [
            F.min(F.round(F.col(score_col), 6)).alias("min_score"),
            F.max(F.round(F.col(score_col), 6)).alias("max_score"),
        ]
        if score_col is not None and score_col in edges.columns
        else [
            F.lit(None).cast("double").alias("min_score"),
            F.lit(None).cast("double").alias("max_score"),
        ]
    )
    edge_stats = (
        edges.join(
            docs.select(
                F.col("doc_id").alias("doc_id_1"), "entity_id"
            ),
            "doc_id_1",
        )
        .groupBy("entity_id")
        .agg(F.count("*").alias("n_edges"), *score_aggs)
    )
    members = docs.groupBy("entity_id").agg(F.count("*").alias("n_members"))
    out = members.join(edge_stats, "entity_id", "left")
    n, e = F.col("n_members"), F.coalesce(F.col("n_edges"), F.lit(0))
    return out.select(
        "entity_id",
        "n_members",
        e.alias("n_edges"),
        F.when(
            n >= 2,
            F.round(
                F.lit(2.0) * e / (n * (n - F.lit(1))), 6
            ),
        ).alias("density"),
        "min_score",
        "max_score",
    )


def incremental_connected_components(
    assign: DataFrame, new_edges: DataFrame, max_iter: int = 20
) -> DataFrame:
    """Fold a batch of NEW match edges into an EXISTING clustering
    without re-clustering the base — the connected-components half of
    incremental linkage (``incremental.link_increment`` scores the new
    pairs; this maintains the entity ids they imply).

    ``assign``: (doc_id, entity_id) — the maintained assignment table
    (``assign_entities`` output; entity_id = min doc_id of the cluster,
    singletons self-assigned). ``new_edges``: (doc_id_1, doc_id_2) —
    the increment's accepted match pairs; endpoints may be base docs,
    brand-new docs, or both.

    Equivalence (locked by tests): the result is bit-identical to
    ``connected_components(star(assign) UNION new_edges)`` — i.e. a
    full re-cluster of everything — because contracting each old
    cluster to its entity id preserves reachability, and the min-label
    root of the contracted component equals the min doc over the merged
    docs (old entity ids ARE their clusters' min doc ids; new docs
    enter as themselves). Rows of untouched entities pass through
    byte-identical.

    Scale shape (the maintained-LSH contract, applied to clustering):
    per-increment work is O(|batch| + |touched clusters|) regardless of
    base size. The 10^12-row ``assign`` table is scanned exactly TWICE,
    both times as the probe side of a BROADCAST join against
    batch-derived frames (the endpoint lookup, then the rep->root
    remap) — no shuffle, no aggregation, no sort ever touches the base
    lineage; the large-star/small-star rounds run only on the
    contracted batch graph. Plan-locked in tests/test_plans.py. In
    production the output MERGEs back into the Iceberg assignment
    table; here the full updated frame is returned.
    """
    ends = (
        new_edges.select(F.col("doc_id_1").alias("doc_id"))
        .unionByName(new_edges.select(F.col("doc_id_2").alias("doc_id")))
        .distinct()
    )
    # endpoint -> current representative: old docs map to their entity,
    # unseen docs represent themselves. Batch side broadcasts; the base
    # is filtered map-side (semi-ish via inner join) in ONE scan.
    amap = (
        assign.join(F.broadcast(ends), "doc_id")
        .select("doc_id", F.col("entity_id").alias("rep"))
        # cut HERE, at the batch-sized lookup result: amap feeds reps
        # and the new-doc anti-join; without the cut each consumer
        # would re-scan the 10^12-row base
        .localCheckpoint(eager=True)
    )
    reps = ends.join(amap.select("doc_id", "rep"), "doc_id", "left").withColumn(
        "rep", F.coalesce("rep", "doc_id")
    )
    r1 = reps.select(F.col("doc_id").alias("doc_id_1"), F.col("rep").alias("r1"))
    r2 = reps.select(F.col("doc_id").alias("doc_id_2"), F.col("rep").alias("r2"))
    contracted = (
        new_edges.join(F.broadcast(r1), "doc_id_1")
        .join(F.broadcast(r2), "doc_id_2")
        .where(F.col("r1") != F.col("r2"))
        .select(F.col("r1").alias("doc_id_1"), F.col("r2").alias("doc_id_2"))
    )
    roots = connected_components(contracted, max_iter=max_iter).select(
        F.col("doc_id").alias("rep"), F.col("entity_id").alias("root")
    )
    # base pass 2: remap touched entities (broadcast of O(touched) reps);
    # untouched rows keep their entity_id byte-identical via coalesce
    remap = roots.where(F.col("rep") != F.col("root"))
    updated_base = assign.join(
        F.broadcast(remap), assign["entity_id"] == remap["rep"], "left"
    ).select(
        "doc_id", F.coalesce("root", "entity_id").alias("entity_id")
    )
    # brand-new docs: rep==doc_id for docs absent from assign; their
    # final entity is the contracted root (or themselves if isolated)
    new_docs = (
        reps.join(F.broadcast(amap.select("doc_id")), "doc_id", "left_anti")
        .join(F.broadcast(roots), "rep", "left")
        .select("doc_id", F.coalesce("root", "rep").alias("entity_id"))
    )
    return updated_base.unionByName(new_docs)
