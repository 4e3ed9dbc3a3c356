"""Incremental entity linking: fold a new batch's owl:sameAs edges
into an existing canonical map, recomputing ONLY the components the
new edges touch.

Reference parity: GraphDB re-runs sameAs inference on every upload
(octofludb-config.ttl:29 — the store octofludb uploads into always
reflects new alias links immediately).  The repo's batch build gets
this via a full connected-components pass; this module is the
O(changes) path for post-build uploads, where a batch's edges touch a
few thousand components of a petabyte store.

Scale shape (every step is O(batch + affected), never O(store)):
  * touched nodes  = endpoints of the new edges (tiny)
  * affected components = old-map components containing a touched
    node — found with BROADCAST semi-joins against the old map, one
    map-side pass, no shuffle of the map
  * connected components runs over new_edges ∪ affected-map-rows
    only; the old map rows (node -> canonical) preserve each affected
    component's connectivity, so the result equals a full CC over the
    union graph (equivalence property-tested against full rebuilds)
  * representative = global lexicographic min, so the incremental
    sub-map is bit-identical to the full rebuild's entries for those
    components
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from octofludb_spark.ops.canonicalize import (CANON_COLS, alias_join,
                                              canonical_map, canonical_rows)
from octofludb_spark.ops.cc import connected_components


def incremental_link(old_map: DataFrame | None,
                     new_edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """-> (new_map, sub_map).

    ``new_map`` is the full updated canonical map (identity rows
    omitted, same contract as :func:`canonical_map`).  ``sub_map`` is
    the delta dictionary for rewriting ALREADY-canonical triples: the
    (node -> canonical) entries of the recomputed components.  Old
    canonical triples only mention representatives and never-aliased
    nodes, so rewriting them through ``sub_map`` composes with the old
    map: sub_map∘old_map == new_map on every node (the equivalence the
    incremental build relies on; property-tested).

    Materializing new_map costs O(store); the store path
    (:func:`sync_canonical`) uses :func:`incremental_link_delta` and a
    merge-on-read patch instead — this form remains for full-map
    consumers and the equivalence tests."""
    doomed_reps, sub_map = incremental_link_delta(old_map, new_edges)
    if doomed_reps is None:
        return sub_map, sub_map
    unaffected = old_map.join(F.broadcast(doomed_reps), "canonical",
                              "left_anti").select("node", "canonical")
    return unaffected.unionByName(sub_map), sub_map


def incremental_link_delta(old_map: DataFrame | None,
                           new_edges: DataFrame
                           ) -> tuple[DataFrame | None, DataFrame]:
    """-> (doomed_reps, sub_map): the merge-on-read form of
    :func:`incremental_link`.  ``doomed_reps`` is one column
    ``canonical`` — the OLD representatives of every component a new
    edge touches; deleting the map rows carrying them (an equality
    delete keyed on ``canonical``) and appending ``sub_map`` yields
    exactly ``incremental_link``'s new_map, WITHOUT materializing or
    rewriting the untouched majority of the map.  At 100 TB the
    canonical map is itself a big table; a full rewrite per upload
    batch is O(store), this patch is O(affected) — the same Iceberg v2
    pattern the triple view uses.  ``doomed_reps`` is None when there
    is no old map (first link: sub_map is the whole map)."""
    if old_map is None:
        sub_map = canonical_map(connected_components(new_edges))
        return None, sub_map
    touched = (
        new_edges.select(F.col("src").alias("node"))
        .unionByName(new_edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    as_alias = (
        old_map.join(F.broadcast(touched), "node", "left_semi")
        .select("canonical")
    )
    as_canon = (
        old_map.select("canonical")
        .join(F.broadcast(touched.withColumnRenamed("node", "canonical")),
              "canonical", "left_semi")
    )
    doomed_reps = as_alias.unionByName(as_canon).distinct()
    affected = old_map.join(F.broadcast(doomed_reps), "canonical",
                            "left_semi").select("node", "canonical")
    cc_edges = new_edges.select("src", "dst").unionByName(
        affected.select(F.col("node").alias("src"),
                        F.col("canonical").alias("dst"))
    )
    sub_map = canonical_map(connected_components(cc_edges))
    return doomed_reps, sub_map


def rewrite_through(canonical: DataFrame,
                    sub_map: DataFrame) -> tuple[DataFrame, DataFrame]:
    """-> (doomed, rewritten): the already-canonical rows whose subject
    or uri-object appears in ``sub_map`` (doomed — their component got
    merged into a new representative) and their rewritten forms.

    Both sides come from ONE map-side pass over ``canonical`` with the
    broadcast delta dictionary; the untouched majority of the store is
    never shuffled, never rewritten, never even returned."""
    touched = alias_join(canonical, sub_map).where(
        F.col("_s_canon").isNotNull() | F.col("_o_canon").isNotNull())
    return touched.select(*CANON_COLS), canonical_rows(touched)


def sync_canonical(spark, store, batch: DataFrame,
                   done=None, mark=None) -> None:
    """Bring ``canonical_map`` and ``triples_canonical`` up to date
    after ``batch`` was appended to the live ``triples`` table.

    When the store has a canonical map (a build ran) and the batch
    carries owl:sameAs edges, the touched components are incrementally
    re-linked and the canonical view repaired: rewritten forms append
    FIRST, the doomed originals are equality-deleted LAST (merge-on-
    read) — a kill in between leaves a superset view that the re-run's
    presence checks and re-derived doomed set converge.  rewritten ∩
    doomed = ∅ by construction (rewritten rows only mention
    representatives, which are never sub_map aliases), so the late
    delete cannot eat new rows.

    ``done``/``mark`` hook the store's stage markers for resumable
    batch updates (build.incremental_update); the CLI merge path runs
    without markers and relies on presence-check idempotence alone."""
    from octofludb_spark.ops.canonicalize import canonicalize
    from octofludb_spark.ops.cc import sameas_edges
    from octofludb_spark.sources.store import TRIPLE_KEY

    done = done or (lambda step: False)
    mark = mark or (lambda step: None)
    old_map = store.read(spark, "canonical_map")
    new_edges = sameas_edges(batch)
    sub_map = None
    try:
        # Without a prior build there is no map to fold into — the
        # canonical view mirrors uploads verbatim until build_graph
        # links globally (upload-then-build flow).
        if old_map is not None and not new_edges.isEmpty():
            doomed_reps, sub_map = incremental_link_delta(old_map,
                                                          new_edges)
            sub_map = sub_map.persist()
            if not done("map"):
                # O(affected) merge-on-read map patch, ONE commit: the
                # rows of touched components equality-delete by their
                # old representative and the recomputed sub-map
                # appends — the untouched majority of the map is never
                # rewritten (the old full store.write here was
                # O(store) per upload batch).  `compact` folds the
                # accreted segments when they pile up.
                store.patch_rows_mor(spark, doomed_reps, sub_map,
                                     "canonical_map", stage=mark("map"))
            mapping = store.read(spark, "canonical_map")
        else:
            mapping = old_map
        if not done("canon"):
            canon_batch = batch.select(*TRIPLE_KEY) if mapping is None \
                else canonicalize(batch, mapping.select(
                    "node", "canonical")).select(*TRIPLE_KEY)
            if sub_map is not None:
                cur_c = store.read(spark, "triples_canonical")
                if cur_c is not None:
                    doomed, rewritten = rewrite_through(cur_c, sub_map)
                    doomed = doomed.persist()
                    store.merge_rows(
                        spark, canon_batch.unionByName(rewritten),
                        "triples_canonical")
                    store.delete_rows_mor(spark, doomed,
                                          "triples_canonical",
                                          stage=mark("canon"))
                    doomed.unpersist()
                    return
            store.merge_rows(spark, canon_batch, "triples_canonical",
                             stage=mark("canon"))
    finally:
        if sub_map is not None:
            sub_map.unpersist()
