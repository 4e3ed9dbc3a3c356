"""End-to-end graph build: extract -> dedup -> link -> canonicalize ->
materialize, with each stage committed to the manifest-swap store so a
killed job resumes from the last committed snapshot (north_rule).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from octofludb_spark.extract.pipeline import (
    dedup_triples,
    extract_triples,
    lineage_metrics,
)
from octofludb_spark.ops.canonicalize import canonical_map, canonicalize
from octofludb_spark.ops.cc import connected_components, sameas_edges
from octofludb_spark.sources.store import TripleStore

STAGES = ("extract", "link", "canon")


def build_graph(
    spark: SparkSession,
    source: DataFrame,
    store_root: str,
    tag: Optional[str] = None,
    run_ts: Optional[str] = None,
    n_buckets: int = 32,
) -> TripleStore:
    store = TripleStore(store_root, n_buckets=n_buckets)

    if not store.stage_done("extract"):
        raw = extract_triples(source, tag=tag, run_ts=run_ts)
        # cache the raw extraction once; both dedup and metrics read it
        raw.persist()
        try:
            store.write(lineage_metrics(raw), "lineage_metrics")
            # static schema/geography triples incl. the locatedIn
            # transitive closure (ui.py:396-402 analog)
            from octofludb_spark.plans.static_graph import static_graph

            triples = dedup_triples(raw).unionByName(static_graph(spark))
            store.write(triples, "triples", stage="extract",
                        bucket_by_subject=True)
        finally:
            raw.unpersist()

    if not store.stage_done("link"):
        triples = store.read(spark, "triples")
        comps = connected_components(sameas_edges(triples))
        store.write(canonical_map(comps), "canonical_map", stage="link")

    if not store.stage_done("canon"):
        triples = store.read(spark, "triples")
        mapping = store.read(spark, "canonical_map")
        canon = canonicalize(triples, mapping.select("node", "canonical"))
        store.write(canon, "triples_canonical", stage="canon",
                    bucket_by_subject=True)

    return store


def incremental_update(
    spark: SparkSession,
    source: DataFrame,
    store_root: str,
    tag: Optional[str] = None,
    run_ts: Optional[str] = None,
    batch_id: Optional[str] = None,
) -> TripleStore:
    """Fold a NEW batch of source records into an already-built store
    at O(batch + affected) cost — never O(store):

      1. extract + lineage append (map-side, no store read at all)
      2. idempotent triple append (presence semi-join pruned to the
         batch's subject buckets)
      3. incremental entity linking (ops/incremental.py): only the
         components touched by the batch's sameAs edges recompute
      4. canonical-view repair: rows of merged components are
         equality-DELETED (merge-on-read, O(touched)) and re-appended
         rewritten; the batch itself joins through the updated map

    Equivalence contract (property-tested): after any sequence of
    incremental updates, ``triples_canonical`` equals what a full
    ``build_graph`` over the concatenated corpus would produce.

    Each step commits with a ``incr:{batch_id}:{step}`` stage marker,
    so a killed update resumes at the first uncommitted step — pass a
    stable ``batch_id`` to get exactly-once semantics across retries
    (defaults to tag or run_ts when present).

    Requires a built store (falls back to ``build_graph`` when the
    extract stage never ran)."""
    from octofludb_spark.ops.incremental import sync_canonical

    store = TripleStore(store_root)
    if not store.stage_done("extract"):
        return build_graph(spark, source, store_root, tag=tag,
                           run_ts=run_ts)
    bid = batch_id or tag or run_ts or "adhoc"

    def done(step: str) -> bool:
        return store.stage_done(f"incr:{bid}:{step}")

    def mark(step: str) -> str:
        return f"incr:{bid}:{step}"

    raw = extract_triples(source, tag=tag, run_ts=run_ts)
    batch = dedup_triples(raw).persist()
    try:
        if not done("lineage"):
            store.append_rows(lineage_metrics(raw), "lineage_metrics",
                              stage=mark("lineage"))
        if not done("triples"):
            store.merge_rows(spark, batch, "triples",
                             stage=mark("triples"))
        sync_canonical(spark, store, batch, done=done, mark=mark)
    finally:
        batch.unpersist()
    return store
