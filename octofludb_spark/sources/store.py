"""Manifest-swap parquet triple store — Iceberg-shaped semantics
without the Iceberg runtime (no Iceberg jar is assumed; SURVEY.md §7.0).

A table is a primary snapshot plus appended data segments and
equality-delete segments, all listed in ``manifest.json``.  Every
mutation (``write``, ``merge_rows``, ``append_rows``,
``delete_rows_mor``, ``patch_rows_mor``) runs one protocol and differs
only in the rows it hands over — step 1 is ``_write_segment``, steps
2-5 are ``_edit``:

  1. segment: the rows land in a fresh ``snap-*`` directory no manifest
     lists yet.  NULL ``object_dtype`` is written as '' (the emit
     convention; a NULL would never equal '' in a presence join and
     would re-append on every merge).  Every segment of a
     subject-bucketed table that carries ``subject`` — data and
     equality deletes alike — is written partitionBy(part_bucket), with
     ``part_bucket = pmod(xxhash64(subject), n_buckets)`` and rows
     sorted by (part_bucket, predicate, subject), so point lookups and
     co-located self-joins prune by directory and predicate scans skip
     row groups.
  2. delete: an equality-delete segment is listed with ``n_segs``, the
     number of data segments listed before it (Iceberg sequence
     numbers).  It applies to the primary and those segments only, so
     a row appended later — even by the same commit — survives it.
     ``read`` matches a delete's ``part_bucket`` by plain equality, so
     a bucket filter on the data prunes the delete scan too.
  3. promote-or-append: a full snapshot replaces the primary and drops
     the table's segments and deletes; otherwise the first rows of a
     table become its primary and later rows append to its segments.
  4. stage marker: an optional ``stage`` joins ``committed_stages``, so
     a restarted job re-runs only uncommitted stages.
  5. CAS commit (``_commit``): the manifest is first written as an
     immutable ``metadata/vN.json``, then ``manifest.json`` swaps
     atomically (``os.replace``).  A commit computed against a stale
     seq raises StoreCommitConflict; a killed job leaves the previous
     manifest intact.

``read`` folds the primary, segments and deletes in commit order
(merge-on-read); ``compact`` rewrites them into one clean snapshot;
``as_of`` reads, ``read_changes`` and ``read_changelog`` walk the
retained metadata log.  Stores whose appended segments carry
``part_bucket`` as a plain data column still read: ``unionByName``
lines it up with the partition column.

Swapping this for a real Iceberg catalog is a config change: the
writer/reader interface takes DataFrames and table names only.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
import uuid
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST = "manifest.json"
TRIPLE_KEY = ["subject", "predicate", "object_lex", "object_dtype"]


def _nsafe_join(left: DataFrame, right: DataFrame, how: str,
                key: list[str] = TRIPLE_KEY) -> DataFrame:
    """Broadcast-``right`` join on ``key`` with null-safe equality
    (``<=>`` is still a hash-join key): a NULL in any key column must
    not elude a presence check or a delete.  ``part_bucket`` is never
    NULL and joins by plain equality, so a bucket filter on ``left``
    is inferred onto ``right`` and prunes its partition directories."""
    a, b = left.alias("a"), right.alias("b")
    return a.join(F.broadcast(b), [
        a[k] == b[k] if k == "part_bucket" else a[k].eqNullSafe(b[k])
        for k in key], how)


def _load(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


class StoreCommitConflict(RuntimeError):
    """Another writer committed since this mutation read the manifest.

    The Iceberg optimistic-concurrency contract: a commit is only
    valid against the snapshot it was computed from; on conflict the
    caller re-reads and re-applies (or fails loudly) — it must never
    silently clobber the other writer's commit (lost update)."""


class TripleStore:
    def __init__(self, root: str, n_buckets: int | None = None):
        self.root = root
        os.makedirs(root, exist_ok=True)
        # The bucket count is part of the on-disk layout, so the
        # committed manifest is authoritative once it exists: a reader
        # opening an existing store MUST prune with the writer's bucket
        # count or point lookups silently miss ~half the subjects.
        committed = self.manifest().get("n_buckets")
        self.n_buckets = int(committed or n_buckets or 32)

    # ---- manifest protocol ------------------------------------------------

    def _manifest_path(self) -> str:
        return os.path.join(self.root, MANIFEST)

    def manifest(self) -> dict:
        p = self._manifest_path()
        if not os.path.exists(p):
            return {"tables": {}, "committed_stages": [], "seq": 0}
        return _load(p)

    def _commit(self, m: dict) -> None:
        # Optimistic CAS (Iceberg catalog commit): `m` still carries
        # the seq it was READ at; if the on-disk manifest has moved
        # past it, a concurrent writer won the race — raise instead of
        # silently clobbering its tables/segments lists.  Checked
        # BEFORE the versioned metadata file is written so a losing
        # commit leaves no trace in the log.  (A real catalog runs
        # this compare-and-swap transactionally; the remaining
        # microsecond window here is the POSIX approximation for the
        # single-driver-per-store deployments this sandbox runs.)
        base = m.get("seq", 0)
        current = self.manifest().get("seq", 0)
        if current != base:
            raise StoreCommitConflict(
                f"manifest moved from seq {base} to {current} during "
                "this mutation; re-read and re-apply")
        m["seq"] = m.get("seq", 0) + 1
        m["n_buckets"] = self.n_buckets
        m["committed_at"] = time.time()
        # Iceberg metadata-log protocol: the full manifest is first
        # written as an immutable versioned file (metadata/vN.json),
        # THEN the current-pointer swaps atomically.  The retained log
        # is what makes time travel (read as_of=seq) and incremental
        # reads (read_changes since=seq) possible; expire_snapshots
        # trims it.
        meta_dir = os.path.join(self.root, "metadata")
        os.makedirs(meta_dir, exist_ok=True)
        with open(os.path.join(meta_dir, f"v{m['seq']:08d}.json"), "w") as f:
            json.dump(m, f, indent=1)
        tmp = self._manifest_path() + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1)
        os.replace(tmp, self._manifest_path())  # atomic swap

    def _manifest_at(self, seq: int) -> dict:
        """The manifest as of commit `seq` (time travel).  Raises if
        that version has been expired or never existed."""
        p = os.path.join(self.root, "metadata", f"v{seq:08d}.json")
        if not os.path.exists(p):
            raise ValueError(
                f"no manifest version {seq} (expired or never committed)")
        return _load(p)

    def _versions(self) -> list[str]:
        """Paths of the retained ``metadata/vN.json`` files, oldest
        first."""
        meta_dir = os.path.join(self.root, "metadata")
        if not os.path.isdir(meta_dir):
            return []
        return [os.path.join(meta_dir, n) for n in sorted(os.listdir(meta_dir))
                if n.startswith("v") and n.endswith(".json")]

    def history(self) -> list[dict]:
        """Commit log, oldest first: one row per retained manifest
        version with seq / committed_at / committed_stages / tables
        (Iceberg's snapshot-history metadata table)."""
        return [{
            "seq": m.get("seq"),
            "committed_at": m.get("committed_at"),
            "committed_stages": list(m.get("committed_stages", [])),
            "tables": sorted(m.get("tables", {})),
        } for m in map(_load, self._versions())]

    def init(self) -> dict:
        """Commit an empty manifest if none exists (the reference's
        `octofludb init` creates an empty repo, ui.py:120-160) so
        later build/merge/upload commits append to a seq-1 log."""
        if not os.path.exists(self._manifest_path()):
            self._commit(self.manifest())
        return self.manifest()

    def stage_done(self, stage: str) -> bool:
        return stage in self.manifest().get("committed_stages", [])

    # ---- the mutation protocol: one layout writer, one manifest edit -------

    def _snap_dir(self, table: str) -> str:
        snap = f"snap-{uuid.uuid4().hex}"
        return os.path.join(self.root, "data", table, snap)

    def _bucket(self, subject) -> Column:
        """The bucket of ``subject`` (a column name or a Column)."""
        return F.pmod(F.xxhash64(subject), F.lit(self.n_buckets))

    def _bucketed(self, table: str) -> bool:
        """Whether ``table``'s primary snapshot is subject-bucketed,
        read off its partition directories (no Spark job)."""
        primary = self.manifest()["tables"].get(table)
        return bool(primary) and os.path.isdir(primary) and any(
            n.startswith("part_bucket=") for n in os.listdir(primary))

    @staticmethod
    def _normalized(df: DataFrame) -> DataFrame:
        """NULL ``object_dtype`` -> '' (protocol step 1)."""
        if "object_dtype" not in df.columns:
            return df
        return df.withColumn("object_dtype",
                             F.coalesce("object_dtype", F.lit("")))

    @classmethod
    def _triple_rows(cls, df: DataFrame) -> DataFrame:
        """Distinct normalized triples of ``df``: normalized BEFORE the
        presence joins, which would never match a NULL dtype."""
        return cls._normalized(df.select(*TRIPLE_KEY)) \
            .dropDuplicates(TRIPLE_KEY)

    @staticmethod
    def _delete_keys(rows: DataFrame) -> DataFrame:
        """Equality-delete rows carry their own equality ids: the
        triple-key columns of ``rows``, else all of its columns (e.g. a
        report table keyed by Barcode)."""
        key = [c for c in TRIPLE_KEY if c in rows.columns] \
            or list(rows.columns)
        return rows.select(*key).dropDuplicates()

    def _write_segment(self, df: DataFrame, table: str,
                       bucketed: bool = False,
                       files_per_bucket: int | None = None) -> str:
        """Protocol step 1: write ``df`` into a fresh, not yet listed
        snapshot directory of ``table`` and return its path."""
        path = self._snap_dir(table)
        df = self._normalized(df)
        if not (bucketed and "subject" in df.columns):
            df.write.mode("overwrite").parquet(path)
            return path
        df = df.withColumn("part_bucket", self._bucket("subject"))
        if files_per_bucket and files_per_bucket > 1:
            # each (bucket, slot) hashes wholly into one task, so a
            # bucket directory receives at most files_per_bucket files;
            # the slot is salted over the WHOLE row so a hub subject's
            # rows spread across every slot
            slot = F.pmod(F.xxhash64(*[c for c in df.columns
                                       if c != "part_bucket"]),
                          F.lit(files_per_bucket))
            df = (df.withColumn("file_slot", slot)
                  .repartition("part_bucket", "file_slot").drop("file_slot"))
        else:
            df = df.repartition("part_bucket")
        if "predicate" in df.columns:
            # map-side sort, no extra shuffle: predicate runs give every
            # row group a tight min/max predicate stat, so predicate
            # scans (PushedFilters EqualTo(predicate)) skip the row
            # groups of every other predicate
            df = df.sortWithinPartitions("part_bucket", "predicate",
                                         "subject")
        df.write.mode("overwrite").partitionBy("part_bucket").parquet(path)
        return path

    def _edit(self, table: str, stage: str | None = None, *,
              snapshot: str | None = None, segment: str | None = None,
              delete: str | None = None) -> dict:
        """Protocol steps 2-5 on one manifest read: list ``delete``,
        install ``snapshot`` or promote-or-append ``segment``, mark
        ``stage``, CAS commit.  Returns the committed manifest."""
        m = self.manifest()
        if delete:
            m.setdefault("deletes", {}).setdefault(table, []).append({
                "path": delete,
                "n_segs": len(m.get("segments", {}).get(table, [])),
            })
        if snapshot:
            m["tables"][table] = snapshot
            m.get("segments", {}).pop(table, None)
            m.get("deletes", {}).pop(table, None)
        elif segment:
            if table in m["tables"] or m.get("segments", {}).get(table):
                m.setdefault("segments", {}).setdefault(table, []).append(
                    segment)
            else:
                m["tables"][table] = segment
        if stage and stage not in m.setdefault("committed_stages", []):
            m["committed_stages"].append(stage)
        self._commit(m)
        return m

    # ---- mutations --------------------------------------------------------

    def write(self, df: DataFrame, table: str, stage: str | None = None,
              bucket_by_subject: bool = False,
              files_per_bucket: int | None = None) -> str:
        """Write df as a NEW full snapshot of `table`, then commit.

        ``bucket_by_subject`` lays it out by subject bucket;
        ``files_per_bucket`` caps the files in each bucket directory
        (compaction's file-count control)."""
        path = self._write_segment(df, table, bucket_by_subject,
                                   files_per_bucket)
        self._edit(table, stage, snapshot=path)
        return path

    def merge_triples(self, spark: SparkSession, df: DataFrame,
                      table: str = "triples", stage: str | None = None) -> str:
        """Idempotent merge (``merge_rows``).  A merge into the live
        ``triples`` table also keeps ``triples_canonical`` in sync: the
        batch is rewritten through the precomputed alias map and
        appended there — post-build merges (enrichment rounds,
        ``merge``/``fetch tag`` CLI) stay visible to queries, which
        read the canonical view (the reference has one graph)."""
        out = self.merge_rows(spark, df, table, stage=stage)
        if table == "triples":
            # Keep the canonical view in sync — including INCREMENTAL
            # entity linking when the batch carries new owl:sameAs
            # edges into a built store (GraphDB re-infers sameAs on
            # every upload, octofludb-config.ttl:29).  Upload-only
            # stores (no build yet) mirror verbatim; a later
            # build_graph links globally.
            from octofludb_spark.ops.incremental import sync_canonical

            sync_canonical(spark, self, self._triple_rows(df))
        return out

    def merge_rows(self, spark: SparkSession, df: DataFrame, table: str,
                   stage: str | None = None) -> str:
        """Idempotent presence-checked append of triple rows into any
        triple-shaped table: only the rows NOT already present are
        written, as a new data segment, so a merge costs O(batch), not
        O(store).  The presence check prunes the store scan to the
        batch's subject buckets and broadcasts the batch (no shuffle of
        the store).  No canonical mirroring (``merge_triples`` adds it;
        the incremental build syncs the canonical view itself, with the
        UPDATED alias map)."""
        incoming = self._triple_rows(df)
        current = self.read(spark, table)
        if current is None:
            return self.write(incoming, table, stage=stage,
                              bucket_by_subject=True)
        bucketed = "part_bucket" in current.columns
        # Pin the O(batch) rows once: callers hand in plans that are
        # expensive to re-evaluate (canonicalize + rewritten unions over
        # merge-on-read reads), used by the bucket collect and both
        # presence joins.
        incoming = incoming.persist()
        try:
            if bucketed:
                buckets = [int(r[0]) for r in incoming.select(
                    self._bucket("subject")).distinct().collect()]
                current = current.where(F.col("part_bucket").isin(buckets))
            existing = _nsafe_join(current, incoming, "left_semi") \
                .select(*TRIPLE_KEY)
            new_rows = _nsafe_join(incoming, existing, "left_anti").persist()
            seg = self._write_segment(new_rows, table, bucketed) \
                if new_rows.count() else None
            new_rows.unpersist()
        finally:
            incoming.unpersist()
        m = self._edit(table, stage, segment=seg)
        return seg or m["tables"].get(table, "")

    def delete_where(self, spark: SparkSession, condition,
                     table: str = "triples", stage: str | None = None) -> str:
        """Iceberg-style DELETE WHERE via snapshot rewrite (the
        reference's delete-*.rq ops, SURVEY.md §2.9).  A delete from
        the live ``triples`` table mirrors onto ``triples_canonical``
        (every shipped delete condition is predicate/object-shaped, so
        the same Column applies to both tables)."""
        current = self.read(spark, table)
        if current is None:
            raise ValueError(f"no such table {table}")
        out = self.write(current.where(~condition), table, stage=stage,
                         bucket_by_subject=True)
        if table == "triples":
            cur_c = self.read(spark, "triples_canonical")
            if cur_c is not None:
                self.write(cur_c.where(~condition), "triples_canonical",
                           bucket_by_subject=True)
        return out

    def delete_rows(self, spark: SparkSession, rows: DataFrame,
                    table: str = "triples", stage: str | None = None) -> str:
        """SPARQL-UPDATE-style row deletion: remove every triple whose
        (subject, predicate, object_lex) matches a row (all dtypes of
        a matching lexical are the pattern's solutions, so the 3-key
        is exact DELETE WHERE semantics).  A delete from the live
        ``triples`` table mirrors onto ``triples_canonical`` through
        the alias map, same policy as delete_where."""
        key3 = ["subject", "predicate", "object_lex"]
        dels = rows.select(*key3).dropDuplicates()
        current = self.read(spark, table)
        if current is None:
            raise ValueError(f"no such table {table}")
        # recover dtypes for the matched rows BEFORE the rewrite — the
        # canonical mirror rewrites uri objects through the alias map,
        # which needs the real object_dtype
        matched = (current.join(F.broadcast(dels), key3, "left_semi")
                   .select(*TRIPLE_KEY).dropDuplicates())
        remaining = current.join(F.broadcast(dels), key3, "left_anti")
        out = self.write(remaining, table, stage=stage,
                         bucket_by_subject=True)
        if table == "triples":
            cur_c = self.read(spark, "triples_canonical")
            if cur_c is not None:
                from octofludb_spark.ops.canonicalize import canonicalize

                mapping = self.read(spark, "canonical_map")
                cdels = dels if mapping is None else canonicalize(
                    matched, mapping.select("node", "canonical"),
                ).select(*key3).dropDuplicates()
                self.write(
                    cur_c.join(F.broadcast(cdels), key3, "left_anti"),
                    "triples_canonical", bucket_by_subject=True)
        return out

    def delete_rows_mor(self, spark: SparkSession, rows: DataFrame,
                        table: str = "triples",
                        stage: str | None = None) -> str | None:
        """Merge-on-read equality delete (Iceberg v2 delete files):
        write the doomed rows as an O(deletes) delete segment — the
        data is NOT rewritten.  This is the 100 TB path for the
        incremental component-merge rewrite, where a batch touches a
        few thousand canonical triples of a petabyte store.

        Low-level: no canonical-view mirroring (callers updating the
        live ``triples`` table should use delete_rows / delete_where,
        which keep both views in sync).  The equality key is described
        at ``_delete_keys``."""
        dels = self._delete_keys(rows)
        if dels.isEmpty():
            if stage and not self.stage_done(stage):
                self._edit(table, stage)
            return None
        seg = self._write_segment(dels, table, self._bucketed(table))
        self._edit(table, stage, delete=seg)
        return seg

    def patch_rows_mor(self, spark: SparkSession, delete_keys: DataFrame,
                       new_rows: DataFrame, table: str,
                       stage: str | None = None) -> tuple[str | None, str]:
        """Single-commit merge-on-read patch: an equality delete of
        ``delete_keys`` plus a data segment of ``new_rows`` in ONE
        manifest swap — the Iceberg single-transaction DELETE+APPEND an
        incremental report refresh wants.  Two commits would leave a
        window where a reader sees the keys deleted but not yet
        replaced; the sequence rule keeps the delete off the rows it
        replaces."""
        bucketed = self._bucketed(table)
        del_seg = self._write_segment(self._delete_keys(delete_keys), table,
                                      bucketed)
        data_seg = self._write_segment(new_rows, table, bucketed)
        self._edit(table, stage, delete=del_seg, segment=data_seg)
        return del_seg, data_seg

    def append_rows(self, df: DataFrame, table: str,
                    stage: str | None = None) -> str:
        """Append rows as a new data segment with NO presence check —
        for run-keyed tables (lineage/metrics rows are per-batch facts,
        not set members; appending the same batch twice is a caller
        bug, not a merge).  O(batch): the existing table is not read."""
        seg = self._write_segment(df, table, self._bucketed(table))
        self._edit(table, stage, segment=seg)
        return seg

    def read(self, spark: SparkSession, table: str = "triples",
             as_of: int | None = None) -> DataFrame | None:
        """Current snapshot = the primary snapshot plus any appended
        merge segments (all listed in the manifest).  ``as_of=seq``
        time-travels: the read resolves against the manifest committed
        at that seq instead (snapshot dirs are immutable and retained
        until expire_snapshots, so the old view is still complete)."""
        m = self.manifest() if as_of is None else self._manifest_at(as_of)
        path = m["tables"].get(table)
        segs = [p for p in m.get("segments", {}).get(table, [])
                if os.path.exists(p)]
        dels = [d for d in m.get("deletes", {}).get(table, [])
                if os.path.exists(d["path"])]
        if path is None or not os.path.exists(path):
            if not segs:
                return None
            path, segs = segs[0], segs[1:]
            dels = [{**d, "n_segs": d["n_segs"] - 1} for d in dels]

        def _apply_delete(df: DataFrame, dpath: str) -> DataFrame:
            # merge-on-read: subtract the equality-delete rows.  The
            # delete set is O(changes) until compaction, so it
            # broadcasts; the big side never shuffles.  The delete
            # file's own columns are its equality ids (Iceberg v2).
            ddf = spark.read.parquet(dpath)
            key = [c for c in ddf.columns if c in df.columns]
            if not key:
                raise ValueError(
                    f"delete segment {dpath} shares no columns with "
                    f"table data")
            return _nsafe_join(df, ddf, "left_anti", key)

        # Fold data segments and delete segments in commit order
        # (per-root reads: partition discovery is per-snapshot).  Each
        # delete applies only to data committed before it, so a row
        # re-appended after a delete of it survives.
        df = spark.read.parquet(path)
        idx = 0
        for d in dels:
            upto = min(max(d["n_segs"], 0), len(segs))
            for p in segs[idx:upto]:
                df = df.unionByName(spark.read.parquet(p))
            idx = max(idx, upto)
            df = _apply_delete(df, d["path"])
        for p in segs[idx:]:
            df = df.unionByName(spark.read.parquet(p))
        return df

    def read_subject(self, spark: SparkSession, subject: str,
                     table: str = "triples") -> DataFrame | None:
        """Point lookup with PARTITION PRUNING: the filter compares
        part_bucket with the writer's own bucket expression over the
        literal subject; Catalyst folds that to a constant, so the scan
        prunes to one bucket directory (PartitionFilters in the plan)
        and no Spark job runs before the action."""
        df = self.read(spark, table)
        if df is None:
            return None
        hit = F.col("subject") == subject
        if "part_bucket" in df.columns:
            hit = (F.col("part_bucket") == self._bucket(F.lit(subject))) & hit
        return df.where(hit)

    def compact(self, spark: SparkSession, table: str = "triples",
                target_files: int = 1) -> str:
        """Small-file compaction via snapshot rewrite: streaming merges
        and incremental enrich rounds accrete many small parquet files
        per bucket; rewrite the current snapshot with ~target_files
        files per bucket partition (default 1 = maximal compaction; a
        100 TB store raises it so each bucket stays splittable).  The
        manifest swap keeps readers on the old snapshot until the new
        one commits."""
        current = self.read(spark, table)
        if current is None:
            raise ValueError(f"no such table {table}")
        out = current.drop("part_bucket")
        if "part_bucket" in current.columns and "subject" in out.columns:
            return self.write(out, table, bucket_by_subject=True,
                              files_per_bucket=target_files)
        return self.write(out.coalesce(target_files), table)

    def _log_since(self, table: str, since: int
                   ) -> tuple[bool, list[str], list[str]] | None:
        """Lineage of ``table`` from manifest seq ``since`` to now:
        None when the table did not exist at ``since``, else
        ``(intact, new segment paths, new delete paths)``.  ``intact``
        means no snapshot rewrite in between: the primary is the same
        and the old segment and delete lists are prefixes of the
        current ones."""
        def lists(m: dict):
            return (m["tables"].get(table),
                    list(m.get("segments", {}).get(table, [])),
                    [d["path"] for d in m.get("deletes", {}).get(table, [])])

        old_p, old_segs, old_dels = lists(
            self._manifest_at(since) if since else {"tables": {}})
        if old_p is None and not old_segs:
            return None
        cur_p, cur_segs, cur_dels = lists(self.manifest())
        intact = (cur_p == old_p and cur_segs[:len(old_segs)] == old_segs
                  and cur_dels[:len(old_dels)] == old_dels)
        return intact, cur_segs[len(old_segs):], cur_dels[len(old_dels):]

    def read_changes(self, spark: SparkSession, table: str = "triples",
                     since: int = 0,
                     allow_rewrite_diff: bool = False) -> DataFrame | None:
        """Incremental read: the rows added to `table` AFTER manifest
        seq `since` (Iceberg's incremental append scan).  When every
        commit in (since, now] was an append segment, this reads ONLY
        the new segment files — O(changes), the path a downstream
        incremental consumer (enrich round, streaming sink, export)
        wants at 100 TB.  A snapshot REWRITE in the range (delete /
        compact / full write) breaks append lineage, exactly like
        Iceberg's overwrite snapshots: by default that raises, because
        silently returning a full-table diff would hide an O(store)
        anti-join behind an "incremental" name; pass
        allow_rewrite_diff=True to compute it explicitly."""
        log = self._log_since(table, since)
        if log is None:
            # table did not exist at `since` — everything is new
            return self.read(spark, table)
        intact, segs, dels = log
        if intact and not dels:
            frames = [spark.read.parquet(p) for p in segs if os.path.exists(p)]
            return reduce(DataFrame.unionByName, frames) if frames else None
        if not allow_rewrite_diff:
            raise ValueError(
                f"table {table!r} was rewritten since seq {since} "
                "(delete/compact/overwrite) — append lineage is broken; "
                "pass allow_rewrite_diff=True for an anti-join diff")
        cur_df = self.read(spark, table)
        if cur_df is None:
            return None
        old_df = self.read(spark, table, as_of=since) if since else None
        if old_df is None:
            return cur_df
        key = [c for c in TRIPLE_KEY if c in cur_df.columns] or \
            [c for c in cur_df.columns if c != "part_bucket"]
        return cur_df.join(old_df.select(*key), key, "left_anti")

    def read_changelog(self, spark: SparkSession, table: str = "triples",
                       since: int = 0) -> DataFrame | None:
        """CDC scan (Iceberg changelog): every row INSERTED or DELETED
        in `table` after manifest seq `since`, with a `_change_type`
        column ('insert' | 'delete').  O(changes): reads only the new
        data segments and the new equality-delete files — never the
        table.  Unlike read_changes, merge-on-read deletes do NOT
        break lineage (the delete files ARE the changelog); a snapshot
        REWRITE still raises, because a rewritten table has no
        row-level changelog to read."""
        log = self._log_since(table, since)
        if log is None:
            df = self.read(spark, table)
            return None if df is None else df.withColumn(
                "_change_type", F.lit("insert"))
        intact, segs, dels = log
        if not intact:
            raise ValueError(
                f"table {table!r} was rewritten since seq {since} "
                "(compact/overwrite) — no row-level changelog exists")
        frames = [spark.read.parquet(p).withColumn("_change_type", F.lit(kind))
                  for kind, paths in (("insert", segs), ("delete", dels))
                  for p in paths if os.path.exists(p)]
        if not frames:
            return None
        return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True),
                      frames)

    def expire_snapshots(self, keep_last: int = 1) -> list[int]:
        """Expire all but the newest `keep_last` manifest versions and
        delete data dirs no retained version references (Iceberg's
        expire_snapshots maintenance).  Returns the expired seqs.
        Time travel / read_changes to an expired seq then raises."""
        versions = self._versions()
        expired = versions[:-keep_last] if keep_last > 0 else versions
        for p in expired:
            os.remove(p)
        self.vacuum()
        return [int(os.path.basename(p)[1:-5]) for p in expired]

    def _live_paths(self) -> set:
        """Every data path referenced by the CURRENT manifest or any
        retained metadata version (they back time travel)."""
        live = set()
        for m in [self.manifest(), *map(_load, self._versions())]:
            live.update(m.get("tables", {}).values())
            for segs in m.get("segments", {}).values():
                live.update(segs)
            for dels in m.get("deletes", {}).values():
                live.update(d["path"] for d in dels)
        return live

    def vacuum(self) -> None:
        """Remove snapshot dirs not referenced by the current manifest
        or any retained metadata version (primary snapshots AND
        appended merge segments are live; retained versions keep their
        dirs alive for time travel until expire_snapshots)."""
        live = self._live_paths()
        snaps = os.path.join(glob.escape(self.root), "data", "*", "*")
        for p in glob.glob(snaps):
            if p not in live:
                shutil.rmtree(p, ignore_errors=True)
