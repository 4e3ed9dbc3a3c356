"""The benchmark's two workloads, their output checks and metrics.

Every workload runs one closed loop from one client on ``local[N]``:

* ``build``  — fresh-store ``build.build_graph`` over a seeded source
  table in all seven formats, after an identical untimed warm-up build;
  point lookups into each built store.
* ``ingest`` — a restored base store takes small batches, each through
  ``build.incremental_update`` then
  ``plans.incremental_reports.masterlist_refresh``; then one pass over
  the report mix (the ``cli`` query table's masterlist, subtypes,
  constellations, segments and h1-swine, plus SPARQL SELECTs through
  ``plans.sparql.sparql_to_df``) and point lookups are
  served from the live store, and ``TripleStore.compact`` folds the
  batch's segments.

End-to-end metrics are the same names on every workload (see
README.md for what each means per workload); per-layer metrics come
from a traced run and read 0 where a layer does not run.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
import time
import traceback

import numpy as np

from perfbench import envinfo, stats
from perfbench.gen import Corpus, generate
from perfbench.trace import NullRecorder, Recorder

# input sizes, fixed per benchmark version
BUILD_DOCS = 400         # documents per build
BASE_DOCS = 60           # documents in the ingest base store
ISOLATES_PER_DOC = 2.5   # isolate range = docs x this
BATCH_DOCS = 25          # documents per ingest batch
BATCH_ISOLATES = 40      # fresh isolates each batch may mention
OVERLAP = 0.5            # share of batch mentions of base isolates
LOOKUPS_PER_OP = 12      # after each build / ingest batch
WARM_LOOKUPS = 3         # untimed, in set-up

# report mix: (metric key, cli query name, args)
REPORTS = [
    ("masterlist", "masterlist", []),
    ("subtypes", "subtypes", []),
    ("constellations", "constellations", []),
    ("segments", "segments", []),
    ("h1_swine", "h1-swine", []),
]
_F = "PREFIX f: <https://flu-crew.org/term/>\n"
SPARQL = [
    _F + "SELECT ?subtype (COUNT(?s) AS ?n) WHERE { ?s f:strain_name ?name . "
         "?s f:subtype ?subtype } GROUP BY ?subtype",
    _F + "SELECT ?barcode ?gb WHERE { ?s f:barcode ?barcode . "
         "?s f:has_segment ?g . ?g f:genbank_id ?gb }",
    _F + "SELECT ?s ?host ?date WHERE { ?s f:strain_name ?n . "
         "OPTIONAL { ?s f:host ?host } OPTIONAL { ?s f:date ?date } }",
]


# ---- digests ----------------------------------------------------------------

def _norm(v):
    if isinstance(v, (list, tuple)):
        # arrays are sets in the report contract; order is not checked
        return tuple(sorted((_norm(x) for x in v), key=repr))
    if hasattr(v, "asDict"):
        return tuple(_norm(x) for x in v)
    return v


def rows_digest(rows) -> str:
    """Order-independent digest of collected rows."""
    hs = sorted(hashlib.blake2b(repr(_norm(tuple(r))).encode(),
                                digest_size=8).hexdigest() for r in rows)
    return hashlib.sha256("".join(hs).encode()).hexdigest()


def table_digest(df) -> tuple[int, int]:
    """(row count, order-independent content hash) computed in Spark."""
    from pyspark.sql import functions as F

    cols = sorted(c for c in df.columns if c != "part_bucket")
    row = df.select(
        F.count("*").alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"] or 0)


# ---- the run ----------------------------------------------------------------

class Bench:
    """One benchmark run: session, work directory, recorder, counters."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool, work: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        # peak RSS over set-up and the loop; stopped when the loop ends,
        # so the output checks after it do not count
        self.rss = envinfo.RssSampler()
        self.attempted = 0
        self.failed = 0
        self.op_times: list[float] = []
        self.lookup_times: list[float] = []
        self.setup: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.op_spans: list[int] = []
        self.spark = None
        self.rec = NullRecorder()
        self.patches = None
        self.py_timer = None
        self.setup_end = self.py_before = self.py_after = 0.0
        self.n_ops = 0
        self.t0 = time.time()

    # -- bookkeeping --
    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED: {what}", file=sys.stderr)
        return ok

    def attempt(self, what: str, fn):
        """Run one operation; an exception counts as a failure."""
        self.attempted += 1
        try:
            return fn()
        except Exception:
            self.failed += 1
            print(f"OPERATION FAILED: {what}\n{traceback.format_exc()}",
                  file=sys.stderr)
            return None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # -- session --
    def start_session(self, jvm_opts: str) -> None:
        t = time.time()
        from octofludb_spark.session import get_spark

        extra = {
            "spark.driver.extraJavaOptions": jvm_opts,
            "spark.sql.warehouse.dir": os.path.abspath(self.path("warehouse")),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            os.makedirs(self.path("eventlog"), exist_ok=True)
            extra["spark.eventLog.enabled"] = "true"
            extra["spark.eventLog.compress"] = "false"
            extra["spark.eventLog.rolling.enabled"] = "false"
            extra["spark.eventLog.dir"] = \
                "file://" + os.path.abspath(self.path("eventlog"))
        self.log("starting session")
        self.spark = get_spark("perfbench", extra=extra)
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.trace:
            from perfbench import trace

            self.rec = Recorder(self.spark.sparkContext)
            self.py_timer = self.spark.sparkContext.accumulator(0.0)
            self.patches = trace.install(self.rec, self.py_timer)
        self.setup["setup_session_s"] = time.time() - t

    def source(self, corpus: Corpus, count: int, name: str):
        path = os.path.abspath(self.path("input", f"{name}.parquet"))
        os.makedirs(os.path.dirname(path), exist_ok=True)
        generate(corpus, 0, count).to_parquet(path, index=False)
        return self.spark.read.parquet(path)

    def timed_op(self, fn):
        """One timed unit of work in its own op span."""
        self.rec.op = self.n_ops
        self.n_ops += 1
        t = time.time()
        with self.rec.span("op") as s:
            out = fn()
        self.op_times.append(time.time() - t)
        if s is not None:
            self.op_spans.append(s.id)
        self.rec.op = None
        return out

    def serve(self, fn):
        """The report pass serving the last unit of work; its spans
        count towards that unit's op."""
        self.rec.op = self.n_ops - 1
        with self.rec.span("reports"):
            out = fn()
        self.rec.op = None
        return out

    def log(self, msg: str) -> None:
        print(f"[perfbench {self.workload} {time.time() - self.t0:.1f}s] "
              f"{msg}", file=sys.stderr, flush=True)

    def loop_started(self) -> None:
        self.log(f"setup done: {self.setup}")
        self.rec.counters.clear()
        self.setup_end = time.time()
        self.py_before = self.py_timer.value if self.py_timer else 0.0

    def loop_ended(self) -> None:
        self.rss.stop()
        self.py_after = self.py_timer.value if self.py_timer else 0.0
        self.log(f"loop done: ops {[round(x, 2) for x in self.op_times]}")

    # -- lookups --
    def pick_subjects(self, store, n: int, salt: int) -> list[str]:
        from pyspark.sql import functions as F

        subs = sorted(r[0] for r in store.read(self.spark, "triples_canonical")
                      .select("subject").distinct()
                      .where(F.col("subject").startswith("https://"))
                      .collect())
        r = np.random.default_rng([self.seed, salt])
        return [subs[i] for i in r.choice(len(subs), size=min(n, len(subs)),
                                          replace=False)]

    def lookup_truth(self, store, subjects: list[str]) -> dict[str, str]:
        """Expected lookup results from ONE full-table filter."""
        from pyspark.sql import functions as F

        from octofludb_spark.sources.store import TRIPLE_KEY

        rows = (store.read(self.spark, "triples_canonical")
                .where(F.col("subject").isin(subjects))
                .select(*TRIPLE_KEY).collect())
        by: dict[str, list] = {s: [] for s in subjects}
        for r in rows:
            by[r["subject"]].append(r)
        return {s: rows_digest(v) for s, v in by.items()}

    def warm_lookups(self, store, subjects: list[str]) -> None:
        """Untimed lookups, so that the timed ones do not pay for the
        lookup path's first use in this JVM."""
        for s in subjects:
            store.read_subject(self.spark, s, "triples_canonical").collect()

    def lookups(self, store, subjects: list[str], truth: dict[str, str]):
        from octofludb_spark.sources.store import TRIPLE_KEY

        for s in subjects:
            t = time.time()
            with self.rec.span("lookup"):
                rows = self.attempt(
                    f"lookup {s}",
                    lambda: store.read_subject(self.spark, s,
                                               "triples_canonical")
                    .select(*TRIPLE_KEY).collect())
            if rows is None:
                continue
            self.lookup_times.append(time.time() - t)
            self.check(rows_digest(rows) == truth[s], f"lookup {s}")

    # -- teardown --
    def finish_trace(self) -> None:
        if self.patches is not None:
            self.patches.undo()

    def stop(self) -> None:
        if self.spark is not None:
            self.log("stopping")
            envinfo.stop_spark(self.spark)
            self.spark = None
            self.log("stopped")


def _dir_size(root: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def _corpus(b: Bench, docs: int, stream: str) -> Corpus:
    return Corpus(seed=b.seed, stream=stream,
                  isolates=(0, int(docs * ISOLATES_PER_DOC)))


def _store_checks(b: Bench, store) -> None:
    """Built-store invariants: no sha violations and no alias node left
    as a subject of the canonical view."""
    from pyspark.sql import functions as F

    spark = b.spark
    lin = store.read(spark, "lineage_metrics")
    bad = lin.agg(F.sum("sha_violations")).first()[0] or 0
    b.check(bad == 0, f"{bad} sha violations")
    cmap = store.read(spark, "canonical_map")
    aliases = cmap.where(F.col("node") != F.col("canonical")) \
        .select(F.col("node").alias("subject"))
    left = store.read(spark, "triples_canonical") \
        .join(aliases, "subject", "left_semi").count()
    b.check(left == 0, f"{left} canonical triples keep an alias subject")


def report_pass(b: Bench, store) -> dict[str, str]:
    """One pass over the report mix on ``store``, every result
    collected; -> result digest per report."""
    from octofludb_spark.cli import _queries
    from octofludb_spark.plans import sparql
    from octofludb_spark.plans.views import GraphViews

    spark = b.spark
    queries = _queries()
    digests = {}
    with b.rec.span("store_open"):
        canon = store.read(spark, "triples_canonical")
        raw = store.read(spark, "triples")
        views = GraphViews(canon)
    for key, name, args in REPORTS:
        with b.rec.span(f"report:{key}"):
            with b.rec.span("plan"):
                df = queries[name](views, args)
            digests[key] = rows_digest(df.collect())
    for i, text in enumerate(SPARQL):
        with b.rec.span("report:sparql"):
            with b.rec.span("plan"):
                df = sparql.sparql_to_df(spark, text, raw,
                                         triples_canonical=canon)
            digests[f"sparql{i}"] = rows_digest(df.collect())
    return digests


# ---- build ------------------------------------------------------------------

def run_build(b: Bench) -> float:
    """-> triples committed per second of build_graph."""
    from octofludb_spark import build
    from pyspark.sql import functions as F

    spark = b.spark
    t = time.time()
    src = b.source(_corpus(b, BUILD_DOCS, "build"), BUILD_DOCS, "build")
    b.setup["setup_generate_s"] = time.time() - t
    t = time.time()
    # warm-up: the same build, untimed, so plans compile and the Python
    # workers start before any timed build; its store is the reference
    # every timed build must equal
    ref_store = build.build_graph(spark, src, b.path("build", "ref"))
    b.setup["setup_base_build_s"] = time.time() - t
    subjects = b.pick_subjects(ref_store, LOOKUPS_PER_OP, 1)
    truth = b.lookup_truth(ref_store, subjects)
    b.warm_lookups(ref_store, subjects[:WARM_LOOKUPS])
    b.loop_started()

    tables = ("triples", "triples_canonical")
    digests = []
    start, i = time.time(), 0
    while i == 0 or time.time() - start < b.seconds:
        root = b.path("build", f"run{i}")
        store = b.attempt(f"build {i}", lambda: b.timed_op(
            lambda: build.build_graph(spark, src, root)))
        if store is not None:
            digests.append({tb: table_digest(store.read(spark, tb))
                            for tb in tables})
            b.lookups(store, subjects, truth)
            if b.trace and i == 0:
                files, size = _dir_size(root)
                b.layer["files_written"] = files
                b.layer["bytes_written_mb"] = size / 2**20
            shutil.rmtree(root, ignore_errors=True)
        i += 1
    b.loop_ended()

    ref = {tb: table_digest(ref_store.read(spark, tb)) for tb in tables}
    for k, got in enumerate(digests):
        b.check(got == ref, f"build {k} digest {got} != warm-up {ref}")
    _store_checks(b, ref_store)

    n_triples = ref["triples"][0]
    if b.trace:
        lin = ref_store.read(spark, "lineage_metrics")
        raw = lin.agg(F.sum("n_triples")).first()[0] or 0
        trip = ref_store.read(spark, "triples")
        edges = trip.where(F.col("predicate") ==
                           "http://www.w3.org/2002/07/owl#sameAs").count()
        cmap = ref_store.read(spark, "canonical_map")
        largest = cmap.groupBy("canonical").count() \
            .agg(F.max("count")).first()[0] or 0
        pairs = b.rec.counters.get("cc_driver_pairs", 0.0) / max(
            1, len(b.op_times))
        b.layer.update({
            "extract_raw_triples": raw,
            "dedup_ratio": n_triples / raw if raw else 0.0,
            "cc_edges": edges,
            "cc_contracted_ratio": pairs / edges if edges else 0.0,
            # the map lists aliases only; +1 counts the representative
            "cc_largest_component": largest + 1,
            "canonical_collapse_ratio":
                ref["triples_canonical"][0] / n_triples,
        })
    return n_triples / stats.median(b.op_times)


# ---- ingest -----------------------------------------------------------------

def run_ingest(b: Bench) -> float:
    """-> documents folded per second of loop wall time."""
    from functools import reduce

    from octofludb_spark import build
    from octofludb_spark.plans import incremental_reports as ir
    from octofludb_spark.sources.store import TripleStore

    spark = b.spark
    base_iso = int(BASE_DOCS * ISOLATES_PER_DOC)

    def batch(k: int):
        # each batch mentions fresh isolates of its own and, with
        # probability OVERLAP, isolates of the base
        lo = base_iso + k * BATCH_ISOLATES
        c = Corpus(seed=b.seed, stream=f"batch{k}",
                   isolates=(lo, lo + BATCH_ISOLATES),
                   reuse=(0, base_iso), overlap=OVERLAP)
        return b.source(c, BATCH_DOCS, f"batch{k}")

    t = time.time()
    sources = [b.source(_corpus(b, BASE_DOCS, "base"), BASE_DOCS, "base")]
    b.setup["setup_generate_s"] = time.time() - t

    t = time.time()
    base_root, live_root = b.path("base"), b.path("live")
    base = build.build_graph(spark, sources[0], base_root)
    ir.masterlist_materialize(spark, base)
    # restore: the live store starts as a copy of the base store's
    # committed state (manifest + metadata log); data snapshots are
    # immutable, so the copy shares them
    os.makedirs(live_root)
    shutil.copy(os.path.join(base_root, "manifest.json"), live_root)
    shutil.copytree(os.path.join(base_root, "metadata"),
                    os.path.join(live_root, "metadata"))
    live = TripleStore(live_root)
    subjects = b.pick_subjects(live, 4 * LOOKUPS_PER_OP, 2)
    b.warm_lookups(live, subjects[-WARM_LOOKUPS:])
    b.setup["setup_base_build_s"] = time.time() - t

    def fold(src, k: int):
        """-> (update seconds, refresh result)"""
        t0 = time.time()
        with b.rec.span("update"):
            build.incremental_update(spark, src, live_root,
                                     batch_id=f"b{k}")
        return time.time() - t0, ir.masterlist_refresh(spark, live)

    def masterlist_rows_digest() -> str:
        # the materialized table, in the column order the report wrote
        df = live.read(spark, ir.MASTERLIST_TABLE)
        return rows_digest(df.select(
            *[c for c in df.columns if c != "part_bucket"]).collect())

    def compact() -> None:
        with b.rec.span("compact"):
            for table in ("triples", "canonical_map", "triples_canonical"):
                live.compact(spark, table)

    files0, size0 = _dir_size(live_root)
    b.loop_started()
    update_s: list[float] = []
    refresh_modes: list[str] = []
    affected: list[float] = []
    segments: list[int] = []
    compact_s: list[float] = []
    paused = 0.0  # input generation, lookups and checks: not ingest work
    start, n = time.time(), 0
    while n == 0 or time.time() - start < b.seconds:
        n += 1
        if n > 1:
            # the last compaction rewrote the tables and so left the
            # masterlist no changelog to refresh from: re-base it on the
            # compacted snapshot, or this refresh would run in full
            t0 = time.time()
            b.attempt("re-base masterlist",
                      lambda: ir.masterlist_materialize(spark, live))
            compact_s[-1] += time.time() - t0
        t0 = time.time()
        sources.append(batch(n))
        paused += time.time() - t0
        res = b.attempt(f"batch {n}", lambda: b.timed_op(
            lambda: fold(sources[-1], n)))
        t0 = time.time()
        if res is not None:
            update_s.append(res[0])
            refresh_modes.append(res[1]["mode"])
            affected.append(res[1]["affected_barcodes"] or 0)
        m = live.manifest()
        segments.append(sum(len(v) for v in m.get("segments", {}).values())
                        + sum(len(v) for v in m.get("deletes", {}).values()))
        paused += time.time() - t0
        # reads beside writes: the report mix is served from the live
        # store while the batch's segments and equality deletes are
        # still unfolded; it counts in the loop's wall time
        b.log(f"batch {n} folded")
        served = b.attempt(f"reports {n}", lambda: b.serve(
            lambda: report_pass(b, live)))
        b.log(f"batch {n} reports served")
        t0 = time.time()
        if served is not None:
            # the incrementally refreshed table against the masterlist
            # the report computed afresh from the canonical view
            b.check(served["masterlist"] == masterlist_rows_digest(),
                    f"batch {n}: refreshed masterlist_rows differs from "
                    "a fresh masterlist report")
        pick = subjects[(n * LOOKUPS_PER_OP) % len(subjects):][
            :LOOKUPS_PER_OP]
        truth = b.lookup_truth(live, pick)
        b.lookups(live, pick, truth)
        paused += time.time() - t0  # lookups are timed on their own
        t0 = time.time()
        b.log(f"batch {n} lookups done")
        b.attempt("compact", compact)
        compact_s.append(time.time() - t0)
    b.loop_ended()
    docs_per_s = n * BATCH_DOCS / (time.time() - start - paused)

    b.log("checking")
    # contract of incremental_update: the canonical view equals a full
    # build over base + every batch.  The raw triples are checked too:
    # with both tables the report mix reads equal to the rebuild, read
    # through the live store's merge-on-read path, every served report
    # is a pure function of checked inputs, so a second report pass
    # over the rebuild (a pass per run) is not made
    everything = reduce(lambda x, y: x.unionByName(y), sources)
    rebuilt = build.build_graph(spark, everything, b.path("check"))
    for table in ("triples_canonical", "triples"):
        got = table_digest(live.read(spark, table))
        want = table_digest(rebuilt.read(spark, table))
        b.check(got == want, f"incremental {table} {got} != rebuild {want}")

    if b.trace:
        files1, size1 = _dir_size(live_root)
        b.layer.update({
            "affected_barcodes": stats.median(affected) if affected else 0,
            "refresh_full_ratio":
                refresh_modes.count("full") / max(1, len(refresh_modes)),
            "live_segments": stats.median(segments),
            "update_slope_s": stats.slope(update_s),
            "compact_s": stats.median(compact_s) if compact_s else 0.0,
            "files_written": (files1 - files0) / max(1, n),
            "bytes_written_mb": (size1 - size0) / 2**20 / max(1, n),
        })
    return docs_per_s


RUNNERS = {"build": run_build, "ingest": run_ingest}
