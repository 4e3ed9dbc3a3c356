"""Spark-level pipeline tests: extraction parity with the pandas
layer, sha256 invariant, dedup idempotence, connected components,
canonicalization, and kill/resume via the manifest store."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from octofludb_spark.build import build_graph
from octofludb_spark.extract.pipeline import (
    dedup_triples,
    extract_triples,
    lineage_metrics,
)
from octofludb_spark.ops.canonicalize import canonical_map, canonicalize
from octofludb_spark.ops.cc import connected_components, sameas_edges
from octofludb_spark.sources.store import TripleStore
from octofludb_spark.sources.synth import source_pandas, source_table

pytestmark = pytest.mark.spark

FID = "https://flu-crew.org/id/"
FT = "https://flu-crew.org/term/"


def _mini_source(spark, rows):
    import hashlib

    pdf = pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])
    pdf["content_sha256"] = pdf["content"].map(
        lambda c: hashlib.sha256(c.encode()).hexdigest()
    )
    return spark.createDataFrame(pdf)


def test_extract_fasta_golden_on_spark(spark):
    src = _mini_source(
        spark,
        [("r", "a.fna", "c" * 40, "fasta", ">baz\nATGG\n>foo||z\nATGGG")],
    )
    out = extract_triples(src)
    got = sorted(
        (r.subject, r.predicate, r.object_lex)
        for r in out.select("subject", "predicate", "object_lex").collect()
    )
    assert (FID + "4badd1687f27faae29f9b1fe1ea37e78", FT + "dnaseq", "ATGGG") in got
    assert (FID + "5b2033ab635505389b1acfa0d6eda05c", FT + "unknown", "baz") in got
    assert len(got) == 7


def test_sha_invariant(spark):
    src = _mini_source(spark, [("r", "a.fna", "c" * 40, "fasta", ">MC123456\nATGG")])
    bad = src.withColumn("content_sha256", F.lit("deadbeef"))
    met = lineage_metrics(extract_triples(bad))
    assert met.agg(F.sum("sha_violations")).collect()[0][0] > 0
    met_ok = lineage_metrics(extract_triples(src))
    assert met_ok.agg(F.sum("sha_violations")).collect()[0][0] == 0


def test_dedup_idempotent(spark):
    """Uploading the same data twice adds nothing (README.md:96)."""
    src1 = source_table(spark, 12, partitions=2)
    doubled = src1.unionByName(src1)
    once = dedup_triples(extract_triples(src1))
    twice = dedup_triples(extract_triples(doubled))
    assert once.count() == twice.count()


@pytest.mark.parametrize("threshold", [0, 10_000])
def test_connected_components(spark, threshold):
    """threshold=0 forces the distributed star iterations; the large
    threshold takes the driver union-find path — identical results."""
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("e", "d"), ("x", "x"), ("f", "c")],
        ["src", "dst"],
    )
    comp = {r.node: r.component for r in
            connected_components(edges, driver_threshold=threshold).collect()}
    assert comp["a"] == comp["b"] == comp["c"] == comp["f"] == "a"
    assert comp["d"] == comp["e"] == "d"
    assert "x" not in comp  # self-loops are dropped


def test_canonicalize_rewrites_subject_and_uri_objects(spark):
    trips = spark.createDataFrame(
        [
            ("b", FT + "x", "lit-b", ""),
            ("a", FT + "same", "b", "uri"),
            ("z", FT + "y", "b", ""),  # plain literal 'b' must NOT rewrite
        ],
        ["subject", "predicate", "object_lex", "object_dtype"],
    )
    mapping = spark.createDataFrame([("b", "a")], ["node", "canonical"])
    out = {
        (r.subject, r.predicate, r.object_lex)
        for r in canonicalize(trips, mapping).collect()
    }
    assert ("a", FT + "x", "lit-b") in out
    assert ("a", FT + "same", "a") in out
    assert ("z", FT + "y", "b") in out


def test_build_graph_and_resume(spark, tmp_path):
    src = source_table(spark, 30, partitions=2)
    root = str(tmp_path / "store")
    store = build_graph(spark, src, root, run_ts="2026-08-16T00:00:00")
    n1 = store.read(spark, "triples_canonical").count()
    assert n1 > 0
    assert store.stage_done("extract") and store.stage_done("canon")

    # simulate kill after extract: new store with only extract committed
    m = store.manifest()
    m["committed_stages"] = ["extract"]
    store._commit(m)
    store2 = build_graph(spark, src, root, run_ts="2026-08-16T00:00:00")
    n2 = store2.read(spark, "triples_canonical").count()
    assert n2 == n1  # resume reproduces the identical final triple set


def test_merge_idempotent(spark, tmp_path):
    store = TripleStore(str(tmp_path / "s"))
    df = spark.createDataFrame(
        [("s1", "p", "o", "")], ["subject", "predicate", "object_lex", "object_dtype"]
    )
    store.merge_triples(spark, df)
    store.merge_triples(spark, df)
    assert store.read(spark, "triples").count() == 1


def test_delete_where(spark, tmp_path):
    store = TripleStore(str(tmp_path / "s"))
    df = spark.createDataFrame(
        [("s1", FT + "subtype", "H1N1", ""), ("s1", FT + "host", "swine", "")],
        ["subject", "predicate", "object_lex", "object_dtype"],
    )
    store.merge_triples(spark, df)
    store.delete_where(spark, F.col("predicate") == FT + "subtype")
    left = store.read(spark, "triples").collect()
    assert len(left) == 1 and left[0].predicate == FT + "host"


def test_gisaid_shapes(spark):
    """GISAID recipe mirrors the reference golden shape
    (test-data/.exp-gisaid.ttl): isolate node attrs + segment nodes +
    two-way sameAs."""
    content = "\t".join(
        ["Isolate_Id", "Isolate_Name", "Host", "Subtype", "Lineage",
         "Location", "Collection_Date", "Submission_Date",
         "HA Segment_Id", "HA INSDC_Upload"]
    ) + "\n" + "\t".join(
        ["EPI_ISL_218508", "A/swine/Bac Ninh/12-01-3/2015", "swine",
         "H1N1", "pdm09", "Asia / Viet Nam / Bac Ninh", "2015-12-07",
         "2016-04-26", "EPI744022 | x", "MN436834"]
    )
    src = _mini_source(spark, [("r", "g.gis", "c" * 40, "gisaid", content)])
    got = {
        (r.subject, r.predicate, r.object_lex, r.object_dtype)
        for r in extract_triples(src).select(
            "subject", "predicate", "object_lex", "object_dtype"
        ).collect()
    }
    iso = FID + "epi_isl_218508"
    assert (iso, FT + "isolate_id", "EPI_ISL_218508", "") in got
    assert (iso, FT + "strain_name", "A/swine/Bac_Ninh/12-01-3/2015", "") in got
    assert (iso, FT + "gisaid_strain_name", "A/swine/Bac Ninh/12-01-3/2015", "") in got
    assert (iso, FT + "collection_date", "2015-12-07", "xsd:date") in got
    assert (iso, FT + "country", "https://flu-crew.org/geo/country/VNM", "uri") in got
    assert (iso, FT + "has_segment", FID + "epi744022", "uri") in got
    assert (iso, FT + "has_segment", FID + "mn436834", "uri") in got
    seg = FID + "epi744022"
    assert (seg, FT + "epi_id", "EPI744022", "") in got
    assert (seg, FT + "lineage", "pdm09", "") in got
    assert (seg, FT + "segment_name", "HA", "") in got
    assert (seg, "http://www.w3.org/2002/07/owl#sameAs", FID + "mn436834", "uri") in got
    assert (FID + "mn436834", "http://www.w3.org/2002/07/owl#sameAs", seg, "uri") in got


def test_store_subject_lookup_prunes_partitions(spark, tmp_path):
    """read_subject filters on the writer's bucket expression over the
    literal subject, which Catalyst folds to a constant, and the scan
    prunes to that partition directory (PartitionFilters in the plan)
    — the point-lookup path for a 100 TB store."""
    from octofludb_spark.sources.store import TripleStore

    store = TripleStore(str(tmp_path / "st"), n_buckets=8)
    rows = [(f"s{i}", "p", f"o{i}", "") for i in range(200)]
    df = spark.createDataFrame(
        rows, ["subject", "predicate", "object_lex", "object_dtype"])
    store.write(df, "triples", bucket_by_subject=True)

    hit = store.read_subject(spark, "s7")
    got = hit.collect()
    assert len(got) == 1 and got[0].object_lex == "o7"
    plan = hit._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "part_bucket" in plan
    # equality with the unpruned filter
    full = store.read(spark, "triples").where("subject = 's7'").collect()
    assert [(r.subject, r.object_lex) for r in got] == \
        [(r.subject, r.object_lex) for r in full]
    # missing subject -> empty, still pruned
    assert store.read_subject(spark, "nope").count() == 0


def test_store_compact_reduces_files(spark, tmp_path):
    """Compaction rewrites the accreted many-small-files snapshot into
    ~one file per bucket, atomically (manifest swap)."""
    import glob

    from octofludb_spark.sources.store import TripleStore

    store = TripleStore(str(tmp_path / "st"), n_buckets=4)
    for wave in range(5):  # accrete small files via idempotent merges
        rows = [(f"s{i}", "p", f"o{wave}_{i}", "") for i in range(40)]
        df = spark.createDataFrame(
            rows, ["subject", "predicate", "object_lex", "object_dtype"])
        store.merge_triples(spark, df)
    before_path = store.manifest()["tables"]["triples"]
    n_before = store.read(spark, "triples").count()

    store.compact(spark)
    after_path = store.manifest()["tables"]["triples"]
    assert after_path != before_path  # new snapshot, old one untouched
    assert store.read(spark, "triples").count() == n_before
    files = glob.glob(after_path + "/part_bucket=*/*.parquet")
    assert 0 < len(files) <= 8  # ~one file per bucket (4 buckets)


def test_store_bucket_count_persists_in_manifest(spark, tmp_path):
    """A reader opening an existing store must prune with the WRITER's
    bucket count: n_buckets is committed in the manifest, so a default-
    constructed TripleStore on a 16-bucket store still finds every
    subject (regression: a 32-bucket reader missed ~half of them)."""
    from octofludb_spark.sources.store import TripleStore

    root = str(tmp_path / "st")
    w = TripleStore(root, n_buckets=16)
    rows = [(f"s{i}", "p", f"o{i}", "") for i in range(64)]
    df = spark.createDataFrame(
        rows, ["subject", "predicate", "object_lex", "object_dtype"])
    w.write(df, "triples", bucket_by_subject=True)
    assert w.manifest()["n_buckets"] == 16

    r = TripleStore(root)  # no bucket count given: manifest wins
    assert r.n_buckets == 16
    for s in ("s0", "s7", "s33", "s63"):
        got = r.read_subject(spark, s).collect()
        assert len(got) == 1 and got[0].subject == s


def test_store_compact_target_files_per_bucket(spark, tmp_path):
    """target_files > 1 is honored on the bucketed path: each bucket
    directory receives at most target_files files (the knob a 100 TB
    store uses to keep buckets splittable)."""
    import glob

    from octofludb_spark.sources.store import TripleStore

    store = TripleStore(str(tmp_path / "st"), n_buckets=2)
    rows = [(f"s{i}", "p", f"o{i}", "") for i in range(400)]
    df = spark.createDataFrame(
        rows, ["subject", "predicate", "object_lex", "object_dtype"])
    store.write(df, "triples", bucket_by_subject=True)

    store.compact(spark, target_files=4)
    after = store.manifest()["tables"]["triples"]
    assert store.read(spark, "triples").count() == 400
    for bucket_dir in glob.glob(after + "/part_bucket=*"):
        n = len(glob.glob(bucket_dir + "/*.parquet"))
        assert 0 < n <= 4, f"{bucket_dir}: {n} files"


def test_resume_skips_committed_extract(spark, tmp_path, monkeypatch):
    """A killed-after-extract job must resume WITHOUT re-running
    extraction (north_rule: restart at the last committed snapshot):
    extraction is poisoned before the resume, so any re-run fails."""
    from octofludb_spark import build as B

    src = source_table(spark, 30, partitions=2)
    root = str(tmp_path / "store")
    store = build_graph(spark, src, root, run_ts="2026-08-16T00:00:00")
    n_full = store.read(spark, "triples_canonical").count()

    m = store.manifest()
    m["committed_stages"] = ["extract"]  # simulate dying before link
    store._commit(m)

    def boom(*a, **k):
        raise AssertionError("extraction re-ran on resume")

    monkeypatch.setattr(B, "extract_triples", boom)
    store2 = B.build_graph(spark, src, root, run_ts="2026-08-16T00:00:00")
    assert store2.read(spark, "triples_canonical").count() == n_full
    assert store2.stage_done("link") and store2.stage_done("canon")


def test_merge_and_delete_keep_canonical_in_sync(spark, tmp_path):
    """Post-build merges and deletes must stay visible to queries,
    which read the canonical view (the reference has ONE graph): a
    merge into `triples` rewrites the batch through the alias map and
    appends to `triples_canonical`; a delete mirrors there too."""
    import pandas as pd
    from pyspark.sql import functions as F

    from octofludb_spark.build import build_graph
    from octofludb_spark.plans.maintenance import (clear_query_tags,
                                                   query_tag_triples)
    from octofludb_spark.sources.store import TripleStore
    from octofludb_spark.sources.synth import source_table

    store = build_graph(spark, source_table(spark, 40),
                        str(tmp_path / "store"), run_ts="2026-01-01T00:00:00")
    qt = F.col("predicate").endswith("query_tag")
    assert store.read(spark, "triples_canonical").where(qt).count() == 0

    store.merge_triples(spark, query_tag_triples(spark, ["A0123", "x"]))
    assert store.read(spark, "triples").where(qt).count() == 2
    assert store.read(spark, "triples_canonical").where(qt).count() == 2

    # idempotent in both tables
    store.merge_triples(spark, query_tag_triples(spark, ["A0123", "x"]))
    assert store.read(spark, "triples_canonical").where(qt).count() == 2

    clear_query_tags(spark, store)
    assert store.read(spark, "triples").where(qt).count() == 0
    assert store.read(spark, "triples_canonical").where(qt).count() == 0


def test_merge_appends_segment_without_rewriting_snapshot(spark, tmp_path):
    """A post-build merge is O(batch), not O(store): the primary
    snapshot is untouched; only the not-yet-present rows land in a new
    manifest-listed segment.  Idempotent re-merge appends NOTHING;
    compact folds segments back into one snapshot and vacuum reclaims
    the superseded dirs."""
    import glob
    import os

    store = TripleStore(str(tmp_path / "st"), n_buckets=4)
    base = spark.createDataFrame(
        [(f"s{i}", "p", f"o{i}", "") for i in range(50)],
        ["subject", "predicate", "object_lex", "object_dtype"])
    store.merge_triples(spark, base)
    snap0 = store.manifest()["tables"]["triples"]
    mtimes0 = {p: os.path.getmtime(p)
               for p in glob.glob(snap0 + "/**/*.parquet", recursive=True)}

    # merge a half-overlapping batch -> ONE segment with only new rows
    batch = spark.createDataFrame(
        [(f"s{i}", "p", f"o{i}", "") for i in range(40, 60)],
        ["subject", "predicate", "object_lex", "object_dtype"])
    store.merge_triples(spark, batch)
    m = store.manifest()
    assert m["tables"]["triples"] == snap0  # snapshot NOT rewritten
    segs = m["segments"]["triples"]
    assert len(segs) == 1
    seg_rows = spark.read.parquet(segs[0])
    assert seg_rows.count() == 10  # only s50..s59 are new
    assert store.read(spark, "triples").count() == 60
    assert {p: os.path.getmtime(p) for p in
            glob.glob(snap0 + "/**/*.parquet", recursive=True)} == mtimes0

    # idempotent: re-merging the same batch appends no segment
    store.merge_triples(spark, batch)
    assert len(store.manifest()["segments"]["triples"]) == 1
    assert store.read(spark, "triples").count() == 60

    # point lookup still works across snapshot + segment
    assert store.read_subject(spark, "s55").count() == 1
    assert store.read_subject(spark, "s5").count() == 1

    # compact folds everything into one snapshot; expiring the old
    # metadata versions (which hold the superseded dirs alive for time
    # travel) lets vacuum reclaim them
    store.compact(spark)
    m2 = store.manifest()
    assert not m2.get("segments", {}).get("triples")
    assert store.read(spark, "triples").count() == 60
    store.vacuum()
    assert os.path.exists(snap0)  # retained: old versions still read it
    store.expire_snapshots(keep_last=1)
    assert not os.path.exists(segs[0])
    assert not os.path.exists(snap0)
    assert store.read(spark, "triples").count() == 60
