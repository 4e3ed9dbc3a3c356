"""On-disk layout of TripleStore segments and the point-lookup path.

Every data segment of a subject-bucketed table — the primary, merge
segments, ``append_rows`` and ``patch_rows_mor`` segments — is written
partitionBy(part_bucket), so ``read_subject`` prunes every scan by
directory.  Stores whose appended segments carry ``part_bucket`` as a
plain data column (the older layout) must still read.
"""

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from octofludb_spark.sources.store import TripleStore

pytestmark = pytest.mark.spark

COLS = "subject string, predicate string, object_lex string, object_dtype string"


def _triples(spark, rows):
    return spark.createDataFrame(rows, COLS)


def _bucketed_store(spark, tmp_path):
    store = TripleStore(str(tmp_path / "store"), n_buckets=4)
    store.write(_triples(spark, [(f"s{i}", "p", f"o{i}", "")
                                 for i in range(40)]),
                "triples", bucket_by_subject=True)
    return store


def _file_scans(spark, df):
    # untruncated scan locations, so each names its snapshot dir (the
    # scan's description is fixed when the plan is first printed)
    key = "spark.sql.maxMetadataStringLength"
    old = spark.conf.get(key)
    spark.conf.set(key, "4096")
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, old)
    return [line for line in plan.splitlines() if "FileScan" in line]


def _partition_filters(scan):
    return scan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]


def test_appended_segments_are_bucket_partitioned(spark, tmp_path):
    store = _bucketed_store(spark, tmp_path)
    store.append_rows(_triples(spark, [(f"s{i}", "q", f"a{i}", None)
                                       for i in range(20)]), "triples")
    store.patch_rows_mor(
        spark, _triples(spark, [("s7", "p", "o7", "")]),
        _triples(spark, [("s7", "p", "o7-new", "")]), "triples")

    m = store.manifest()
    segments = m["segments"]["triples"]
    assert len(segments) == 2
    for seg in [m["tables"]["triples"], *segments]:
        dirs = [n for n in os.listdir(seg) if not n.startswith(("_", "."))]
        assert dirs and all(n.startswith("part_bucket=") for n in dirs), seg
        for f in glob.glob(f"{seg}/**/*.parquet", recursive=True):
            assert "part_bucket" not in pq.ParquetFile(f).schema_arrow.names

    hit = store.read_subject(spark, "s7")
    scans = _file_scans(spark, hit)
    assert sorted((r.predicate, r.object_lex) for r in hit.collect()) == [
        ("p", "o7-new"), ("q", "a7")]
    # the primary, both data segments and the patch's equality delete
    # are scanned, and every scan prunes by bucket directory
    roots = [m["tables"]["triples"], *segments,
             *(d["path"] for d in m["deletes"]["triples"])]
    for root in roots:
        assert any(os.path.basename(root) in scan for scan in scans), root
    for scan in scans:
        assert "part_bucket" in _partition_filters(scan), scan


def test_read_subject_starts_no_job_to_hash(spark, tmp_path):
    """Before its action, read_subject starts one Spark job per parquet
    root it reads (schema inference) and none to compute the bucket."""
    store = _bucketed_store(spark, tmp_path)
    store.merge_rows(spark, _triples(spark, [("t1", "p", "x", "")]),
                     "triples")
    store.delete_rows_mor(spark, _triples(spark, [("s1", "p", "o1", "")]))
    m = store.manifest()
    roots = 1 + len(m["segments"]["triples"]) + len(m["deletes"]["triples"])

    sc = spark.sparkContext
    group = f"read-subject-{os.getpid()}-{tmp_path.name}"
    sc.setJobGroup(group, "read_subject job count")
    try:
        hit = store.read_subject(spark, "s3")
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs == roots
    assert [r.object_lex for r in hit.collect()] == ["o3"]


def test_data_column_bucket_segment_still_reads(spark, tmp_path):
    """A segment that stores part_bucket as a plain data column (built
    here by hand, as older writers laid out appends) still unions with
    the partitioned primary and still answers read_subject."""
    store = _bucketed_store(spark, tmp_path)
    legacy = _triples(spark, [("s5", "q", "legacy", ""),
                              ("u1", "q", "legacy", "")]).withColumn(
        "part_bucket", F.pmod(F.xxhash64("subject"), F.lit(store.n_buckets)))
    seg = store._snap_dir("triples")
    legacy.write.parquet(seg)
    m = store.manifest()
    m.setdefault("segments", {}).setdefault("triples", []).append(seg)
    store._commit(m)
    store.append_rows(_triples(spark, [("u1", "r", "new", "")]), "triples")

    assert store.read(spark).count() == 43
    got = sorted((r.predicate, r.object_lex)
                 for r in store.read_subject(spark, "u1").collect())
    assert got == [("q", "legacy"), ("r", "new")]
    got = sorted((r.predicate, r.object_lex)
                 for r in store.read_subject(spark, "s5").collect())
    assert got == [("p", "o5"), ("q", "legacy")]
